package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain,
  Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Codegen'd dot product over numeric arrays (float[] or double[] per side),
  * accumulating left-to-right in double — the exact fold order of
  * `aggregate(zip_with(a, b, (x,y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),
  * 0D, (s,v) -> s+v)`, so results are bit-identical to that formulation and
  * to the DuckDB oracle's `list_reduce(list_prepend(0.0, ...))`.
  *
  * Why a custom Expression (SURVEY.md §2B Q25 bench path): Spark's
  * higher-order functions don't participate in whole-stage codegen — each
  * element evaluation is an interpreted lambda with boxing. For a 64-dim
  * dot inside an O(n²) pair join that's the dominant cost at scale. This
  * tight primitive loop stays inside WholeStageCodegen.
  *
  * Null handling: null arrays propagate null (BinaryExpression default);
  * null *elements* are not expected (embeddings are dense) and would read
  * as 0.0 via ArrayData's primitive getters.
  */
case class DotF(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "dotf"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _))
      if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"dotf expects array<float|double> args, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("acc")
      val getA =
        if (elemType(left) == FloatType) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB =
        if (elemType(right) == FloatType) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $getA * $getB;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotF =
    copy(left = newLeft, right = newRight)
}

/** The table of graft's custom SQL functions: one `(name, expression
  * class, builder)` entry per function. [[GraftExtensions]] injects every
  * entry into each session it is applied to — the only way these functions
  * get registered. */
object GraftFunctions {
  /** Arity-validated bloom_agg builder mirroring Spark's own
    * bloom_filter_agg forms: 1 arg (defaults), 2 (estimated items),
    * 3 (+ num bits). A wrong-arity call gets a clear invalid-arguments
    * error instead of an IndexOutOfBoundsException from `exprs(2)`. */
  private[functions] def bloomAgg(exprs: Seq[Expression]): Expression = {
    val agg = exprs match {
      case Seq(c)       => new BloomFilterAggregate(c)
      case Seq(c, n)    => new BloomFilterAggregate(c, n)
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
      case _ => throw new IllegalArgumentException(
        s"bloom_agg expects 1 to 3 arguments (value[, estimatedItems[, numBits]]), got ${exprs.length}")
    }
    agg.toAggregateExpression()
  }

  /** 1-arg (raw 60-bit) and 2-arg (reduced mod m) forms. */
  private[functions] def hash60Arr(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(a) => Hash60Arr(a, Literal(Hash60Arr.NoMod))
    case Seq(a, m) => Hash60Arr(a, m)
    case _ => throw new IllegalArgumentException(
      s"hash60_arr expects 1 or 2 arguments (array[, modulus]), got ${exprs.length}")
  }

  private[functions] def bloomContains(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(bloom, value) => BloomFilterMightContain(bloom, value)
    case _ => throw new IllegalArgumentException(
      s"bloom_contains expects exactly 2 arguments (bloom, value), got ${exprs.length}")
  }

  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dotf", classOf[DotF], e => DotF(e(0), e(1))),
    ("minhash12", classOf[MinHashSig], e => MinHashSig(e.head)),
    ("simhash60", classOf[SimHash60], e => SimHash60(e.head)),
    ("pair_expand", classOf[PairExpand], e => PairExpand(e(0), e(1))),
    ("pair_expand_ids", classOf[PairExpandIds], e => PairExpandIds(e.head)),
    ("collect_capped", classOf[CollectCapped],
      e => CollectCapped(e(0), e(1)).toAggregateExpression()),
    ("span_hashes", classOf[SpanHashes], e => SpanHashes(e(0), e(1))),
    ("hash60_arr", classOf[Hash60Arr], hash60Arr),
    ("minhash_sketch", classOf[MinHashSketch],
      e => MinHashSketch(e.head).toAggregateExpression()),
    ("minhash_sketch_merge", classOf[MinHashSketchMerge],
      e => MinHashSketchMerge(e.head).toAggregateExpression()),
    // Stock Catalyst bloom expressions (the machinery behind Spark's own
    // runtime row-level filtering), surfaced as callable functions so a
    // query can build an explicit broadcast-prefilter plan: `bloom_agg`
    // collapses a huge key set to one binary bitset row; `bloom_contains`
    // probes it row-local (bloom side must be foldable or a scalar
    // subquery — BloomFilterMightContain.checkInputDataTypes enforces it).
    ("bloom_agg", classOf[BloomFilterAggregate], bloomAgg),
    ("bloom_contains", classOf[BloomFilterMightContain], bloomContains),
    ("nearest_centroid", classOf[NearestCentroid], NearestCentroid.fromExprs),
    ("vec_avg", classOf[VecAvg], e => VecAvg(e.head).toAggregateExpression()),
    ("deflate_len", classOf[DeflateLen], e => DeflateLen(e.head)),
    ("tokenize_pos", classOf[TokenizePos], e => TokenizePos(e.head)),
    ("freq_sketch", classOf[FreqSketch],
      e => FreqSketch(e(0), e(1)).toAggregateExpression()),
    ("argmin2", classOf[ArgExtremum],
      e => ArgExtremum(e(0), e(1), e(2), findMin = true).toAggregateExpression()),
    ("argmax2", classOf[ArgExtremum],
      e => ArgExtremum(e(0), e(1), e(2), findMin = false).toAggregateExpression()),
    ("pack_sorted_longs", classOf[PackSortedLongs], e => PackSortedLongs(e.head)),
    ("intersect_packed", classOf[IntersectPackedLongs],
      e => IntersectPackedLongs(e(0), e(1))))
}

/** `SparkSessionExtensions` hook — the one registration path for graft's
  * custom functions:
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)  // code
  *   --conf spark.sql.extensions=graft.functions.GraftExtensions // submit
  * }}}
  * makes every [[GraftFunctions.all]] entry available to every session
  * (including pure `spark.sql`). Two optimizer rules are injected —
  * [[graft.plans.ApproxDistinctRule]], the conf-gated (default OFF)
  * COUNT(DISTINCT)→HLL policy rewrite, and [[TryCastFastPathRule]], the
  * conf-gated (default ON, semantics-identical) non-throwing TRY_CAST
  * string→integral fast path; beyond those the engine's whole surface
  * plans through stock Catalyst (SURVEY §4), expressions being the only
  * other custom Catalyst artifacts on the default path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // the injectOptimizerRule leg: the opt-in COUNT(DISTINCT)->HLL policy
    // rewrite (graft.plans.ApproxDistinctRule; default OFF, conf-gated)
    e.injectOptimizerRule(_ => new graft.plans.ApproxDistinctRule)
    // the non-throwing TRY_CAST(string AS INT/BIGINT) fast path (default
    // ON, conf-gated) — semantics-identical to stock TRY cast, minus the
    // per-invalid-row JVM exception (TryCastFast.scala; TryCastFastSpec)
    e.injectOptimizerRule(_ => new TryCastFastPathRule)
    // the injectPlannerStrategy leg: the TopKPerKey whole-operator plan
    // (graft.plans.TopKStrategy; matches only the custom logical node, so
    // every other plan is untouched)
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // the injectParser leg: the GRAFT VACUUM VERSIONS maintenance command
    // (graft.plans.GraftSqlParser; everything else delegates verbatim)
    e.injectParser((_, parser) => new graft.plans.GraftSqlParser(parser))
    GraftFunctions.all.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
  }
}
