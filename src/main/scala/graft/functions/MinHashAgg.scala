package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Shared universal-hash family for MinHash (hᵢ = (aᵢ·h + bᵢ) mod p over a
  * 60-bit md5 base hash reduced mod p): ONE definition consumed by the
  * columnar signature path (`queries.Similarity`), the sketch aggregates,
  * and the generated DuckDB oracle SQL — every consumer must produce
  * identical values. */
object MinHashFamily {
  val K = 12
  val P = 1000000007L
  val A: IndexedSeq[Long] = (1 to K).map(i => (i * 2654435761L) % P)
  val B: IndexedSeq[Long] = (1 to K).map(i => (i * 40503L * 65537L) % P)
}

/** Buffer, merge, eval and serde shared by the two k-min sketch aggregates
  * — the invariant `minhash_sketch ≡ minhash_sketch_merge` (MinHashAggSpec)
  * depends on this logic existing exactly once; only `update` differs. */
sealed trait MinHashSketchLike extends TypedImperativeAggregate[Array[Long]] {
  import MinHashFamily._

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(K)(Long.MaxValue)

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < K) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * K)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(K)(bb.getLong)
  }
}

/** k-min MinHash sketch as a `TypedImperativeAggregate[Array[Long]]` — the
  * mutable-buffer custom-aggregate lane (SURVEY §2B UDAF surface; the
  * guide's sketch pattern). Input: the pre-hashed shingle (`h60(s) mod p`,
  * a LongType column); buffer: the running k minima; merge: elementwise min
  * (associative + commutative ⇒ map-side partial aggregation applies, so a
  * group's sketch costs one pass at any scale). Output: array<long> of the
  * k minima — a mergeable set signature whose agreement rate estimates
  * Jaccard between groups.
  */
case class MinHashSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends MinHashSketchLike {
  import MinHashFamily._

  override def prettyName: String = "minhash_sketch"
  override def children: Seq[Expression] = Seq(child)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < K) {
        val m = (A(i) * h + B(i)) % P
        if (m < buf(i)) buf(i) = m
        i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MinHashSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinHashSketch =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MinHashSketch =
    copy(child = newChildren.head)
}

/** Merge pre-computed per-row K-vector partial sketches (input:
  * `array<long>` of the K per-row minima, e.g. the columnar `sig` the
  * signature path already builds per doc). Element-wise min is associative,
  * so min-of-per-doc-minima ≡ min-over-all-shingles — identical output to
  * [[MinHashSketch]] over the exploded values, but the rows crossing the
  * (non-codegen) imperative aggregate drop by the per-doc shingle count
  * (~200× here): the hash work stays inside whole-stage codegen and the
  * object-hash agg only sees one short array per doc. This IS the two-level
  * aggregation you'd deploy at 100 TB. */
case class MinHashSketchMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends MinHashSketchLike {
  import MinHashFamily._

  override def prettyName: String = "minhash_sketch_merge"
  override def children: Seq[Expression] = Seq(child)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == K,
        s"minhash_sketch_merge expects a $K-element partial, got ${arr.numElements()}")
      var i = 0
      while (i < K) {
        val m = arr.getLong(i)
        if (m < buf(i)) buf(i) = m
        i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MinHashSketchMerge =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinHashSketchMerge =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MinHashSketchMerge =
    copy(child = newChildren.head)
}
