package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The two query-lane workloads.
  *
  * Each lane's timed pass is its first invocation in the session: the plan
  * compile a scheduled job pays on every run. The pass writes every column
  * of every row into [[DigestSink]] (the noop-sink contract, with the output
  * digest taken in the same pass) and is split into construction (until the
  * lane returns its DataFrame) and action.
  *
  * A timed run covers a fixed lane set ([[fixedSets]]), the same for every
  * seed so that runs compare. The seed permutes its order and generates the
  * data. A traced run (`census`) runs the same fixed set first, in the same
  * order right after the warm-up, and then every other lane of the workload
  * in seeded order, so that its artifact holds one record per lane.
  */
object Lanes {
  type Lane = (SparkSession, String) => DataFrame

  val modules: Map[String, Seq[Map[String, Lane]]] = Map(
    "lanes_sql" -> Seq(Relational.defs, Relational2.defs, Relational3.defs, Windowed.defs,
      Sampling.defs, Analytics.defs, Evaluation.defs),
    "lanes_dedup" -> Seq(TextOps.defs, Similarity.defs, Multimodal.defs, Entity.defs, Curate.defs))

  /** The lanes a timed run covers, pinned by name so that adding or renaming
    * a lane never silently changes what a run measures (a missing name
    * fails the run). Each set's first invocations take about 8-11 s on a
    * 4-core machine, so that a run with its set-up and checks stays near
    * 30 s.
    *
    * `lanes_sql`: a scan, an anti join, grouping sets, a percentile, gap
    * filling and a recursive CTE. `lanes_dedup`: one lane per compute-bound
    * mechanism: LSH candidate generation (`q24_lsh_pairs`), the image codec
    * path (`q32_phash_dup`) and a graph algorithm (`q55_pagerank`). */
  val fixedSets: Map[String, Seq[String]] = Map(
    "lanes_sql" -> Seq("q01_scan_filter_project", "q09_anti_join", "q14_grouping_sets",
      "q20_percentile", "q43_locf", "q60_recursive_cte"),
    "lanes_dedup" -> Seq("q24_lsh_pairs", "q32_phash_dup", "q55_pagerank"))

  def lanes(workload: String): Map[String, Lane] = modules(workload).reduce(_ ++ _)

  final case class Result(lane: String, fixed: Boolean, spanId: Int, constructS: Double,
                          actionS: Double, rows: Long, digest: Long, columns: Seq[String],
                          error: Option[String]) {
    def wallS: Double = constructS + actionS
  }

  /** Generic warm-up: a scan, shuffle aggregate, join and sort through the
    * digest sink, touching no lane. */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$dataDir/lineitem.parquet")
    val agg = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
    val keys = spark.range(0, 1000000).select((col("id") % 1000).as("k"), col("id").as("v"))
      .groupBy("k").agg(max("v").as("v"))
    val joined = keys.join(spark.range(1000).toDF("k"), "k").orderBy(col("v").desc)
    Seq(agg, joined).foreach { df =>
      df.write.format(classOf[DigestSink].getName).mode("overwrite").option("key", "warmup").save()
      DigestSink.take("warmup")
    }
  }

  /** Runs the fixed set and, in a census, the other lanes until
    * `censusUntilMs` (epoch millis; a lane already started finishes).
    * `emit` sees each result as soon as its lane ends. Returns the results
    * and the census lanes the deadline left out. */
  def run(spark: SparkSession, trace: Trace, workload: String, dataDir: String, seed: Long,
          census: Boolean, censusUntilMs: Long, emit: Result => Unit): (Seq[Result], Seq[String]) = {
    val defs = lanes(workload)
    val fixed = fixedSets(workload).toSet
    require(fixed.subsetOf(defs.keySet), s"unknown lanes: ${(fixed -- defs.keySet).mkString(", ")}")
    val rnd = new scala.util.Random(seed)
    val (first, rest) = defs.keys.toSeq.sorted.partition(fixed)
    def go(lane: String): Result = {
      val r = runLane(spark, trace, lane, defs(lane), dataDir, fixed(lane))
      emit(r)
      r
    }
    val timed = rnd.shuffle(first).map(go)
    val others = if (census) rnd.shuffle(rest) else Nil
    val reached = others.iterator.takeWhile(_ => System.currentTimeMillis() < censusUntilMs).map(go).toList
    (timed ++ reached, others.drop(reached.size))
  }

  private def runLane(spark: SparkSession, trace: Trace, lane: String, fn: Lane,
                      dataDir: String, fixed: Boolean): Result = {
    var digest: Option[DigestSink.Digest] = None
    var columns = Seq.empty[String]
    var error: Option[String] = None
    val spanId = trace.spans.size
    trace.span(lane, "lane", owner = lane) {
      try {
        val df = trace.span("construct", "queries")(fn(spark, dataDir))
        columns = df.columns.toSeq.sorted
        trace.span("action", "queries") {
          df.write.format(classOf[DigestSink].getName).mode("overwrite").option("key", lane).save()
        }
        digest = DigestSink.take(lane)
        if (digest.isEmpty) error = Some("the sink committed no digest")
      } catch {
        case NonFatal(e) => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    def seconds(name: String): Double =
      trace.spans.find(s => s.parent == spanId && s.name == name).map(_.seconds).getOrElse(0.0)
    graft.GraftSession.releaseCaches(spark)
    trace.drain(spanId)
    Result(lane, fixed, spanId, seconds("construct"), seconds("action"),
      digest.map(_.rows).getOrElse(-1L), digest.map(_.sum).getOrElse(0L), columns, error)
  }
}
