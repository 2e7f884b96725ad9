package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The engine's query-surface contract (SURVEY.md §7).
  *
  * `lanes` is the engine's declared query surface (SURVEY.md §2B): the
  * twelve query modules' `lanes` tables, one [[Lane]] per name. Each lane
  * builds a deterministic, totally-ordered DataFrame from (session,
  * scale-factor dir) and declares its check: [[Exact]] carries the
  * DuckDB-equivalent SQL for the hash compare, [[RowsOnly]] the reason the
  * lane has none (approximate or non-SQL-expressible ops). `queries` and
  * `oracleSql` are views of the same table.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q11(spark, "/root/testdata/sf0.001")

  lazy val lanes: Seq[Lane] = concat(Seq(Relational.lanes, Relational2.lanes,
    Relational3.lanes, TextOps.lanes, Similarity.lanes, Multimodal.lanes,
    Windowed.lanes, Sampling.lanes, Analytics.lanes, Entity.lanes, Curate.lanes,
    Evaluation.lanes))

  /** The tables concatenated, refusing a name declared twice (a map over
    * them would silently keep only the later lane). */
  private[graft] def concat(tables: Seq[Seq[Lane]]): Seq[Lane] = {
    val all = tables.flatten
    val dup = all.groupBy(_.name).collect { case (n, ls) if ls.size > 1 => n }
    require(dup.isEmpty, s"lane names declared twice: ${dup.toSeq.sorted.mkString(", ")}")
    all
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    lanes.map(l => l.name -> l.build).toMap

  def oracleSql: Map[String, String] =
    lanes.collect { case Lane(name, _, Exact(sql)) => name -> sql }.toMap
}
