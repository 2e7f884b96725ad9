package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query lane (SURVEY §2B): its registry name, the function
  * that builds its deterministic, totally-ordered result from (session,
  * scale-factor dir), and how the correctness gate checks that result. */
final case class Lane(name: String, build: (SparkSession, String) => DataFrame,
  check: LaneCheck)

sealed trait LaneCheck

/** Hash-compared against DuckDB running `sql` over the same tables. */
final case class Exact(sql: String) extends LaneCheck

/** Only the row count is checked; `reason` says why no exact oracle exists. */
final case class RowsOnly(reason: String) extends LaneCheck
