package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish tables (`TESTDATA.md`,
  * `FIXTURES.md` §4). One parquet file per table under the scale-factor dir.
  *
  * Scale posture: these are plain `spark.read.parquet` scans, so Catalyst
  * predicate pushdown / column pruning / partition pruning all apply — at
  * 100 TB the same call reads a partitioned directory tree and prunes.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize an events frame's `ts` to the engine-wide shape regardless
    * of how the file stored it. Two storage generations exist:
    *  - TIMESTAMP(NANOS) → int64 under `spark.sql.legacy.parquet.
    *    nanosAsLong=true` (set AT BUILD TIME by every session — a loader
    *    must not mutate shared conf at plan-build time). The long nanos
    *    truncate to micros with integer `div` (not `/`): epoch-nanos
    *    exceed 2^53, double math would corrupt the low bits. This is also
    *    the convention of the spec fixtures that synthesize events.
    *  - plain timestamp[us] (surfaces as TIMESTAMP_NTZ), the round-9
    *    testdata generation: cast to session-TZ TIMESTAMP (UTC session →
    *    identical instants and identical written-parquet bytes to the
    *    nanos path, keeping the DuckDB oracle in lockstep).
    * Either way the surfaced schema is the same: `ts` TIMESTAMP plus a
    * derived `ts_ns` BIGINT epoch-nanos twin. Works on batch AND streaming
    * frames (schema-driven, no action). */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(spark, dir, "events"))

  /** Incremental-window events scan with the range predicate applied to
    * the RAW `ts` column in the file's own type, BEFORE normalization —
    * the only way the bound reaches the parquet scan (PushedFilters) and
    * prunes row groups/partitions: a predicate on the derived `ts`/`ts_ns`
    * sits above a cast/arithmetic projection Catalyst cannot invert. The
    * 100 TB incremental-read shape (R4). */
  def eventsRanged(spark: SparkSession, dir: String,
                   fromLit: String, untilLit: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val raw = table(spark, dir, "events")
    val ranged = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.filter(col("ts") >= nanosOf(fromLit) && col("ts") < nanosOf(untilLit))
      case dt =>
        raw.filter(col("ts") >= lit(fromLit).cast(dt) && col("ts") < lit(untilLit).cast(dt))
    }
    normalizeEventTs(ranged)
  }

  /** Raw-nanos twin of a `ts` predicate bound: predicates on the derived
    * `ts` (timestamp_micros of a div) cannot reach the parquet scan, so
    * range filters should ALSO be expressed on `ts_ns` — Catalyst pushes
    * that one down (PushedFilters) and prunes row groups / partitions.
    * `ts >= T ⟺ ts_ns >= T_micros·1000` under micros truncation. */
  def nanosOf(tsLiteral: String): Long = {
    val inst = utcInstant(tsLiteral)
    inst.getEpochSecond * 1000000000L + inst.getNano
  }

  /** A naive `yyyy-MM-dd HH:mm:ss[.fffffffff]` literal read as UTC, the
    * engine's one zone (the session zone is pinned to it). `java.sql.
    * Timestamp`'s string parse reads the JVM default zone instead, which on
    * a non-UTC host shifts every bound by the zone offset. */
  def utcInstant(naive: String): java.time.Instant =
    java.time.LocalDateTime.parse(naive.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC)

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
