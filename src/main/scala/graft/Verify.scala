package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // r13 VERDICT task 7: a stray barrier A/B override would dump a mutant
    // engine's results into the correctness gate — die loudly instead.
    graft.core.Barrier.assertNoOverride("Verify")
    // Optional 3rd arg (local iteration only; the driver always passes 2):
    // comma-separated lane names to dump, e.g. "q48_incr_agg,q25_pq_adc".
    val (sfDir, outDir, only) = args match {
      case Array(sf, out)        => (sf, out, None)
      case Array(sf, out, lanes) => (sf, out, Some(lanes.split(',').toSet))
    }
    val spark = GraftSession.build(defaultCpus = "4")
    new java.io.File(outDir).mkdirs()
    // Spark TimestampType is instant-semantics and lands in parquet as
    // UTC-adjusted; DuckDB's TIMESTAMP is naive. Same wall-clock (session
    // TZ pinned UTC), different metadata — cast to NTZ so the driver's
    // pandas compare sees identical dtypes.
    import org.apache.spark.sql.types.TimestampType
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Hard guard (round-1 regression): the driver canonicalizes rows
        // with a pandas sort, which cannot hash array/map/struct cells —
        // such a column fails the gate even when values match. Serialize
        // (array_join/to_json) in the query's final projection instead.
        if (SparkEntry.oracleSql.contains(name)) {
          val bad = df.schema.fields.filter(f => f.dataType match {
            case _: ArrayType | _: MapType | _: StructType => true
            case _ => false
          })
          require(bad.isEmpty,
            s"oracle-checked query $name emits non-scalar column(s) " +
              s"${bad.map(_.name).mkString(", ")} — the driver's pandas sort " +
              "cannot canonicalize them; serialize in the final projection")
        }
        val ntz = df.schema.fields.foldLeft(df) { (d, f) =>
          if (f.dataType == TimestampType)
            d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
          else d
        }
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Lanes persist() shared frames for intra-query reuse; drop them per
      // query so 100+ cached frames don't pile up over the run (and no
      // query reads a predecessor's cache via canonical-plan matching).
      try GraftSession.releaseCaches(spark)
      catch { case NonFatal(_) => () }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
