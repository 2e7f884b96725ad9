package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.lanes result → parquet,
  * plus oracle_sql.json (the `Exact` lanes' DuckDB SQL) and rows_only.json
  * (the `RowsOnly` lanes' reasons), for the DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
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
    val lanes = SparkEntry.lanes.filter(l => only.forall(_.contains(l.name)))
    lanes.foreach { case Lane(name, build, check) =>
      try {
        val df = build(spark, sfDir)
        // Hard guard (round-1 regression): the driver canonicalizes rows
        // with a pandas sort, which cannot hash array/map/struct cells —
        // such a column fails the gate even when values match. Serialize
        // (array_join/to_json) in the query's final projection instead.
        if (check.isInstanceOf[Exact]) {
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
    def write(file: String, entries: Seq[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"),
        entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // A rows-only lane that failed has no result dir; declaring it here lets
    // the compare count it as a failure instead of never seeing it.
    write("oracle_sql.json", lanes.collect { case Lane(n, _, Exact(sql)) => n -> sql })
    write("rows_only.json", lanes.collect { case Lane(n, _, RowsOnly(why)) => n -> why })
    spark.stop()
  }
}
