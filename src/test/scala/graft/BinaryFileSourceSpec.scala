package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.queries.Multimodal

/** `binaryFile` source — the RAW-asset ingestion path for the multimodal
  * pipeline: a 100 TB image/audio corpus usually starts life as millions
  * of loose files in object storage, not as parquet. Spark's binaryFile
  * source lists them distributedly, exposes (path, modificationTime,
  * length, content), supports pathGlobFilter for format routing and a
  * planning-time length filter — and feeds the SAME decode path the
  * parquet-backed q32 lanes use, so loose files and packed corpora share
  * one pipeline from the first scan on. This spec round-trips real PNG
  * payloads through loose files and pins decode parity with the in-memory
  * originals, plus the corrupt-blob quarantine.
  */
class BinaryFileSourceSpec extends SparkSpec {
  import spark.implicits._

  test("binaryFile scan feeds the shared PNG decode path; glob + corrupt quarantine hold") {
    val dir = tempDir("graft_binfile").toString
    val ids = Seq(1L, 2L, 3L, 4L)
    ids.foreach { id =>
      Files.write(Paths.get(s"$dir/img_$id.png"), Multimodal.encodePng(id))
    }
    // a corrupt blob and a non-image file that the glob must exclude
    Files.write(Paths.get(s"$dir/img_99.png"), Array[Byte](1, 2, 3, 4, 5))
    Files.write(Paths.get(s"$dir/notes.txt"), "not an image".getBytes("UTF-8"))

    val scanned = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png", 1).cast("long").as("doc_id"),
        col("length"), col("content"))
    val rows = scanned.collect()
    assert(rows.length === ids.length + 1, "glob keeps png files only, txt excluded")

    // decode parity with the in-memory payloads, via the shared decoder
    val decoded = rows.map { r =>
      r.getAs[Long]("doc_id") -> Multimodal.decodePng(r.getAs[Array[Byte]]("content"))
    }.toMap
    ids.foreach { id =>
      val expect = Multimodal.decodePng(Multimodal.encodePng(id))
      assert(decoded(id) === expect, s"doc $id decode mismatch")
      assert(decoded(id).isDefined)
    }
    // the corrupt blob quarantines to None instead of throwing — same
    // contract as the parquet-backed q32 decode lanes
    assert(decoded(99L) === None)

    // the length column is exact, making a planning-time size filter
    // possible before any byte of content is read
    val small = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .filter(col("length") < 100).select(col("path")).collect()
    assert(small.map(_.getString(0)).exists(_.endsWith("img_99.png")))
    assert(small.length === 1)
  }
}
