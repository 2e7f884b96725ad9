package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.TextOps

/** q23_cdc_chunks' content-defined boundary laws, on a synthetic corpus
  * plus real sf0.001 documents:
  *  - reconstruction: chunk token counts sum to the doc's token count and
  *    chunk spans tile [1, n] contiguously (no token lost or doubled);
  *  - boundary law: every chunk except a doc's last ENDS on a boundary
  *    token (hash60 % 16 == 0) and contains no interior boundary;
  *  - shift robustness — THE content-defined property: prefixing a
  *    document with new tokens leaves every chunk fingerprint except the
  *    first unchanged, whereas the fixed-stride q23_chunks re-fingerprints
  *    essentially everything.
  */
class CdcChunksSpec extends SparkSpec {

  private def cdcOf(docs: DataFrame): DataFrame = {
    val dir = tempDir("graft_cdc").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextOps.q23CdcChunks(spark, dir)
  }

  private def docsDF(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def realDocs: DataFrame = {
    import spark.implicits._
    graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
  }

  test("chunks tile each document exactly: contiguous spans, full coverage") {
    val docs = realDocs
    val chunks = cdcOf(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
    val nToks = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunks.nonEmpty)
    chunks.foreach { case (docId, cs) =>
      // chunk_no dense from 1, spans contiguous from token 1 to n
      assert(cs.map(_.getLong(1)).toSeq === (1L to cs.length))
      var expectStart = 1L
      cs.foreach { c =>
        assert(c.getLong(2) === expectStart, s"doc $docId: gap before chunk ${c.getLong(1)}")
        expectStart += c.getLong(3)
      }
      assert(expectStart - 1 === nToks(docId), s"doc $docId: coverage mismatch")
    }
  }

  test("every non-final chunk ends on a boundary token; none contains one inside") {
    import spark.implicits._
    val docs = realDocs.limit(40)
    val byDoc = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    val chunks = cdcOf(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
    def isBoundary(tok: String): Boolean =
      graft.functions.Hash60(tok.getBytes("UTF-8")) % 16 == 0
    chunks.foreach { case (docId, cs) =>
      val toks = byDoc(docId).split(" ", -1)
      cs.zipWithIndex.foreach { case (c, i) =>
        val start = c.getLong(2).toInt; val n = c.getLong(3).toInt
        val body = toks.slice(start - 1, start - 1 + n)
        if (i < cs.length - 1)
          assert(isBoundary(body.last), s"doc $docId chunk ${i + 1} must end on a boundary")
        assert(!body.dropRight(1).exists(isBoundary),
          s"doc $docId chunk ${i + 1} holds an interior boundary")
      }
    }
  }

  test("prefix edit: CDC re-aligns after one chunk; fixed stride does not") {
    import spark.implicits._
    val base = realDocs.limit(30).select("doc_id", "text").as[(Long, String)].collect()
    val edited = base.map { case (id, t) => (id + 100000L, s"inserted preamble tokens $t") }
    val docs = docsDF((base ++ edited).toSeq)

    def fpsByDoc(df: DataFrame): Map[Long, Seq[(Long, String)]] =
      df.select(col("doc_id"), col("chunk_no"), col("chunk_md5"))
        .as[(Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._2, r._3)).toSeq).toMap

    val cdc = fpsByDoc(cdcOf(docs))
    base.foreach { case (id, _) =>
      val orig = cdc(id).map(_._2)
      val ed = cdc(id + 100000L).map(_._2)
      // everything after the original's FIRST chunk survives the edit
      // verbatim (same fingerprints, same order, as the edited doc's tail)
      assert(orig.tail === ed.takeRight(orig.tail.size),
        s"doc $id: CDC tail fingerprints not preserved under prefix edit")
    }

    // the fixed-stride contrast on one long doc: a 3-token prefix shifts
    // every 40-token stride, so at most the final ragged chunk can agree
    val longest = base.maxBy(_._2.length)
    val strideDir = tempDir("graft_stride").toString
    docsDF(Seq(longest, (longest._1 + 100000L, s"inserted preamble tokens ${longest._2}")))
      .write.mode("overwrite").parquet(s"$strideDir/documents.parquet")
    val stride = TextOps.q23Chunks(spark, strideDir)
      .select(col("doc_id"), col("chunk_md5")).as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val strideShared = stride(longest._1).intersect(stride(longest._1 + 100000L)).size
    assert(strideShared <= 1, s"fixed stride unexpectedly shift-tolerant: $strideShared")
    val origTail = cdc(longest._1).tail.map(_._2).toSet
    assert(origTail.subsetOf(cdc(longest._1 + 100000L).map(_._2).toSet),
      "CDC should share every chunk but the first")
  }
}
