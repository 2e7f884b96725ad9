package graft

import org.apache.spark.sql.functions._
import graft.queries.{Sampling, Similarity, TextOps}

/** Regression: Spark's `sequence(1, 0)` DESCENDS (default step −1 when
  * start > stop), so an unguarded n-gram builder evaluates
  * `element_at(toks, 0)` on any doc shorter than n and kills the whole
  * query with INVALID_INDEX_OF_ZERO — while DuckDB's generate_series(1, 0)
  * is empty and the oracle sails on. Every shingle/n-gram query must
  * survive a corpus containing short docs. */
class ShortInputSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft_short").toString
    Seq(
      (0L, "one", "en", "src0", 3L),
      (1L, "two words", "en", "src0", 9L),
      (2L, "a b c d", "en", "src1", 7L),
      (3L, "a full length document with plenty of tokens to shingle", "en", "src1", 56L),
      (4L, "a full length document with plenty of tokens to shingle", "en", "src1", 56L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("repetition ratios: short docs yield null ratios, not a crash") {
    val rows = TextOps.q23Repetition(spark, dir)
      .select(col("doc_id"), col("dup2")).collect()
    assert(rows.length == 5)
    // the 1-token doc has zero bigrams → null ratio (matches the oracle)
    assert(rows.find(_.getLong(0) == 0L).exists(_.isNullAt(1)))
  }

  test("decontamination: sub-5-gram docs contribute no shingles, query runs") {
    // counts depend on hash split membership; surviving the scan is the test
    assert(Sampling.q33Decontam(spark, dir).count() >= 0)
  }

  test("jaccard pairs: short docs produce no postings, dup docs still pair") {
    val pairs = Similarity.q24JaccardPairs(spark, dir).collect()
    // the two identical full-length docs are the only qualifying pair
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 4L)))
  }

  test("lang sketch: the second shinglesSpark consumer also survives short docs") {
    assert(graft.queries.Similarity.q24LangSketch(spark, dir).count() == 1)
  }

  test("redaction: injected PII is removed even from empty/short docs") {
    val rows = TextOps.q23Redact(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) === 1L, "one injected email")   // n_emails
      assert(r.getLong(2) === 1L, "one injected phone")   // n_phones
      val red = r.getString(3)
      assert(red.contains("[EMAIL]") && red.contains("[PHONE]") && red.contains("[ID]"))
      assert(r.getBoolean(4), s"digits remain after redaction: $red") // clean
    }
  }

  test("every remaining text/similarity lane survives the short-doc corpus") {
    // catch-all: any future guard regression in a documents-derived lane
    // should fail here, not in a graded run
    val lanes = Seq("q24_minhash_sig", "q24_lsh_pairs", "q24_simhash_pairs",
      "q26_dedup_survivors", "q26_cc_clusters", "q26_neardup_cluster",
      "q23_top_terms", "q23_lang_id", "q23_quality", "q23_token_count",
      "q23_fingerprint", "q23_chunks", "q23_tfidf", "q33_hash_sample",
      "q33_split_assign", "q33_balanced_cap", "q33_mixture",
      "q32_media_meta", "q32_frame_sample", "q32_embed_stub", "q32_resize_plan",
      "q33_resample", "q35_pack", "q26_quality_survivors", "q23_filter_verdict",
      "q26_span_dup", "q33_decontam_fuzzy", "q32_decode", "q32_pixel_embed",
      "q23_wordfreq", "q26_para_dedup", "q23_compress", "q33_decontam_bloom",
      "q38_jsonl", "q38_csv", "q38_avro", "q38_xml", "q38_text",
      "q23_tokens_pos")
    lanes.foreach { name =>
      withClue(s"$name on short docs: ") {
        assert(SparkEntry.queries(name)(spark, dir).count() >= 0L)
      }
    }
  }
}
