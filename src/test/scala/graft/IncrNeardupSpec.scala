package graft

import org.apache.spark.sql.functions._
import graft.queries.Similarity

/** q26_incr_neardup — the incremental dedup cycle must be EQUIVALENT to a
  * from-scratch batch run, or the whole "never re-band the corpus" story
  * is a silent recall loss. Three angles:
  *  1. planted fixture: base-hit, delta-self-hit and clean docs verdict
  *     exactly as the semantics say;
  *  2. sf0.001 parity: verdicts ≡ q24_lsh_pairs' pair set restricted to
  *     qualifying partners (base ∪ earlier-delta) — candidate generation,
  *     threshold and tie-break all line up with the batch lane;
  *  3. index maintenance invariant: the on-disk index (what tomorrow's
  *     run would probe) ∪ today's delta bands ≡ a full rebuild's bands.
  */
class IncrNeardupSpec extends SparkSpec {
  import spark.implicits._

  private def mod = 7L

  test("planted fixture: base hit, delta-self hit, clean doc") {
    val d = tempDir("graft_incr_fix").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),   // base
      (2L, "one two three four five six", "en"),           // base, unrelated
      (7L, "alpha beta gamma delta epsilon zeta", "en"),   // delta: dup of base 1
      (14L, "red green blue cyan magenta yellow", "en"),   // delta: clean
      (21L, "red green blue cyan magenta yellow", "en"))   // delta: dup of delta 14
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$d/documents.parquet")
    val out = Similarity.q26IncrNeardup(spark, d)
      .select($"doc_id", $"dup_of", $"jaccard")
      .as[(Long, Option[Long], Option[Double])].collect().toSeq.sortBy(_._1)
    assert(out === Seq(
      (7L, Some(1L), Some(1.0)),
      (14L, None, None),
      (21L, Some(14L), Some(1.0))))
  }

  test("sf0.001 parity: incremental verdicts == from-scratch pair set restricted") {
    val pairs = Similarity.q24LshPairs(spark, sf001)
      .select($"doc_a", $"doc_b", $"jaccard")
      .as[(Long, Long, Double)].collect()
    // doc_a < doc_b always. A pair contributes a partner to its delta
    // member(s): for delta doc_b, doc_a always qualifies (base, or an
    // earlier delta arrival); for delta doc_a, doc_b qualifies only when
    // it is base (a later delta partner is doc_b's hit, not doc_a's).
    val partners = scala.collection.mutable.Map[Long, List[(Long, Double)]]()
      .withDefaultValue(Nil)
    pairs.foreach { case (a, b, j) =>
      if (b % mod == 0) partners(b) = (a, j) :: partners(b)
      if (a % mod == 0 && b % mod != 0) partners(a) = (b, j) :: partners(a)
    }
    val expected = partners.view.mapValues(_.minBy(_._1)).toMap
    val out = Similarity.q26IncrNeardup(spark, sf001)
      .select($"doc_id", $"dup_of", $"jaccard")
      .as[(Long, Option[Long], Option[Double])].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, dupOf, j) =>
      expected.get(id) match {
        case Some((p, pj)) =>
          assert(dupOf.contains(p), s"doc $id: expected partner $p, got $dupOf")
          assert(j.contains(pj), s"doc $id: expected jaccard $pj, got $j")
        case None =>
          assert(dupOf.isEmpty && j.isEmpty, s"doc $id: expected clean, got $dupOf")
      }
    }
    // every expected dup doc is present in the output exactly once
    val ids = out.map(_._1)
    assert(ids.distinct.length === ids.length)
    assert(expected.keySet.subsetOf(ids.toSet))
  }

  test("index maintenance invariant: on-disk index + delta bands == full rebuild") {
    Similarity.q26IncrNeardup(spark, sf001).count() // materialize (writes the index)
    val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_incr_idx_" +
      s"${java.lang.Integer.toHexString(sf001.hashCode)}_p${ProcessHandle.current.pid}"
    assert(new java.io.File(idxDir).exists(), "probe index was not persisted")
    val idx = spark.read.parquet(idxDir)
    val full = Similarity.q24MinhashSig(spark, sf001) // (doc_id, band_id, band_key), all docs
    val deltaBands = full.filter($"doc_id" % mod === 0)
    val rebuilt = idx.unionByName(deltaBands.select(idx.columns.map(col): _*))
    val key = Seq($"doc_id", $"band_id", $"band_key")
    assert(rebuilt.groupBy(key: _*).count()
      .except(full.groupBy(key: _*).count()).isEmpty)
    assert(full.groupBy(key: _*).count()
      .except(rebuilt.groupBy(key: _*).count()).isEmpty)
  }
}
