package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.queries.Similarity

/** Round-10 sampled-mode audits (q24_jaccard_sample / q25_embed_sample):
  * the exact O(n²) baselines re-run on a deterministic, scale-invariant
  * hash sample so the recall/error audit stays affordable at any corpus
  * size. These specs prove the CONTRACT on a corpus wide enough that the
  * sample rate is really > 1 (8× the sf0.001 docs → n=4000, rate=3):
  *
  *  1. restriction equality — the sampled lane's exact-pair verdicts are
  *     EXACTLY the full q24_jaccard_pairs output restricted to pairs whose
  *     both docs fall in the sample (no new pairs, no lost pairs, same
  *     jaccard values bit-for-bit);
  *  2. the banded flag agrees with the full q24_lsh_pairs lane on that
  *     same restriction (banding is a pure per-doc function, so candidacy
  *     within the sample ≡ candidacy in the corpus);
  *  3. the sample is bounded near its target regardless of corpus size,
  *     and the lane is deterministic across runs;
  *  4. the embed twin's pair list is the true top-20 of the sampled subset
  *     under independently recomputed cosine arithmetic.
  *
  * (Cross-engine value correctness is the DuckDB oracle's job — both lanes
  * are hash-exact at sf0.01 AND sf0.1, where sf0.1 samples at rate 4/3.)
  */
class SampledAuditSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val out = tempDir("graft_sampaudit").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    (0 until 8).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    (0 until 8).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    out
  }

  // the lane's membership definition, recomputed here against the corpus
  private def sampledIds(table: DataFrame, idCol: String, target: Long): Set[Long] = {
    val n = table.count()
    val rate = math.max(1L, n / target)
    table.filter(
        expr(s"CAST(conv(substr(md5(CAST($idCol AS STRING)),1,15),16,10) AS BIGINT)") % rate === 0L)
      .select(col(idCol)).as[Long].collect().toSet
  }

  test("jaccard sample: pair verdicts ≡ full exact lane restricted to the sample (rate > 1)") {
    val ids = sampledIds(spark.read.parquet(s"$dir/documents.parquet"), "doc_id", 1024L)
    assert(ids.size > 1024 / 2 && ids.size < 1024 * 2,
      s"sample not near target: ${ids.size}") // scale-invariant bound
    assert(ids.size < 4000, "rate must exceed 1 on the widened corpus")

    val sampled = Similarity.q24JaccardSample(spark, dir)
      .select($"doc_a", $"doc_b", $"lang", $"jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val fullRestricted = Similarity.q24JaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .filter(p => ids(p._1) && ids(p._2)).toSet
    assert(sampled.nonEmpty, "widened corpus must produce sampled dup pairs")
    assert(sampled === fullRestricted)
  }

  test("jaccard sample: banded flag ≡ the full LSH lane on the restriction") {
    val ids = sampledIds(spark.read.parquet(s"$dir/documents.parquet"), "doc_id", 1024L)
    val byFlag = Similarity.q24JaccardSample(spark, dir)
      .select($"doc_a", $"doc_b", $"banded")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // the sampled lane audits banding recall WITHIN the exact lane's
    // blocking discipline (same-lang pairs — q24_jaccard_pairs' join key);
    // q24_lsh_pairs itself bands across languages, so apply the same
    // blocking to the restriction before comparing
    val lang = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val lshRestricted = Similarity.q24LshPairs(spark, dir)
      .select($"doc_a", $"doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => ids(p._1) && ids(p._2) && lang(p._1) == lang(p._2)).toSet
    // banded=1 rows are exactly the full LSH lane's (verified ≥ 0.3) pairs
    // within the sample; banded=0 rows are the banding recall deficit
    assert(byFlag.filter(_._2 == 1).keySet === lshRestricted)
    val missed = byFlag.filter(_._2 == 0).keySet
    assert(missed.intersect(lshRestricted).isEmpty)
  }

  test("ann bucket: hyperplane count adapts to corpus size (integer-exact formula)") {
    // target bucket load 125: hp stays 4 through the test SFs (outputs
    // unchanged there), grows as ceil_log2(ceil(n/125)) beyond
    assert(Similarity.annHp(1L) === 4)
    assert(Similarity.annHp(500L) === 4)     // sf0.01
    assert(Similarity.annHp(2000L) === 4)    // sf0.1 — exactly 16 cells
    assert(Similarity.annHp(2001L) === 5)    // first count past the boundary
    assert(Similarity.annHp(4000L) === 5)    // the 8× fixture below
    assert(Similarity.annHp(16000L) === 7)
    assert(Similarity.annHp(64000L) === 9)   // the 32× sweep corpus
    assert(Similarity.annHp(2000L * 1024) === 14)
  }

  test("ann bucket: nearest-in-bucket stays exact when the adaptive hp kicks in") {
    // 8× fixture = 4000 vectors → hp=5 (32 buckets): the lane runs its
    // ADAPTIVE branch here. Independent replica: recompute buckets from
    // the md5-derived hyperplane formula and brute-force the best
    // same-bucket neighbor per vector (ties → smallest nn_id).
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val hp = Similarity.annHp(vecs.length.toLong)
    assert(hp === 5, s"fixture must exercise the adaptive branch, got hp=$hp")
    def plane(j: Int): Seq[Double] =
      (1 to 256).map(i => (graft.functions.Hash60(s"$j:$i") % 2001L - 1000L) / 1000.0)
    def dotSeq(x: Seq[Double], y: Seq[Double]): Double =
      x.zip(y).foldLeft(0.0) { case (s, (a, b)) => s + a * b }
    def bucket(v: Seq[Double]): Int =
      (0 until hp).map(j => if (dotSeq(v, plane(j)) > 0d) 1 << j else 0).sum
    val byBucket = vecs.groupBy { case (_, v) => bucket(v) }
    val want = byBucket.values.flatMap { members =>
      members.flatMap { case (id, v) =>
        val nrm = math.sqrt(dotSeq(v, v))
        val peers = members.filter(_._1 != id)
        if (peers.isEmpty) None
        else Some {
          val best = peers
            .map { case (pid, pv) =>
              (pid, dotSeq(v, pv) / (nrm * math.sqrt(dotSeq(pv, pv)))) }
            .minBy { case (pid, c) => (-c, pid) }
          (id, best._1)
        }
      }
    }.toMap
    val got = Similarity.q25AnnBucket(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.map(_._1).toSet === want.keySet, "per-vector row set must match")
    got.foreach { case (id, b, nn) =>
      assert(byBucket(b).exists(_._1 == id), s"vec $id reported foreign bucket $b")
      assert(want(id) === nn, s"vec $id: nn $nn, replica says ${want(id)}")
    }
    // and the load the formula promises: expected ≤ ~2·AnnBucketLoad cells
    assert(byBucket.values.map(_.length).max <= vecs.length,
      "sanity") // buckets are data-dependent; the mean is the contract
    assert(vecs.length.toDouble / byBucket.size <= 2 * 125,
      s"mean bucket load ${vecs.length / byBucket.size} vs target 125")
  }

  test("embed sample: deterministic, and the pairs are the true top-20 of the subset") {
    val got = Similarity.q25EmbedSample(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.length === 20)
    val again = Similarity.q25EmbedSample(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq === again.toSeq, "sampled audit must be deterministic")

    // independent replica: brute-force cosine over the recomputed sample
    val ids = sampledIds(spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", 512L)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id").isin(ids.toSeq: _*))
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cos(x: Seq[Double], y: Seq[Double]): Double = {
      val d = x.zip(y).map { case (a, b) => a * b }.sum
      d / (math.sqrt(x.map(a => a * a).sum) * math.sqrt(y.map(a => a * a).sum))
    }
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
    } yield (ia, ib, cos(va, vb)))
      .sortBy { case (a, b, c) => (-c, a, b) }.take(20)
    assert(got.map(g => (g._1, g._2)).toSeq === want.map(w => (w._1, w._2)).toSeq)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._3 - w._3) < 1e-12, s"cosine drift on (${g._1},${g._2})")
    }
  }
}
