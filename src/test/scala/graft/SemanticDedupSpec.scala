package graft

import org.apache.spark.sql.functions._
import graft.queries.Similarity

/** q26_semantic_dedup semantics on a controlled fixture: planted duplicate
  * embeddings must be evicted by their smallest-id twin, orthogonal vectors
  * must all survive, and the verdict covers every vector exactly once. */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = tempDir("graft_semdedup").toString
    def basis(i: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f); v(i % 8) = 1.0f; v
    }
    // 20 vectors so the 16 hash-sampled "centroids" leave real residents.
    // ids 0-15: distinct one-hot-ish directions (pairwise cosine 0 within
    // the same basis slot groups would collide — offset each by a unique
    // small second component to keep them below tau against each other).
    val distinct = (0 until 16).map { i =>
      val v = basis(i); v((i + 3) % 8) += 0.1f * (i + 1)
      (i.toLong, s"lab${i % 4}", v)
    }
    // ids 16-19: exact copies of ids 2, 5, 2, 7 → near-dups at cosine 1.0
    val dups = Seq(
      (16L, "lab0", distinct(2)._3.clone()),
      (17L, "lab1", distinct(5)._3.clone()),
      (18L, "lab2", distinct(2)._3.clone()),
      (19L, "lab3", distinct(7)._3.clone()))
    (distinct ++ dups).toDF("vec_id", "label", "embedding")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("planted duplicates are evicted by their smallest-id twin; others survive") {
    val out = Similarity.q26SemanticDedup(spark, dir)
      .select($"vec_id", $"keep", $"evicted_by").as[(Long, Boolean, Option[Long])]
      .collect().toSeq
    assert(out.map(_._1) === (0L until 20L)) // total function over the corpus
    val verdict = out.map(r => r._1 -> r).toMap
    // a copy shares its source's centroid list by construction (identical
    // vector → identical argmax), so the in-list greedy policy must fire
    assert(verdict(16L) === ((16L, false, Some(2L))))
    assert(verdict(17L) === ((17L, false, Some(5L))))
    assert(verdict(18L) === ((18L, false, Some(2L))))
    assert(verdict(19L) === ((19L, false, Some(7L))))
    // originals keep (they are the min id of their clique)
    Seq(2L, 5L, 7L).foreach(i => assert(verdict(i)._2 === true, s"vec $i"))
  }

  test("near-orthogonal corpus: everything survives") {
    val d2 = tempDir("graft_semdedup_orth").toString
    (0 until 12).map { i =>
      val v = Array.fill(16)(0.0f); v(i) = 1.0f
      (i.toLong, "x", v)
    }.toDF("vec_id", "label", "embedding").write.parquet(s"$d2/embeddings.parquet")
    val out = Similarity.q26SemanticDedup(spark, d2)
    assert(out.filter(!col("keep")).count() === 0)
    assert(out.count() === 12)
  }
}
