package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd (k-means) refinement — the centroid-TRAINING loop the
  * IVF family's one-pass quantizer (`Similarity.ivfCentroidsAtScale`)
  * deliberately skips, provided for when index quality is worth extra
  * corpus passes.
  *
  * Per-iteration cost is exactly ONE aggregation job over the corpus:
  * the compiled `nearest_centroid` assignment runs inside the scan, and
  * `groupBy(cid).agg(vec_avg, count, Σ‖x‖²)` ships only k partial
  * buffers per partition through the Exchange (map-side combine), which
  * is both the new centroid set AND the SSE objective:
  *    SSE = Σ_k [ Σ‖x‖²  −  2·n_k·(m_k·c_k)  +  n_k·‖c_k‖² ]
  * — every term computable on the driver from the k (mean, count, Σ‖x‖²)
  * rows against the CURRENT centroids. No per-row second pass, no
  * persist/cache to strand (the corpus is re-scanned once per iteration,
  * the round-9 q25_ivf_scale posture), and the quantizer stays
  * driver-held (k ≤ 4096 × d ≤ 256 dims ≈ 8 MB, `kForCorpus`'s bound).
  *
  * Assignment is EXACT Euclidean argmin via the max-dot primitive and
  * one augmented dimension: appending 1 to x and −‖c‖²/2 to each c gives
  *   [x,1]·[c,−‖c‖²/2] = x·c − ‖c‖²/2 = −(‖x−c‖² − ‖x‖²)/2,
  * so argmax of the augmented dot ≡ argmin distance (‖x‖² is constant
  * across candidates), with the primitive's ascending-id strict-`>` scan
  * realizing the smallest-id tie-break. KMeansSpec pins this against a
  * brute-force argmin, pins Lloyd's SSE monotonicity, and pins planted-
  * cluster recovery across partitionings.
  */
object KMeans {
  final case class IterStat(iter: Int, sse: Double, nonEmpty: Int)
  final case class Result(centroids: IndexedSeq[Array[Double]],
                          history: Seq[IterStat]) {
    /** Assignment column against the final centroids. */
    def assign(vec: Column): Column = euclidAssign(vec, centroids)
  }

  /** `argmin_k ‖x − c_k‖²` as a Column, via the augmented-dimension trick
    * over the codegen'd `nearest_centroid` (injected by
    * [[graft.functions.GraftExtensions]], which the session must carry).
    * Ids are the centroid indices 0..k−1. */
  def euclidAssign(vec: Column, cents: IndexedSeq[Array[Double]]): Column = {
    val ids = cents.indices.map(_.toLong)
    val aug = cents.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      (c :+ (-0.5 * s)).toSeq
    }
    call_function("nearest_centroid",
      concat(vec, array(lit(1.0f))), typedlit(ids), typedlit(aug))
  }

  /** Deterministic hash-order seeds (the IVF seeding convention): the k
    * rows with the smallest 60-bit md5 of their id — a sample no data
    * order or partitioning can perturb. One TakeOrdered job. */
  private[graft] def seedsOf(e: DataFrame, idCol: String, vecCol: String,
                             k: Int): IndexedSeq[Array[Double]] =
    e.orderBy(expr(s"conv(substr(md5(cast($idCol AS STRING)),1,15),16,10)"),
        col(idCol))
      .limit(k)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray).toIndexedSeq

  /** Joint Lloyd refinement of `m` per-subspace codebooks — the product-
    * quantization trainer. Functionally equivalent to running [[refine]]
    * once per subspace over `slice(vec, j·dim+1, dim)`, but ONE
    * aggregation job per iteration covers ALL subspaces: each row
    * explodes to its m (subspace, subvector, assigned-code) structs and
    * the agg groups on (subspace, code) — m× the shuffled bytes of one
    * subspace (still tiny: m·k partial buffers per partition), 1/m the
    * driver round-trips. Measured on q25_pq_adc at sf0.1: 8 subspaces ×
    * 3 iters went from 32 jobs / 4.4 s warm to 4 jobs (the lane's
    * dominant cost was per-job latency, not compute). Seeds are the SAME
    * rows [[seedsOf]] picks — the hash order doesn't depend on the
    * subspace — collected once and sliced. Empty clusters keep their
    * previous centroid, like [[refine]]. */
  def refineSubspaces(e: DataFrame, idCol: String, vecCol: String,
                      m: Int, dim: Int, k: Int,
                      iters: Int): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val seedRows = e
      .orderBy(expr(s"conv(substr(md5(cast($idCol AS STRING)),1,15),16,10)"),
        col(idCol))
      .limit(k)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray).toIndexedSeq
    var books: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until m).map(j => seedRows.map(_.slice(j * dim, (j + 1) * dim)))
    for (_ <- 1 to iters) {
      val subStructs = (0 until m).map { j =>
        val sub = expr(s"slice($vecCol, ${j * dim + 1}, $dim)")
        struct(lit(j).as("j"), sub.as("sub"),
          euclidAssign(sub, books(j)).as("cid"))
      }
      val rows = e.select(explode(array(subStructs: _*)).as("s"))
        .groupBy(col("s.j").as("j"), col("s.cid").as("cid"))
        .agg(expr("vec_avg(s.sub)").as("mn"))
        .collect()
      val next = books.map(_.toArray).toArray
      rows.foreach { r =>
        next(r.getInt(0))(r.getLong(1).toInt) = r.getSeq[Double](2).toArray
      }
      books = next.map(_.toIndexedSeq).toIndexedSeq
    }
    books
  }

  /** Run `iters` Lloyd rounds from the deterministic seeds. History entry
    * t records SSE of (assignment under c_t) measured against c_t — the
    * true Lloyd objective, non-increasing in t. Empty clusters keep their
    * previous centroid (no re-seeding: deterministic). */
  def refine(e: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): Result = {
    var cents = seedsOf(e, idCol, vecCol, k)
    val hist = scala.collection.mutable.ArrayBuffer.empty[IterStat]
    for (it <- 1 to iters) {
      val rows = e
        .withColumn("cid", euclidAssign(col(vecCol), cents))
        .groupBy(col("cid"))
        .agg(expr(s"vec_avg($vecCol)").as("m"), count(lit(1)).as("n"),
          sum(expr(s"dotf($vecCol, $vecCol)")).as("s2"))
        .collect()
      var sse = 0.0
      val next = Array.tabulate(cents.length)(cents(_))
      rows.foreach { r =>
        val cid = r.getLong(0).toInt
        val m = r.getSeq[Double](1).toArray
        val n = r.getLong(2).toDouble
        val s2 = r.getDouble(3)
        val c = cents(cid)
        var mc = 0.0; var cc = 0.0; var i = 0
        while (i < c.length) { mc += m(i) * c(i); cc += c(i) * c(i); i += 1 }
        sse += s2 - 2.0 * n * mc + n * cc
        next(cid) = m
      }
      hist += IterStat(it, sse, rows.length)
      cents = next.toIndexedSeq
    }
    Result(cents, hist.toSeq)
  }
}
