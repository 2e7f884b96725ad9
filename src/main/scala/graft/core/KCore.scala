package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed k-core by iterative peeling, with FIXED-ROUND semantics.
  *
  * The operator is defined as "R rounds of peeling" (drop every node whose
  * degree within the surviving set is < k, R times), NOT "peel to
  * fixpoint": a fixpoint operator has a data-dependent round count that no
  * portable SQL oracle can replay, while R fixed rounds unroll into R
  * chained CTEs exactly (the q55_pagerank discipline). A `converged`
  * column reports whether the fixpoint was reached within R — when true,
  * the output IS the true k-core (further rounds are identity); when
  * false, the output is still perfectly defined and cross-engine
  * reproducible. Peeling is monotone (each round's set ⊆ previous), so
  * set stability is detectable by COUNT equality, and early exit on a
  * stable round is semantically identical to running all R.
  *
  * Scale shape: each round is two semi-join-shaped equi-joins of the
  * symmetric edge list against the (shrinking) survivor set plus one
  * map-side-combining degree count — AQE broadcasts the survivor frame
  * once it is small, plain shuffle joins before that. Lineage is
  * truncated per round with eager localCheckpoints (the
  * ConnectedComponents/PageRank superstep discipline); rounds cost
  * O(|E|) each, never more.
  */
object KCore {

  /** Survivors of `rounds` peeling rounds at threshold `k`, with their
    * degree inside the final set. `edges` columns: integral `a`, `b`,
    * a < b, deduplicated. Output: (node, deg, converged).
    *
    * Schema contract (r16, ADVICE): `node` is emitted as LONG on BOTH
    * paths regardless of the caller's integer width — the endpoint cast
    * below is what lets the fused path decode primitives. An int-keyed
    * caller gets widened output; re-cast at the call site if int is
    * required downstream.
    *
    * Two execution strategies behind one semantic, size-gated like
    * PageRank/Hits (r15): each distributed round costs two checkpointed
    * joins + a count action — ~2 jobs × up to `rounds` iterations of fixed
    * scheduling cost regardless of data size. Below `gateEdges` (~100 MB
    * of edge tuples) ONE task peels over primitive arrays — integer
    * degrees and set membership have no order dependence, so the output is
    * row-identical (KCoreSpec proves both paths equal on every fixture).
    * Above the gate the superstep loop is unchanged — the 100 TB path. */
  def core(edgesIn: DataFrame, k: Int, rounds: Int,
           gateEdges: Long = 4000000L): DataFrame = {
    val edgesL = edgesIn.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    val edges = edgesL.localCheckpoint(true)
    if (edges.count() <= gateEdges) return singleTask(edges, k, rounds)
    val sym = edges.select(col("a").as("node"), col("b").as("other"))
      .unionAll(edges.select(col("b").as("node"), col("a").as("other")))
      .localCheckpoint(true)

    def degWithin(nodes: DataFrame): DataFrame = sym
      .join(nodes, Seq("node"))
      .join(nodes.select(col("node").as("other")), Seq("other"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

    var nodes = sym.select(col("node")).distinct().localCheckpoint(true)
    var prev = nodes.count()
    var converged = false
    var r = 0
    while (r < rounds && !converged) {
      val next = degWithin(nodes)
        .filter(col("deg") >= k).select(col("node"))
        .localCheckpoint(true)
      val n = next.count()
      converged = n == prev
      prev = n
      nodes = next
      r += 1
    }
    degWithin(nodes)
      .select(col("node"), col("deg"), lit(converged).as("converged"))
  }

  /** All peeling rounds fused into one task over primitive arrays — the
    * identical loop: R rounds max, early exit when a round's survivor
    * count equals the previous round's (the same monotonicity argument),
    * `converged` = that equality at exit. Emits (node, deg, converged)
    * for the final survivor set. */
  /** Largest edge count the single-task arrays can hold (the JVM's
    * practical array-length limit). */
  private[graft] val MaxTaskEdges: Int = Int.MaxValue - 8

  /** Next capacity of the single-task edge arrays once `m` are full:
    * double, computed in Long so it cannot wrap negative past 2^30 edges
    * (`gateEdges` is caller-settable), capped at [[MaxTaskEdges]]. */
  private[graft] def grownCapacity(m: Int): Int = {
    require(m < MaxTaskEdges, s"k-core single-task path: a partition holds more than " +
      s"$MaxTaskEdges edges; lower gateEdges so the distributed path runs")
    math.min(MaxTaskEdges.toLong, 2L * m).toInt
  }

  private def singleTask(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        // r16 (ADVICE): decode straight from the iterator into growable
        // primitive int arrays — the old it.toArray materialized every
        // edge as a boxed Tuple2 (~3× the documented ~100 MB transient at
        // the 4 M-edge gate) before the primitive pass even began.
        val ids = new java.util.HashMap[Long, Integer]()
        val names = scala.collection.mutable.ArrayBuffer[Long]()
        def id(x: Long): Int = {
          val got = ids.get(x)
          if (got ne null) got.intValue()
          else { ids.put(x, Integer.valueOf(names.size)); names += x; names.size - 1 }
        }
        var ai = new Array[Int](1 << 12)
        var bi = new Array[Int](1 << 12)
        var m = 0
        while (it.hasNext) {
          val e = it.next()
          if (m == ai.length) {
            val cap = grownCapacity(m)
            ai = java.util.Arrays.copyOf(ai, cap)
            bi = java.util.Arrays.copyOf(bi, cap)
          }
          ai(m) = id(e._1); bi(m) = id(e._2); m += 1
        }
        val n = names.size
        var i = 0
        val alive = Array.fill(n)(true)
        var prev = n.toLong
        var converged = false
        var r = 0
        val deg = new Array[Long](n)
        while (r < rounds && !converged) {
          java.util.Arrays.fill(deg, 0L)
          i = 0
          while (i < m) {
            if (alive(ai(i)) && alive(bi(i))) { deg(ai(i)) += 1; deg(bi(i)) += 1 }
            i += 1
          }
          // membership = has a degWithin row (deg >= 1) AND deg >= k — a
          // node with no surviving incident edge is absent from the
          // distributed agg and therefore peeled even at k = 0
          var cnt = 0L
          i = 0
          while (i < n) {
            alive(i) = alive(i) && deg(i) >= k && deg(i) > 0
            if (alive(i)) cnt += 1
            i += 1
          }
          converged = cnt == prev
          prev = cnt
          r += 1
        }
        java.util.Arrays.fill(deg, 0L)
        i = 0
        while (i < m) {
          if (alive(ai(i)) && alive(bi(i))) { deg(ai(i)) += 1; deg(bi(i)) += 1 }
          i += 1
        }
        // the final degWithin recompute also drops survivors whose last
        // neighbors were peeled in the closing round (no agg row)
        (0 until n).iterator.filter(j => alive(j) && deg(j) > 0)
          .map(j => (names(j), deg(j), converged))
      }
      .toDF("node", "deg", "converged")
  }
}
