package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting by degree orientation + adjacency
  * intersection.
  *
  * Input: an undirected simple graph as a DataFrame of edges `(a, b)` with
  * `a < b`, one row per edge (no duplicates, no self-loops). Output: one
  * row per node `(node, deg, tri_cnt)` — degree and the number of
  * triangles the node participates in.
  *
  * The load-bearing scale move is DEGREE ORIENTATION (the classic fix for
  * "the curse of the last reducer"): each undirected edge is directed from
  * its lower-(degree, id) endpoint to the higher one, so every triangle is
  * enumerated exactly once, at its lowest-degree corner. Wedge generation
  * costs Σ_u C(outdeg(u), 2) where outdeg is bounded by the graph's
  * arboricity (≈ √m on any graph), NOT by the hub degree: a hub with 10⁶
  * neighbors in a 100 TB co-occurrence graph generates no wedges of its
  * own — its edges all point INTO it, and the wedges that close through it
  * are charged to their low-degree corners. Without orientation the same
  * hub would emit C(10⁶, 2) ≈ 5·10¹¹ wedges from one key — the one
  * straggler that kills the stage.
  *
  * Every stage is an equi-join or a map-side-combining count (shuffle on
  * node key, AQE-splittable); ranks are (deg, id) STRUCTS compared
  * lexicographically, so there is no packed-bigint overflow cap on either
  * degree or id at any scale.
  */
object Triangles {

  /** Edge-count gate below which the closing join broadcasts the adjacency
    * frame (total broadcast payload ≈ m × 8 B ≤ 64 MB at the gate — the
    * ConnectedComponents size-gate discipline). Above it, the closing join
    * is a plain shuffle join on the node key — the 100 TB path. The gate
    * exists because a localCheckpoint'ed frame reports no usable size
    * stats, so AQE can never discover the broadcast on its own. */
  private val BroadcastEdgeGate = 8L * 1000 * 1000

  /** Per-node triangle participation counts. `edges` must have integral
    * columns `a`, `b` with `a < b`, deduplicated. */
  def nodeTriangles(edgesIn: DataFrame): DataFrame = {
    // Barrier (the q61/q52 localCheckpoint discipline): the edge list feeds
    // the degree agg, both orientation joins, and — through `oriented` —
    // the adjacency build and the closing join. Catalyst does not share
    // subplans across those branches, so an unbarriered edge frame is
    // re-derived from source up to three times; two bounded barriers
    // (edges: 2 longs/row; oriented: same) make every downstream branch a
    // re-read instead of a re-compute.
    val edges = edgesIn.localCheckpoint(true)
    // Barriered at the AGGREGATION (r16; r15 barriered the derived rank
    // frame instead): `deg` has THREE consumers — the rank projection
    // below (itself consumed by both orientation joins) and the final
    // left join that attaches tri_cnt — and r15's rank-level barrier
    // still let the final join re-run the full union+groupBy pass over
    // the edge list (JobProbe r16: two 22-task stages writing the same
    // 4.3 MB agg per pass). One row per node, 2 longs: bounded at any SF;
    // every consumer is now a re-read of the checkpoint.
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)

    // Total order low→high: lexicographic (degree, id). Unique by id.
    // A plain projection of the checkpointed deg — both orientation joins
    // re-derive it from the checkpoint scan (row-local, no recompute).
    val rank = deg.select(col("node"),
      struct(col("deg"), col("node")).as("rk"))

    // Orientation folds straight into the adjacency build (its only
    // consumer): attach both endpoint ranks (a 1-row-per-node frame —
    // broadcast at this scale, plain shuffle join at 100 TB), direct each
    // edge low→high, and compact each node's out-neighbors into one sorted
    // array. Orientation bounds the array length by arboricity ≈ √(2m),
    // so a row is at most a few KB on ANY graph — a 10⁶-degree hub's
    // edges all point INTO it and its own array stays short.
    val adj = edges
      .join(rank.select(col("node").as("a"), col("rk").as("rka")), Seq("a"))
      .join(rank.select(col("node").as("b"), col("rk").as("rkb")), Seq("b"))
      .select(
        when(col("rka") < col("rkb"), col("a")).otherwise(col("b")).as("u"),
        when(col("rka") < col("rkb"), col("b")).otherwise(col("a")).as("v"))
      .groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      // packed ONCE per node here (inside the barrier), not per exploded
      // edge below — the closing join reuses the blob on both sides
      .withColumn("np", expr("pack_sorted_longs(nbrs)"))
      .localCheckpoint(true)

    // Close triangles by ADJACENCY INTERSECTION, not a materialized wedge
    // join: a triangle (u,v,w) with rk(u)<rk(v)<rk(w) has oriented edges
    // u→v, u→w, v→w, so w ∈ N⁺(u) ∩ N⁺(v) exactly. The oriented edge list
    // is adj EXPLODED (carrying N⁺(u) along), so closing needs exactly ONE
    // join — on v for N⁺(v). The Σ C(outdeg,2) wedge population is never
    // materialized or shuffled; it exists only as per-row array-scan work.
    // Per-node counts fall out of the closing witnesses: edge (u,v) with
    // k = |N⁺(u)∩N⁺(v)| contributes k to u and to v and 1 to each witness w.
    //
    // SHUFFLE-BYTE DIET (r11 sweep: this join's exchange IS the lane's
    // at-scale cost — Σ outdeg·(16 + 8·outdeg) B ≈ 84 GB raw for one 128×
    // pass, ENOSPC on a 77 GB-free box): both adjacency payloads cross the
    // exchange as pack_sorted_longs delta-varint binaries (1–3 B/neighbor
    // on clustered ids vs UnsafeArrayData's flat 8 B + header), and
    // intersect_packed merge-walks the two streams in place — the long
    // arrays are never rebuilt post-shuffle. Output is set-identical to
    // array_intersect on these deduplicated sorted lists (ascending order
    // instead of nu-order; consumers are size/explode→sum, order-blind) —
    // functions/PackedLongs.scala, PackedLongsSpec equivalence property.
    val nvSide = adj.select(col("u").as("v"), col("np").as("nv"))
    val smallGraph = edges.count() <= BroadcastEdgeGate
    val nvJoinable = if (smallGraph) broadcast(nvSide) else nvSide
    // Probe-side width (r15, guide §2.6 idle-capacity): the broadcast
    // branch has NO exchange between the checkpointed adjacency and the
    // closing join, so the intersect stage inherits adj's (AQE-coalesced,
    // ~8 at sf0.1) partition count while it is the lane's CPU-dominant
    // stage (measured 8.3 task-seconds on 8 tasks = the lane's longest
    // job). A keyed repartition to defaultParallelism before the explode
    // moves only the packed blobs (≤ 64 MB by the same gate that chose
    // broadcasting) and lets the intersect use the whole pool. The
    // shuffle-join branch keeps AQE's own exchange sizing — at that scale
    // the join's shuffle IS the width control.
    val probe = if (smallGraph)
      adj.repartition(adj.sparkSession.sparkContext.defaultParallelism, col("u"))
    else adj
    val closed = probe
      .select(col("u"), col("np").as("nu"), explode(col("nbrs")).as("v"))
      .join(nvJoinable, Seq("v"))
      .select(col("u"), col("v"),
        expr("intersect_packed(nu, nv)").as("ws"))
      .filter(size(col("ws")) > 0)
    // Per-node counts in ONE pass over `closed` (r12 ADVICE: the old
    // two-arm union consumed the expensive packed closing join twice per
    // execution — the ScanAudit recompute class, and barriering `closed`
    // would hold the raw ws arrays that caused the r11 ENOSPC). Each
    // closing row (u, v, ws) emits its whole contribution as one array —
    // (u, |ws|), (v, |ws|), and (w, 1) per witness — exploded once.
    val corners = closed
      .select(explode(concat(
          array(
            struct(col("u").cast("long").as("node"),
              size(col("ws")).cast("long").as("c")),
            struct(col("v").cast("long").as("node"),
              size(col("ws")).cast("long").as("c"))),
          expr("transform(ws, w -> named_struct('node', w, 'c', CAST(1 AS BIGINT)))")))
        .as("x"))
      .select(col("x.node").as("node"), col("x.c").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("tri_cnt"))

    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
  }
}
