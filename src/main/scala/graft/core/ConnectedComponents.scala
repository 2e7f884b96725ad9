package graft.core

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components by iterative min-label propagation with
  * pointer jumping: every vertex starts labelled with its own id; each
  * superstep lowers a vertex's label to the minimum over itself and its
  * neighbours, then follows label(label(v)) (path doubling — the same
  * device as small-star/large-star, Kiveris et al., "Connected Components
  * in MapReduce and Beyond") for O(log diameter) rounds. Convergence labels
  * every vertex with its component's minimum id.
  *
  * This is the exact-clustering twin of the greedy keep-first dedup policy
  * (Similarity.q26DedupSurvivors): greedy keeps any vertex with no smaller
  * neighbour, CC keeps only each component's global minimum — the two
  * differ on hub-and-spoke shapes (1–3, 2–3: greedy keeps {1,2}, CC keeps
  * {1}).
  *
  * The superstep loop runs on RDDs, not DataFrames — the one place in this
  * engine where that is the right call (GraphX makes the same choice): a
  * Catalyst plan re-analyzes, re-optimizes, and re-codegens EVERY round,
  * and the pointer-jump self-join doubles the logical plan per round
  * (measured: exponential analysis blow-up without per-round
  * localCheckpoint, and ~0.6 s/round of pure planning overhead with it).
  * RDD supersteps reuse one HashPartitioner so the edge table never
  * re-shuffles after its initial partitioning, and per-round lineage is a
  * handful of narrow ops — no planner in the loop. DataFrames in, DataFrame
  * out; ids must be integral (cast to long internally).
  *
  * Scale posture: every superstep is two co-partitioned joins + one
  * reduceByKey over the PAIR GRAPH (orders of magnitude smaller than the
  * corpus on dedup workloads), partitioned ~50 k edges per task. The
  * per-round `count()` is a single scalar; no driver-side data. On a real
  * cluster, `localCheckpoint` every few rounds would become a
  * reliable-storage checkpoint for fault tolerance.
  *
  * Two structural escapes bound the superstep count in practice: graphs at
  * or below [[LocalSolveMaxEdges]] never enter the loop (single-task exact
  * union-find), and larger graphs take the CONTRACTION EXIT — after each
  * batch the edge set is contracted into label space and, once the residual
  * cluster graph fits the same gate, solved locally and composed back. Real
  * dedup graphs (near-dup clusters are cliquey) leave the loop after one
  * batch; only an adversarial high-diameter graph ever pays O(log d)
  * batches, and the path-doubling jumps keep even that logarithmic.
  */
object ConnectedComponents {

  /** Oriented-edge count at or below which the whole pair graph is solved
    * by union-find in ONE executor task instead of distributed supersteps.
    * 4 M oriented edges ≈ 64 MB of (long, long) plus a ≤ 8 M-entry LongMap
    * (~128 MB) — comfortable inside one executor; solving it locally costs
    * one narrow job where the superstep path pays 8–10 shuffle stages PER
    * materialized batch. On dedup workloads the pair graph is post-filter
    * tiny relative to the corpus (sf0.1: ~2 k edges from 5 k docs), so this
    * is the common case at every scale; a graph that outgrows the threshold
    * takes the superstep path unchanged. A caller forces the superstep path
    * by passing `localSolveMaxEdges = -1` to [[labels]]. */
  val LocalSolveMaxEdges: Long = 4_000_000L

  /** Single-task exact solve: union-find with full path compression and
    * union-by-min (the smaller root always becomes parent), so every root is
    * its component's minimum id — the same labels the superstep path and the
    * recursive-CTE oracle produce. Runs inside one `mapPartitions` task over
    * the cached edge blocks (no driver collect). */
  private def unionFindPartition(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(v0: Long): Long = {
      var r = v0
      while (parent(r) != r) r = parent(r)
      var v = v0
      while (parent(v) != r) { val p = parent(v); parent(v) = r; v = p }
      r
    }
    it.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // keys snapshotted first: find() mutates values during the final pass
    val ks = parent.keys.toArray
    ks.iterator.map(v => (v, find(v)))
  }

  /** `vertices`: one column `v`; `edges`: columns `src`,`dst` (one row per
    * undirected edge, either orientation). Returns (`v`, `label`) where
    * `label` = min vertex id in v's component.
    *
    * Propagation runs only over edge ENDPOINTS — on a dedup graph the
    * overwhelming majority of vertices are isolated (label = self) and
    * would otherwise ride through every superstep for nothing; they are
    * stitched back with one left join at the end.
    *
    * Pair graphs at or below `localSolveMaxEdges` oriented edges are solved
    * exactly by one single-task union-find job (see [[LocalSolveMaxEdges]]);
    * larger graphs run the distributed superstep loop. Pass
    * `localSolveMaxEdges = -1` to force the superstep path (specs do). */
  def labels(vertices: DataFrame, edges: DataFrame, maxIters: Int = 50,
             localSolveMaxEdges: Long = LocalSolveMaxEdges): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._

    // both orientations so one (src → dst) join sees every neighbour;
    // partitioned once, reused by every round's join. `oriented` is cached
    // for the sizing count so the (expensive) upstream edge query runs
    // once, not once for the count and again for `undirected`.
    val oriented = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = oriented.count()

    if (edgeCount <= localSolveMaxEdges) {
      System.err.println(
        s"[cc] local union-find: $edgeCount oriented edges <= $localSolveMaxEdges, supersteps=0")
      // coalesce(1) reads the already-materialized cache blocks narrowly —
      // the expensive upstream pairs pipeline does NOT re-run in one task.
      // localCheckpoint materializes the solve BEFORE oriented is released;
      // without it the lazy join would recompute against unpersisted blocks.
      val labelDf = oriented.coalesce(1).mapPartitions(unionFindPartition)
        .toDF("ev", "label").localCheckpoint()
      oriented.unpersist(blocking = false)
      return vertices.select(col("v")).join(labelDf, col("v") === col("ev"), "left")
        .select(col("v"), coalesce(col("label"), col("v")).as("label"))
    }

    // ~50 k edges (100 k oriented rows after doubling) per superstep task
    val width = math.max(1, math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      (edgeCount / 50_000L).toInt))
    val part = new HashPartitioner(width)
    val undirected = oriented.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)

    // endpoint dedup + landing on `part` in ONE shuffle (distinct +
    // partitionBy would pay two)
    var labels: RDD[(Long, Long)] = undirected.keys.map(v => (v, v))
      .reduceByKey(part, (a: Long, _: Long) => a)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // One hook + double pointer jump: lower every endpoint's label to its
    // neighbourhood minimum, then follow the label graph ~4 hops
    // (jump(jump)) so label distance shrinks ~4× per application. `hooked`
    // counts labels the HOOK stage lowered — the convergence signal (below).
    def hookJump(cur: RDD[(Long, Long)],
                 hooked: org.apache.spark.util.LongAccumulator): RDD[(Long, Long)] = {
      // neighbour minimum: co-partitioned join (no edge shuffle), then a
      // map-side-combining reduceByKey on the destination vertex
      val nbrMin = undirected.join(cur)
        .map { case (_, (dst, label)) => (dst, label) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      // self ∧ neighbour min (every endpoint has ≥ 1 neighbour)
      val cand = cur.join(nbrMin)
        .mapValues { case (self, nbr) =>
          if (nbr < self) hooked.add(1L)
          math.min(self, nbr)
        }
      // pointer jump: label(v) ← min(c, label(c)); c is always an
      // endpoint id, so the self-join is total
      val jump1 = cand.map { case (v, c) => (c, v) }.join(cand)
        .map { case (c, (v, cc)) => (v, math.min(c, cc)) }
        .partitionBy(part)
      // second jump on the JUMPED map — the extra co-partitioned join is
      // cheaper than the superstep round it replaces
      jump1.map { case (v, c) => (c, v) }.join(jump1)
        .map { case (c, (v, cc)) => (v, math.min(c, cc)) }
        .partitionBy(part)
    }

    // Convergence detection WITHOUT a verdict batch: if a batch's SECOND
    // hook stage lowered nothing, the labels entering it were already
    // converged — hook-stable labels are constant across every edge
    // (else the lower endpoint's neighbour would lower the other), a
    // component's constant must be its min id (labels never rise above the
    // self-label of the min vertex, never fall below the component min),
    // and converged labels are fixed points of the jump stages too. The
    // accumulator rides the batch's one materialization job, so a converged
    // graph pays zero extra jobs — round 3 paid a full double hook+jump
    // batch just to observe changed == 0, ~25% of CC wall time. (Task
    // retries can only INFLATE the count: a spurious extra batch at worst,
    // never a premature exit.) This also retires the per-batch
    // (new, old) self-join that existed only to count changes.
    var secondHook = 1L
    var iters = 0
    // the one materialized RDD of the previous round (freed once the next
    // round has materialized); the FINAL round's cache must stay — the
    // returned plan reads it. `inFlight` tracks the round being
    // materialized so a mid-count failure can't strand its blocks.
    var prevCache: RDD[_] = labels
    var inFlight: RDD[_] = null
    // persisted contraction-exit intermediates not yet owned by prevCache/
    // inFlight (relabeled/base while a LATER count() runs) — covered by the
    // finally block so a mid-compose failure can't strand their blocks
    // (r7 ADVICE)
    var pending: List[RDD[_]] = Nil
    var succeeded = false
    // set when the contraction exit below solved the graph EXACTLY — skips
    // both further batches and the at-the-cap recheck
    var solvedExactly = false
    try {
      while (secondHook > 0 && iters < maxIters && !solvedExactly) {
        // TWO hook+jump rounds per materialization: on the pair graphs this
        // runs over, per-round data is tiny and the count JOB is the cost —
        // batching halves the driver round-trips. Lineage stays bounded:
        // every batch materializes its output.
        val acc1 = spark.sparkContext.longAccumulator("cc_hook1")
        val acc2 = spark.sparkContext.longAccumulator("cc_hook2")
        val step = hookJump(hookJump(labels, acc1), acc2)
          .persist(StorageLevel.MEMORY_AND_DISK)
        inFlight = step
        step.count() // one materialization job; accumulators final after it
        secondHook = acc2.value
        labels = step
        prevCache.unpersist(blocking = false) // next round reads `step` now
        prevCache = step
        inFlight = null
        iters += 1

        // CONTRACTION EXIT — what makes the distributed path terminate in
        // O(1) batches on real dedup graphs instead of O(log diameter):
        // labels are always in-component (self at start, lowered only to
        // neighbour labels), so contracting every edge into label space and
        // dropping intra-cluster edges yields a residual CLUSTER graph with
        // the same components; it shrinks geometrically as labels converge
        // (cliques collapse after one batch). As soon as it fits the local
        // gate, one single-task union-find solves it exactly and one join
        // composes final(v) = base(label(v)) — the component minimum, since
        // the min vertex always labels itself and (if its cluster isn't the
        // whole component yet) appears in the residual. residual == 0 is
        // convergence by itself (every edge intra-cluster ⇒ labels constant
        // per component). Cost when the residual is still too big: ~one
        // hookJump's worth (2 joins + distinct + count) — paid only while
        // the graph is genuinely huge. Disabled when the gate is negative
        // (the forced-superstep rehearsal/spec mode).
        if (secondHook > 0 && localSolveMaxEdges >= 0) {
          val relabeled = undirected.join(labels)
            .map { case (_, (dst, la)) => (dst, la) }
            .join(labels)
            .map { case (_, (la, lb)) => if (la < lb) (la, lb) else (lb, la) }
            .filter { case (a, b) => a != b }
            .distinct(width)
            .persist(StorageLevel.MEMORY_AND_DISK)
          inFlight = relabeled
          val residual = relabeled.count()
          if (residual <= localSolveMaxEdges) {
            val base = relabeled.coalesce(1).mapPartitions(unionFindPartition)
              .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
            pending = List(relabeled)
            inFlight = base
            base.count()
            val composed = labels.map { case (v, l) => (l, v) }
              .leftOuterJoin(base)
              .map { case (l, (v, opt)) => (v, opt.getOrElse(l)) }
              .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
            pending = List(relabeled, base)
            inFlight = composed
            composed.count()
            relabeled.unpersist(blocking = false)
            base.unpersist(blocking = false)
            pending = Nil
            prevCache.unpersist(blocking = false)
            prevCache = composed
            labels = composed
            inFlight = null
            secondHook = 0
            solvedExactly = true
          } else {
            relabeled.unpersist(blocking = false)
            inFlight = null
          }
        }
      }
      if (secondHook > 0) {
        // Accumulator counts can be INFLATED by task retries (speculation,
        // executor loss): a graph converging in exactly maxIters batches
        // could read secondHook > 0 spuriously. Before discarding correct
        // labels at the cap, re-check convergence EXACTLY — a count() is
        // retry-safe. Converged labels are fixed points of hook AND jump,
        // so one co-partitioned join against the would-be next round
        // decides it; the cost only ever pays at the cap boundary.
        val accV = spark.sparkContext.longAccumulator("cc_verify")
        secondHook = hookJump(labels, accV).join(labels)
          .filter { case (_, (a, b)) => a != b }.count()
      }
      succeeded = secondHook == 0
    } finally {
      oriented.unpersist(blocking = false)
      undirected.unpersist(blocking = false)
      // on failure the caller never sees `labels`, so its cache goes too —
      // including a round whose count() died after partial materialization
      if (!succeeded) {
        prevCache.unpersist(blocking = false)
        if (inFlight != null && (inFlight ne prevCache))
          inFlight.unpersist(blocking = false)
        pending.foreach { r =>
          if ((r ne prevCache) && (r ne inFlight)) r.unpersist(blocking = false)
        }
      }
    }
    if (secondHook > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters supersteps")
    System.err.println(
      s"[cc] superstep batches=$iters (hook+jump rounds=${iters * 2}), edges=$edgeCount")
    // Materialize the final labels OUT of the superstep cache (eager
    // localCheckpoint truncates lineage), then release the last round's
    // persisted RDD — without this, every labels() call in a session
    // stranded one MEMORY_AND_DISK RDD until eviction. The checkpoint
    // blocks themselves are dropped by the ContextCleaner once the
    // returned frame is unreachable.
    val labelDf = labels.toDF("ev", "label").localCheckpoint()
    prevCache.unpersist(blocking = false)
    // isolated vertices: their own id is their component
    vertices.select(col("v")).join(labelDf, col("v") === col("ev"), "left")
      .select(col("v"), coalesce(col("label"), col("v")).as("label"))
  }
}
