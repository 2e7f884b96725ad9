package graft

import org.apache.spark.sql.DataFrame

/** Fixed-round k-core peeling (core/KCore.scala): closed-form fixtures
  * (cycle, path, clique+tail), the round-cap semantics on a path too long
  * to converge in 16 rounds, and a driver-side replica on seeded graphs.
  */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def edgesDf(es: Seq[(Long, Long)]): DataFrame = {
    val norm = es.map { case (x, y) => if (x < y) (x, y) else (y, x) }.distinct
    norm.toDF("a", "b")
  }

  private def run(es: Seq[(Long, Long)], k: Int, rounds: Int = 16)
  : (Map[Long, Long], Boolean) = {
    val rows = graft.core.KCore.core(edgesDf(es), k, rounds).collect()
    (rows.map(r => r.getLong(0) -> r.getLong(1)).toMap,
      rows.headOption.forall(_.getBoolean(2)) && rows.nonEmpty ||
        rows.isEmpty && true)
  }

  /** Driver replica: R rounds of peeling, then (survivor degs, converged). */
  private def replica(es: Seq[(Long, Long)], k: Int, rounds: Int)
  : (Map[Long, Long], Boolean) = {
    val norm = es.map { case (x, y) => if (x < y) (x, y) else (y, x) }.distinct
    val adj = (norm ++ norm.map(_.swap)).groupBy(_._1)
      .map { case (n, ps) => n -> ps.map(_._2).toSet }
    var nodes = adj.keySet
    var converged = false
    var r = 0
    while (r < rounds && !converged) {
      val next = nodes.filter(n => adj(n).count(nodes) >= k)
      converged = next.size == nodes.size
      nodes = next; r += 1
    }
    (nodes.map(n => n -> adj(n).count(nodes).toLong).toMap, converged)
  }

  test("cycle: the whole ring is its own 2-core, converged, all degrees 2") {
    val cyc = (0L until 12L).map(i => (i, (i + 1) % 12))
    val (degs, _) = run(cyc, 2)
    assert(degs.size === 12)
    degs.values.foreach(d => assert(d === 2L))
  }

  test("short path: peels to empty within the round budget") {
    val path = (0L until 9L).map(i => (i, i + 1))
    val (degs, _) = run(path, 2)
    assert(degs.isEmpty)
  }

  test("clique with a pendant tail: tail peeled, clique kept at full degree") {
    val clique = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val tail = Seq((3L, 10L), (10L, 11L), (11L, 12L))
    val (degs, _) = run(clique ++ tail, 2)
    assert(degs.keySet === Set(0L, 1L, 2L, 3L))
    degs.values.foreach(d => assert(d === 3L))
  }

  test("40-node path: NOT converged in 16 rounds — fixed-round semantics") {
    val path = (0L until 40L).map(i => (i, i + 1)) // 41 nodes, needs 20 rounds
    val out = graft.core.KCore.core(edgesDf(path), 2, 16).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(!r.getBoolean(2), "must report non-convergence"))
    // 16 rounds peel 16 nodes off each end: nodes 16..24 remain (a 9-path)
    assert(out.map(_.getLong(0)).sorted.toSeq === (16L to 24L))
    val (rdegs, rconv) = replica(path, 2, 16)
    assert(!rconv)
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap === rdegs)
  }

  test("seeded random graphs match the driver replica exactly") {
    for (seed <- Seq(5, 17)) {
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (x, y) => x != y }
      val got = graft.core.KCore.core(edgesDf(es), 3, 16).collect()
      val (rdegs, rconv) = replica(es, 3, 16)
      assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap === rdegs,
        s"seed $seed degrees diverged")
      got.foreach(r => assert(r.getBoolean(2) === rconv))
    }
  }

  // r15 size gate (the PageRankSpec pattern): the fused single-task path
  // (default gate) and the distributed superstep path (gateEdges = 0) must
  // emit the IDENTICAL row set — peeling is integer set arithmetic with no
  // order dependence to hide behind.
  test("single-task and distributed paths emit identical rows") {
    val rnd = new scala.util.Random(23)
    val rand = Seq.fill(150)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (x, y) => x != y }
    val path = (0L until 40L).map(i => (i, i + 1)) // non-converged case
    val clique = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    for ((es, k) <- Seq((rand, 3), (path, 2), (clique ++ Seq((3L, 10L)), 2))) {
      val fused = graft.core.KCore.core(edgesDf(es), k, 16).collect()
      val dist = graft.core.KCore.core(edgesDf(es), k, 16, gateEdges = 0L)
        .collect()
      assert(fused.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
        === dist.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
    }
  }

  // The single-task edge arrays double when full. At m = 2^30 a plain
  // `m << 1` wraps to Int.MinValue; the Long-computed growth must cap at
  // the array limit instead, and refuse to grow past it. Pure arithmetic —
  // nothing is allocated.
  test("single-task edge-array growth cannot overflow past 2^30 edges") {
    import graft.core.KCore.{MaxTaskEdges, grownCapacity}
    assert(grownCapacity(1 << 12) === (1 << 13))
    assert(grownCapacity(1 << 29) === (1 << 30))
    assert(grownCapacity(1 << 30) === MaxTaskEdges)
    assert(grownCapacity(MaxTaskEdges - 1) === MaxTaskEdges)
    val e = intercept[IllegalArgumentException](grownCapacity(MaxTaskEdges))
    assert(e.getMessage.contains("gateEdges"))
  }
}
