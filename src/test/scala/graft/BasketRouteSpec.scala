package graft

import org.apache.spark.sql.functions._
import graft.queries.{Entity, Similarity}

/** Entity.basketPairs — the viral-basket routing gate (r13 VERDICT task 1).
  *
  * Round 13 flagged the seven basket-graph lanes' edge derivation as the one
  * remaining unguarded per-key quadratic: `groupBy(basket).agg(collect_set)`
  * → `pair_expand_ids` builds an f-element aggregation buffer and emits
  * C(f,2) pairs inside ONE task for an f-item basket — invisible to the
  * 128× rehearsals because self-union never grows basket sizes. The fix
  * routes all seven lanes through `Entity.basketPairs`, which wraps the q24
  * hot-bucket machinery (`Similarity.splitHotBuckets`: one `collect_capped`
  * aggregation — exact count, payload truncated at cap+1 — then in-place
  * compiled expansion below the cap and `SkewJoin.gridSelfPairs` above it).
  *
  * The no-quadratic-task guarantee is a composition of pinned lemmas, each
  * asserted mechanically:
  *   1. every aggregation buffer holds ≤ cap+1 elements (CollectCappedSpec's
  *      contract; the plan census below proves the lanes USE that aggregate
  *      and never `collect_set`);
  *   2. every in-place expansion row carries ≤ cap items ⇒ emits ≤ C(cap,2)
  *      pairs (splitHotBuckets' cold filter `f <= cap`);
  *   3. a routed basket's per-grid-cell pair output is ~cap² regardless of
  *      f (GridPairsSpec's per-cell bound on the shared gridSelfPairs);
  *   4. the routed result is the SAME pair set (the equality tests here,
  *      including a grown basket far past the cap).
  *
  * Six of the seven lanes checkpoint their edge/pair frames (measured
  * barrier winners), which truncates lineage and hides plan markers from
  * RouteConformanceSpec — so the lane-level claim is gated HERE as a source
  * census (the CollectAuditSpec discipline): `collect_set(` is banned from
  * Entity.scala and exactly seven call sites ride `basketPairs(`.
  */
class BasketRouteSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force expected pairs: per basket, distinct items, all i<j. */
  private def expectedPairs(rows: Seq[(Long, Long)]): Seq[(Long, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (bk, rs) =>
      val items = rs.map(_._2).distinct.sorted
      for (i <- items.indices; j <- (i + 1) until items.size)
        yield (bk, items(i), items(j))
    }

  test("pairs == brute force across the cap boundary, dup rows included") {
    // basket 1: 4 raw rows (one dup) > cap=2 → HOT path, 3 distinct items;
    // basket 2: 2 rows ≤ cap → COLD path; basket 3: singleton → no pairs;
    // basket 4: 3 dup rows of ONE item > cap → hot with zero pairs
    val rows = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 10L),
      (2L, 20L), (2L, 21L), (3L, 30L), (4L, 40L), (4L, 40L), (4L, 40L))
    val got = Entity.basketPairs(rows.toDF("bk", "it"), "bk", "it", cap = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.size === got.distinct.size, "a pair was emitted twice")
    assert(got.sorted === expectedPairs(rows).sorted)
  }

  test("property: routed pairs == brute force for arbitrary basket mixes") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // baskets straddling cap=8 from both sides, with duplicate rows mixed
    // in (dup multiplicity inflates f past the cap without adding items —
    // the routing must stay exact when raw count and item count disagree)
    val basketGen = for {
      n    <- Gen.chooseNum(1, 30)
      dups <- Gen.chooseNum(0, 10)
    } yield (n, dups)
    val prop = Prop.forAll(Gen.listOfN(5, basketGen)) { mix =>
      val rows = mix.zipWithIndex.flatMap { case ((n, dups), bk) =>
        val base = (0 until n).map(i => (bk.toLong, i.toLong))
        base ++ (0 until dups).map(d => (bk.toLong, (d % n).toLong))
      }
      val got = Entity.basketPairs(rows.toDF("bk", "it"), "bk", "it", cap = 8)
        .as[(Long, Long, Long)].collect().toSeq
      got.size == got.distinct.size && got.sorted == expectedPairs(rows).sorted
    }
    val res = check(Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("a grown 10^4-item basket routes hot and yields exactly C(f,2) pairs") {
    // the r13 scale flag's shape: one viral basket far past the cap. With
    // the old collect_set derivation this materializes a 10⁴-element agg
    // buffer and a 49,995,000-row expansion in ONE task; routed, the buffer
    // caps at BasketCap+1 (lemma 1) and the pairs cross a ⌈10⁴/256⌉² grid
    // (lemma 3). Exactness: every unordered pair exactly once.
    val f = 10000
    val one = (0 until f).map(i => (1L, i.toLong)).toDF("bk", "it")
    val n = Entity.basketPairs(one, "bk", "it").count()
    assert(n === f.toLong * (f - 1) / 2)
  }

  test("basketPairs' plan carries the routing markers, never collect_set") {
    val plan = Entity.basketPairs(
      Seq((1L, 2L)).toDF("bk", "it"), "bk", "it").queryExecution.analyzed.toString
    spark.catalog.clearCache() // splitHotBuckets persists its input
    Seq("collect_capped(", "_gi#", "_gj#", "pair_expand").foreach { m =>
      assert(plan.contains(m), s"basketPairs lost routing marker '$m'")
    }
    assert(!plan.contains("collect_set"),
      "basketPairs reintroduced an unbounded collect_set buffer")
  }

  test("hot-key size gate: small inputs skip the count barrier, forced-large take it (r15)") {
    // The count pass + eager barrier protect big-volume aggregations
    // (32×/128× rehearsals); at bench scale they are ~0.5–0.7 s/lane of
    // pure tax, so splitHotBuckets gates them on Catalyst's input size
    // estimate. Observable: the barrier is localCheckpoint(eager) — the
    // hot-key subtree becomes a LogicalRDD in the analyzed plan. A tiny
    // LocalRelation input must NOT carry one (grouped derivation, no extra
    // job); with the gate threshold passed as 0 the same input MUST.
    val in = Seq((1L, 2L), (1L, 3L)).toDF("bk", "it")
    def planOf(gate: Long) = Entity.basketPairs(in, "bk", "it",
      hotKeyGateBytes = gate).queryExecution.analyzed.toString
    assert(!planOf(Similarity.HotKeyCountGateBytes).contains("LogicalRDD"),
      "small input paid the count barrier — the size gate regressed to unconditional")
    assert(planOf(0L).contains("LogicalRDD"),
      "forced-large input skipped the count barrier — the protected path is gone")
  }

  test("routed pairs == brute force through the FORCED protected path (r15)") {
    // the gate sends every in-memory spec frame down the grouped path, so
    // the count-pass + barrier branch would silently lose its exactness
    // coverage — force it and re-prove the cap-boundary equality
    val rows = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 10L),
      (2L, 20L), (2L, 21L), (3L, 30L), (4L, 40L), (4L, 40L), (4L, 40L))
    val got = Entity.basketPairs(rows.toDF("bk", "it"), "bk", "it", cap = 2,
      hotKeyGateBytes = 0L).as[(Long, Long, Long)].collect().toSeq
    assert(got.size === got.distinct.size, "a pair was emitted twice")
    assert(got.sorted === expectedPairs(rows).sorted)
  }

  test("source census: all seven basket lanes ride basketPairs; collect_set banned") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/queries/Entity.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    def count(needle: String): Int =
      src.sliding(needle.length).count(_ == needle)
    assert(count("collect_set(") === 0,
      "Entity.scala reintroduced collect_set( — the unbounded per-basket " +
        "buffer class r13 flagged; route through basketPairs instead")
    // 1 definition + 7 lane call sites (q62/q67/q73/q74/q81/q83/q86); a
    // lane dropping the routing (or a new basket lane skipping it) moves
    // this count and must re-adjudicate here
    assert(count("basketPairs(") === 8,
      s"expected 8 basketPairs( sites (def + 7 lanes), got ${count("basketPairs(")}")
  }
}
