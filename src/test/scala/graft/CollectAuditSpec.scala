package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-side-pull conformance gate (r13, the ScanAuditSpec discipline
  * applied to the OTHER standing plan-hygiene claim): the repo asserts "no
  * .collect() in any hot path — every main-source site is bounded by
  * design" and "zero scalar udf( ) calls in main", and the round-12 review
  * verified both BY HAND. Nothing stopped a new lane from quietly adding an
  * unbounded driver pull or a non-codegen UDF, so this spec pins the claim:
  * the per-file censuses of src/main (dev tools excluded — they are
  * diagnostics, not query paths) must not GROW beyond the adjudicated
  * floors below.
  *
  * r14 widenings (r13 VERDICT task 4 + ADVICE):
  *   - censuses run over COMMENT-STRIPPED source, so an explanatory comment
  *     mentioning .collect() can no longer fail the build with a misleading
  *     "new driver-side pull" message (string literals still count — the
  *     conservative side of the trade);
  *   - the other driver-pull spellings are gated too: `collectAsList(` and
  *     `toLocalIterator(` are banned outright (no adjudicated use exists),
  *     `.head()` and `.take(` carry adjudicated floors (the `.take(` census
  *     is noisy by nature — Scala collection takes count against it — which
  *     is accepted: a new site costs one floor line + justification);
  *   - the unbounded per-key BUFFER class gets the same treatment:
  *     `collect_list(`/`collect_set(` floors, each site with a boundedness
  *     adjudication (the q34_funnel / basket-family lesson, generalized);
  *   - stale floors now FAIL instead of info() (r13 VERDICT task 8, after
  *     the one-round grace): slack in a floor is a hole a new site can
  *     hide in, so shrinkage must tighten the floor in the same commit.
  *
  * .collect() floor, each site bounded by construction:
  *   - queries/Similarity.scala ×6 — IVF/kmeans centroid pulls, ≤ 4096
  *     rows by the K ≈ √n cap (broadcast back as literals).
  *   - core/KMeans.scala ×4 — the same capped centroid frames inside the
  *     training loop.
  *   - plans/GraftSqlParser.scala ×2 — maintenance COMMANDS (dataset hash /
  *     dq gate verdicts), ≤ 256-row command output by contract.
  *   - queries/TextOps.scala ×1 — the BPE merge table, vocabulary-bounded
  *     (Heaps-law frame, rounds × top-1 rows).
  */
class CollectAuditSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  private def mainSources(): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(p => p.toString.contains("/tools/")) // dev diagnostics
        .toSeq
    } finally s.close()
  }

  /** Source with block and line comments removed (r13 ADVICE): censuses
    * gate CODE, not prose. Deliberately simple — a comment marker inside a
    * string literal would truncate that line's census, which is acceptable
    * for a hygiene gate (no such literal exists in main today). */
  private def stripComments(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", " ")

  private def read(p: java.nio.file.Path): String =
    stripComments(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))

  /** Census `pattern` per relative path; keeps only files with hits. */
  private def census(pattern: String): Map[String, Int] =
    mainSources().map { p =>
      val rel = root.relativize(p).toString.stripPrefix("graft/")
      rel -> pattern.r.findAllIn(read(p)).size
    }.filter(_._2 > 0).toMap

  /** The shared gate: census must not exceed the floor anywhere (growth =
    * unadjudicated new site) and the floor must not exceed the census
    * anywhere (stale slack a new site could hide in — r13 task 8). */
  private def gate(what: String, counts: Map[String, Int],
      floor: Map[String, Int], hint: String): Unit = {
    val offenders = counts.filter { case (f, n) => n > floor.getOrElse(f, 0) }
    assert(offenders.isEmpty,
      s"new $what site(s) outside the adjudicated floor — $hint: " +
        offenders.map { case (f, n) =>
          s"$f($n, floor ${floor.getOrElse(f, 0)})" }.mkString("; ") +
        " (census is textual over comment-stripped source; a hit inside a " +
        "string literal counts — adjudicate or rephrase)")
    val stale = floor.filter { case (f, n) => counts.getOrElse(f, 0) < n }
    assert(stale.isEmpty,
      s"stale $what floor(s) — the site count shrank; tighten the floor in " +
        "the same commit so the slack can't absorb a new site: " +
        stale.map { case (f, n) =>
          s"$f(floor $n, found ${counts.getOrElse(f, 0)})" }.mkString("; "))
  }

  test("the .collect() census matches the adjudicated floor exactly") {
    gate(".collect()", census("\\.collect\\(\\)"), Map(
      "queries/Similarity.scala" -> 6,
      "core/KMeans.scala" -> 4,
      "plans/GraftSqlParser.scala" -> 2,
      "queries/TextOps.scala" -> 1
    ), "either make the operator distributed or adjudicate the site here " +
      "with a boundedness argument")
  }

  test("collectAsList / toLocalIterator stay absent from main (r13 task 4)") {
    val hits = census("collectAsList\\(|toLocalIterator\\(")
    assert(hits.isEmpty,
      s"driver-pull spelling outside the gated idioms: ${hits.mkString(", ")}")
  }

  test("the .head() census matches the adjudicated floor exactly") {
    // every site is a SINGLE-ROW aggregate pull (the scalar-broadcast
    // idiom): Ingest — max watermark ts (the payload width is observed in
    // the landing write, no pull); Hits —
    // the edge-count/weight stats row gating the fused strategy;
    // Similarity — the 1-row global centroid; Relational3 — the 1-row
    // profile stats row
    gate(".head()", census("\\.head\\(\\)"), Map(
      "ingest/Ingest.scala" -> 1,
      "core/Hits.scala" -> 1,
      "queries/Similarity.scala" -> 1,
      "queries/Relational3.scala" -> 1
    ), "a Dataset.head() is a driver pull; adjudicate single-row aggregate " +
      "reads, distribute anything else")
  }

  test("the .take( census matches the adjudicated floor exactly") {
    // none of these touch a Dataset: GraftSqlParser — string truncation for
    // an error message; Bench — top-15 of an already-local Seq; PrevBench —
    // top-5 movers of a local Seq; CollectCapped — in-buffer merge clamp;
    // Similarity — nprobe head of the ≤4096 collected centroid Seq
    gate(".take(", census("\\.take\\("), Map(
      "plans/GraftSqlParser.scala" -> 1,
      "Bench.scala" -> 2, // top-15 slowest + top-10 parallelism, both local Seqs
      "core/PrevBench.scala" -> 1,
      "functions/CollectCapped.scala" -> 1,
      "queries/Similarity.scala" -> 1
    ), "a Dataset.take( is a driver pull (Scala-collection takes count " +
      "here too — the accepted noise of a conservative gate)")
  }

  test("the collect_list/collect_set census matches the adjudicated floor") {
    // the unbounded per-key BUFFER class (q34_funnel r12, basket family
    // r13): every surviving site carries a boundedness adjudication —
    //   core/Triangles.scala ×1 — oriented OUT-neighbor list; degree
    //     orientation bounds its length by arboricity ≈ √(2m) on any graph
    //     (a hub's edges point INTO it), never by hub degree — the r13
    //     watch item, adjudicated;
    //   queries/Similarity.scala ×1 — PQ codebook build: collect per
    //     SUBSPACE CELL over the ≤4096-centroid training sample, bounded
    //     by the K ≈ √n cap;
    //   queries/Analytics.scala ×2 — per-series (h, y) vectors where h is
    //     an HOUR-BUCKET domain key (≤ hours-in-window rows per series);
    //   queries/TextOps.scala ×1 — per-doc chunk reassembly, bounded by
    //     max document length (corpus contract, ~KB);
    //   queries/Relational2.scala ×1 — order-priority list over the fixed
    //     5-value priority domain.
    // Entity.scala's seven former sites are GONE (basketPairs routes them
    // through collect_capped) — that absence is load-bearing; a new
    // basket-shaped collect_set lands here AND in BasketRouteSpec's census.
    gate("collect_list/collect_set", census("collect_list\\(|collect_set\\("),
      Map(
        "core/Triangles.scala" -> 1,
        "queries/Similarity.scala" -> 1,
        "queries/Analytics.scala" -> 2,
        "queries/TextOps.scala" -> 1,
        "queries/Relational2.scala" -> 1
      ), "an uncapped per-key buffer is the q34/basket defect class; use " +
        "collect_capped + routing (Entity.basketPairs), or adjudicate a " +
        "genuine domain bound")
  }

  // mapPartitions floor — the "only where an Expression cannot" claim:
  // JVM codec batches (Multimodal: imageio/sampled decode, the 64-row
  // inference-shaped slot), graph superstep cores (CC/PageRank/HITS
  // per-partition loops), and the bounded-heap physical operator.
  test("the mapPartitions census matches the adjudicated floor exactly") {
    // floors tightened r14: the old counts were taken over raw text, where
    // comment MENTIONS of mapPartitions padded them (Multimodal 15→11,
    // CC 3→2, PageRank 2→1) — exactly the slack the stale gate exists for
    gate("mapPartitions", census("mapPartitions"), Map(
      "queries/Multimodal.scala" -> 11,
      "core/ConnectedComponents.scala" -> 2,
      "core/PageRank.scala" -> 1,
      "plans/TopKPerKey.scala" -> 1,
      "core/Hits.scala" -> 1,
      // r15: KCore gained the PageRank/Hits-style size-gated fused peel
      // (one task, primitive arrays) — the same adjudicated superstep-core
      // slot, path-equality pinned by KCoreSpec
      "core/KCore.scala" -> 1
    ), "prefer a codegen Expression / built-in functions; adjudicate " +
      "genuinely imperative per-partition logic here")
  }

  test("no scalar udf() registration exists anywhere in main") {
    // the custom-function surface is codegen'd Catalyst Expressions +
    // typed imperative aggregates; a scalar udf() is never the right tool
    val hits = census("(?<![a-zA-Z_])udf\\s*\\(")
    assert(hits.isEmpty, s"scalar udf() call found in: ${hits.keys.mkString(", ")}")
  }

  test("no partition-identity expression exists in main (r16 ADVICE)") {
    // GraftSession sets canChangeCachedPlanOutputPartitioning=true (the
    // r15 §2.2 fix), which is safe ONLY while no lane's result depends on
    // physical partitioning or partition ids. The invariant was enforced
    // by comment; this census makes it a gate: an expression that exposes
    // partition identity (spark_partition_id) or partition-dependent
    // numbering (monotonically_increasing_id) would make results vary with
    // AQE's cached-plan coalescing and must not enter a query path.
    // (Unsorted collect_list is covered by the collect_list floor above —
    // each adjudication includes order-insensitivity downstream.)
    val hits = census("spark_partition_id|monotonically_increasing_id")
    assert(hits.isEmpty,
      s"partition-identity expression found in: ${hits.keys.mkString(", ")} " +
        "— results must be partitioning-independent (GraftSession invariant)")
  }
}
