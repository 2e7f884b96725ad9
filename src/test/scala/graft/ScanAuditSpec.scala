package graft

/** Recompute-class GATE (r12 VERDICT task 1): round 12 closed the ≥3-scan
  * recompute class by hand — 23 lanes barriered or algebraically folded —
  * but nothing stopped a NEW lane from reintroducing it. This spec runs the
  * same optimized-plan walk as `tools/ScanAudit` over every SparkEntry lane
  * at sf0.001 and fails `sbt test` if any lane outside the adjudicated
  * allowlist scans one table ≥ 3 times — the RouteConformanceSpec lesson
  * (turn the round's audit into a standing plan assertion) applied to the
  * round's own new audit.
  *
  * The allowlist is the DOCUMENTED FLOOR — five lanes adjudicated
  * semantically multi-pass in r12, each with its one-line justification
  * below. Adding a lane here requires the same adjudication: the extra scans
  * must be inherent to the lane's semantics, not a shareable derived frame.
  */
class ScanAuditSpec extends SparkSpec {

  /** lane → why its ≥3 scans are inherent, not a recompute defect. */
  private val allowlist: Map[String, String] = Map(
    "q17_set_ops" -> "INTERSECT/EXCEPT/UNION branches each read both inputs by definition",
    "q17_multiset_ops" -> "multiset INTERSECT ALL/EXCEPT ALL branches likewise re-read both inputs",
    "q25_ivf_recall" -> "IVF training pass + assignment pass + the exact-baseline audit join",
    "q25_ivf_topk" -> "IVF training pass + assignment pass are semantically distinct reads",
    "q45_upsert" -> "target-vs-change-feed merge reads the target for matches AND survivors",
    "q34_funnel" -> ("three event types = three pushed-filter reads of a LINEAR " +
      "single-consumer chain — nothing recomputes (r13 barrier A/B: a barrier " +
      "costs more than it saves here; threading makes every frame single-use)"),
    "q83_degree_dist" -> ("basketPairs hot-routing probe: the grouped agg " +
      "plus the grid's two probe branches re-read the 2-column lineitem " +
      "projection (above the r15 size gate a plain count agg replaces one " +
      "grouped read); the probe branches are AQE-collapsed at runtime " +
      "unless a basket exceeds the cap — the other six basket lanes hide " +
      "the same shape behind their measured-winner checkpoints")
  )

  test("no lane outside the adjudicated allowlist scans one table >= 3 times") {
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val findings = graft.tools.ScanAudit.audit(spark, sf001, threshold = 3,
      onError = (lane, e) => errors += s"$lane: ${e.getMessage}")
    assert(errors.isEmpty,
      s"lanes failed to build during the audit: ${errors.mkString("; ")}")
    val offenders = findings.filterNot(f => allowlist.contains(f.lane))
    assert(offenders.isEmpty,
      "recompute-class regression — lanes scanning a table >= 3x outside " +
        "the adjudicated allowlist (barrier the shared frame or fold the " +
        "branches; see tools/ScanAudit): " +
        offenders.map(f => s"${f.lane}(${f.maxScans}x ${f.tables})").mkString("; "))
    // the floor must not silently rot either (r13 VERDICT task 8 — the
    // one-round info() grace is over): an allowlist entry whose lane no
    // longer trips the threshold is slack a future recompute could hide
    // in, so it must be REMOVED in the same commit that improves the lane
    val stillFlagged = findings.map(_.lane).toSet
    val stale = allowlist.keys.filterNot(stillFlagged).toSeq
    assert(stale.isEmpty,
      "stale ScanAudit allowlist entr(ies) — the lane no longer scans any " +
        s"table >= 3x; remove it from the floor: ${stale.mkString(", ")}")
  }
}
