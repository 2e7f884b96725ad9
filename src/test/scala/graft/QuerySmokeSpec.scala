package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One spec per declared operator (SURVEY §2B → SparkEntry.queries): each
  * query builds, runs at sf0.001, yields a stable schema and a
  * deterministic row count across re-execution. Value-level correctness is
  * the DuckDB oracle harness's job (t2); this is the fast per-operator
  * gate that keeps `sbt test` meaningful when a query is edited.
  */
class QuerySmokeSpec extends SparkSpec {

  // queries whose result is legitimately empty at sf0.001
  private val mayBeEmpty = Set("q09_anti_join", "q24_jaccard_pairs",
    "q24_lsh_pairs", "q24_simhash_pairs")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: builds, runs, deterministic at sf0.001") {
      val df1 = fn(spark, sf001)
      assert(df1.schema.fields.nonEmpty, "empty schema")
      val n1 = df1.count()
      if (!mayBeEmpty(name)) assert(n1 > 0, s"$name returned 0 rows")
      val n2 = fn(spark, sf001).count()
      assert(n1 === n2, s"$name row count not deterministic: $n1 != $n2")
    }
  }

  test("entry() flagship returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  private val rowsOnly = Set("q13_approx_distinct", "q13_hll_merge",
    "q23_compress", "q25_ivf_scale", "q25_kmeans", "q25_pq_adc",
    "q37_profile_approx", "q46_heavy_hitters", "q71_wau_hll")
  private val LaneNamesSha256 =
    "226630186aeae6b3b5304cdce811ac0e3807636a70ad0041384e96d6b918ec9f"

  test("lane registry: 194 lanes, 185 Exact and the 9 declared RowsOnly") {
    val lanes = SparkEntry.lanes
    assert(lanes.size === 194 && SparkEntry.queries.size === 194)
    assert(lanes.collect { case Lane(n, _, RowsOnly(_)) => n }.toSet === rowsOnly)
    assert(SparkEntry.oracleSql.size === 185)
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet -- rowsOnly)
    // the sorted lane names, pinned: a renamed, dropped or added lane
    // changes this digest (recompute with sha256 of the names joined by \n)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lanes.map(_.name).sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(sha === LaneNamesSha256, "lane name set changed")
  }

  test("lane registry: every RowsOnly lane states its reason") {
    val blank = SparkEntry.lanes.collect {
      case Lane(n, _, RowsOnly(why)) if why.trim.isEmpty => n }
    assert(blank.isEmpty, s"RowsOnly without a reason: $blank")
  }

  test("lane registry: a name declared in two module tables is refused") {
    val never: (SparkSession, String) => DataFrame = (_, _) => sys.error("never built")
    val a = Seq(Lane("qa", never, Exact("SELECT 1")), Lane("qb", never, RowsOnly("r")))
    val b = Seq(Lane("qb", never, Exact("SELECT 2")))
    val e = intercept[IllegalArgumentException](SparkEntry.concat(Seq(a, b)))
    assert(e.getMessage.contains("qb"))
    assert(SparkEntry.concat(Seq(a)).map(_.name) === Seq("qa", "qb"))
  }
}
