package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** Plan-level proof for q39_partition_prune: the lang predicate must be a
  * PARTITION filter (resolved against the directory listing at planning
  * time — unmatched partitions' files never open), not a pushed data
  * filter. Values are hash-checked by the oracle gate; this pins the scan
  * mechanics the 100 TB argument rests on. */
class PartitionPruneSpec extends SparkSpec {

  test("lang predicate prunes partitions at planning time") {
    val dir = "/root/testdata/sf0.01"
    val out = tempDir("graft_prune_spec").toString
    graft.core.Tables.documents(spark, dir)
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val df = graft.queries.Relational3.partitionedDocs(spark, out)
      .filter(col("lang") === "en")
    val scan = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    // the predicate lives in partitionFilters …
    assert(scan.partitionFilters.exists(_.toString.contains("lang")),
      s"lang predicate missing from partitionFilters: ${scan.partitionFilters}")
    // … not in the data filters (lang is not even a data column here)
    assert(!scan.dataFilters.exists(_.toString.contains("lang")),
      s"lang leaked into dataFilters: ${scan.dataFilters}")
    // and the selected partitions really exclude the other languages
    val langs = graft.core.Tables.documents(spark, dir)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.size > 1, "fixture must carry several languages for pruning to mean anything")
    assert(scan.relation.location.inputFiles.count(_.contains("lang=")) > 0)
    // the authoritative selection: the file index listing WITH the plan's
    // partition filters applied (df.inputFiles reports the unpruned
    // relation and would pass even without pruning)
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files).map(_.getPath.toString)
    assert(selected.nonEmpty && selected.forall(_.contains("lang=en")),
      s"scan selected non-en files: ${selected.filterNot(_.contains("lang=en")).take(3).mkString(",")}")
  }

  test("dim filter plants a dynamicpruning subquery in the fact scan") {
    val df = graft.queries.Relational3.q39DynamicPrune(spark, "/root/testdata/sf0.01")
    // collect() first: AQE hides the scans until stages finalize, and the
    // values must agree with a plain unpartitioned join anyway
    import org.apache.spark.sql.functions._
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val expect = docs.filter(col("lang").isin("en", "fr"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
    // the partitioned fact scan must carry a runtime pruning expression —
    // the partitions to read are only known after the dim filter runs
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamicpruning expression in the final plan:\n${plan.take(2000)}")
  }
}
