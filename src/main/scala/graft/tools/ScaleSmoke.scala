package graft.tools

import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Dev-only scale smoke: self-union the sf0.1 documents/embeddings tables
  * 8× (doc_id remapped per copy — 8 identical twins per original doc, the
  * boilerplate-heavy shape that fires the hot-bucket routing for real) and
  * time the similarity/dedup lanes against the widened corpus. Prints the
  * per-lane wall times plus the hot-key counts per bucket definition, so
  * PLANS.md can record that the salted-join branch actually executed.
  * Testdata stays read-only: the widened tables land in /tmp.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // copies: self-union factor (default 8); args, when present, restrict
    // the lane list — e.g. `runMain graft.tools.ScaleSmoke q24_jaccard_pairs`
    // with SPARK_GRAFT_SCALE_COPIES=32 spot-rehearses one lane at 32×.
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "8").toInt
    // Grown-KEY rehearsal (r13 VERDICT task 3): plain self-union multiplies
    // ROWS but never per-key group sizes — basket sizes, band-bucket
    // populations aside, stay 1×-shaped at 128×, so per-key fan-out classes
    // (the q62-family basket expansion) are structurally invisible to the
    // row sweeps. SPARK_GRAFT_SCALE_FANOUT=F groups the lineitem copies in
    // runs of F sharing ONE l_orderkey offset while part/supp keys stay
    // per-copy — each basket id then collects F copies' DISTINCT items, so
    // basket sizes grow F× (≤13·F items here; F ≥ 20 crosses the 256
    // routing cap for real). Scope: the basket-graph family only — grouped
    // order keys break the lineitem→orders FK, so orders-joining lanes
    // (q55/q88/q49…) are out of scope under fanout (events user activity
    // already grows with plain copies: user_id is deliberately un-offset).
    val fanout = sys.env.getOrElse("SPARK_GRAFT_SCALE_FANOUT", "1").toInt
    // Grown-CLUSTER rehearsal for the document family (r14 VERDICT task 5):
    // plain self-union gives every doc exactly `copies` exact twins — every
    // near-dup cluster grows by the SAME factor, so the viral-document
    // shape (one boilerplate page with orders of magnitude more copies
    // than the corpus's typical dup rate) never appears no matter how many
    // copies run. SPARK_GRAFT_SCALE_DOC_FANOUT=D groups the ORIGINAL docs
    // in runs of D consecutive doc_ids and gives the whole group the
    // leader's content (text/lang/source/n_chars; doc_id stays per-doc) —
    // twin clusters then reach D·copies members while the corpus stays
    // copies×-sized, which is what the twin-collapse windows, band
    // buckets, and span postings of q26_para_dedup / q26_span_dup / q93 /
    // q26_incr_neardup have to survive at 100 TB.
    val docFanout = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOC_FANOUT", "1").toInt
    val out = s"/tmp/graft_scale$copies" +
      (if (fanout > 1) s"_f$fanout" else "") +
      (if (docFanout > 1) s"_d$docFanout" else "")
    // anchors first (the Bench discipline, r13): sweep logs are compared
    // ACROSS sessions and this host's disk swings 10× within a day
    // (measured 350 → 33 MB/s) — a sweep row without its window's anchors
    // cannot be told apart from a code regression
    println(f"[scale$copies] anchor_s=${graft.core.Calibration.measure()}%.3f " +
      f"anchor_mt_s=${graft.core.Calibration.measureMt()}%.3f " +
      f"anchor_io_mbps=${graft.core.Calibration.measureIo()}%.0f")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_SCALE_REUSE=1: skip the corpus build when a previous run
    // already widened this copies× (big rehearsals chunk their lane lists
    // across invocations; rebuilding 100+ copies each chunk wastes minutes)
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
      new java.io.File(s"$out/events.parquet/_SUCCESS").exists() &&
      new java.io.File(s"$out/lineitem.parquet/_SUCCESS").exists() &&
      new java.io.File(s"$out/customer.parquet/_SUCCESS").exists() &&
      new java.io.File(s"$out/supplier.parquet/_SUCCESS").exists()
    if (!reuse) {
    val docs0 = spark.read.parquet(s"$sf/documents.parquet")
    val docs = if (docFanout <= 1) docs0 else {
      // group leader = min doc_id of each run of docFanout consecutive ids
      // (ids need not be dense — `div` on the id space still yields ~D-doc
      // groups); the whole group takes the leader's content columns
      val byG = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__g")).orderBy(col("doc_id"))
      docs0.withColumn("__g", expr(s"doc_id div $docFanout"))
        .select(col("doc_id"), col("__g"),
          first(col("text")).over(byG).as("text"),
          first(col("lang")).over(byG).as("lang"),
          first(col("source")).over(byG).as("source"),
          first(col("n_chars")).over(byG).as("n_chars"))
        .drop("__g")
    }
    (0 until copies).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    if (docFanout > 1) {
      // evidence line: the grown-cluster mode's whole point is twin
      // clusters past the routing caps — record the distribution
      val cs = spark.read.parquet(s"$out/documents.parquet")
        .filter(col("text").isNotNull)
        .groupBy(xxhash64(col("text")).as("th")).count()
        .agg(max("count").as("mx"), avg("count").as("av"),
          sum(when(col("count") > 256, 1L).otherwise(0L)).as("over_cap"))
        .head()
      println(s"[scale$copies d$docFanout] twin clusters: max=${cs.getLong(0)} " +
        f"avg=${cs.getDouble(1)}%.1f over_cap(256)=${cs.getLong(2)}")
    }
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    (0 until copies).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // events too (the raw ts column copies as-is in either storage
    // generation — nanos int64 or timestamp[us] — and Tables.events'
    // schema-driven normalization handles both), so the `ingest`
    // pseudo-lane below can rehearse the Q30 write path at `copies`×
    val ev = spark.read.parquet(s"$sf/events.parquet")
    (0 until copies).map(i => ev.withColumn("event_id", col("event_id") + lit(i * 100000000L)))
      .reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
    // orders + lineitem, with cust/supp keys ALSO offset per copy: the
    // q55_pagerank graph then scales in NODES (copies× customers and
    // suppliers, disjoint per copy), not just edge weights — the dimension
    // that stresses the superstep joins
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    (0 until copies).map(i => ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")
    val lin = spark.read.parquet(s"$sf/lineitem.parquet")
    // l_partkey offset matches part's p_partkey offset below — FK-consistent,
    // and the q62 co-occurrence graph then scales in NODES (disjoint part
    // universes per copy), not in density
    (0 until copies).map(i => lin
        .withColumn("l_orderkey",
          col("l_orderkey") + lit((i / fanout) * 1000000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * 10000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    if (fanout > 1) {
      // evidence line: the grown-key mode's whole point is baskets PAST the
      // routing cap — record the distribution so the PLANS row can show it
      val bs = spark.read.parquet(s"$out/lineitem.parquet")
        .groupBy("l_orderkey").agg(countDistinct("l_partkey").as("sz"))
        .agg(max("sz").as("mx"), avg("sz").as("av"),
          sum(when(col("sz") > 256, 1L).otherwise(0L)).as("over_cap"))
        .head()
      println(s"[scale$copies f$fanout] basket sizes: max=${bs.getLong(0)} " +
        f"avg=${bs.getDouble(1)}%.1f over_cap(256)=${bs.getLong(2)}")
    }
    // customer with the SAME custkey offset as orders — FK-consistent,
    // so the fingerprint/diff lanes (q58/q61) and any cust join scale too
    val cst = spark.read.parquet(s"$sf/customer.parquet")
    (0 until copies).map(i => cst
        .withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/customer.parquet")
    // part for the recursive-CTE lane (offset keeps keys distinct; digit
    // depth grows with the offset — deeper recursion at scale, fine)
    val prt = spark.read.parquet(s"$sf/part.parquet")
    (0 until copies).map(i => prt
        .withColumn("p_partkey", col("p_partkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$out/part.parquet")
    // supplier with the SAME suppkey offset as lineitem — FK-consistent
    // (r10: the full-lane sweep needs every table present in the widened dir)
    val sup = spark.read.parquet(s"$sf/supplier.parquet")
    (0 until copies).map(i => sup
        .withColumn("s_suppkey", col("s_suppkey") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .repartition(8).write.mode("overwrite").parquet(s"$out/supplier.parquet")
    // nation/region: fixed dimension vocabularies — copied as-is (scaling
    // them would break the FK domain nationkey/regionkey live in)
    spark.read.parquet(s"$sf/nation.parquet")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")
    spark.read.parquet(s"$sf/region.parquet")
      .write.mode("overwrite").parquet(s"$out/region.parquet")
    }
    println(s"[scale$copies] corpus ${if (reuse) "reused" else "ready"}: " +
      s"${spark.read.parquet(s"$out/documents.parquet").count()} docs (${copies}x)")

    // Hot-key evidence: rows per bucket key above the production caps, per
    // lane's bucket definition (re-derived here; the lanes' own routing is
    // spec-pinned to behave identically).
    val d8 = spark.read.parquet(s"$out/documents.parquet")
    val h60 = (c: String) => s"CAST(conv(substr(md5($c),1,15),16,10) AS BIGINT)"
    val simBands = d8.filter(col("text").isNotNull)
      .withColumn("th", expr(s"transform(split(text, ' '), t -> ${h60("t")})"))
      .select(col("doc_id"), expr("simhash60(th)").as("simhash"))
      .withColumn("band_id", explode(expr("sequence(0, 4)")))
      .withColumn("bk", expr("shiftright(simhash, 12 * band_id) & 4095"))
      .groupBy("band_id", "bk").count().filter(col("count") > 256)
    println(s"[scale$copies] simhash hot buckets (>256): ${simBands.count()} " +
      s"max=${simBands.agg(coalesce(max("count"), lit(0L))).head().getLong(0)}")
    val shingles = d8.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, greatest(size(toks) - 2, 0)), " +
          "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1), element_at(toks, i+2))))"))
      .select(col("lang"), explode(col("sh")).as("s"))
      .groupBy("lang", "s").count().filter(col("count") > 256)
    println(s"[scale$copies] jaccard hot postings (>256): ${shingles.count()}")
    val spans = d8.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 50)
      .select(explode(expr("array_distinct(span_hashes(toks, 50))")).as("sp"))
      .groupBy("sp").count().filter(col("count") > 256)
    println(s"[scale$copies] span hot postings (>256): ${spans.count()}")

    val defaultLanes = Seq("q24_simhash_pairs", "q24_lsh_pairs", "q24_jaccard_pairs",
        "q26_span_dup", "q26_cc_clusters", "q26_dedup_survivors",
        "q26_incr_neardup", "q24_lsh_est", "q23_zipf_rank", "q32_audio_decode",
        "q29_neardup_batch", "q25_ivf_scale", "q32_video_frames",
        "q41_state_read")
    val lanes = if (args.nonEmpty) args.toSeq else defaultLanes

    // Heap sizing gate (r14 VERDICT task 4): "128× wants 24 g" lived in
    // prose — a predictably under-heaped basket rehearsal should fail fast
    // with the sizing, not OOM 40 minutes in. The floor is the r14 measured
    // ladder for the basket pair family (the one family whose frames grow
    // with raw input volume): 383 MB widened lineitem → 16 g clean / 8 g
    // on the OOM cliff; 1.5 GB → 24 g required. Both points fit
    // required ≈ 8 GiB + 10 × lineitemBytes (32×: 11.8 g ≤ 16 g ok; 128×:
    // 23 g ≈ the measured 24 g). Applied only when a basket-family lane is
    // requested — the document battery measured clean at 16 g through
    // 128×. SPARK_GRAFT_SCALE_FORCE=1 overrides (that is how the ladder
    // itself gets measured).
    val basketFamily = Set("q62_triangles", "q67_cooccur_sim", "q73_kcore",
      "q74_assortativity", "q81_apriori_rules", "q83_degree_dist",
      "q86_modularity")
    val xmxBytes = Runtime.getRuntime.maxMemory
    def dirBytes(p: String): Long = {
      val d = new java.io.File(p)
      Option(d.listFiles).map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
    }
    val liBytes = dirBytes(s"$out/lineitem.parquet")
    val floorBytes = (8L << 30) + 10 * liBytes
    println(f"[scale$copies] heap: xmx=${xmxBytes / 1073741824.0}%.1fg " +
      f"basket_floor=${floorBytes / 1073741824.0}%.1fg " +
      s"(8g + 10x lineitem ${liBytes >> 20}MB; r14 ladder 383MB->16g/8g-cliff, 1.5GB->24g)")
    if (lanes.exists(basketFamily) && xmxBytes < floorBytes &&
        !sys.env.get("SPARK_GRAFT_SCALE_FORCE").contains("1")) {
      System.err.println(
        f"[scale$copies] ABORT: basket-family rehearsal with xmx " +
          f"${xmxBytes / 1073741824.0}%.1fg under the measured floor " +
          f"${floorBytes / 1073741824.0}%.1fg for this corpus " +
          f"(${liBytes >> 20}MB widened lineitem). Re-run with " +
          f"SPARK_DRIVER_MEM=${(floorBytes >> 30) + 1}g (or " +
          "SPARK_GRAFT_SCALE_FORCE=1 to measure the cliff deliberately).")
      spark.stop()
      sys.exit(2)
    }
    def heapPools = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
    }
    lanes.foreach {
      case "ingest" =>
        // Q30 write-path rehearsal at copies×: events → day-partitioned
        // bronze, median of 3 (the Bench ingest slice's shape)
        val evs = graft.core.Tables.events(spark, out)
        val n = evs.count()
        val reps = (0 until 3).map { i =>
          val dst = s"$out/bronze_smoke$i"
          val t0 = System.nanoTime()
          graft.ingest.Ingest.writeBronze(evs, dst, tsCol = "ts", granularity = "day")
          val dt = (System.nanoTime() - t0) / 1e9
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(java.nio.file.Paths.get(dst))
              .sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(java.nio.file.Files.delete)
          } catch { case NonFatal(_) => () }
          dt
        }.sorted
        println(f"[scale$copies] ingest: $n rows, median ${n / reps(1)}%.0f rows/s " +
          f"(reps ${reps.map(r => f"${n / r}%.0f").mkString(",")})")
      case name =>
      (0 until 2).foreach { i =>
        heapPools.foreach(_.resetPeakUsage())
        // the gated bench pass (noop sink, then cache release and GC)
        val dt = graft.Bench.noopPass(spark, graft.SparkEntry.queries(name), out).get
        // per-pool peaks summed: peaks need not be simultaneous, so this
        // is an upper bound — the machine-readable ceiling the r14 verdict
        // asked for next to the configured xmx (watch item 2)
        val peak = heapPools.map(_.getPeakUsage.getUsed).sum
        println(f"[scale$copies] $name rep$i: $dt%.1fs " +
          f"peak_heap=${peak / 1073741824.0}%.1fg/${xmxBytes / 1073741824.0}%.1fg")
        // settle (the Bench r10 lesson): System.gc() QUEUES ContextCleaner
        // work (shuffle-file removal) that otherwise executes ASYNC inside
        // the NEXT timed rep — observed here as rep1 > rep0 inversions at
        // 128× (q88 341.6 vs 245.3 s); a throwaway job absorbs it outside
        // the timing
        spark.range(1000).count()
      }
    }
    spark.stop()
  }
}
