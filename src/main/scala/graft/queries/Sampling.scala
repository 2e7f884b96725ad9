package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Exact, Lane}
import graft.core.Tables
import TextOps.{h60, h60d}

/** Dataset-curation operators (training-pipeline surface): deterministic
  * sampling, split assignment, and class balancing. All hash-based — a
  * seeded RNG sample is engine-private, but `h60(key) mod M` is a pure
  * function of the data, so samples are reproducible across engines, runs,
  * AND cluster topologies (no partition-dependent RNG streams), and
  * membership is computable row-local with no shuffle. That reproducibility
  * is what makes 100 TB train/val splits auditable.
  */
object Sampling {

  // --- Q33a: deterministic 10% sample --------------------------------------
  def q33HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(expr(s"${h60("CAST(doc_id AS STRING)")} % 100") < 10)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  val q33HashSampleSql: String =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${h60d("doc_id::VARCHAR")} % 100 < 10
       |ORDER BY doc_id""".stripMargin

  // --- Q33b: train/val/test split assignment (98/1/1-style, here 80/10/10) -
  def q33SplitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", expr(s"${h60("CAST(doc_id AS STRING)")} % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("split"))

  val q33SplitAssignSql: String =
    s"""SELECT lang, split, CAST(count(*) AS BIGINT) AS n FROM (
       |  SELECT lang,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT lang, ${h60d("doc_id::VARCHAR")} % 100 AS b FROM documents))
       |GROUP BY lang, split ORDER BY lang, split""".stripMargin

  // --- Q33c: class-balanced cap — at most K docs per lang, hash-ranked -----
  // The downsampling step of a balanced corpus: deterministic rank within
  // each class by (hash, id), keep the first K. One shuffle on the class
  // key; skew-safe for realistic class counts.
  def q33BalancedCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(expr(s"${h60("CAST(doc_id AS STRING)")}"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 50)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  val q33BalancedCapSql: String =
    s"""SELECT lang, rk, doc_id FROM (
       |  SELECT lang, doc_id,
       |         CAST(row_number() OVER (PARTITION BY lang
       |           ORDER BY ${h60d("doc_id::VARCHAR")}, doc_id) AS BIGINT) AS rk
       |  FROM documents) WHERE rk <= 50 ORDER BY lang, rk""".stripMargin

  // --- Q33d: train/test DECONTAMINATION — n-gram collision audit -----------
  // The eval-leakage check every training pipeline needs: a test-split doc
  // is contaminated if any of its word-5-grams also occurs in any train
  // doc. Scale shape: the train side collapses to ONE row per distinct
  // shingle (shingle, n_train_docs) before the join, so the join key is the
  // shingle, no train-doc×test-doc pair ever materializes, and a viral
  // shingle costs one aggregated row instead of a fan-out. Both sides reuse
  // the q33_split_assign hash buckets — the audit covers exactly the split
  // the pipeline would ship.
  // IF guard: Spark sequence(1, 0) descends ([1,0]) → element_at(toks, 0)
  // throws on any doc with < 5 tokens; DuckDB generate_series(1,0) is empty.
  private[graft] val sh5Spark: String =
    "IF(size(toks) >= 5, array_distinct(transform(sequence(1, size(toks) - 4), " +
      "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1), " +
      "element_at(toks, i+2), element_at(toks, i+3), element_at(toks, i+4)))), " +
      "CAST(array() AS ARRAY<STRING>))"

  private[graft] val sh5Duck: String =
    "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4, 0)), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))"

  def q33Decontam(spark: SparkSession, dir: String): DataFrame = {
    // Materialized ONCE (localCheckpoint) — the same barrier the Bloom
    // variant has always carried: THREE consumers read the doc-shingle
    // frame (train explode, test explode, the final test projection), and
    // without it each branch re-runs the split+shingle pipeline. Exposed
    // by the round-9 full-materialization bench metric: 12.4 s noop vs
    // the checkpointed Bloom twin's 1.77 s on the IDENTICAL answer.
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", expr(sh5Spark))
      .withColumn("bucket", expr(s"${h60("CAST(doc_id AS STRING)")} % 100"))
      .select(col("doc_id"), col("lang"), col("sh"), col("bucket"))
      .localCheckpoint()
    val train = docs.filter(col("bucket") < 80)
      .select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_train_docs"))
    val test = docs.filter(col("bucket") >= 90)
    val hits = test
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(train, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared"), sum(col("n_train_docs")).as("hits"))
    test.select(col("doc_id"), col("lang"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("shared"), lit(0L)).as("n_shared"),
        coalesce(col("hits"), lit(0L)).as("train_hits"),
        (coalesce(col("shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  // --- Q33d': decontamination via Bloom-filter broadcast prefilter ---------
  // Same ANSWER as q33_decontam, different physical route — the one that
  // survives 100 TB: the train side collapses to a single ~1 MB Bloom
  // bitset (`bloom_agg`, Catalyst's own runtime-filter aggregate, a
  // tree-reduce to ONE row), shipped to every task as a scalar subquery.
  // Test-side shingles are then prefiltered MAP-SIDE (`bloom_contains` is a
  // row-local probe with no false negatives), so only candidate (doc, s)
  // rows — true hits plus a bounded false-positive trickle — ever reach a
  // shuffle. Exactness is restored by verifying candidates against the
  // actual train shingles: the candidate shingle set (tiny) broadcasts,
  // the raw train explode streams map-side through that hash join, and
  // only matched survivors aggregate. Net: neither full shingle stream is
  // ever shuffled — the two aggregations downstream see candidate-sized
  // inputs. Bloom FPs cannot affect the output (they fail the exact
  // verify), so the result is bit-identical to q33_decontam and shares its
  // oracle SQL. Sizing: 1 M estimated items / 8 M bits (≈1 MB, ~3% FP at
  // capacity) — under Spark's runtime-filter conf caps; at real scale the
  // bitset grows with the train vocabulary (size for n_distinct shingles,
  // still MBs for billions of items at moderate FP).
  def q33DecontamBloom(spark: SparkSession, dir: String): DataFrame = {
    // Doc-level shingle frame, materialized ONCE (localCheckpoint). The
    // barrier is load-bearing twice over: (a) four consumers (bloom build,
    // test probe ×2 branches, train verify) read the md5-heavy shingle
    // arrays without recomputing them; (b) it defeats a measured plan
    // pathology — predicate pushdown pushes the inferred `size(sh) > 0`
    // Generate filter THROUGH the sh-defining projection, substituting the
    // whole shingle expression into a non-codegen Filter where `toks` also
    // inlines (every element_at re-splits the text): the un-barriered
    // explode measured 8–12 s vs 0.22 s checkpointed at sf0.1 (same
    // pathology class as q26_span_dup's hardening, same fix as its span
    // projection checkpoint; ~50 short strings per doc, corpus-bounded).
    val docsSh = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", expr(sh5Spark))
      .withColumn("bucket", expr(s"${h60("CAST(doc_id AS STRING)")} % 100"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("sh"))
      .localCheckpoint()
    val trainSh = docsSh.filter(col("bucket") < 80)
      .select(explode(col("sh")).as("s"))
    trainSh.createOrReplaceTempView("graft_bloom_train_sh")
    docsSh.filter(col("bucket") >= 90)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .createOrReplaceTempView("graft_bloom_test_sh")

    // Map-side candidate generation: scalar-subquery bloom + row-local
    // probe. cand appears twice in the final plan (candSh + hits join) but
    // both subtrees read the materialized arrays and share the ONE bloom
    // subquery (ReusedSubquery), so the probe pass is cheap by design.
    val cand = spark.sql(
      """SELECT doc_id, s FROM graft_bloom_test_sh
        |WHERE bloom_contains(
        |  (SELECT bloom_agg(xxhash64(s), 1000000L, 8000000L) FROM graft_bloom_train_sh),
        |  xxhash64(s))""".stripMargin)

    // Exact verify: candidate shingles broadcast; train stream never shuffles.
    val candSh = cand.select(col("s")).distinct()
    val trainMatched = trainSh.join(broadcast(candSh), Seq("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_train_docs"))
    val hits = cand.join(trainMatched, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared"), sum(col("n_train_docs")).as("hits"))
    docsSh.filter(col("bucket") >= 90).select(col("doc_id"), col("lang"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("shared"), lit(0L)).as("n_shared"),
        coalesce(col("hits"), lit(0L)).as("train_hits"),
        (coalesce(col("shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  val q33DecontamSql: String =
    s"""WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks,
       |                  ${h60d("doc_id::VARCHAR")} % 100 AS bucket FROM documents),
       |d AS (SELECT doc_id, lang, bucket, $sh5Duck AS sh FROM t),
       |tr AS (SELECT s, CAST(count(*) AS BIGINT) AS n_train_docs
       |       FROM (SELECT unnest(sh) AS s FROM d WHERE bucket < 80) GROUP BY s),
       |te AS (SELECT doc_id, unnest(sh) AS s FROM d WHERE bucket >= 90),
       |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS shared,
       |                CAST(sum(n_train_docs) AS BIGINT) AS hits
       |         FROM te JOIN tr USING (s) GROUP BY doc_id)
       |SELECT d.doc_id, d.lang,
       |       coalesce(h.shared, CAST(0 AS BIGINT)) AS n_shared,
       |       coalesce(h.hits, CAST(0 AS BIGINT)) AS train_hits,
       |       coalesce(h.shared, CAST(0 AS BIGINT)) > 0 AS contaminated
       |FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.bucket >= 90 ORDER BY d.doc_id""".stripMargin

  // --- Q33e: corpus MIXTURE report — the sampling-weight driver ------------
  // Per (source, lang): docs, whitespace tokens, token share of the whole
  // corpus, mean doc length. The report that decides mixture weights before
  // a training run. One hash agg on (source, lang) + a broadcast of the
  // single global-total row — at 100 TB the grouped frame is a few hundred
  // rows, so the share computation never re-shuffles the corpus.
  def q33Mixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
    val grouped = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val total = grouped.agg(sum(col("n_tokens")).as("total_tokens"))
    grouped.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens").cast("double")).as("token_share"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double")).as("mean_doc_toks"))
      .orderBy(col("source"), col("lang"))
  }

  val q33MixtureSql: String =
    """WITH g AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source, lang),
      |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM g)
      |SELECT source, lang, n_docs, n_tokens,
      |       CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
      |       CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_doc_toks
      |FROM g CROSS JOIN t ORDER BY source, lang""".stripMargin

  // --- Q33f: mixture-target RESAMPLING -------------------------------------
  // The step after the q33_mixture report: rebalance the corpus toward an
  // equal token share per source. Each source's keep-rate is
  // min(1, (total_tokens / n_sources) / source_tokens) — over-represented
  // sources are hash-downsampled, under-represented ones kept whole — and
  // membership is the deterministic `h60(doc_id) mod 10⁴ < floor(rate·10⁴)`
  // threshold (reproducible across engines/topologies, row-local like all
  // q33 lanes; the float work is division/floor only — IEEE-pinned, no
  // transcendentals). Scale shape: the rate table is one row per source,
  // BROADCAST back onto the corpus; two scans total (stats + verdict), no
  // corpus re-shuffle.
  def q33Resample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
    val bySrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      // barrier (r12 ScanAudit): bySrc feeds the total AND the rate frame
      // — per-source tiny, a full documents scan to recompute
      .localCheckpoint(true)
    val tot = bySrc.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val rates = bySrc.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0),
        (col("total_tokens").cast("double") / col("n_sources").cast("double"))
          / col("n_tokens").cast("double")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("rate"))
    docs.join(broadcast(rates), "source")
      .withColumn("kept",
        expr(s"${h60("CAST(doc_id AS STRING)")} % 10000")
          < floor(col("rate") * 10000).cast("long"))
      .groupBy(col("source"), col("n_docs"), col("n_tokens"), col("rate"))
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"), col("n_toks")).otherwise(0L)).as("kept_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("rate"),
        col("kept_docs"), col("kept_tokens"))
      .orderBy(col("source"))
  }

  val q33ResampleSql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |             CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks FROM documents),
       |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM t GROUP BY source),
       |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |              CAST(count(*) AS BIGINT) AS n_sources FROM g),
       |r AS (SELECT source, n_docs, n_tokens,
       |        least(1.0, (CAST(total_tokens AS DOUBLE) / CAST(n_sources AS DOUBLE))
       |                     / CAST(n_tokens AS DOUBLE)) AS rate
       |      FROM g CROSS JOIN tt)
       |SELECT r.source, r.n_docs, r.n_tokens, r.rate,
       |  CAST(sum(CASE WHEN ${h60d("t.doc_id::VARCHAR")} % 10000
       |                     < CAST(floor(r.rate * 10000) AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       |  CAST(sum(CASE WHEN ${h60d("t.doc_id::VARCHAR")} % 10000
       |                     < CAST(floor(r.rate * 10000) AS BIGINT) THEN t.n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
       |FROM t JOIN r USING (source)
       |GROUP BY r.source, r.n_docs, r.n_tokens, r.rate
       |ORDER BY r.source""".stripMargin

  // --- Q35: token-budget SEQUENCE PACKING ----------------------------------
  // Training-shard layout: documents laid end-to-end per source in doc_id
  // order, cut into 512-token packs. pack_id = the pack holding the doc's
  // FIRST token (prefix-sum formulation — the standard distributed packing:
  // an exact first-fit is a sequential recurrence, so pipelines pack by
  // offset and let boundary docs span two packs, flagged here). All integer
  // arithmetic via floor(double) — exact to 2⁵³ tokens per source, and
  // identical on both engines. Scale shape: ONE shuffle on `source` (the
  // window partitioning); packing is embarrassingly parallel across
  // sources/shards — at 100 TB the partition key would be (source, shard)
  // with per-shard token budgets, same plan.
  private val PackCap = 512

  def q35Pack(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("pack_id", expr(
        s"CAST(floor(CAST(cum - n_toks AS DOUBLE) / $PackCap.0D) AS BIGINT)"))
      .withColumn("pack_offset", col("cum") - col("n_toks") - col("pack_id") * PackCap)
      .withColumn("spans_boundary", expr(
        s"CAST(floor(CAST(cum - 1 AS DOUBLE) / $PackCap.0D) AS BIGINT)") > col("pack_id"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("pack_id"),
        col("pack_offset"), col("spans_boundary"))
      .orderBy(col("doc_id"))
  }

  val q35PackSql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |             CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks FROM documents),
       |c AS (SELECT doc_id, source, n_toks,
       |        CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
       |SELECT doc_id, source, n_toks,
       |  CAST(floor(CAST(cum - n_toks AS DOUBLE) / $PackCap.0) AS BIGINT) AS pack_id,
       |  CAST(cum - n_toks - CAST(floor(CAST(cum - n_toks AS DOUBLE) / $PackCap.0) AS BIGINT) * $PackCap AS BIGINT) AS pack_offset,
       |  CAST(floor(CAST(cum - 1 AS DOUBLE) / $PackCap.0) AS BIGINT)
       |    > CAST(floor(CAST(cum - n_toks AS DOUBLE) / $PackCap.0) AS BIGINT) AS spans_boundary
       |FROM c ORDER BY doc_id""".stripMargin

  // --- Q23f: TF-IDF-style top terms per document ---------------------------
  // tf = count in doc; idf = N/df (rational, not ln(N/df)): transcendental
  // functions differ in the last ulp across libm implementations (measured:
  // Spark's Math.log vs DuckDB's C log disagree by 1 bit on real inputs —
  // the same divergence class as double round()), so the checked weight
  // uses division only, which IEEE pins exactly. Monotone in the classic
  // ln weight for fixed tf, so per-doc rankings are equivalent in spirit.
  // Two shuffles: df agg and the per-doc top-k window.
  def q23Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // N as a broadcast one-row frame, not a driver-side docs.count(): keeps
    // the whole query one non-blocking job (the count scan rides the same
    // plan; mirrors the oracle's `n` CTE)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      // barrier (r12 ScanAudit): tf feeds the df aggregation AND the
      // scoring join — unbarriered, the tokenize+count pass ran twice
      .localCheckpoint(true)
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("w").desc, col("tok"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf").cast("double") * (col("n_docs") / col("df").cast("double")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("tok"), col("w"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val q23TfidfSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1,2),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
      |SELECT doc_id, rk, tok, w FROM (
      |  SELECT doc_id, tok, w,
      |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, tok) AS BIGINT) AS rk
      |  FROM (SELECT tf.doc_id, tf.tok,
      |               CAST(tf.tf AS DOUBLE) * (n.n_docs / CAST(dfreq.df AS DOUBLE)) AS w
      |        FROM tf JOIN dfreq USING (tok) CROSS JOIN n))
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // --- Q54: probability-proportional-to-size SYSTEMATIC sampling ----------
  // The "build an epoch" staple the rate lanes (q33_resample) cannot do:
  // draw EXACTLY k units per source with inclusion probability proportional
  // to each doc's token count (big docs must be seen proportionally more
  // often when an epoch is token-budgeted, not doc-budgeted). Classic
  // systematic PPS: lay docs end-to-end on the per-source token line
  // (the q35_pack prefix-sum layout), drop k equally spaced lattice points
  // at positions (2i+1)·W/(2k), i∈[0,k); a doc's sample multiplicity is the
  // number of lattice points inside its token interval [a, b). A doc longer
  // than W/k tokens can legitimately draw multiplicity ≥ 2 (sampling WITH
  // replacement in the PPS sense); Σ multiplicity = k per source ALWAYS —
  // the lattice has exactly k points and intervals tile [0, W).
  //
  // Every comparison is integer: lattice point i sits at rational
  // (2i+1)W/2k, and "point in [a,b)" ⟺ odd m = 2i+1 with 2k·a ≤ m·W < 2k·b,
  // so m ranges over the odd integers in [ceilDiv(2k·a, W), (2k·b−1) div W]
  // and multiplicity = (hi+1) div 2 − lo div 2 — BIGINT div only, no
  // floats, so the draw is bit-identical on any engine, any partitioning,
  // any run (the reproducibility bar all q33 lanes hold). Bounds: the
  // arithmetic needs 2k·W < 2⁶³ — at k=50 that allows ~9·10¹⁶ tokens per
  // source, far past 100 TB of text.
  //
  // Scale shape: ONE shuffle (the per-source window for the running token
  // sum — same partitioning as q35_pack), W joined back as a broadcast
  // one-row-per-source frame, then row-local integer arithmetic. At 100 TB
  // the window key becomes (source, shard) with per-shard lattice budgets,
  // identical plan.
  private val PpsK = 50L

  def q54PpsSample(spark: SparkSession, dir: String): DataFrame =
    ppsSampleFrom(Tables.documents(spark, dir))

  /** Factored core (lane + property spec): docs(source, doc_id, text). */
  private[graft] def ppsSampleFrom(docsIn: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val docs = docsIn
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
    val withCum = docs
      .withColumn("b", sum(col("n_toks")).over(w))
      .withColumn("a", col("b") - col("n_toks"))
    val totals = docs.groupBy(col("source"))
      .agg(sum(col("n_toks")).as("w_total"))
    withCum.join(broadcast(totals), "source")
      .withColumn("lo", expr(s"(2 * $PpsK * a + w_total - 1) DIV w_total"))
      .withColumn("hi", expr(s"(2 * $PpsK * b - 1) DIV w_total"))
      .withColumn("mult", greatest(lit(0L),
        expr("(hi + 1) DIV 2 - lo DIV 2")))
      .filter(col("mult") >= 1)
      .select(col("source"), col("doc_id"), col("n_toks"),
        col("a").as("tok_offset"), col("mult"))
      .orderBy(col("source"), col("doc_id"))
  }

  val q54PpsSampleSql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |             CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks FROM documents),
       |c AS (SELECT doc_id, source, n_toks,
       |        CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS b FROM t),
       |tot AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS w_total FROM t GROUP BY source),
       |m AS (SELECT c.source, c.doc_id, c.n_toks, c.b - c.n_toks AS a,
       |        (2 * $PpsK * (c.b - c.n_toks) + tot.w_total - 1) // tot.w_total AS lo,
       |        (2 * $PpsK * c.b - 1) // tot.w_total AS hi
       |      FROM c JOIN tot USING (source))
       |SELECT source, doc_id, n_toks, a AS tok_offset,
       |       greatest(0, (hi + 1) // 2 - lo // 2) AS mult
       |FROM m WHERE greatest(0, (hi + 1) // 2 - lo // 2) >= 1
       |ORDER BY source, doc_id""".stripMargin

  val lanes: Seq[Lane] = Seq(
    Lane("q54_pps_sample", q54PpsSample, Exact(q54PpsSampleSql)),
    Lane("q33_hash_sample", q33HashSample, Exact(q33HashSampleSql)),
    Lane("q33_split_assign", q33SplitAssign, Exact(q33SplitAssignSql)),
    Lane("q33_balanced_cap", q33BalancedCap, Exact(q33BalancedCapSql)),
    Lane("q33_decontam", q33Decontam, Exact(q33DecontamSql)),
    Lane("q33_decontam_bloom", q33DecontamBloom, Exact(q33DecontamSql)), // same answer, bloom route
    Lane("q33_mixture", q33Mixture, Exact(q33MixtureSql)),
    Lane("q33_resample", q33Resample, Exact(q33ResampleSql)),
    Lane("q35_pack", q35Pack, Exact(q35PackSql)),
    Lane("q23_tfidf", q23Tfidf, Exact(q23TfidfSql)),
  )

  val defs = lanes.map(l => l.name -> l.build).toMap
}
