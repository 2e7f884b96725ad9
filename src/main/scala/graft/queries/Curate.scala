package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Exact, Lane}
import graft.core.Tables

/** Q52: the END-TO-END training-data curation pipeline — every stage the
  * engine ships as a standalone lane, COMPOSED into one job, with one
  * DuckDB oracle replaying the whole funnel. This is the "a reference user
  * runs their entire curation in one call" proof: the per-stage lanes
  * (q23_langid, q23_filter_verdict, q23_fingerprint, q33_split_assign,
  * q33_decontam, q23_token_count) pin each operator's semantics; this lane
  * pins that they COMPOSE — same definitions (shared code/SQL fragments,
  * no re-implementations), flags computed in one pass, filters stacked.
  *
  * Funnel, per training-split doc (split = q33's doc_id-hash buckets):
  *   s0 train split (bucket < 80)
  *   s1 ∧ language identified (q23_langid's marker argmax ≠ 'und')
  *   s2 ∧ quality verdict keep (q23_filter_verdict's C4/Gopher rule chain)
  *   s3 ∧ exact-dedup winner (min doc_id per q23_fingerprint rolling hash)
  *   s4 ∧ decontaminated (shares NO 5-gram with the raw TEST split —
  *        q33_decontam's shingle definition; the benchmark set is the raw
  *        split, not the curated one: contamination does not care whether
  *        the test doc was pretty)
  * Output: one row per predicted language — the stage survivor counts and
  * the final corpus' token budget (bpe-ish exact count + chars/4 estimate).
  *
  * 100 TB shape: s0–s2 flags and the fingerprint are ROW-LOCAL (scan
  * speed); dedup is ONE hash shuffle on the fingerprint; decontamination
  * joins only candidate-sized sides (test-split distinct shingles ×
  * surviving-train shingles — the q33_decontam family, Bloom-prefilterable
  * by the q33_decontam_bloom route when the test split outgrows a
  * broadcast); the final aggregate is a tiny per-language hash agg with
  * map-side combine. Integer counts and exact-quarter char sums keep the
  * whole result bit-stable under any row order.
  */
object Curate {
  import TextOps.{h60, h60d}

  def q52CurateE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("bucket", expr(s"${h60("CAST(doc_id AS STRING)")} % 100"))

    // s0: the training split, with every row-local flag in one pass
    val train = docs.filter(col("bucket") < 80)
    val withHits = TextOps.markers.foldLeft(
        train.withColumn("dtoks", array_distinct(col("toks")))) {
      case (df, (l, ms)) =>
        df.withColumn(s"hits_$l",
          size(array_intersect(col("dtoks"), array(ms.map(lit): _*))).cast("int"))
    }
    val Seq(en, de, es, fr, zh) =
      TextOps.markers.map { case (l, _) => col(s"hits_$l") }
    val flagged = withHits
      .withColumn("predicted",
        when(en >= de && en >= es && en >= fr && en >= zh && en > 0, "en")
          .when(de >= es && de >= fr && de >= zh && de > 0, "de")
          .when(es >= fr && es >= zh && es > 0, "es")
          .when(fr >= zh && fr > 0, "fr")
          .when(zh > 0, "zh")
          .otherwise("und"))
      .withColumn("lang_ok", col("predicted") =!= "und")
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_uniq", size(col("dtoks")).cast("long"))
      .withColumn("n_stop", size(expr(
        "filter(toks, t -> t IN ('the','a','of','and'))")).cast("long"))
      .withColumn("ttr", col("n_uniq").cast("double") / col("n_toks").cast("double"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_toks").cast("double"))
      .withColumn("g3", expr(TextOps.ngramExpr(3)))
      .withColumn("dup3", expr(
        "1.0 - CAST(size(array_distinct(g3)) AS DOUBLE) / CAST(nullif(size(g3), 0) AS DOUBLE)"))
      .withColumn("keep_q",
        !(col("n_toks") < 25) && !(col("dup3") > 0.10) &&
          !(col("ttr") < 0.33) && !(col("stop_ratio") < 0.01))
      .withColumn("fp", expr(
        s"""aggregate(
           |  transform(toks, t -> ${h60("t")} % 1000000007L),
           |  0L, (acc, h) -> (acc * 31L + h) % 1000000007L)""".stripMargin))
      .withColumn("bpe_toks", size(regexp_extract_all(col("text"),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // Materialization barrier (the q33_decontam_bloom precedent): the flag
    // pipeline above is md5/regex-heavy, and THREE consumers read it
    // (dedup winners, the decontam explode's winner set, the final agg) —
    // without the barrier each branch re-executes the whole pipeline
    // (measured at 32×: ~23 s warm; with it the flags run once). Only the
    // SCALAR columns checkpoint — the heavy arrays stay out of the
    // materialized frame, and the decontam branch re-derives shingles for
    // the (small) winner subset from the raw docs.
    val flagsSlim = flagged
      .select(col("doc_id"), col("lang"), col("predicted"), col("lang_ok"),
        col("keep_q"), col("fp"), col("bpe_toks"), col("n_chars"))
      .localCheckpoint()

    // s3: exact-dedup winners among quality survivors (one fp shuffle)
    val winners = flagsSlim.filter(col("lang_ok") && col("keep_q"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("is_win"))

    // s4: contamination — any 5-gram shared with the RAW test split
    val testSh = docs.filter(col("bucket") >= 90)
      .select(explode(expr(Sampling.sh5Spark)).as("s")).distinct()
    val contaminated = docs
      .join(winners.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(expr(Sampling.sh5Spark)).as("s"))
      .join(testSh, Seq("s"))
      .select(col("doc_id")).distinct()
      .withColumn("is_cont", lit(true))

    flagsSlim
      .join(winners, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("is_final", col("is_win").isNotNull && col("is_cont").isNull)
      .groupBy(col("lang"), col("predicted"))
      .agg(
        count(lit(1)).as("n_train"),
        count(when(col("lang_ok"), lit(1))).as("n_lang"),
        count(when(col("lang_ok") && col("keep_q"), lit(1))).as("n_quality"),
        count(when(col("is_win").isNotNull, lit(1))).as("n_dedup"),
        count(when(col("is_final"), lit(1))).as("n_final"),
        coalesce(sum(when(col("is_final"), col("bpe_toks"))), lit(0L)).as("bpe_toks"),
        (coalesce(sum(when(col("is_final"), col("n_chars"))), lit(0L)).cast("double")
          / lit(4.0)).as("est_llm_toks"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** One nested-CTE replay of the whole funnel, stage formulas identical
    * to the per-stage lanes' oracles (same hash, shingle, n-gram, marker,
    * and threshold spellings). */
  val q52CurateE2eSql: String = {
    val hits = TextOps.markers.map { case (l, ms) =>
      val lst = ms.map(m => s"'$m'").mkString(", ")
      s"CAST(len(list_intersect(dtoks, [$lst])) AS INT) AS hits_$l"
    }.mkString(",\n    ")
    s"""WITH base AS (
       |  SELECT doc_id, lang, text, length(text) AS n_chars,
       |         string_split(text, ' ') AS toks,
       |         ${h60d("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
       |  FROM documents),
       |train0 AS (SELECT * FROM base WHERE bucket < 80),
       |test_sh AS (
       |  SELECT DISTINCT unnest(${Sampling.sh5Duck}) AS s
       |  FROM base WHERE bucket >= 90),
       |flagged AS (
       |  SELECT doc_id, lang, n_chars, toks,
       |    hits_en, hits_de, hits_es, hits_fr, hits_zh,
       |    CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh AND hits_en > 0 THEN 'en'
       |         WHEN hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh AND hits_de > 0 THEN 'de'
       |         WHEN hits_es >= hits_fr AND hits_es >= hits_zh AND hits_es > 0 THEN 'es'
       |         WHEN hits_fr >= hits_zh AND hits_fr > 0 THEN 'fr'
       |         WHEN hits_zh > 0 THEN 'zh'
       |         ELSE 'und' END AS predicted,
       |    n_toks, n_uniq, n_stop,
       |    CAST(n_uniq AS DOUBLE) / CAST(n_toks AS DOUBLE) AS ttr,
       |    CAST(n_stop AS DOUBLE) / CAST(n_toks AS DOUBLE) AS stop_ratio,
       |    1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
       |      / CAST(nullif(len(g3), 0) AS DOUBLE) AS dup3,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(toks, t -> ${h60d("t")} % 1000000007)),
       |      (acc, h) -> (acc * 31 + h) % 1000000007) AS fp,
       |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_toks
       |  FROM (
       |    SELECT *,
       |      CAST(len(toks) AS BIGINT) AS n_toks,
       |      CAST(len(dtoks) AS BIGINT) AS n_uniq,
       |      CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and'], t))) AS BIGINT) AS n_stop,
       |      ${TextOps.ngramDuck(3)} AS g3
       |    FROM (SELECT *, $hits FROM
       |      (SELECT *, list_distinct(toks) AS dtoks FROM train0)))),
       |staged AS (
       |  SELECT *,
       |    predicted <> 'und' AS lang_ok,
       |    NOT (n_toks < 25) AND NOT (dup3 > 0.10)
       |      AND NOT (ttr < 0.33) AND NOT (stop_ratio < 0.01) AS keep_q
       |  FROM flagged),
       |winners AS (
       |  SELECT min(doc_id) AS doc_id FROM staged
       |  WHERE lang_ok AND keep_q GROUP BY fp),
       |contaminated AS (
       |  SELECT DISTINCT t.doc_id FROM (
       |    SELECT doc_id, unnest(${Sampling.sh5Duck}) AS s
       |    FROM staged WHERE doc_id IN (SELECT doc_id FROM winners)) t
       |  JOIN test_sh ON t.s = test_sh.s)
       |SELECT lang, predicted,
       |  CAST(count(*) AS BIGINT) AS n_train,
       |  CAST(count(*) FILTER (WHERE lang_ok) AS BIGINT) AS n_lang,
       |  CAST(count(*) FILTER (WHERE lang_ok AND keep_q) AS BIGINT) AS n_quality,
       |  CAST(count(*) FILTER (WHERE is_win) AS BIGINT) AS n_dedup,
       |  CAST(count(*) FILTER (WHERE is_win AND NOT is_cont) AS BIGINT) AS n_final,
       |  CAST(coalesce(sum(bpe_toks) FILTER (WHERE is_win AND NOT is_cont), 0) AS BIGINT) AS bpe_toks,
       |  CAST(coalesce(sum(n_chars) FILTER (WHERE is_win AND NOT is_cont), 0) AS DOUBLE) / 4.0 AS est_llm_toks
       |FROM (
       |  SELECT s.*,
       |    s.doc_id IN (SELECT doc_id FROM winners) AS is_win,
       |    s.doc_id IN (SELECT doc_id FROM contaminated) AS is_cont
       |  FROM staged s)
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
  }

  val lanes: Seq[Lane] = Seq(
    Lane("q52_curate_e2e", q52CurateE2e, Exact(q52CurateE2eSql)),
  )

  val defs = lanes.map(l => l.name -> l.build).toMap
}
