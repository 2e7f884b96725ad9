package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Exact, Lane, RowsOnly}
import graft.core.Tables

/** Text-analysis surface (SURVEY.md §2B Q23 + Q26): the LLM-training-pipeline
  * operators over `documents` — top-terms, language-ID, quality scoring,
  * token counting, fingerprinting, and exact-normalized dedup clustering.
  *
  * The reference ships documents opaquely (`CommCareAPIHandler.py:204`);
  * these are the content-aware operators a 100 TB curation pipeline runs on
  * top. All are single-pass narrow transforms + one hash-shuffle aggregation
  * at most — no self-joins — so they scale linearly with executors.
  *
  * Determinism/oracle notes: the shared 60-bit hash is
  * `conv(substr(md5(x),1,15),16,10)` — bit-identical to DuckDB's
  * `('0x'||substr(md5(x),1,15))::BIGINT` (15 hex nibbles = 60 bits, always
  * positive, no sign games). Double math keeps one expression shape on both
  * sides (IEEE ops are deterministic; only reassociation isn't).
  */
object TextOps {
  /** 60-bit positive hash of a SQL string expression — Spark fragment. */
  def h60(e: String): String = s"CAST(conv(substr(md5($e),1,15),16,10) AS BIGINT)"
  /** Same hash — DuckDB fragment (for oracle SQL builders). */
  def h60d(e: String): String = s"('0x'||substr(md5($e),1,15))::BIGINT"

  // --- Q23a: token counts / top-k terms per lang (tokenize→explode→agg) ---
  // Scale: explode is narrow; the (lang,tok) agg map-side combines, and the
  // per-lang top-k is a small shuffle on lang (5 groups) — no global sort.
  def q23TopTerms(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("tok"))
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("tok"), col("n"))
      .orderBy(col("lang"), col("rk"))
  }

  val q23TopTermsSql: String =
    """SELECT lang, rk, tok, n FROM (
      |  SELECT lang, tok, n,
      |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS BIGINT) AS rk
      |  FROM (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
      |        FROM (SELECT lang, unnest(string_split(text,' ')) AS tok FROM documents)
      |        GROUP BY lang, tok)
      |) WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  // --- Q23b: language-ID via marker-token heuristic ------------------------
  // Real lang-ID is a model; the engine-level operator is the deterministic
  // n-gram/marker scoring pass (argmax over per-lang hit counts, branch-order
  // tie-break, 'und' when nothing matches).
  private[queries] val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "das"),
    "es" -> Seq("el", "la", "que"),
    "fr" -> Seq("le", "et", "les"),
    "zh" -> Seq("的", "是", "在"))

  def q23LangId(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .withColumn("dtoks", array_distinct(split(col("text"), " ")))
    val withHits = markers.foldLeft(base) { case (df, (l, ms)) =>
      df.withColumn(s"hits_$l",
        size(array_intersect(col("dtoks"), array(ms.map(lit): _*))).cast("int"))
    }
    val Seq(en, de, es, fr, zh) = markers.map { case (l, _) => col(s"hits_$l") }
    withHits
      .withColumn("predicted",
        when(en >= de && en >= es && en >= fr && en >= zh && en > 0, "en")
          .when(de >= es && de >= fr && de >= zh && de > 0, "de")
          .when(es >= fr && es >= zh && es > 0, "es")
          .when(fr >= zh && fr > 0, "fr")
          .when(zh > 0, "zh")
          .otherwise("und"))
      .select(col("doc_id"), col("lang"), col("hits_en"), col("hits_de"),
        col("hits_es"), col("hits_fr"), col("hits_zh"), col("predicted"))
      .orderBy(col("doc_id"))
  }

  val q23LangIdSql: String = {
    val hits = markers.map { case (l, ms) =>
      val lst = ms.map(m => s"'$m'").mkString(", ")
      s"CAST(len(list_intersect(list_distinct(string_split(text,' ')), [$lst])) AS INT) AS hits_$l"
    }.mkString(",\n  ")
    s"""SELECT doc_id, lang, hits_en, hits_de, hits_es, hits_fr, hits_zh,
       |  CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh AND hits_en > 0 THEN 'en'
       |       WHEN hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh AND hits_de > 0 THEN 'de'
       |       WHEN hits_es >= hits_fr AND hits_es >= hits_zh AND hits_es > 0 THEN 'es'
       |       WHEN hits_fr >= hits_zh AND hits_fr > 0 THEN 'fr'
       |       WHEN hits_zh > 0 THEN 'zh'
       |       ELSE 'und' END AS predicted
       |FROM (SELECT doc_id, lang, text,
       |  $hits
       |FROM documents) ORDER BY doc_id""".stripMargin
  }

  // --- Q23c: quality scoring (length / type-token ratio / stopword ratio) --
  /** Per-doc composite quality — ONE definition shared by q23_quality and
    * the quality-aware dedup verdict (q26_quality_survivors), so the two
    * lanes and their oracles cannot drift. Row-local: scan-speed at any
    * scale. */
  private[queries] def qualityScored(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_stop", size(expr(
        "filter(toks, t -> t IN ('the','a','of','and'))")).cast("long"))
      .withColumn("ttr", col("n_uniq").cast("double") / col("n_toks").cast("double"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_toks").cast("double"))
      .withColumn("len_score", least(col("n_toks").cast("double") / lit(100.0), lit(1.0)))
      .withColumn("quality",
        lit(0.4) * col("len_score") + lit(0.3) * col("ttr") + lit(0.3) * col("stop_ratio"))

  /** DuckDB twin of the token metrics every quality lane consumes — the
    * ONE definition of tokenization + the stopword list on the oracle side
    * (qualityScoredDuck, q23QualitySql, q23FilterVerdictSql all embed
    * this); `toks` is retained for lanes that derive more (n-grams). */
  private[queries] val textMetricsDuck: String =
    """SELECT doc_id, toks,
      |    CAST(len(toks) AS BIGINT) AS n_toks,
      |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
      |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and'], t))) AS BIGINT) AS n_stop
      |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)""".stripMargin

  /** DuckDB twin of [[qualityScored]] restricted to (doc_id, quality) — a
    * CTE body both oracle SQLs embed. */
  private[queries] val qualityScoredDuck: String =
    s"""SELECT doc_id,
      |  0.4 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0)
      |    + 0.3 * (CAST(n_uniq AS DOUBLE) / CAST(n_toks AS DOUBLE))
      |    + 0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_toks AS DOUBLE)) AS quality
      |FROM ($textMetricsDuck)""".stripMargin

  def q23Quality(spark: SparkSession, dir: String): DataFrame =
    qualityScored(spark, dir)
      .select(col("doc_id"), col("n_toks"), col("n_uniq"), col("n_stop"),
        col("ttr"), col("stop_ratio"), col("len_score"), col("quality"))
      .orderBy(col("doc_id"))

  val q23QualitySql: String =
    s"""SELECT doc_id, n_toks, n_uniq, n_stop,
      |  CAST(n_uniq AS DOUBLE) / CAST(n_toks AS DOUBLE) AS ttr,
      |  CAST(n_stop AS DOUBLE) / CAST(n_toks AS DOUBLE) AS stop_ratio,
      |  least(CAST(n_toks AS DOUBLE) / 100.0, 1.0) AS len_score,
      |  0.4 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0)
      |    + 0.3 * (CAST(n_uniq AS DOUBLE) / CAST(n_toks AS DOUBLE))
      |    + 0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_toks AS DOUBLE)) AS quality
      |FROM ($textMetricsDuck)
      |ORDER BY doc_id""".stripMargin

  // --- Q23c': quality FILTER VERDICT — the C4/Gopher-style decision lane ---
  // Scoring (q23_quality) answers "how good"; this answers "in or out and
  // WHY": rule chain too_short → repetitive → low_ttr → low_stopword, the
  // first failed rule named so corpus triage can histogram drop reasons.
  // All metrics share their single definitions (qualityScored, the
  // repetition n-gram builder) — thresholds are the only new code. Entirely
  // row-local: scan-speed at 100 TB, and the reason histogram downstream is
  // one tiny hash agg.
  def q23FilterVerdict(spark: SparkSession, dir: String): DataFrame =
    qualityScored(spark, dir)
      .withColumn("g3", expr(ngramExpr(3)))
      .withColumn("dup3", expr(
        "1.0 - CAST(size(array_distinct(g3)) AS DOUBLE) / CAST(nullif(size(g3), 0) AS DOUBLE)"))
      .withColumn("reason",
        when(col("n_toks") < 25, "too_short")
          .when(col("dup3") > 0.10, "repetitive")
          .when(col("ttr") < 0.33, "low_ttr")
          .when(col("stop_ratio") < 0.01, "low_stopword"))
      .withColumn("keep", col("reason").isNull)
      .select(col("doc_id"), col("n_toks"), col("ttr"), col("stop_ratio"),
        col("dup3"), col("keep"), col("reason"))
      .orderBy(col("doc_id"))

  val q23FilterVerdictSql: String =
    s"""SELECT doc_id, n_toks, ttr, stop_ratio, dup3,
       |  reason IS NULL AS keep, reason
       |FROM (
       |  SELECT doc_id, n_toks, ttr, stop_ratio, dup3,
       |    CASE WHEN n_toks < 25 THEN 'too_short'
       |         WHEN dup3 > 0.10 THEN 'repetitive'
       |         WHEN ttr < 0.33 THEN 'low_ttr'
       |         WHEN stop_ratio < 0.01 THEN 'low_stopword' END AS reason
       |  FROM (
       |    SELECT doc_id, n_toks,
       |      CAST(n_uniq AS DOUBLE) / CAST(n_toks AS DOUBLE) AS ttr,
       |      CAST(n_stop AS DOUBLE) / CAST(n_toks AS DOUBLE) AS stop_ratio,
       |      1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
       |        / CAST(nullif(len(g3), 0) AS DOUBLE) AS dup3
       |    FROM (SELECT *, ${ngramDuck(3)} AS g3 FROM ($textMetricsDuck))))
       |ORDER BY doc_id""".stripMargin

  // --- Q23d: token counting (whitespace + BPE-ish regex lanes) -------------
  def q23TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_toks"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long").as("alpha_toks"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe_ish_toks"),
        (length(col("text")).cast("double") / lit(4.0)).as("est_llm_toks"))
      .orderBy(col("doc_id"))

  val q23TokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text,' ')) AS BIGINT) AS ws_toks,
      |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS alpha_toks,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_ish_toks,
      |  CAST(length(text) AS DOUBLE) / 4.0 AS est_llm_toks
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- Q23e: document fingerprint (rolling polynomial hash over tokens) ----
  // fp = foldl (acc*31 + h60(tok) mod p) mod p, p = 1e9+7: order-sensitive,
  // collision-resistant enough for curation bookkeeping, O(tokens) per doc.
  def q23Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("fp", expr(
        s"""aggregate(
           |  transform(split(text, ' '), t -> ${h60("t")} % 1000000007L),
           |  0L, (acc, h) -> (acc * 31L + h) % 1000000007L)""".stripMargin))
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))

  val q23FingerprintSql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text,' '), t -> ${h60d("t")} % 1000000007)),
       |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  // --- Q23k: corpus word-frequency quality score (CCNet-style proxy) -------
  // Per-doc mean corpus probability of its tokens: (Σ_tok tf·n_tok) /
  // (n_toks · N). High = head-heavy/boilerplate-ish text, low = rare-token-
  // heavy — the word-frequency half of CCNet's LM quality filter, kept in
  // integer arithmetic (BIGINT sums, ONE final IEEE division) because ln()
  // differs in the last ulp across libm implementations (see q23_tfidf).
  // Scale: tf pre-agg map-side-combines away within-doc repeats BEFORE the
  // vocab join, so the probe side is (doc, distinct-tok) not raw tokens;
  // the join key is Zipf-skewed but the build side is one row per token —
  // exactly the AQE-skew-splittable shape. N rides as a broadcast one-row
  // frame (no driver-side count). At extreme corpus sizes (N² > 2⁶³) the
  // sum_freq column switches to DOUBLE — bit-exactness is a test-gate
  // property, not a production invariant.
  def q23WordFreq(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      // barrier (r12 ScanAudit): tf feeds the vocab chain AND the scoring
      // join — unbarriered, the tokenize+count pass ran 3× (vocab, total
      // through vocab, probe side)
      .localCheckpoint(true)
    val vocab = tf.groupBy(col("tok")).agg(sum(col("tf")).as("n"))
    val total = vocab.agg(sum(col("n")).as("n_total"))
    tf.join(vocab, "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_toks"),
        sum(col("tf") * col("n")).as("sum_freq"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_toks"), col("sum_freq"),
        (col("sum_freq").cast("double") /
          (col("n_toks") * col("n_total")).cast("double")).as("mean_prob"))
      .orderBy(col("doc_id"))
  }

  val q23WordFreqSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1,2),
      |vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM vocab),
      |d AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_toks,
      |             CAST(sum(tf.tf * vocab.n) AS BIGINT) AS sum_freq
      |      FROM tf JOIN vocab USING (tok) GROUP BY 1)
      |SELECT doc_id, n_toks, sum_freq,
      |       CAST(sum_freq AS DOUBLE) / CAST(n_toks * n_total AS DOUBLE) AS mean_prob
      |FROM d CROSS JOIN tot ORDER BY doc_id""".stripMargin

  // --- Q23l: Zipf-rank quality profile (rank-based CCNet-style signal) -----
  // q23_wordfreq's mean corpus probability is dominated by a doc's few
  // most-frequent tokens; this lane is its outlier-robust rank twin: each
  // vocabulary token gets its Zipf rank (1 = most frequent; total order
  // via (n DESC, tok)), and each doc reports the tf-WEIGHTED MEDIAN rank
  // of its tokens plus the share of tokens in the top-100 head. Rare-token
  // gibberish → high median rank; boilerplate → head_ratio ≈ 1. All
  // integer arithmetic until the final division/interpolation, so the
  // oracle is bit-exact: Spark's percentile(rank, 0.5, tf) and DuckDB's
  // occurrence-level median() interpolate at the same (N−1)/2 position
  // over integer ranks — halves are exact in double.
  // Scale: the tf pre-agg collapses within-doc repeats before the vocab
  // join (same shape as q23_wordfreq — AQE-skew-splittable probe, one-row
  // build per token); the weighted percentile runs on (doc, distinct-tok)
  // rows, never raw occurrences. The rank window is a single global sort
  // OF THE VOCABULARY — millions of rows at 100 TB, not corpus-sized; a
  // deployment past that swaps in zipWithIndex over the sorted vocab.
  def q23ZipfRank(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val ranked = tf.groupBy(col("tok")).agg(sum(col("tf")).as("n"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("tok"))))
    tf.join(ranked, "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_toks"),
        expr("percentile(rank, 0.5D, tf)").as("median_rank"),
        sum(when(col("rank") <= 100, col("tf")).otherwise(0L)).as("head_toks"))
      .select(col("doc_id"), col("n_toks"), col("median_rank"), col("head_toks"),
        (col("head_toks").cast("double") / col("n_toks").cast("double")).as("head_ratio"))
      .orderBy(col("doc_id"))
  }

  val q23ZipfRankSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1,2),
      |vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY 1),
      |ranked AS (SELECT tok, CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rank
      |           FROM vocab),
      |occ AS (SELECT t.doc_id, r.rank FROM toks t JOIN ranked r USING (tok)),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
      |               median(rank) AS median_rank,
      |               CAST(sum(CASE WHEN rank <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS head_toks
      |        FROM occ GROUP BY 1)
      |SELECT doc_id, n_toks, CAST(median_rank AS DOUBLE) AS median_rank, head_toks,
      |       CAST(head_toks AS DOUBLE) / CAST(n_toks AS DOUBLE) AS head_ratio
      |FROM agg ORDER BY doc_id""".stripMargin

  // --- Q26e: C4-style duplicated-span REMOVAL with doc rebuild -------------
  // q26_span_dup FLAGS pairs sharing a span; this lane REMOVES: every
  // 20-token chunk that occurs more than once corpus-wide keeps only its
  // global first occurrence (min (doc_id, pos)), and each doc is rebuilt
  // from its surviving chunks — the C4 paper's three-sentence-span rule
  // re-expressed over token windows. First-occurrence via a map-side-
  // combining min(struct) agg, NOT a window over the (viral-key-skewed)
  // chunk hash; the keeper join is probe-side skew with a 1-row build side
  // per key — AQE-skew-splittable. Rebuild arrays are bounded by doc
  // length. The chunk projection feeds three consumers (keeper agg, probe,
  // totals) — checkpointed once.
  def q26ParaDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("s", explode(expr("sequence(1, size(toks), 20)")))
      .select(col("doc_id"),
        expr("CAST((s - 1) DIV 20 AS BIGINT)").as("pos"),
        expr("concat_ws(' ', slice(toks, s, 20))").as("chunk"))
      .withColumn("h", md5(col("chunk")))
      .localCheckpoint()
    val keeper = chunks.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
      .select(col("h"), col("k.doc_id").as("kdoc"), col("k.pos").as("kpos"))
    val rebuilt = chunks.join(keeper, "h")
      .filter(col("doc_id") === col("kdoc") && col("pos") === col("kpos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("concat_ws(' ', transform(array_sort(collect_list(struct(pos, chunk))), x -> x.chunk))")
          .as("cleaned"))
    chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy(col("doc_id"))
  }

  val q26ParaDedupSql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |c AS (SELECT doc_id, CAST((s - 1) // 20 AS BIGINT) AS pos,
      |        array_to_string(list_slice(toks, s, least(s + 19, len(toks))), ' ') AS chunk
      |      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 20)) AS s FROM t)),
      |ch AS (SELECT *, md5(chunk) AS h FROM c),
      |k AS (SELECT doc_id, pos, chunk,
      |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM ch),
      |kept AS (SELECT doc_id, pos, chunk FROM k WHERE rn = 1),
      |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |        string_agg(chunk, ' ' ORDER BY pos) AS cleaned FROM kept GROUP BY 1),
      |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM ch GROUP BY 1)
      |SELECT tot.doc_id, coalesce(r.cleaned, '') AS cleaned, tot.n_chunks,
      |       tot.n_chunks - coalesce(r.n_kept, 0) AS n_removed
      |FROM tot LEFT JOIN r ON tot.doc_id = r.doc_id
      |ORDER BY tot.doc_id""".stripMargin

  // --- Q26: exact-normalized near-dup clusters (hash-group dedup) ----------
  // md5 over whitespace-collapsed lowercase text; cluster size via window.
  // Scale: one hash-shuffle on the 128-bit key — the canonical first pass of
  // any 100 TB dedup pipeline (cheap, exact, removes the bulk).
  def q26NearDupCluster(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("norm_hash"))
    Tables.documents(spark, dir)
      .withColumn("norm_hash", md5(lower(regexp_replace(col("text"), "\\s+", " "))))
      .withColumn("n_cluster", count(lit(1)).over(w))
      .withColumn("is_dup", (col("n_cluster") > 1))
      .select(col("doc_id"), col("norm_hash"), col("n_cluster"), col("is_dup"))
      .orderBy(col("doc_id"))
  }

  val q26NearDupClusterSql: String =
    """SELECT doc_id, norm_hash,
      |       CAST(count(*) OVER (PARTITION BY norm_hash) AS BIGINT) AS n_cluster,
      |       (count(*) OVER (PARTITION BY norm_hash)) > 1 AS is_dup
      |FROM (SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_hash
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // --- Q23g: repetition ratio (Gopher-style duplicate n-gram filter) -------
  // Within-doc duplicate-bigram/-trigram fraction: 1 − distinct/total. High
  // values mark boilerplate/looping text a training pipeline drops. Entirely
  // row-local (no shuffle; the only exchange is the output sort) — at 100 TB
  // this runs at scan speed.
  // The IF guard is load-bearing: Spark's sequence(1, 0) DESCENDS ([1, 0] —
  // default step −1 when start > stop), so a doc with < n tokens would hit
  // element_at(toks, 0) → INVALID_INDEX_OF_ZERO and kill the whole query
  // (DuckDB's generate_series(1, 0) is empty — crash + oracle divergence).
  private[queries] def ngramExpr(n: Int): String = {
    val parts = (0 until n).map(j => s"element_at(toks, i+$j)").mkString(", ")
    s"IF(size(toks) >= $n, transform(sequence(1, size(toks) - ${n - 1}), " +
      s"i -> concat_ws(' ', $parts)), CAST(array() AS ARRAY<STRING>))"
  }

  private[queries] def ngramDuck(n: Int): String = {
    val parts = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"list_transform(generate_series(1, greatest(len(toks) - ${n - 1}, 0)), i -> $parts)"
  }

  def q23Repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("g2", expr(ngramExpr(2)))
      .withColumn("g3", expr(ngramExpr(3)))
      .withColumn("n2", size(col("g2")).cast("long"))
      .withColumn("d2", size(array_distinct(col("g2"))).cast("long"))
      .withColumn("n3", size(col("g3")).cast("long"))
      .withColumn("d3", size(array_distinct(col("g3"))).cast("long"))
      // nullif: a guarded-empty n-gram list (doc shorter than n) has n=0 —
      // ANSI mode would throw DIVIDE_BY_ZERO; null matches DuckDB
      .withColumn("dup2", expr("1.0 - CAST(d2 AS DOUBLE) / CAST(nullif(n2, 0L) AS DOUBLE)"))
      .withColumn("dup3", expr("1.0 - CAST(d3 AS DOUBLE) / CAST(nullif(n3, 0L) AS DOUBLE)"))
      .withColumn("flagged", col("dup2") > 0.15 || col("dup3") > 0.10)
      .select(col("doc_id"), col("n2"), col("d2"), col("dup2"),
        col("n3"), col("d3"), col("dup3"), col("flagged"))
      .orderBy(col("doc_id"))

  val q23RepetitionSql: String =
    s"""SELECT doc_id, n2, d2,
       |  1.0 - CAST(d2 AS DOUBLE) / CAST(nullif(n2, 0) AS DOUBLE) AS dup2,
       |  n3, d3,
       |  1.0 - CAST(d3 AS DOUBLE) / CAST(nullif(n3, 0) AS DOUBLE) AS dup3,
       |  (1.0 - CAST(d2 AS DOUBLE) / CAST(nullif(n2, 0) AS DOUBLE)) > 0.15
       |    OR (1.0 - CAST(d3 AS DOUBLE) / CAST(nullif(n3, 0) AS DOUBLE)) > 0.10 AS flagged
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(g2) AS BIGINT) AS n2, CAST(len(list_distinct(g2)) AS BIGINT) AS d2,
       |    CAST(len(g3) AS BIGINT) AS n3, CAST(len(list_distinct(g3)) AS BIGINT) AS d3
       |  FROM (SELECT doc_id, ${ngramDuck(2)} AS g2, ${ngramDuck(3)} AS g3
       |        FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)))
       |ORDER BY doc_id""".stripMargin

  // --- Q23h: document CHUNKING — overlapping token windows -----------------
  // The embedding/RAG prep step: 50-token chunks on a 40-token stride
  // (10-token overlap). Chunk starts come from sequence(1, n_toks, 40) —
  // an ASCENDING sequence by construction (start 1 ≤ stop ≥ 1), so no
  // short-doc hazard; Spark's slice() caps at the array end and the oracle
  // caps explicitly. chunk_no derives from the start offset ((s−1)/40,
  // integer-exact) rather than an explode ordinal, so no position-parity
  // concern. Row-local explode — scan-speed at 100 TB; chunk text leaves
  // as an md5 fingerprint (checked surface keeps outputs scalar + small).
  def q23Chunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("s", explode(expr("sequence(1, size(toks), 40)")))
      .select(
        col("doc_id"),
        expr("CAST((s - 1) DIV 40 AS BIGINT)").as("chunk_no"),
        col("s").cast("long").as("start_tok"),
        expr("CAST(size(slice(toks, s, 50)) AS BIGINT)").as("n_chunk_toks"),
        expr("md5(concat_ws(' ', slice(toks, s, 50)))").as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_no"))

  val q23ChunksSql: String =
    """SELECT doc_id,
      |       CAST((s - 1) // 40 AS BIGINT) AS chunk_no,
      |       CAST(s AS BIGINT) AS start_tok,
      |       CAST(len(list_slice(toks, s, least(s + 49, len(toks)))) AS BIGINT) AS n_chunk_toks,
      |       md5(array_to_string(list_slice(toks, s, least(s + 49, len(toks))), ' ')) AS chunk_md5
      |FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 40)) AS s
      |      FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents))
      |ORDER BY doc_id, chunk_no""".stripMargin

  // --- Q23i: CONTENT-DEFINED chunking — rolling-hash breakpoints -----------
  // q23_chunks' fixed stride breaks on edits: insert one token at the top
  // of a document and EVERY downstream chunk boundary shifts, so every
  // fingerprint changes and chunk-level dedup across document versions
  // finds nothing. Content-defined chunking (the rsync/LBFS/CDC family)
  // places boundaries where the CONTENT says so — after any token whose
  // 60-bit md5 hash ≡ 0 (mod 16), giving ~16-token expected chunks — so
  // an edit perturbs only the chunk containing it and fingerprints
  // re-align at the next content boundary. That is the property that
  // makes chunk-granular dedup of versioned/near-dup corpora work at
  // 100 TB (CdcChunksSpec proves it: a prefixed document shares every
  // chunk fingerprint except its first).
  //
  // Shape: entirely row-local (scan-speed; boundary positions via ONE
  // compiled hash60_arr pass + a filter over sequence — no prefix-sum
  // window, no shuffle). Chunk k spans (bnd[k-1], bnd[k]]; the one
  // possibly-empty tail chunk (text ending exactly on a boundary) is
  // dropped by the end ≥ start guard. The oracle replays the identical
  // boundary arithmetic on DuckDB's list primitives.
  def q23CdcChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      // ONE hash60_arr pass feeds the index-aware transform (hoisting it
      // into a lambda over positions would re-digest the whole array per
      // element); boundary positions are 1-based, non-boundaries map to 0
      // and are filtered out
      .withColumn("bnd",
        expr("filter(transform(hash60_arr(toks), (h, i) -> " +
          "IF(h % 16 = 0, i + 1, 0)), p -> p > 0)"))
      .withColumn("k", explode(expr("sequence(1, size(bnd) + 1)")))
      .withColumn("start_tok",
        expr("CASE WHEN k = 1 THEN 1 ELSE element_at(bnd, k - 1) + 1 END"))
      .withColumn("end_tok",
        expr("CASE WHEN k = size(bnd) + 1 THEN size(toks) ELSE element_at(bnd, k) END"))
      .filter(col("end_tok") >= col("start_tok"))
      .select(col("doc_id"),
        col("k").cast("long").as("chunk_no"),
        col("start_tok").cast("long").as("start_tok"),
        (col("end_tok") - col("start_tok") + 1).cast("long").as("n_toks"),
        expr("md5(concat_ws(' ', slice(toks, start_tok, end_tok - start_tok + 1)))")
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_no"))

  val q23CdcChunksSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |b AS (SELECT doc_id, toks,
       |        list_filter(generate_series(1, len(toks)),
       |                    i -> ${h60d("toks[i]")} % 16 = 0) AS bnd
       |      FROM t),
       |e AS (SELECT doc_id, toks, bnd, unnest(generate_series(1, len(bnd) + 1)) AS k
       |      FROM b),
       |c AS (SELECT doc_id, k,
       |        CASE WHEN k = 1 THEN 1 ELSE bnd[k - 1] + 1 END AS start_tok,
       |        CASE WHEN k = len(bnd) + 1 THEN len(toks) ELSE bnd[k] END AS end_tok,
       |        toks
       |      FROM e)
       |SELECT doc_id, CAST(k AS BIGINT) AS chunk_no,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(end_tok - start_tok + 1 AS BIGINT) AS n_toks,
       |  md5(array_to_string(list_slice(toks, start_tok, end_tok), ' ')) AS chunk_md5
       |FROM c WHERE end_tok >= start_tok
       |ORDER BY doc_id, chunk_no""".stripMargin

  // --- Q23k: BM25 relevance scoring --------------------------------------
  // The retrieval-side text op (dedup/curation's sibling): Okapi BM25 of a
  // fixed 3-term query over every document — k1 = 1.2, b = 0.75, idf =
  // ln(1 + (N − df + ½)/(df + ½)). Shape at 100 TB: per-doc tf/dl are
  // row-local array ops (scan speed, no corpus shuffle); the ONLY global
  // state is a one-row stats frame (N, Σdl, per-term df — a single
  // map-side-combining pass) broadcast-crossed in, the engine's standard
  // scalar-frame pattern. Determinism: every operand is integer-derived,
  // the arithmetic tree is written identically on both engines (same
  // precedence, same order), ln is empirically bit-identical between
  // Java's Math.log and DuckDB's libm ln (round-10 probe), and the final
  // score is floor-rounded at 1e-9 (q44_stats' convention) so a last-ULP
  // wobble cannot move the hash.
  private val Bm25Terms = Seq("join", "customer", "scan")

  def q23Bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("dl", size(col("toks")).cast("long"))
    val dfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(col("toks"), t), 1L).otherwise(0L)).as(s"df$i")
    }
    val statCols = Seq(sum(col("dl")).as("tot_toks")) ++ dfCols
    val stats = docs.agg(count(lit(1)).as("n_docs"), statCols: _*)
    val contrib = Bm25Terms.indices.map { i =>
      s"""(ln(1.0d + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5d)
         |   / (CAST(df$i AS DOUBLE) + 0.5d))
         | * (CAST(tf$i AS DOUBLE) * 2.2d)
         | / (CAST(tf$i AS DOUBLE)
         |    + 1.2d * (0.25d + 0.75d * CAST(dl AS DOUBLE) / avgdl)))""".stripMargin
    }.mkString(" + ")
    Bm25Terms.zipWithIndex.foldLeft(docs.crossJoin(broadcast(stats))) {
        case (d, (t, i)) =>
          d.withColumn(s"tf$i", expr(s"size(filter(toks, x -> x = '$t'))").cast("long"))
      }
      .withColumn("avgdl",
        expr("CAST(tot_toks AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
      .withColumn("score", expr(s"floor(($contrib) * 1e9) / 1e9"))
      .select(col("doc_id"), col("tf0"), col("tf1"), col("tf2"),
        col("dl"), col("score"))
      .orderBy(col("doc_id"))
  }

  val q23Bm25Sql: String = {
    val dfSel = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(", ")
    val tfSel = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(", ")
    val contrib = Bm25Terms.indices.map { i =>
      s"""(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
         |   / (CAST(df$i AS DOUBLE) + 0.5))
         | * (CAST(tf$i AS DOUBLE) * 2.2)
         | / (CAST(tf$i AS DOUBLE)
         |    + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))""".stripMargin
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |           FROM documents),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(dl) AS BIGINT) AS tot_toks, $dfSel FROM t),
       |d AS (SELECT doc_id, dl, $tfSel,
       |        CAST(tot_toks AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
       |        n_docs, df0, df1, df2
       |      FROM t CROSS JOIN s)
       |SELECT doc_id, tf0, tf1, tf2, dl,
       |  floor(($contrib) * 1e9) / 1e9 AS score
       |FROM d ORDER BY doc_id""".stripMargin
  }

  // --- Q46: heavy hitters — bounded-memory frequent items ------------------
  // q23_top_terms' exact counts need a full-vocabulary shuffle; at 10¹²
  // tokens the single-pass answer is a Misra-Gries summary (freq_sketch,
  // functions.FreqSketch): k counters per partition, map-side mergeable,
  // deterministic guarantees (underestimate-only, error ≤ n/(k+1),
  // anything above n/(k+1) guaranteed present — FreqSketchSpec proves all
  // three across merge topologies). The lane runs the sketch per lang
  // (k = 8, deliberately smaller than the vocabulary so eviction really
  // fires at test SF) and AUDITS it in place against the exact counts —
  // every emitted row carries its own bound verdicts.
  def q46HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
    val sk = toks.groupBy(col("lang"))
      .agg(expr("freq_sketch(tok, 8)").as("sk"), count(lit(1)).as("n_toks"))
      .select(col("lang"), col("n_toks"), explode(col("sk")).as("e"))
      .select(col("lang"), col("n_toks"),
        col("e.item").as("item"), col("e.est").as("est"))
      .alias("s")
    val exact = toks.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("true_cnt")).alias("x")
    sk.join(exact,
        col("s.lang") === col("x.lang") && col("s.item") === col("x.tok"))
      .select(col("s.lang").as("lang"), col("item"), col("est"),
        col("true_cnt"), col("n_toks"),
        (col("est") <= col("true_cnt")).as("under_ok"),
        // integer error vs real bound n/(k+1) ⇒ error ≤ floor(n/9) exactly
        (col("true_cnt") - col("est") <= expr("n_toks div 9")).as("band_ok"))
      .orderBy(col("lang"), col("item"))
  }

  // --- Q23j: PII redaction (email / phone / numeric-id) --------------------
  // Row-local regexp_replace chain emitting the redacted text plus per-rule
  // match counts — the pass every production curation pipeline runs before
  // training, and table stakes in the reference's health-data domain. The
  // synthetic corpus carries no digits at all, so the lane deterministically
  // INJECTS hash-derived PII (email from doc_id, 10-digit phone and 8-digit
  // id from md5 digits) into the text and then redacts it: both engines
  // replay the injection, both run the chain, counts are provably nonzero,
  // and the whole round trip is hash-checked.
  //
  // Cross-engine regex notes (Java vs RE2): ASCII classes, bounded
  // repetition and alternation-free patterns only — identical semantics;
  // counts via regexp_extract_all (explicit group 0 — Spark defaults to
  // group 1); DuckDB regexp_replace needs the 'g' flag (it replaces only
  // the FIRST match by default; Spark replaces all).
  // Rule order matters and is identical on both sides: email first (its
  // local part may contain digits), then phone, then bare ids — replacement
  // tokens carry no digits, so later rules never re-match earlier output.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val IdRe    = "[0-9]{6,}"

  def q23Redact(spark: SparkSession, dir: String): DataFrame = {
    val ph = s"lpad(CAST(${h60("CONCAT(CAST(doc_id AS STRING), ':ph')")} % 10000000000 AS STRING), 10, '0')"
    val idd = s"lpad(CAST(${h60("CONCAT(CAST(doc_id AS STRING), ':id')")} % 100000000 AS STRING), 8, '0')"
    Tables.documents(spark, dir)
      .withColumn("raw", expr(
        s"""concat(coalesce(text, ''), ' contact user', CAST(doc_id AS STRING),
           |'@example.org or +1-', substr($ph, 1, 3), '-', substr($ph, 4, 3),
           |'-', substr($ph, 7, 4), ' ref ', $idd)""".stripMargin.replace("\n", " ")))
      .select(
        col("doc_id"),
        // typed API, not expr(): SQL string literals re-process backslash
        // escapes, which would silently corrupt \. in the pattern
        size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]"),
          IdRe, "[ID]").as("redacted"))
      .withColumn("clean", size(regexp_extract_all(col("redacted"), lit("[0-9]"), lit(0))) === 0)
      .orderBy(col("doc_id"))
  }

  val q23RedactSql: String = {
    val ph = s"lpad((${h60d("doc_id::VARCHAR || ':ph'")} % 10000000000)::VARCHAR, 10, '0')"
    val idd = s"lpad((${h60d("doc_id::VARCHAR || ':id'")} % 100000000)::VARCHAR, 8, '0')"
    s"""WITH r AS (SELECT doc_id,
       |  coalesce(text, '') || ' contact user' || doc_id::VARCHAR || '@example.org or +1-' ||
       |  substr($ph, 1, 3) || '-' || substr($ph, 4, 3) || '-' || substr($ph, 7, 4) ||
       |  ' ref ' || $idd AS raw
       |  FROM documents),
       |red AS (SELECT doc_id,
       |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(raw,
       |    '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g'), '$IdRe', '[ID]', 'g') AS redacted
       |  FROM r)
       |SELECT doc_id, n_emails, n_phones, redacted,
       |       len(regexp_extract_all(redacted, '[0-9]')) = 0 AS clean
       |FROM red ORDER BY doc_id""".stripMargin
  }

  // --- Q23m: compressibility quality signal (deflate ratio) ----------------
  // `raw_bytes / deflate_bytes` at scan speed: boilerplate/machine text
  // compresses hard (high ratio), natural prose sits near ~1.5–3×. The
  // signal rides the codegen'd `deflate_len` Expression (thread-local
  // Deflater, see its scaladoc) — a pure row-local projection, zero
  // shuffles except the presentation sort. DeflateLenSpec pins the
  // semantics (repetitive ≫ prose ratio, interpreted/codegen parity,
  // determinism).
  def q23Compress(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"), // UTF-8 bytes, matches what deflate saw
        expr("deflate_len(text)").cast("long").as("deflate_bytes"))
      .withColumn("compress_ratio",
        col("n_bytes").cast("double") / col("deflate_bytes").cast("double"))
      .orderBy(col("doc_id"))
  }

  // --- Q23n: tokenize WITH positions — the custom-Generator lane -----------
  // One row per token carrying (pos, start_char, tok) from the
  // `tokenize_pos` Generator (`functions.TokenizePos` — the offsets fall
  // out of the forward scan tokenization already does; recovering them
  // from posexplode output would need a prefix-sum window = an extra
  // shuffle, which is exactly what the oracle SQL has to do). Row-local
  // Generate, no shuffle but the presentation sort. The substr-law
  // (`substr(text, start_char+1, len(tok)) = tok`) is spec-pinned in
  // TokenizePosSpec; the oracle pins cross-engine offset agreement.
  def q23TokensPos(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        expr("tokenize_pos(text)").as(Seq("pos", "start_char", "tok")))
      .orderBy(col("doc_id"), col("pos"))
  }

  val q23TokensPosSql: String =
    """SELECT doc_id, CAST(i - 1 AS INT) AS pos,
      |  CAST(coalesce(sum(len(toks[i]) + 1) OVER (
      |    PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS start_char,
      |  toks[i] AS tok
      |FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents WHERE doc_id % 10 = 0),
      |     LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
      |ORDER BY doc_id, pos""".stripMargin

  // --- Q57: BPE vocabulary induction (merge rounds) ------------------------
  // The tokenizer-training step itself, Spark-first: classic byte-pair
  // encoding over the word-frequency table — count adjacent symbol pairs
  // weighted by word frequency, take the best pair (max count, then
  // lexicographic (a, b) tie-break — ASCII corpus, so Spark/DuckDB binary
  // string orders agree), merge its non-overlapping occurrences in every
  // word (two-pass replace semantics below: on an odd self-pair chain the
  // merge count equals greedy's but alternate occurrences fuse — a pinned,
  // engine-identical order), repeat. Three rounds unrolled so the DuckDB
  // oracle can replay the whole induction as chained CTEs, hash-exact.
  //
  // Pair counting is the NAIVE adjacent count (overlapping occurrences of
  // a self-pair like (a,a) in "aaa" count twice) — the original BPE
  // formulation; the contract both engines replay.
  //
  // The greedy merge runs in STRING space: symbols joined with chr(1)
  // sentinels and the pattern chr(1)·a·chr(1)·b·chr(1) replaced TWICE —
  // replace() consumes the shared trailing sentinel of adjacent
  // occurrences, so one pass merges alternate occurrences of a chain and
  // the second pass catches the now-isolated rest (two passes always
  // suffice: after pass one every remaining occurrence is flanked by
  // merged symbols or chain ends). Both engines' replace() is literal,
  // non-overlapping, left-to-right — probe-confirmed identical. Sentinel
  // flanking makes multi-char symbols unambiguous (no false sub-symbol
  // matches), with no regex lookbehind — DuckDB's RE2 has none.
  //
  // Scale shape: ONE corpus pass builds the word-frequency table (the
  // only big shuffle); every round then runs over DISTINCT WORDS (vocab-
  // sized, ~10⁵ even at 100 TB — Heaps' law), with the best pair as a
  // one-row driver scalar (the single-row-agg allowance). Rounds are
  // sequential by nature (each merge depends on the last) — the
  // parallelism that matters is inside the round, and it's a plain agg.
  private val BpeRounds = 3

  /** Factored core: docs(text) → (round, sym_a, sym_b, merged, pair_count),
    * one row per merge round. */
  private[graft] def bpeMergesFrom(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .withColumn("s", expr(
        "concat(chr(1), array_join(transform(sequence(1, length(w)), " +
          "i -> substr(w, i, 1)), chr(1)), chr(1))"))
      .select(col("s"), col("wc"))
      .persist()
    val out = scala.collection.mutable.Buffer[(Int, String, String, String, Long)]()
    try {
      var cur: DataFrame = words
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val best = cur
          .withColumn("syms", expr("filter(split(s, chr(1)), x -> x <> '')"))
          .filter(size(col("syms")) >= 2)
          .withColumn("i", explode(expr("sequence(1, size(syms) - 1)")))
          .select(expr("element_at(syms, i)").as("a"),
            expr("element_at(syms, i + 1)").as("b"), col("wc"))
          .groupBy(col("a"), col("b")).agg(sum(col("wc")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
          .collect()
        if (best.isEmpty) {
          // every word fully merged — the oracle's later b_r CTEs are empty
          // (LIMIT 1 of nothing, cross-joined forward), so its UNION ALL
          // also stops emitting rows: the engines agree on the short output
          exhausted = true
        } else {
          val (a, b, cnt) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          out += ((r, a, b, a + b, cnt))
          val pat = "\u0001" + a + "\u0001" + b + "\u0001"
          val rep = "\u0001" + a + b + "\u0001"
          cur = cur.withColumn("s",
            call_function("replace",
              call_function("replace", col("s"), lit(pat), lit(rep)),
              lit(pat), lit(rep)))
          r += 1
        }
      }
    } finally words.unpersist()
    out.toSeq.toDF("round", "sym_a", "sym_b", "merged", "pair_count")
      .orderBy(col("round"))
  }

  def q57BpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesFrom(Tables.documents(spark, dir), BpeRounds)

  val q57BpeMergesSql: String = {
    val base =
      """wf AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
        |        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |      WHERE length(w) >= 2 GROUP BY w),
        |s0 AS (SELECT chr(1) || array_to_string(list_transform(
        |           generate_series(1, length(w)), i -> substr(w, i, 1)), chr(1))
        |         || chr(1) AS s, wc FROM wf)""".stripMargin
    val rounds = (1 to BpeRounds).map { r =>
      val p = r - 1
      s"""p$r AS (SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (SELECT syms, wc, unnest(generate_series(1, len(syms) - 1)) AS i
         |        FROM (SELECT list_filter(string_split(s, chr(1)), x -> x <> '') AS syms, wc
         |              FROM s$p) WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |s$r AS (SELECT replace(replace(s0x.s,
         |          chr(1) || b$r.a || chr(1) || b$r.b || chr(1),
         |          chr(1) || b$r.a || b$r.b || chr(1)),
         |          chr(1) || b$r.a || chr(1) || b$r.b || chr(1),
         |          chr(1) || b$r.a || b$r.b || chr(1)) AS s, s0x.wc
         |        FROM s$p s0x, b$r)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to BpeRounds).map { r =>
      s"SELECT $r AS round, a AS sym_a, b AS sym_b, a || b AS merged, cnt AS pair_count FROM b$r"
    }.mkString("\nUNION ALL\n")
    s"WITH $base,\n$rounds\n$sel\nORDER BY round"
  }

  // --- Q59: bigram-LM fluency scoring --------------------------------------
  // The perplexity-style quality signal with the transcendentals removed:
  // train a corpus bigram model (conditional frequencies c(a,b)/c(a,·)) and
  // score every doc by its mean bigram probability. log-perplexity would
  // need ln (last-ulp divergent across libm implementations — the q23_tfidf
  // finding), so the checked score is the MEAN of the conditional
  // probabilities, each pinned as INTEGER basis points —
  // (c_ab·10⁴) DIV c_a — so the per-doc sum is a BIGINT (order-free,
  // engine-exact, no decimal-rounding-mode parity question) and only the
  // final mean is one double division. Monotone enough for filtering: doc
  // text made of common continuations scores high, unseen-junk low.
  // Scale shape: two map-side-combining aggs build the model; scoring joins
  // the exploded bigram stream back on (a, b) and (a) — linear equi-joins,
  // AQE-skew-splittable (stopword prefixes are the hot keys); no n².
  // Overflow: c_ab·10⁴ < 2⁶³ holds to ~9·10¹⁴ occurrences of one bigram.
  def q59BigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLmFrom(Tables.documents(spark, dir))

  /** Factored core (lane + hand-corpus spec): docs(doc_id, text). */
  private[graft] def bigramLmFrom(docs: DataFrame): DataFrame = {
    val bigrams = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .withColumn("i", explode(expr("sequence(1, size(t) - 1)")))
      .select(col("doc_id"), expr("element_at(t, i)").as("a"),
        expr("element_at(t, i + 1)").as("b"))
    // r12 ScanAudit: bg, pre and the scoring join each re-ran the full
    // tokenize+explode (3 corpus passes). The prefix counts are algebraic
    // in the bigram model — c_a = SUM_b c_ab, identical integers — so pre
    // derives FROM the barriered bg and the explode runs twice (model
    // build + scoring), never three times.
    val bg = bigrams.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true)
    val pre = bg.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    bigrams.join(bg, Seq("a", "b")).join(pre, Seq("a"))
      .withColumn("r_bp", expr("(c_ab * 10000) DIV c_a"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("r_bp")).as("rs"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("rs").cast("double") /
          (col("n_bigrams") * 10000L).cast("double")).as("fluency"))
      .orderBy(col("doc_id"))
  }

  val q59BigramLmSql: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bgr AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b
      |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      |              FROM tk WHERE len(t) >= 2)),
      |bg AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bgr GROUP BY 1, 2),
      |pre AS (SELECT a, CAST(count(*) AS BIGINT) AS c_a FROM bgr GROUP BY 1),
      |r AS (SELECT doc_id, (c_ab * 10000) // c_a AS r_bp
      |      FROM bgr JOIN bg USING (a, b) JOIN pre USING (a))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       CAST(CAST(sum(r_bp) AS BIGINT) AS DOUBLE)
      |         / CAST(count(*) * 10000 AS DOUBLE) AS fluency
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- Q90: Simpson lexical diversity (entropy without the logarithm) ------
  // The corpus-health diversity number with the transcendental removed (ln
  // is last-ulp divergent across libm — the q23_tfidf/q59 rule): Simpson's
  // index Σpᵢ² and its inverse ("effective vocabulary" — the number of
  // equally-common types that would produce the same collision rate), both
  // in exact integer arithmetic. Per lang: simpson_bp = 10⁴·Σc² DIV N²,
  // eff_vocab = N² DIV Σc² — a uniform corpus of V types gives exactly V,
  // a single-type corpus gives 1. Σc² and N² ride DECIMAL(38,0)/HUGEINT
  // (a 10¹²-token hot word crosses 2⁶³ squared). Shapes: one row-local
  // explode at scan speed, one combining groupBy to the (lang, token)
  // vocabulary, one ≤|langs|-row final agg. No doubles anywhere.
  def q90Simpson(spark: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast(D) * col("c").cast(D)).as("sum_c2"))
      .select(col("lang"), col("n_tokens"), col("n_distinct"),
        expr("CAST(sum_c2 * 10000 div (CAST(n_tokens AS DECIMAL(38,0)) " +
          "* CAST(n_tokens AS DECIMAL(38,0))) AS BIGINT)").as("simpson_bp"),
        expr("CAST((CAST(n_tokens AS DECIMAL(38,0)) " +
          "* CAST(n_tokens AS DECIMAL(38,0))) div sum_c2 AS BIGINT)")
          .as("eff_vocab"))
      .orderBy(col("lang"))
  }

  val q90SimpsonSql: String =
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      |v AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      |      FROM tok GROUP BY 1, 2),
      |s AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
      |             CAST(count(*) AS BIGINT) AS n_distinct,
      |             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sum_c2
      |      FROM v GROUP BY 1)
      |SELECT lang, n_tokens, n_distinct,
      |       CAST(sum_c2 * 10000
      |            // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
      |         AS simpson_bp,
      |       CAST((CAST(n_tokens AS HUGEINT) * n_tokens) // sum_c2 AS BIGINT)
      |         AS eff_vocab
      |FROM s ORDER BY lang""".stripMargin

  // --- Q87: n-gram novelty vs a reference corpus half -----------------------
  // The contamination/freshness screen from the training-data playbook: how
  // much of the candidate half's trigram vocabulary is NEW relative to the
  // reference half? Split is deterministic doc_id parity (even = reference,
  // odd = candidate); per language the lane reports the candidate's distinct
  // trigram count, how many never occur in any reference doc, and the
  // novelty share in integer basis points (q59 DIV discipline — no doubles
  // at all). Scale shape: one row-local explode (scan-speed), ONE combining
  // groupBy on (lang, trigram) that collapses the stream to the vocabulary
  // (both parity flags fold as max() — map-side combinable), and a ≤|langs|-
  // row final agg. No join: the membership test IS the fold. At 100 TB the
  // only exchange is the vocabulary shuffle, hash-partitioned on the
  // (lang, tri) key — skew-free by construction (trigram keys are fine-
  // grained; no hot single key carries more than its occurrence fold).
  def q87NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val tri = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .select((col("doc_id") % 2).as("parity"), col("lang"),
        explode(expr(ngramExpr(3))).as("tri"))
    tri.groupBy(col("lang"), col("tri"))
      .agg(max(when(col("parity") === 0L, 1L).otherwise(0L)).as("in_ref"),
        max(col("parity")).as("in_cand"))
      .filter(col("in_cand") === 1L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tri"),
        sum(lit(1L) - col("in_ref")).as("n_new"))
      .select(col("lang"), col("n_tri"), col("n_new"),
        expr("n_new * 10000 div n_tri").as("novelty_bp"))
      .orderBy(col("lang"))
  }

  val q87NgramNoveltySql: String =
    s"""WITH tri AS (
       |  SELECT doc_id % 2 AS parity, lang, unnest(g3) AS tri
       |  FROM (SELECT doc_id, lang, ${ngramDuck(3)} AS g3
       |        FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
       |              FROM documents))),
       |v AS (
       |  SELECT lang, tri,
       |         max(CASE WHEN parity = 0 THEN 1 ELSE 0 END) AS in_ref,
       |         max(parity) AS in_cand
       |  FROM tri GROUP BY 1, 2)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_tri,
       |       CAST(sum(1 - in_ref) AS BIGINT) AS n_new,
       |       CAST(sum(1 - in_ref) AS BIGINT) * 10000
       |         // CAST(count(*) AS BIGINT) AS novelty_bp
       |FROM v WHERE in_cand = 1 GROUP BY lang ORDER BY lang""".stripMargin

  val lanes: Seq[Lane] = Seq(
    Lane("q90_simpson", q90Simpson, Exact(q90SimpsonSql)),
    Lane("q87_ngram_novelty", q87NgramNovelty, Exact(q87NgramNoveltySql)),
    Lane("q59_bigram_lm", q59BigramLm, Exact(q59BigramLmSql)),
    Lane("q57_bpe_merges", q57BpeMerges, Exact(q57BpeMergesSql)),
    Lane("q23_tokens_pos", q23TokensPos, Exact(q23TokensPosSql)),
    Lane("q23_compress", q23Compress, RowsOnly(
      "DuckDB has no deflate, so no cross-engine oracle exists; " +
      "DeflateLenSpec pins the ratio semantics")),
    Lane("q23_redact", q23Redact, Exact(q23RedactSql)),
    Lane("q23_wordfreq", q23WordFreq, Exact(q23WordFreqSql)),
    Lane("q23_zipf_rank", q23ZipfRank, Exact(q23ZipfRankSql)),
    Lane("q26_para_dedup", q26ParaDedup, Exact(q26ParaDedupSql)),
    Lane("q23_chunks", q23Chunks, Exact(q23ChunksSql)),
    Lane("q23_cdc_chunks", q23CdcChunks, Exact(q23CdcChunksSql)),
    Lane("q23_bm25", q23Bm25, Exact(q23Bm25Sql)),
    Lane("q46_heavy_hitters", q46HeavyHitters, RowsOnly(
      "the Misra-Gries summary is merge-order dependent inside its " +
      "guaranteed band; FreqSketchSpec pins the bounds")),
    Lane("q23_top_terms", q23TopTerms, Exact(q23TopTermsSql)),
    Lane("q23_lang_id", q23LangId, Exact(q23LangIdSql)),
    Lane("q23_quality", q23Quality, Exact(q23QualitySql)),
    Lane("q23_filter_verdict", q23FilterVerdict, Exact(q23FilterVerdictSql)),
    Lane("q23_token_count", q23TokenCount, Exact(q23TokenCountSql)),
    Lane("q23_fingerprint", q23Fingerprint, Exact(q23FingerprintSql)),
    Lane("q23_repetition", q23Repetition, Exact(q23RepetitionSql)),
    Lane("q26_neardup_cluster", q26NearDupCluster, Exact(q26NearDupClusterSql)),
  )

  val defs = lanes.map(l => l.name -> l.build).toMap
}
