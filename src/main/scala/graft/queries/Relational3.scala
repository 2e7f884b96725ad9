package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Exact, Lane, RowsOnly}
import graft.core.Tables

/** Third-tier relational surface, round 4: full-outer join, unpivot/melt,
  * column profiling, and the JSONL interchange path — the remaining
  * warehouse/pipeline staples SURVEY §2B's first two tiers didn't cover.
  * Same determinism rules as `Relational` (total-order output sorts,
  * engine-portable formulas).
  */
object Relational3 {

  // --- Q7b: FULL OUTER join — daily order activity vs daily shipments ------
  // The reconciliation shape: two independently aggregated daily series
  // joined so days present in EITHER survive. Both sides pre-aggregate to
  // one row per day BEFORE the join (the legal shuffle: key cardinality =
  // days, not rows), so the full-outer join is tiny regardless of fact
  // size; `USING`-style key coalescing keeps one `d` column on both
  // engines. Edge days (shipments trail orders by up to ~4 months) exist
  // on one side only — the lane's reason to be full-outer.
  def q07OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("order_cnt"))
    val ship = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("d"))
      .agg(count(lit(1)).as("ship_cnt"))
    ord.join(ship, Seq("d"), "full")
      .select(col("d").cast("string").as("d"), // ISO string: date-type repr parity
        coalesce(col("order_cnt"), lit(0L)).as("order_cnt"),
        coalesce(col("ship_cnt"), lit(0L)).as("ship_cnt"),
        (col("order_cnt").isNotNull && col("ship_cnt").isNotNull).as("both_sides"))
      .orderBy(col("d"))
  }

  val q07OuterJoinSql: String =
    """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS order_cnt
      |           FROM orders GROUP BY 1),
      |     s AS (SELECT CAST(l_shipdate AS DATE) AS d, CAST(count(*) AS BIGINT) AS ship_cnt
      |           FROM lineitem GROUP BY 1)
      |SELECT CAST(coalesce(o.d, s.d) AS VARCHAR) AS d,
      |       coalesce(o.order_cnt, CAST(0 AS BIGINT)) AS order_cnt,
      |       coalesce(s.ship_cnt, CAST(0 AS BIGINT)) AS ship_cnt,
      |       o.d IS NOT NULL AND s.d IS NOT NULL AS both_sides
      |FROM o FULL OUTER JOIN s ON o.d = s.d ORDER BY d""".stripMargin

  // --- Q14d: unpivot / melt — wide measures to long form -------------------
  // The inverse of q14_pivot: lineitem's four numeric measures melt to
  // (key, measure, val) rows via the native `Dataset.unpivot` operator
  // (Expand under the hood — row-local ×4 fan-out, no shuffle; the only
  // exchange is the presentation sort). The melt shape is what feeds
  // per-measure statistics without 4 separate scans.
  def q14Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 100 === 0) // keep output bench-sized
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")): Array[Column],
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")): Array[Column],
        "measure", "val")
      // NULL parity: DuckDB's UNPIVOT excludes NULL values by default while
      // Spark's unpivot keeps them — pin the shared semantics explicitly
      // (moot on this non-null fixture, load-bearing on nullable columns)
      .filter(col("val").isNotNull)
      // (l_orderkey, l_linenumber) is NOT unique in the fixture — val joins
      // the sort key to make the output totally ordered
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"), col("val"))

  val q14UnpivotSql: String =
    """SELECT l_orderkey, l_linenumber, measure, val
      |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
      |      FROM lineitem WHERE l_orderkey % 100 = 0)
      |UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
      |ORDER BY l_orderkey, l_linenumber, measure, val""".stripMargin

  // --- Q14e: GROUPING SETS — the rollup/cube generalization ----------------
  // Arbitrary grouping-set list via Spark 4's native `Dataset.groupingSets`
  // (two one-dimension marginals + the grand total, which neither rollup
  // nor cube expresses alone). Plans exactly like rollup: ONE Expand
  // (row ×3 here) into one hash aggregation — no extra passes per set.
  // Decimal sum lane + grouping() indicators disambiguate real NULL groups
  // from set placeholders, same rules as q14_rollup.
  def q14GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(18, 4)
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty[Column]),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(D)).cast("double").as("total_price"),
        grouping(col("o_orderstatus")).cast("int").as("g_s"),
        grouping(col("o_orderpriority")).cast("int").as("g_p"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("g_s"), col("g_p"), col("n_orders"), col("total_price"))
      // g_s/g_p in the sort: coalesce-to-'ALL' collides with a real NULL
      // group, so (status, priority) alone is not a total order on
      // nullable corpora — the grouping flags disambiguate (ADVICE r4)
      .orderBy(col("status"), col("priority"), col("g_s"), col("g_p"))
  }

  val q14GroupingSetsSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       CAST(grouping(o_orderstatus) AS INT) AS g_s,
      |       CAST(grouping(o_orderpriority) AS INT) AS g_p,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority, g_s, g_p""".stripMargin

  // --- Q37: column profiling — the ANALYZE/data-audit operator -------------
  // Per-column null count, exact distinct count, min and max (as strings)
  // over `orders`, in TWO deliberate branches (do NOT merge them back into
  // one aggregation — that was the first cut, and it demotes everything to
  // SortAggregate, see below): the COUNT(DISTINCT) branch fans out through
  // Catalyst's Expand (×6) into codegen'd HashAggregate; min/max/nulls ride
  // a separate no-Expand global agg; the two one-row frames broadcast-cross
  // and a `stack` flips the 1×24 row to 6 tidy rows (driver-side pivot of
  // a one-row frame — no data movement). A 100 TB profile swaps in
  // approx_count_distinct (HLL, q13 lane) to drop the Expand and the
  // distinct shuffle entirely. Timestamp/double→string casts are
  // engine-portable (UTC session, shortest-round-trip doubles below the
  // 1e7 exponent threshold).
  def q37Profile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val orders = Tables.orders(spark, dir)
    // Branch A — the Expand-fanout stream carries ONLY mutable long
    // buffers (COUNT DISTINCT), so it stays in codegen'd HashAggregate.
    // Putting min/max string buffers on this same stream demotes the
    // whole ×7 fan-out to SortAggregate (immutable buffer rule) — three
    // full sorts of the expanded stream; measured 4.6 s vs 1.3 s split.
    val dAggs = cols.map(c => countDistinct(col(c)).as(s"${c}__distinct"))
    val distincts = orders.agg(dAggs.head, dAggs.tail: _*)
    // Branch B — min/max/null counts need no fan-out: one global agg, one
    // row out; the string buffers cost nothing without grouping keys.
    val mAggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val minmax = orders.agg(mAggs.head, mAggs.tail: _*)
    val one = broadcast(distincts).crossJoin(broadcast(minmax)) // 1×1 rows
    val stackArgs = cols.map(c =>
      s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max").mkString(", ")
    one.select(expr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, vmin, vmax)"))
      .orderBy(col("col_name"))
  }

  /** Q37b — the documented 100 TB profile variant, now a lane: ONE global
    * aggregation with approx_count_distinct (HLL++, rsd 0.05) in place of
    * the COUNT(DISTINCT) branch. No Expand fan-out, no distinct shuffle —
    * the whole profile is a single map-side-combining pass (the HLL and
    * min/max/null buffers all merge associatively), which is the only
    * affordable shape at 10¹²-row scale. The swap is licensed by the
    * q13_hll_merge proof (HllMergeSpec: per-slice sketches union to the
    * global sketch exactly) and audited by ProfileApproxSpec: per-column
    * relative error vs the exact lane ≤ the configured rsd envelope at
    * sf0.1, and a plan assertion that no Expand node appears. The exact
    * lane q37_profile remains the correctness anchor. */
  def q37ProfileApprox(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val orders = Tables.orders(spark, dir)
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        approx_count_distinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = orders.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max").mkString(", ")
    one.select(expr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, vmin, vmax)"))
      .orderBy(col("col_name"))
  }

  val q37ProfileSql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    cols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  CAST(count(*) FILTER ($c IS NULL) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS vmin, CAST(max($c) AS VARCHAR) AS vmax
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // --- Q36b: snapshot DIFF — the CDC/reconciliation operator ---------------
  // Given two snapshots of a keyed table, emit every key that changed and
  // how: insert (new only), delete (old only), update (both, payload
  // differs); unchanged keys drop. The audit every incremental pipeline
  // runs to validate a merge. Shape: ONE full-outer join on the key —
  // both sides shuffle-partition on o_orderkey, unchanged rows are
  // filtered AFTER the join (null-safe <=> so a NULL payload difference
  // counts as a change, not a silent equal). Key presence on each side is
  // carried by an explicit lit(true) marker column per snapshot — NOT by
  // payload nullness, so a key present in both snapshots with a genuinely
  // NULL price classifies as update/unchanged, never as a phantom insert
  // (ADVICE r4). Snapshots derived deterministically from `orders`
  // (modulo families) so both engines build identical inputs.
  /** The deterministic snapshot pair shared by q36_diff and q45_upsert
    * (old: keys % 7 ≠ 0 at original payload; new: keys % 5 ≠ 0 with every
    * % 3 key's price bumped ×1.1) — one definition so the diff, the merge
    * and both oracles classify the same rows. */
  private def snapOld(o: DataFrame): DataFrame =
    o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice").as("old_price"),
        col("o_orderstatus").as("old_status"), lit(true).as("in_old"))

  private def snapNew(o: DataFrame): DataFrame =
    o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")).as("new_price"),
        col("o_orderstatus").as("new_status"), lit(true).as("in_new"))

  def q36Diff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val old = snapOld(o)
    val neu = snapNew(o)
    old.join(neu, Seq("o_orderkey"), "full")
      .withColumn("verdict",
        when(col("in_old").isNull, "insert")
          .when(col("in_new").isNull, "delete")
          .when(col("old_price") <=> col("new_price") &&
            col("old_status") <=> col("new_status"), "unchanged")
          .otherwise("update"))
      .filter(col("verdict") =!= "unchanged")
      .select(col("o_orderkey"), col("verdict"),
        col("old_price"), col("new_price"))
      .orderBy(col("o_orderkey"))
  }

  val q36DiffSql: String =
    """WITH old AS (SELECT o_orderkey, o_totalprice AS old_price, o_orderstatus AS old_status,
      |                    TRUE AS in_old
      |             FROM orders WHERE o_orderkey % 7 <> 0),
      |     neu AS (SELECT o_orderkey,
      |                    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
      |                         ELSE o_totalprice END AS new_price,
      |                    o_orderstatus AS new_status, TRUE AS in_new
      |             FROM orders WHERE o_orderkey % 5 <> 0)
      |SELECT coalesce(old.o_orderkey, neu.o_orderkey) AS o_orderkey,
      |       CASE WHEN in_old IS NULL THEN 'insert'
      |            WHEN in_new IS NULL THEN 'delete'
      |            ELSE 'update' END AS verdict,
      |       old_price, new_price
      |FROM old FULL OUTER JOIN neu ON old.o_orderkey = neu.o_orderkey
      |WHERE in_old IS NULL OR in_new IS NULL
      |   OR NOT (old_price IS NOT DISTINCT FROM new_price
      |           AND old_status IS NOT DISTINCT FROM new_status)
      |ORDER BY o_orderkey""".stripMargin

  // --- Q45: MERGE-shape keyed upsert — applying a change feed ---------------
  // One step past q36_diff: the diff CLASSIFIES changes; this lane APPLIES
  // them — the warehouse MERGE the reference's push path ultimately feeds.
  // Spark has no MERGE INTO on plain parquet, so this is the canonical
  // relational realization: full-outer join target × change-feed on the
  // key; a change row wins wherever present (insert and update are the
  // same arm — that's what makes re-application a fixpoint), a `delete`
  // row erases the key, untouched target rows pass through. Payload
  // transfer keys off the change MARKER, not payload nullness, so an
  // update carrying a genuinely NULL field overwrites to NULL instead of
  // silently keeping the old value. Scale shape: ONE shuffle per side on
  // the join key — identical cost class to the diff itself; at 100 TB the
  // change feed is usually ≪ target, so AQE plans its side broadcast and
  // the target never shuffles at all. Correctness oracle: applying
  // diff(old→new) onto old must reproduce EXACTLY the new snapshot — the
  // oracle states that algebraic identity relationally (it is also what
  // makes the operation auditable: merge, then diff again → empty).
  // Idempotence (merge ∘ merge = merge) is property-tested in
  // UpsertSpec.
  /** Change feed (key, verdict, new payload) — q36_diff's classification
    * kept WITH the full new payload, as a merge needs it. */
  private[graft] def changeFeedFor(o: DataFrame): DataFrame =
    snapOld(o).join(snapNew(o), Seq("o_orderkey"), "full")
      .withColumn("verdict",
        when(col("in_old").isNull, "insert")
          .when(col("in_new").isNull, "delete")
          .when(col("old_price") <=> col("new_price") &&
            col("old_status") <=> col("new_status"), "unchanged")
          .otherwise("update"))
      .filter(col("verdict") =!= "unchanged")
      .select(col("o_orderkey"), col("verdict"),
        col("new_price"), col("new_status"), lit(true).as("in_chg"))

  /** The merge operator itself, reusable over any (target, changes) pair
    * keyed on o_orderkey — UpsertSpec drives it twice for the fixpoint
    * property. */
  private[graft] def applyChanges(target: DataFrame, changes: DataFrame): DataFrame =
    target.join(changes, Seq("o_orderkey"), "full")
      .filter(col("verdict").isNull || col("verdict") =!= "delete")
      .select(col("o_orderkey"),
        when(col("in_chg").isNotNull, col("new_price"))
          .otherwise(col("price")).cast("double").as("price"),
        when(col("in_chg").isNotNull, col("new_status"))
          .otherwise(col("status")).as("status"))

  def q45Upsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val target = snapOld(o).select(col("o_orderkey"),
      col("old_price").as("price"), col("old_status").as("status"))
    applyChanges(target, changeFeedFor(o)).orderBy(col("o_orderkey"))
  }

  /** The oracle is the algebraic identity: old ⊕ diff(old→new) ≡ new. */
  val q45UpsertSql: String =
    """SELECT o_orderkey,
      |       CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
      |                 ELSE o_totalprice END AS DOUBLE) AS price,
      |       o_orderstatus AS status
      |FROM orders WHERE o_orderkey % 5 <> 0
      |ORDER BY o_orderkey""".stripMargin

  // --- Q38: JSONL interchange — the training-data exchange format ----------
  // Dumps `documents` to JSON-lines (the universal corpus interchange
  // format), reads it back through Spark's JSON source with an EXPLICIT
  // schema (schema inference at 100 TB means a full extra pass — never
  // infer in production), and aggregates the round-tripped rows. The
  // oracle aggregates the original parquet: equality proves the JSON
  // codec path (unicode, quotes, embedded newlines) is lossless for the
  // whole corpus. Sink and source both scale: JSONL is line-splittable,
  // so the read parallelizes per-file-split exactly like parquet, just
  // without parquet's pushdown/pruning/encoding — interchange format, not
  // storage format.
  def q38Jsonl(spark: SparkSession, dir: String): DataFrame = {
    // Stable per-source path + overwrite: the lane returns a LAZY frame, so
    // the dump can't be deleted here (consumers read it later) — a fresh
    // temp dir per call would strand one corpus copy per invocation across
    // bench/verify/spec runs. One reused slot per sf dir bounds that.
    // Per-process component: two JVMs on the same sf dir (e.g. a bench and
    // a verify run) must not overwrite each other's dump while a lazy
    // reader is still scanning it (ADVICE r4)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    val docs = Tables.documents(spark, dir)
    docs.write.mode("overwrite").json(out)
    spark.read.schema(docs.schema).json(out)
      .groupBy(col("lang"))
      .agg(roundTripAggs.head, roundTripAggs.tail: _*)
      .orderBy(col("lang"))
  }

  /** The shared round-trip aggregate: counts + length sums + a CONTENT-
    * sensitive term. length-only sums are blind to exactly the failure
    * modes a text codec has — an empty string nulled on read (length('')=0
    * and null drop out of sum identically) or a field mangled into another
    * of the same length — so the gate also sums a per-row 60-bit md5 of the
    * text (mod 1e9+7: ~2^60 summands would overflow BIGINT under ANSI at
    * corpus row counts; both engines' % on positives agree). Any dropped,
    * nulled, or altered text field now moves the hash sum (r7 ADVICE). */
  private val roundTripAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_docs"),
    sum(col("n_chars")).as("total_chars"),
    sum(length(col("text")).cast("long")).as("total_text_len"),
    sum(expr("CAST(conv(substr(md5(text),1,15),16,10) AS BIGINT) % 1000000007"))
      .as("text_h60_sum"))

  val q38JsonlSql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(length(text)) AS BIGINT) AS total_text_len,
      |  CAST(sum(('0x'||substr(md5(text),1,15))::BIGINT % 1000000007) AS BIGINT) AS text_h60_sum
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --- Q38b: CSV interchange — the lowest-common-denominator exchange -----
  // The CSV twin of q38_jsonl: dump documents to CSV (writer quotes/escapes
  // commas and quotes in text), read back with an EXPLICIT schema (never
  // infer at scale), aggregate, and hash-compare against the parquet
  // original — proving the quote/escape round trip lossless for the whole
  // corpus. Same scale posture as JSONL: line-splittable (so the read
  // parallelizes per split) as long as fields carry no embedded newlines —
  // documents' text is single-line by construction; a corpus with embedded
  // newlines needs multiLine=true, which makes files non-splittable and is
  // exactly why JSONL is the better interchange format (documented trade).
  // Distinct null sentinel: CSV's default empty-string null is ambiguous
  // against a genuinely empty field, so both sides pin nullValue.
  def q38Csv(spark: SparkSession, dir: String): DataFrame = {
    // stable per-(sf dir, process) slot — same lazy-frame lifetime
    // reasoning as q38_jsonl above
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_csv_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    val docs = Tables.documents(spark, dir)
    // Null vs empty (r7 ADVICE): nullValue is pinned to a distinct sentinel
    // on both sides; empty strings ride Spark's DEFAULT emptyValue pair,
    // which is symmetric (writer quotes them as "", reader maps quoted-empty
    // back to "") — pinning a custom emptyValue would actually BREAK the
    // trip, because the read-side option is not a reverse mapping of the
    // write-side sentinel (FormatRoundTripSpec pins both facts). Text
    // literally equal to the null sentinel is CSV's one inherent loss (no
    // second escaping layer); the text_h60_sum gate in roundTripAggs exists
    // to catch exactly such silent collisions on a real corpus.
    docs.write.mode("overwrite").option("nullValue", "\\N").csv(out)
    spark.read.schema(docs.schema).option("nullValue", "\\N").csv(out)
      .groupBy(col("lang"))
      .agg(roundTripAggs.head, roundTripAggs.tail: _*)
      .orderBy(col("lang"))
  }

  /** Same oracle as the JSONL lane: both round trips must reproduce the
    * parquet original exactly. */
  val q38CsvSql: String = q38JsonlSql

  // --- Q38c: ORC storage — the columnar alternative ------------------------
  // Round-trips documents through ORC, the other splittable columnar
  // format Spark ships natively — unlike the interchange lanes this one is
  // a STORAGE format with the parquet-grade properties (column pruning,
  // predicate pushdown into stripe/row-group indexes, dictionary+RLE
  // encoding), so it is the realistic second answer to "where does the
  // 100 TB corpus live". The filtered aggregate forces a text IS NOT NULL
  // + lang predicate through the ORC reader; equality against the parquet
  // oracle proves the codec + pushdown path lossless.
  def q38Orc(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    val docs = Tables.documents(spark, dir)
    docs.write.mode("overwrite").orc(out)
    spark.read.schema(docs.schema).orc(out)
      .filter(col("text").isNotNull)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text")).cast("long")).as("total_text_len"))
      .orderBy(col("lang"))
  }

  // --- Q38d: Avro interchange — the schema'd row-based exchange format ----
  // Round-trips documents through Avro, the row-oriented container the
  // streaming/log ecosystem (Kafka, schema registries) exchanges records
  // in. Unlike CSV/JSONL the schema travels IN the file header, so there is
  // no inference question and no text-escaping question — but unlike
  // parquet/ORC it is row-major: no column pruning, no predicate pushdown,
  // which is exactly the trade that makes it an interchange format rather
  // than a storage format at 100 TB. Files are block-splittable (sync
  // markers), so the read parallelizes per split like the others. Same
  // content-sensitive gate as the text codecs.
  private val AvroFmt = "org.apache.spark.sql.avro.AvroFileFormat"

  def q38Avro(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_avro_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    val docs = Tables.documents(spark, dir)
    // the avro classes ship inside spark-sql but are NOT service-registered
    // in this build (no spark-avro connector jar), so the short name "avro"
    // does not resolve — the FQCN loads the same FileFormat directly
    docs.write.mode("overwrite").format(AvroFmt).save(out)
    spark.read.schema(docs.schema).format(AvroFmt).load(out)
      .groupBy(col("lang"))
      .agg(roundTripAggs.head, roundTripAggs.tail: _*)
      .orderBy(col("lang"))
  }

  val q38AvroSql: String = q38JsonlSql

  // --- Q38e: XML interchange — the document-tree exchange format ----------
  // Round-trips documents through Spark 4's NATIVE xml source (one <doc>
  // element per row). XML is the worst-case text codec — entity escaping
  // (&amp;/&lt;), whitespace handling, empty-vs-missing elements — which is
  // precisely why the round trip is worth gating: the content hash would
  // catch any of those mangling text. ignoreSurroundingSpaces is pinned
  // OFF on read (the default TRIMS element text — a silent content change
  // at corpus scale). Scale posture: XML records span lines, so files are
  // NOT line-splittable like JSONL — the read parallelizes per FILE; an
  // interchange-only format, never the 100 TB storage layout (documented
  // trade, same verdict as CSV-with-newlines).
  def q38Xml(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_xml_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    val docs = Tables.documents(spark, dir)
    docs.write.mode("overwrite").option("rowTag", "doc").format("xml").save(out)
    spark.read.schema(docs.schema)
      .option("rowTag", "doc").option("ignoreSurroundingSpaces", "false")
      .format("xml").load(out)
      .groupBy(col("lang"))
      .agg(roundTripAggs.head, roundTripAggs.tail: _*)
      .orderBy(col("lang"))
  }

  val q38XmlSql: String = q38JsonlSql

  // --- Q38f: raw text lines — the pretraining-corpus layout ---------------
  // One document per line with no framing at all: the layout C4/Pile-style
  // corpora actually ship in, and the cheapest possible scan (no parse, no
  // schema — one string column per line). The lane exports the non-null
  // texts, reads them back through the `text` source, and gates on count +
  // length sum + the per-row content hash. Nulls cannot exist in a raw
  // line file (no sentinel layer at all — one step below even CSV), so the
  // lane and oracle both restrict to text IS NOT NULL; single-line text is
  // a corpus invariant here (same caveat the CSV lane documents).
  // Line-splittable like JSONL, so the read parallelizes per split.
  def q38Text(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_text_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull).select(col("text"))
      .write.mode("overwrite").text(out)
    spark.read.text(out)
      .agg(count(lit(1)).as("n_lines"),
        sum(length(col("value")).cast("long")).as("total_len"),
        sum(expr("CAST(conv(substr(md5(value),1,15),16,10) AS BIGINT) % 1000000007"))
          .as("text_h60_sum"))
  }

  val q38TextSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(length(text)) AS BIGINT) AS total_len,
      |  CAST(sum(('0x'||substr(md5(text),1,15))::BIGINT % 1000000007) AS BIGINT) AS text_h60_sum
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  val q38OrcSql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(length(text)) AS BIGINT) AS total_text_len
      |FROM documents WHERE text IS NOT NULL GROUP BY lang ORDER BY lang""".stripMargin

  // --- Q39: partition PRUNING — the first scan lever at 100 TB -------------
  // Writes documents hive-partitioned by lang (the layout a real corpus
  // store uses for its coarsest filter column), reads it back with a
  // lang predicate, and aggregates per source. The predicate must resolve
  // at PLANNING time against the directory listing — the scan's
  // PartitionFilters, not a data filter — so the non-matching partitions'
  // files are never opened, let alone read: at 100 TB this is the
  // difference between scanning one language's slice and the whole
  // corpus. Plan-verified in PartitionPruneSpec (PartitionFilters carries
  // the lang predicate, PushedFilters stays empty); values hash-checked
  // against the unpartitioned parquet original.
  def q39PartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val out = partitionedSlot(spark, dir)
    partitionedDocs(spark, out)
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"))
  }

  /** The partitioned read, exposed so the spec can explain() the exact
    * frame the lane aggregates. Partition discovery types `lang` from the
    * directory names (string — no inference pass over data). */
  private[graft] def partitionedDocs(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)

  val q39PartitionPruneSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE lang = 'en' GROUP BY source ORDER BY source""".stripMargin

  /** The partitioned-documents slot both q39 lanes share: written eagerly
    * at plan-build, per (sf dir, process) — identical content either way,
    * so double-writes are idempotent overwrites. */
  private def partitionedSlot(spark: SparkSession, dir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_part_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    Tables.documents(spark, dir)
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    out
  }

  // --- Q39c: SORTED-layout row-group skipping (min/max stats pruning) ------
  // Partition pruning (q39a) and DPP (q39b) cover the partition key; for
  // every OTHER probe key the 100 TB scan lever is ROW-GROUP statistics:
  // rewrite the table range-clustered + sorted by the key and each row
  // group's footer [min,max] becomes tight and disjoint, so a range
  // predicate skips all but the matching groups at footer-read time — no
  // data pages touched. Unsorted bronze leaves every row group spanning
  // the whole key domain, and the same pushed filter prunes NOTHING (the
  // pushdown is there; the layout wastes it). One probe key needs a plain
  // sort; multi-key corpora generalize via Z/Hilbert interleaving.
  // The lane performs the rewrite (repartitionByRange + sortWithin-
  // Partitions — globally range-clustered files) and aggregates a narrow
  // user range from the SORTED copy; the oracle computes the same over
  // the raw table, proving rewrite fidelity. SortSkipSpec reads parquet
  // footers of both layouts and proves the stats prune (sorted: ≤2 of 8
  // clusters match; unsorted: every row group matches). Aggregates are
  // chosen order-independent (count, min/max) so the hash gate is exact.
  def q39SortSkip(spark: SparkSession, dir: String): DataFrame = {
    val out = sortedSlot(spark, dir)
    spark.read.parquet(out)
      .filter(col("user_id") >= 10 && col("user_id") < 14)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("user_id"))
  }

  /** The sorted-rewrite slot, shared with SortSkipSpec: events rewritten
    * range-clustered by user_id (8 clusters ≈ files at test SF; at 100 TB
    * the same write is a day's compaction output with many row groups per
    * file — the footer-stats mechanism is identical at both scales). */
  private[graft] def sortedSlot(spark: SparkSession, dir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_sorted_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    Tables.events(spark, dir)
      .repartitionByRange(8, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .write.mode("overwrite").parquet(out)
    out
  }

  val q39SortSkipSql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  min(value) AS min_value, max(value) AS max_value
      |FROM events WHERE user_id >= 10 AND user_id < 14
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- Q39d: Z-ORDER clustering — MULTI-column row-group skipping ---------
  // q39_sort_skip's linear sort serves ONE probe key; real 100 TB tables
  // are probed on several (lineitem by part AND by supplier). A linear
  // sort on l_partkey leaves l_suppkey footer stats spanning the whole
  // domain — suppkey probes skip nothing. Interleaving the two keys' bits
  // into one Morton/Z value and range-clustering on THAT gives every
  // cluster a tight [min,max] on BOTH columns (each z-range is a block of
  // quad-tree cells), so either probe key prunes at footer-read time.
  // Keys are normalized to 16 bits by scaling against their observed max
  // (at 100 TB: table stats / footer maxes — one metadata read, not a
  // scan; here one scalar agg). The z column exists only during the write
  // and is dropped — layout is physical, the data is untouched, and the
  // lane's aggregate over the rewrite hash-matches the raw-table oracle
  // (rewrite fidelity). ZorderSpec evaluates the parquet footers of the
  // z layout vs a partkey-sorted layout: the z layout prunes BOTH probe
  // dimensions; the linear layout prunes only its sort key. The lane
  // itself probes l_suppkey — the key the linear layout cannot serve.
  // --- Q39e: parquet AGGREGATE pushdown (footer-served COUNT/MIN/MAX) ------
  // The fifth pruning lever, and the most extreme: under the V2 parquet
  // source with spark.sql.parquet.aggregatePushdown=true, an unfiltered
  // COUNT/MIN/MAX compiles to `PushedAggregation: [COUNT(*), MIN(..),
  // MAX(..)]` on the BatchScan — answered from row-group FOOTER statistics
  // with zero data pages read. At 100 TB that is the difference between a
  // petabyte scan and kilobytes per file for the table-stats pass every
  // pipeline runs (profiling, freshness checks, load validation). The
  // lever is narrow by design — no filters, no grouping on data columns,
  // no nulls-in-stats surprises (parquet footers count nulls separately;
  // MIN/MAX are over non-null values, exactly the SQL semantics) — so the
  // lane keeps the shape the pushdown accepts and AggPushdownSpec
  // plan-asserts the PushedAggregation is actually there (and that the
  // footer-served numbers equal a full-scan recompute).
  //
  // Conf hygiene: the V2-source + pushdown confs are session-global, and
  // a lazily-returned frame would be OPTIMIZED after this function
  // restores them (no pushdown) — while leaking them would silently flip
  // every later lane's parquet source to V2. So the lane executes its
  // three footer scans EAGERLY inside the conf window (the q25_ivf_scale
  // precedent for eager audit rows) and returns the materialized rows.
  def q39AggPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val prevV1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    val prevAgg = spark.conf.getOption("spark.sql.parquet.aggregatePushdown").getOrElse("false")
    val rows = try {
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      Seq(
        ("lineitem", "l_quantity"),
        ("orders", "o_totalprice"),
        ("events", "value")).map { case (t, c) =>
        val r = spark.read.parquet(s"$dir/$t.parquet")
          .agg(count(lit(1)), min(col(c)), max(col(c))).head()
        // + 0.0 canonicalizes IEEE negative zero: when a column contains
        // both ±0.0, parquet footer stats surface -0.0 while a value-scan
        // min keeps whichever equal zero it met first — bit-different,
        // numerically identical (found by the sf0.1 full-gate run; the
        // oracle applies the same normalization)
        (t, c, r.getLong(0), r.getDouble(1) + 0.0, r.getDouble(2) + 0.0)
      }
    } finally {
      spark.conf.set("spark.sql.parquet.aggregatePushdown", prevAgg)
      spark.conf.set("spark.sql.sources.useV1SourceList", prevV1)
    }
    rows.toDF("table_name", "stat_col", "n_rows", "min_v", "max_v")
      .orderBy(col("table_name"))
  }

  val q39AggPushdownSql: String =
    """SELECT * FROM (
      |  SELECT 'events' AS table_name, 'value' AS stat_col,
      |         CAST(count(*) AS BIGINT) AS n_rows,
      |         min(value) + 0.0 AS min_v, max(value) + 0.0 AS max_v FROM events
      |  UNION ALL
      |  SELECT 'lineitem', 'l_quantity', CAST(count(*) AS BIGINT),
      |         min(l_quantity) + 0.0, max(l_quantity) + 0.0 FROM lineitem
      |  UNION ALL
      |  SELECT 'orders', 'o_totalprice', CAST(count(*) AS BIGINT),
      |         min(o_totalprice) + 0.0, max(o_totalprice) + 0.0 FROM orders
      |) ORDER BY table_name""".stripMargin

  def q39Zorder(spark: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(18, 4)
    val out = zorderSlot(spark, dir)
    spark.read.parquet(out)
      .filter(col("l_suppkey") >= 4 && col("l_suppkey") < 8)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(D)).cast("double").as("sum_qty"))
      .orderBy(col("l_suppkey"))
  }

  /** Morton/Z interleave of two 16-bit-normalized keys: bit i of `a` goes
    * to position 2i+1, bit i of `b` to 2i — a pure bitwise Column tree
    * (32 shift/and/or terms, whole-stage-codegen'd; no UDF). */
  private[graft] def zValue(a: Column, b: Column): Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** Scale a non-negative key to 0..65535 against its observed max —
    * sf-independent normalization (bit-shifting a fixed width breaks the
    * moment a key outgrows it at a larger SF). */
  private[graft] def norm16(c: Column, max: Long): Column =
    ((c * lit(65535L)) / lit(math.max(max, 1L))).cast("long")

  /** The z-clustered lineitem rewrite, shared with ZorderSpec. 16 range
    * clusters on the interleaved key ≈ a 4×4 grid of (partkey, suppkey)
    * quarter-cells at this file count; at 100 TB the same write is a
    * compaction output with many row groups per file and the footer-stats
    * mechanism is identical. */
  private[graft] def zorderSlot(spark: SparkSession, dir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    val li = Tables.lineitem(spark, dir)
    val maxes = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head
    val (maxP, maxS) = (maxes.getLong(0), maxes.getLong(1))
    li.withColumn("zv",
        zValue(norm16(col("l_partkey"), maxP), norm16(col("l_suppkey"), maxS)))
      .repartitionByRange(16, col("zv"))
      .sortWithinPartitions(col("zv"))
      .drop("zv")
      .write.mode("overwrite").parquet(out)
    out
  }

  val q39ZorderSql: String =
    """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_suppkey >= 4 AND l_suppkey < 8
      |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  // --- Q39e: parquet BLOOM-FILTER skipping — the point-probe lever ---------
  // The FOURTH scan lever, orthogonal to the other three: partition pruning
  // (q39) and min/max stats (q39_sort_skip, q39_zorder) only serve keys the
  // LAYOUT was organized around. A point probe on a high-cardinality key in
  // an UNSORTED table defeats them all — every row group's [min,max] spans
  // the whole domain. Parquet bloom filters close that hole: the writer
  // embeds a per-row-group membership sketch for the flagged column, and a
  // probing scan consults it at footer-read time — "definitely absent" row
  // groups are skipped without touching a page, at any position in the
  // file. This is exactly the needle-in-100 TB shape ("fetch these three
  // event ids from the raw archive") where sorting by event_id was never
  // worth the write cost. BloomSkipSpec queries the written sketches
  // directly: absent probes report absent in every row group while the
  // min/max stats of the SAME row groups span every probe (stats prune
  // NOTHING here — the sketch, not the layout, is what was missing).
  // The lane itself is the rewrite-fidelity gate: the probe over the
  // bloom-indexed rewrite hash-matches the raw-table oracle.
  def q39BloomSkip(spark: SparkSession, dir: String): DataFrame = {
    val out = bloomSlot(spark, dir)
    spark.read.parquet(out)
      .filter(col("event_id").isin(11L, 47L, 911L))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_ns"))
      .orderBy(col("event_id"))
  }

  /** The bloom-indexed rewrite slot, shared with BloomSkipSpec: events
    * hash-scattered (the adversarial layout for stats pruning) with a
    * parquet bloom filter on event_id. NDV hint sized to the table — at
    * 100 TB the same option rides on every compaction write. The
    * `% 997` tombstone models compacted-away deletes: the test ids are
    * dense, so without it no IN-RANGE absent key exists and the bloom-vs-
    * stats comparison would be untestable (out-of-range absents are the
    * one case stats already handle). Probed ids 11/47/911 are unaffected.
    */
  private[graft] def bloomSlot(spark: SparkSession, dir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_bloom_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    Tables.events(spark, dir)
      .filter(col("event_id") % 997 =!= 0) // tombstoned rows
      .repartition(8) // hash-scatter: min/max stats span the whole domain
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#event_id", "true")
      .option("parquet.bloom.filter.expected.ndv#event_id", "1000000")
      .parquet(out)
    out
  }

  val q39BloomSkipSql: String =
    """SELECT event_id, user_id, event_type, value,
      |       epoch_us(ts) * 1000 AS ts_ns
      |FROM events WHERE event_id IN (11, 47, 911)
      |ORDER BY event_id""".stripMargin

  /** The lang→region dim both engines must see identically. */
  private[graft] val LangRegions: Seq[(String, String)] =
    Seq("en" -> "A", "fr" -> "A", "de" -> "B", "es" -> "B", "zh" -> "C")

  // --- Q39b: DYNAMIC partition pruning — runtime pruning off a dim filter --
  // The star-schema staple: the fact side is partitioned on the join key,
  // the dim side is filtered, and the partitions to read are only known
  // AFTER the dim filter runs — static pruning can't help. Spark plants a
  // dynamicpruning subquery in the fact scan's PartitionFilters: the
  // broadcast dim's key set prunes the directory listing at RUNTIME, so a
  // 100 TB fact table joined to "region = 'A'" reads only the matching
  // languages' partitions. Plan-verified in PartitionPruneSpec
  // (`dynamicpruning` inside the scan's PartitionFilters); values
  // hash-checked against an unpartitioned VALUES-dim oracle.
  def q39DynamicPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = partitionedSlot(spark, dir)
    // the dim must be a STORAGE relation: a literal LocalRelation folds its
    // filter away before the PartitionPruning rule looks for a selective
    // predicate on the build side, and DPP never plants (measured) — which
    // is also the realistic shape, dims live in storage
    val dimPath = s"${System.getProperty("java.io.tmpdir")}/graft_dim_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    LangRegions.toDF("lang", "region").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("region") === "A")
    partitionedDocs(spark, out)
      .join(dim.select(col("lang")), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  // --- Q40: schema EVOLUTION — mergeSchema across bronze epochs ------------
  // A long-lived 100 TB bronze dataset never has one schema: early epochs
  // lack columns later ones carry. This lane writes two epochs (epoch 1
  // without `source`, epoch 2 with it), reads them as ONE dataset with
  // mergeSchema (a footer-union planning step — data files are untouched),
  // and aggregates: epoch-1 rows surface the missing column as NULL, which
  // the count(source) lane makes visible. The oracle replays the epoch
  // split arithmetically on the unpartitioned original — any column
  // misalignment or dropped epoch breaks the hash. mergeSchema costs one
  // footer read per file at planning (fine at 100 TB: schema lives in
  // footers, not data) and is OFF by default precisely because of that
  // planning cost — turned on per-read here, not globally.
  def q40SchemaMerge(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_evo_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current.pid}"
    val docs = Tables.documents(spark, dir)
    docs.filter(col("doc_id") % 2 === 0) // epoch 1: pre-evolution schema
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$out/epoch=1")
    docs.filter(col("doc_id") % 2 =!= 0) // epoch 2: adds `source`
      .write.mode("overwrite").parquet(s"$out/epoch=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        count(col("source")).as("n_with_source"))
      .orderBy(col("lang"))
  }

  val q40SchemaMergeSql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(count(CASE WHEN doc_id % 2 <> 0 THEN source END) AS BIGINT) AS n_with_source
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  val q39DynamicPruneSql: String = {
    val vals = LangRegions.map { case (l, r) => s"('$l','$r')" }.mkString(", ")
    s"""SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars
       |FROM documents d JOIN (VALUES $vals) AS dim(lang, region)
       |  ON d.lang = dim.lang
       |WHERE dim.region = 'A'
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  // --- Q58: content-addressed dataset fingerprint (Merkle-bucket hash) ----
  // Snapshot equality / diff for 100 TB tables WITHOUT moving data: every
  // row hashes its canonical content columns (exact-typed only — integer
  // keys and strings; both engines render BIGINT→string identically, so
  // the row hash is engine-portable), rows land in 256 hash buckets, and
  // each bucket aggregates ORDER-INDEPENDENT summaries: row count,
  // bit_xor of row hashes, and a 31-bit wrap-safe sum. Two snapshots are
  // equal iff all bucket rows match; a localized edit flips exactly its
  // bucket's row — the per-bucket (count, xor, sum) triple is what makes
  // a 100 TB diff a 256-row comparison, and re-hashing is one map-side-
  // combining agg (the cheapest possible full-table pass). XOR alone
  // cancels duplicate pairs; the count and the sum column close that hole
  // for fingerprint purposes (documented, not cryptographic). The
  // 31-bit sum bounds: 2³¹·rows/bucket < 2⁶³ holds to ~10¹² rows/bucket.
  private val FpTables: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey"),
    "orders"   -> Seq("o_orderkey", "o_custkey", "o_orderstatus"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber", "l_suppkey"),
    "documents" -> Seq("doc_id", "source", "text"))

  def q58DatasetHash(spark: SparkSession, dir: String): DataFrame = {
    val perTable = FpTables.map { case (t, cols) =>
      val rowH = TextOps.h60(
        s"concat_ws(chr(1), ${cols.map(c => s"CAST($c AS STRING)").mkString(", ")})")
      Tables.table(spark, dir, t)
        .select(lit(t).as("table_name"), expr(rowH).as("rh"))
    }
    perTable.reduce(_ unionByName _)
      .withColumn("bucket", expr("rh % 256"))
      .groupBy(col("table_name"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(rh)").as("xhash"),
        sum(expr("rh % 2147483648")).as("sum31"))
      .orderBy(col("table_name"), col("bucket"))
  }

  val q58DatasetHashSql: String = {
    val selects = FpTables.map { case (t, cols) =>
      val rowH = TextOps.h60d(
        s"concat_ws(chr(1), ${cols.map(c => s"CAST($c AS VARCHAR)").mkString(", ")})")
      s"SELECT '$t' AS table_name, $rowH AS rh FROM $t"
    }.mkString("\nUNION ALL\n")
    s"""WITH rows_h AS (
       |$selects
       |)
       |SELECT table_name, rh % 256 AS bucket,
       |       CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(bit_xor(rh) AS BIGINT) AS xhash,
       |       CAST(sum(rh % 2147483648) AS BIGINT) AS sum31
       |FROM rows_h GROUP BY 1, 2 ORDER BY table_name, bucket""".stripMargin
  }

  // --- Q61: fingerprint-pruned snapshot diff -------------------------------
  // The operational flow q58 exists for: given two snapshots, compare the
  // 256-bucket fingerprints first, then fetch actual row differences ONLY
  // inside the buckets whose (count, xor, sum) triple moved — at 100 TB
  // with a localized change, that prunes the row-level anti-join to ~1/256
  // of the table per touched bucket (and the fingerprint pass itself reads
  // each side once, map-side combining). The lane builds snapshot B from
  // snapshot A deterministically (every customer whose h60(c_custkey) lands
  // in a 5%-slice gets its name edited — hash-chosen, engine-portable, and
  // dense enough to stay non-empty even on the 150-customer sf0.001 smoke
  // corpus), diffs the fingerprints, and emits the recovered changed keys
  // with a per-bucket verdict — proving the pruned diff finds EXACTLY the
  // edited rows. Oracle replays both snapshots and the whole flow.
  def q61SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val rowH = TextOps.h60(
      "concat_ws(chr(1), CAST(c_custkey AS STRING), CAST(c_name AS STRING), CAST(c_nationkey AS STRING))")
    val editPred = s"${TextOps.h60("CAST(c_custkey AS STRING)")} % 20 = 7"
    val a = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val b = a.withColumn("c_name",
      when(expr(editPred), concat(col("c_name"), lit("-v2")))
        .otherwise(col("c_name")))
    def fp(df: DataFrame) = df
      .withColumn("rh", expr(rowH))
      .withColumn("bucket", expr("rh % 256"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(rh)").as("x"),
        sum(expr("rh % 2147483648")).as("s"))
    // Barriers (the q52/q33 localCheckpoint discipline, found by the
    // no-broadcast plan audit): without them each diff DIRECTION re-derives
    // the fingerprint pipeline AND its bucket-restricted row set — four
    // full-table scans instead of two. `changed` is ≤ 256 rows; aB/bB are
    // the changed-bucket slices, bounded by diff locality (a diff touching
    // most buckets is a full-diff anyway) — all three cheap to materialize.
    val changed = fp(a).alias("fa")
      .join(fp(b).alias("fb"), Seq("bucket"), "full_outer")
      .filter(!(col("fa.n") <=> col("fb.n")) || !(col("fa.x") <=> col("fb.x")) ||
        !(col("fa.s") <=> col("fb.s")))
      .select(col("bucket"))
      .localCheckpoint(true)
    // row-level diff restricted to changed buckets: anti-join both ways
    val aB = a.withColumn("bucket", expr(s"($rowH) % 256"))
      .join(broadcast(changed), "bucket")
      .localCheckpoint(true)
    val bB = b.withColumn("bucket", expr(s"($rowH) % 256"))
      .join(broadcast(changed), "bucket")
      .localCheckpoint(true)
    val removed = aB.join(bB, Seq("bucket", "c_custkey", "c_name", "c_nationkey"), "left_anti")
      .select(col("bucket"), col("c_custkey"), lit("removed").as("side"))
    val added = bB.join(aB, Seq("bucket", "c_custkey", "c_name", "c_nationkey"), "left_anti")
      .select(col("bucket"), col("c_custkey"), lit("added").as("side"))
    removed.unionByName(added)
      .orderBy(col("c_custkey"), col("side"))
  }

  val q61SnapshotDiffSql: String = {
    val rowH = TextOps.h60d(
      "concat_ws(chr(1), CAST(c_custkey AS VARCHAR), CAST(c_name AS VARCHAR), CAST(c_nationkey AS VARCHAR))")
    val editPred = s"${TextOps.h60d("CAST(c_custkey AS VARCHAR)")} % 20 = 7"
    s"""WITH a AS (SELECT c_custkey, c_name, c_nationkey FROM customer),
       |b AS (SELECT c_custkey,
       |        CASE WHEN $editPred THEN c_name || '-v2' ELSE c_name END AS c_name,
       |        c_nationkey FROM a),
       |fa AS (SELECT ($rowH) % 256 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |         CAST(bit_xor($rowH) AS BIGINT) AS x,
       |         CAST(sum(($rowH) % 2147483648) AS BIGINT) AS s
       |       FROM a GROUP BY 1),
       |fb AS (SELECT ($rowH) % 256 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |         CAST(bit_xor($rowH) AS BIGINT) AS x,
       |         CAST(sum(($rowH) % 2147483648) AS BIGINT) AS s
       |       FROM b GROUP BY 1),
       |chg AS (SELECT COALESCE(fa.bucket, fb.bucket) AS bucket
       |        FROM fa FULL OUTER JOIN fb USING (bucket)
       |        WHERE fa.n IS DISTINCT FROM fb.n OR fa.x IS DISTINCT FROM fb.x
       |           OR fa.s IS DISTINCT FROM fb.s),
       |ab AS (SELECT a.*, ($rowH) % 256 AS bucket FROM a JOIN chg ON ($rowH) % 256 = chg.bucket),
       |bb AS (SELECT b.*, ($rowH) % 256 AS bucket FROM b JOIN chg ON ($rowH) % 256 = chg.bucket)
       |SELECT bucket, c_custkey, side FROM (
       |  SELECT ab.bucket, ab.c_custkey, 'removed' AS side FROM ab
       |  ANTI JOIN bb USING (bucket, c_custkey, c_name, c_nationkey)
       |  UNION ALL
       |  SELECT bb.bucket, bb.c_custkey, 'added' FROM bb
       |  ANTI JOIN ab USING (bucket, c_custkey, c_name, c_nationkey))
       |ORDER BY c_custkey, side""".stripMargin
  }

  // --- Q60: recursive CTE (hierarchy traversal through plain spark.sql) ---
  // Spark 4 finally ships WITH RECURSIVE (UnionLoop execution), so the
  // engine's SQL surface covers the hierarchy/graph-walk class natively —
  // here the part-category ancestry chain (parent = key DIV 10, the
  // decimal-digit category tree over p_partkey): every part emits its full
  // ancestor path with depth. The recursion is data-bounded (depth =
  // digit count, ≤ 12 levels at 10¹² parts) and each step is a narrow
  // map over the previous frontier — the 100 TB cost is Σ|frontier| =
  // rows·depth, embarrassingly parallel per step. The DuckDB oracle runs
  // the structurally identical recursive CTE (`//` for DIV), hash-exact —
  // cross-engine recursive-CTE parity is itself the point of the lane.
  // Conf hygiene: Spark guards recursive CTEs with a 1 M cumulative-row
  // safety valve (spark.sql.cteRecursionRowLimit) — correct as a default,
  // but an operational knob that must scale with the data (total rows =
  // parts × digit-depth; the 32× rehearsal tripped it at 640 k parts). The
  // lane sizes the limit from the table's row count (a footer-served count)
  // and EAGERLY materializes inside the conf window (the q39_agg_pushdown
  // discipline: a lazily-returned frame would execute after the conf is
  // restored — or leak the raised limit to every later query).
  def q60RecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    part.createOrReplaceTempView("graft_q60_part")
    val needed = math.max(1000000L, part.count() * 20L)
    val prev = spark.conf.getOption("spark.sql.cteRecursionRowLimit")
    try {
      spark.conf.set("spark.sql.cteRecursionRowLimit", needed.toString)
      spark.sql(
        """WITH RECURSIVE anc(p_partkey, anc, depth, path) AS (
          |  SELECT p_partkey, p_partkey, 0, CAST(p_partkey AS STRING)
          |  FROM graft_q60_part
          |  UNION ALL
          |  SELECT p_partkey, anc DIV 10, depth + 1,
          |         CAST(anc DIV 10 AS STRING) || '/' || path
          |  FROM anc WHERE anc >= 10)
          |SELECT p_partkey, anc, depth, path FROM anc
          |ORDER BY p_partkey, depth""".stripMargin)
        .localCheckpoint(true)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.cteRecursionRowLimit", v)
      case None    => spark.conf.unset("spark.sql.cteRecursionRowLimit")
    }
  }

  val q60RecursiveCteSql: String =
    """WITH RECURSIVE anc(p_partkey, anc, depth, path) AS (
      |  SELECT p_partkey, p_partkey, 0, CAST(p_partkey AS STRING) FROM part
      |  UNION ALL
      |  SELECT p_partkey, anc // 10, depth + 1,
      |         CAST(anc // 10 AS STRING) || '/' || path
      |  FROM anc WHERE anc >= 10)
      |SELECT p_partkey, anc, depth, path FROM anc
      |ORDER BY p_partkey, depth""".stripMargin

  val lanes: Seq[Lane] = Seq(
    Lane("q61_snapshot_diff", q61SnapshotDiff, Exact(q61SnapshotDiffSql)),
    Lane("q60_recursive_cte", q60RecursiveCte, Exact(q60RecursiveCteSql)),
    Lane("q58_dataset_hash", q58DatasetHash, Exact(q58DatasetHashSql)),
    Lane("q07_outer_join", q07OuterJoin, Exact(q07OuterJoinSql)),
    Lane("q14_unpivot", q14Unpivot, Exact(q14UnpivotSql)),
    Lane("q14_grouping_sets", q14GroupingSets, Exact(q14GroupingSetsSql)),
    Lane("q37_profile", q37Profile, Exact(q37ProfileSql)),
    Lane("q37_profile_approx", q37ProfileApprox, RowsOnly(
      "approx_count_distinct values have no relational oracle; " +
      "ProfileApproxSpec bounds the error against q37_profile")),
    Lane("q45_upsert", q45Upsert, Exact(q45UpsertSql)),
    Lane("q38_jsonl", q38Jsonl, Exact(q38JsonlSql)),
    Lane("q38_csv", q38Csv, Exact(q38CsvSql)),
    Lane("q38_orc", q38Orc, Exact(q38OrcSql)),
    Lane("q38_avro", q38Avro, Exact(q38AvroSql)),
    Lane("q38_xml", q38Xml, Exact(q38XmlSql)),
    Lane("q38_text", q38Text, Exact(q38TextSql)),
    Lane("q39_partition_prune", q39PartitionPrune, Exact(q39PartitionPruneSql)),
    Lane("q39_agg_pushdown", q39AggPushdown, Exact(q39AggPushdownSql)),
    Lane("q39_dynamic_prune", q39DynamicPrune, Exact(q39DynamicPruneSql)),
    Lane("q39_sort_skip", q39SortSkip, Exact(q39SortSkipSql)),
    Lane("q39_zorder", q39Zorder, Exact(q39ZorderSql)),
    Lane("q39_bloom_skip", q39BloomSkip, Exact(q39BloomSkipSql)),
    Lane("q40_schema_merge", q40SchemaMerge, Exact(q40SchemaMergeSql)),
    Lane("q36_diff", q36Diff, Exact(q36DiffSql)),
  )

  val defs = lanes.map(l => l.name -> l.build).toMap
}
