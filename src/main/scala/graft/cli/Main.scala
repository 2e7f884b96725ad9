package graft.cli

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import graft.core.StateStore
import graft.ingest.Ingest
import graft.push.PushJob

/** Entry dispatch (SURVEY §2A R12; `lambda_function.py:20-84`): parse a job
  * config, route `cc_to_s3` (pull) / `s3_to_cc` (push), loop all tables of
  * a domain with the per-table 3-strike failure budget
  * (`CommCareAPIHandler.py:44-55`), and apply the staging URL rewrite
  * (`lambda_function.py:28-31`).
  *
  * Spark-native shape: the per-table loop is driver-side orchestration of
  * independent jobs — each table's extraction is itself distributed (the
  * graft-rest source slices time ranges across executors), so the loop
  * adds breadth, not serialization of the data plane.
  */
object Main {
  final case class TableConf(name: String, usesIndexedOn: Boolean, limit: Int)
  /** One push target (`lambda_function.py:69-81`): a landing-dir specifier
    * with its own HTTP method (`CommCareAPIHandler.py:321` reads
    * `data_type['method']`) and per-specifier auth token. */
  final case class SpecifierConf(name: String, method: String = "POST",
                                 token: Option[String] = None)
  final case class JobConf(
    operationType: String, domain: String, isStaging: Boolean,
    tables: Seq[TableConf], urlBase: String, landingDir: String,
    bronzeDir: String, stateDir: String, endpoint: String, testMode: Boolean,
    specifiers: Seq[SpecifierConf] = Seq.empty,
    authToken: Option[String] = None,
    /** Shared HTTP-request cap across ALL tables of one pull run — the
      * reference's handler-level counter (`CommCareAPIHandler.py:217-224`).
      * None ⇒ only the per-reader `max_requests` cap applies. */
    maxTotalRequests: Option[Int] = None,
    /** Filled by runPull when maxTotalRequests is set: the run's
      * RequestBudget accumulator key, for pull implementations to pass as
      * the graft-rest `budget_key` option. */
    budgetKey: Option[String] = None)

  def parseConf(json: String): JobConf = {
    val n = new ObjectMapper().readTree(json)
    def str(k: String, d: String = ""): String =
      Option(n.get(k)).map(_.asText()).getOrElse(d)
    def bool(k: String): Boolean = Option(n.get(k)).exists(_.asBoolean())
    val tables = Option(n.get("tables")).map { t =>
      (0 until t.size()).map(t.get).map { tn =>
        TableConf(tn.get("name").asText(),
          Option(tn.get("uses_indexed_on")).exists(_.asBoolean()),
          Option(tn.get("limit")).map(_.asInt()).getOrElse(1000))
      }
    }.getOrElse(Seq.empty)
    // Secret-injection failure mode (the reference resolves its token from
    // a secret store and FAILS when the lookup comes back empty —
    // util.py:29-41): an `auth_token` key that is present but null/empty
    // means the operator intended authentication and the injection broke.
    // Failing the parse here beats silently pulling/pushing anonymously
    // and burning the run's request budget on 401s. A config with NO
    // auth_token key stays legitimately anonymous (test servers).
    def tokenOf(node: com.fasterxml.jackson.databind.JsonNode, where: String): Option[String] =
      Option(node.get("auth_token")).map { tn =>
        val t = if (tn.isNull) "" else tn.asText()
        require(t.nonEmpty,
          s"auth_token is present but empty in $where — secret injection " +
            "failed; supply a non-empty token or remove the key for anonymous access")
        t
      }
    val specifiers = Option(n.get("specifiers")).map { s =>
      (0 until s.size()).map(s.get).map { sn =>
        SpecifierConf(sn.get("name").asText(),
          Option(sn.get("method")).map(_.asText()).getOrElse("POST"),
          tokenOf(sn, s"specifier '${sn.get("name").asText()}'"))
      }
    }.getOrElse(Seq.empty)
    JobConf(str("operation_type"), str("domain"), bool("is_staging"), tables,
      str("url_base"), str("landing_dir"), str("bronze_dir"), str("state_dir"),
      str("endpoint"), bool("test_mode"), specifiers,
      tokenOf(n, "the job config"),
      // filter(!_.isNull): an explicit JSON `null` would otherwise parse as
      // asInt() == 0 and abort every run before its first request
      Option(n.get("max_total_requests")).filter(!_.isNull).map(_.asInt()))
  }

  /** `lambda_function.py:28-31`: staging domains address the staging server;
    * the `staging-` prefix is stripped from the effective domain. */
  def effectiveDomain(domain: String, isStaging: Boolean): String =
    if (isStaging) domain.stripPrefix("staging-") else domain

  def apiUrl(conf: JobConf, table: TableConf): String =
    s"${conf.urlBase}/${effectiveDomain(conf.domain, conf.isStaging)}/api/${table.name}"

  /** R12 pull loop with the R11 per-table budget: up to 3 table failures
    * are skipped-and-counted; the 4th aborts the run. Watermark state is
    * per (domain, table). Returns rows ingested per table.
    *
    * Cross-table request budget (`CommCareAPIHandler.py:217-224` — the
    * reference counts requests across ALL tables of one run): when
    * `conf.maxTotalRequests` is set, a shared RequestBudget accumulator is
    * acquired for the run and its key handed to `pullTable` via
    * `conf.budgetKey` (REST pulls pass it as the graft-rest `budget_key`
    * option). Executors add to the counter per HTTP request; the driver —
    * the only place accumulators are readable — checks it before each table
    * and aborts the run loudly once the cap is spent. The budget abort is
    * raised OUTSIDE the 3-strike catch: an exhausted run budget is a run
    * failure, never a skippable table failure. */
  def runPull(spark: SparkSession, conf: JobConf,
              pullTable: (SparkSession, JobConf, TableConf) => Long = defaultPull)
  : Map[String, Long] = {
    val budgetKey = conf.maxTotalRequests.map { _ =>
      val k = s"pull-${java.util.UUID.randomUUID()}"
      graft.sources.RequestBudget.acquire(spark, k)
      k
    }
    val effConf = budgetKey.fold(conf)(k => conf.copy(budgetKey = Some(k)))
    var failures = 0
    val results = scala.collection.mutable.Map[String, Long]()
    try {
      effConf.tables.foreach { t =>
        for (k <- budgetKey; cap <- effConf.maxTotalRequests) {
          val spent = graft.sources.RequestBudget.spent(k)
          if (spent >= cap)
            throw new IllegalStateException(
              s"cross-table request budget exhausted: $spent of $cap requests " +
                s"used before table ${t.name} (APIErrorMax across the whole " +
                "run, CommCareAPIHandler.py:217-224)")
        }
        try results(t.name) = pullTable(spark, effConf, t)
        catch {
          case e: Exception =>
            failures += 1
            if (failures > 3)
              throw new IllegalStateException(
                s"table failure budget exceeded after ${t.name} (APIErrorMax, CommCareAPIHandler.py:23-24)", e)
            System.err.println(s"[cli] table ${t.name} failed (${failures}/3): ${e.getMessage}")
        }
      }
      // final check so a last-table overshoot still fails the RUN loudly
      // (within a table, the per-reader max_requests cap bounds the overshoot)
      for (k <- budgetKey; cap <- effConf.maxTotalRequests) {
        val spent = graft.sources.RequestBudget.spent(k)
        if (spent > cap)
          throw new IllegalStateException(
            s"cross-table request budget exceeded: $spent > $cap requests " +
              "across the run (CommCareAPIHandler.py:217-224)")
      }
    } finally budgetKey.foreach(graft.sources.RequestBudget.release)
    results.toMap
  }

  /** `CommCareAPIHandler.py:71-73`: test-mode runs land in a `-test`
    * sibling of the type dir — production data is never mixed with a dry
    * run's output. */
  def typeDir(conf: JobConf, table: String): String =
    if (conf.testMode) s"$table-test" else table

  private def defaultPull(spark: SparkSession, conf: JobConf, t: TableConf): Long = {
    val state = new StateStore(conf.stateDir)
    Ingest.incrementalRun(spark, s"${conf.landingDir}/${t.name}",
      s"${conf.bronzeDir}/${typeDir(conf, t.name)}", state,
      s"${t.name}.last_successful_job_time")
  }

  /** REST-backed pull for one table: per-table wire params
    * (`RestEnvelopeSource.tableOptions` — form/action_times special cases)
    * plus the run's shared request-budget key, wired into graft-rest. Use as
    * `runPull(spark, conf, restPull(upperBound))`. */
  def restPull(upperBound: java.time.Instant)
              (spark: SparkSession, conf: JobConf, t: TableConf): Long = {
    val state = new StateStore(conf.stateDir)
    val opts = graft.sources.RestEnvelopeSource.tableOptions(t.name) ++
      conf.budgetKey.map("budget_key" -> _)
    Ingest.restPullRun(spark, apiUrl(conf, t),
      s"${conf.bronzeDir}/${typeDir(conf, t.name)}", state, upperBound,
      s"${t.name}.last_successful_job_time", limit = t.limit,
      authToken = conf.authToken, tableOptions = opts)
  }

  /** Push every JSON document under `<landing>/<specifier>`. The lookup is
    * recursive: the reference lands files hour-partitioned as
    * `{specifier}/{YYYY}/{MM}/{DD}/{HH}/` (`CommCareAPIHandler.py:275-277`),
    * and those plain-named directories are not `key=value` partitions that
    * Spark's default listing would resolve. A flat `{specifier}/` of files
    * reads the same either way. */
  def runPush(spark: SparkSession, conf: JobConf, specifier: String,
              method: String = "POST", token: Option[String] = None): Unit = {
    val df = spark.read.option("recursiveFileLookup", "true")
      .json(s"${conf.landingDir}/$specifier")
      .selectExpr("to_json(struct(*)) AS doc")
    // `case`-shaped pushes log each record's form_id
    // (`CommCareAPIHandler.py:303-304` via const.py:1) — observability
    // parity for reconciling a push against the source forms
    val logId = if (specifier == "case" || specifier.startsWith("case_"))
      Some("form_id") else None
    PushJob.push(df, "doc", conf.endpoint, method = method,
      authToken = token.orElse(conf.authToken), logIdField = logId)
  }

  /** `lambda_function.py:69-81`: push ALL configured specifiers, each with
    * its own method and token. Returns the specifiers pushed, in order. */
  def runPushAll(spark: SparkSession, conf: JobConf): Seq[String] = {
    val specs =
      if (conf.specifiers.nonEmpty) conf.specifiers
      else Seq(SpecifierConf("default"))
    specs.map { sp =>
      runPush(spark, conf, sp.name, sp.method, sp.token)
      sp.name
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: graft.cli.Main <config.json> [specifier]")
    val conf = parseConf(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(0))), "UTF-8"))
    val spark = graft.GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      // a real deployment points SPARK_MASTER at the cluster manager; every
      // other conf in the shared builder still applies there
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .getOrCreate()
    try dispatch(spark, conf, if (args.length > 1) Some(args(1)) else None)
    finally spark.stop()
  }

  /** Route one parsed job (separated from `main` so specs can drive the
    * dispatch on a shared session). */
  def dispatch(spark: SparkSession, conf: JobConf,
               specifierArg: Option[String] = None): Unit =
    conf.operationType match {
      case "cc_to_s3" =>
        val res = runPull(spark, conf)
        println(res.map { case (k, v) => s"$k=$v" }.mkString("pulled: ", ", ", ""))
      case "s3_to_cc" =>
        val pushed = specifierArg match {
          case Some(name) =>
            // a named specifier keeps its configured method/token — the CLI
            // path must push exactly as runPushAll would
            // (`lambda_function.py:69-81`)
            val sp = conf.specifiers.find(_.name == name).getOrElse {
              // a typo'd name must not silently push with default
              // method/token; only a config with NO specifier list at all
              // may fall back to defaults for an ad-hoc name
              if (conf.specifiers.nonEmpty)
                throw new IllegalArgumentException(
                  s"unknown specifier '$name': configured specifiers are " +
                    conf.specifiers.map(_.name).mkString(", "))
              SpecifierConf(name)
            }
            runPush(spark, conf, sp.name, sp.method, sp.token)
            Seq(sp.name)
          case None => runPushAll(spark, conf)
        }
        println(pushed.mkString("pushed: ", ", ", ""))
      case other => throw new IllegalArgumentException(s"unknown operation_type: $other")
    }
}
