package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one seed, one process.
  *
  * `run.py` launches it after generating the lane tables and hands it the
  * epoch millis at which the benchmark process started; this JVM reports
  * the epoch millis of its first timed operation, so set-up time covers the
  * generator, JVM start, session build, mock start and warm-up.
  *
  * It writes raw records (operation timings, lane digests, ETL accounting,
  * and in a traced run the spans and per-layer figures) as one JSON file;
  * `run.py` checks them and derives the metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cpus = Runtime.getRuntime.availableProcessors()

    val buildS0 = System.nanoTime()
    val spark = graft.GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val buildS = (System.nanoTime() - buildS0) / 1e9
    val trace = new Trace(spark, traced)
    val result = new java.util.LinkedHashMap[String, Any]()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    result.put("workload", workload)
    result.put("seed", seed)
    result.put("traced", traced)
    result.put("cpus", cpus)
    result.put("session_build_s", buildS)
    try {
      workload match {
        case "etl_sync" => Etl.run(spark, trace, seed, seconds, work, cpus, result)
        case w if Lanes.modules.contains(w) =>
          val data = opts("data")
          val w0 = System.nanoTime()
          Lanes.warmUp(spark, data)
          result.put("warmup_s", (System.nanoTime() - w0) / 1e9)
          result.put("first_op_ms", System.currentTimeMillis())
          val checks = new java.io.PrintWriter(opts("lane-checks"), "UTF-8")
          val (res, notReached) = try trace.span(w, "workload", owner = w) {
            Lanes.run(spark, trace, w, data, seed, traced, opts("census-until-ms").toLong, { r =>
              checks.println(mapper.writeValueAsString(LaneRecord.check(r)))
              checks.flush()
            })
          } finally checks.close()
          result.put("lanes", res.map(r => LaneRecord(r, trace)).asJava)
          result.put("lanes_not_reached", notReached.asJava)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      result.put("vm_hwm_mb", vmHwmMb())
      if (traced) result.put("trace", TraceReport(trace, result))
    } finally {
      spark.stop()
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")),
      mapper.writeValueAsString(Json.toJava(result)))
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Scala collections to the Java ones Jackson writes. */
object Json {
  def toJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case m: scala.collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case l: java.util.List[_] => l.asScala.map(toJava).asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case Some(x) => toJava(x)
    case None => null
    case x => x
  }
}

/** One lane's record: timings, output digest and (traced) its Spark work. */
object LaneRecord {
  /** What the output check needs, written as soon as the lane ends. */
  def check(r: Lanes.Result): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("lane", r.lane)
    m.put("fixed", r.fixed)
    m.put("wall_s", r.wallS)
    m.put("construct_s", r.constructS)
    m.put("action_s", r.actionS)
    m.put("rows", r.rows)
    m.put("digest", java.lang.Long.toUnsignedString(r.digest))
    m.put("columns", r.columns.asJava)
    m.put("error", r.error.orNull)
    m.put("oracle_sql", graft.SparkEntry.oracleSql.get(r.lane).orNull)
    m
  }

  def apply(r: Lanes.Result, trace: Trace): java.util.Map[String, Any] = {
    val m = check(r)
    if (trace.enabled) {
      val kids = trace.spans.filter(_.parent == r.spanId)
      val construct = kids.find(_.name == "construct").map(s => trace.subtree(s.id)).getOrElse(Set.empty)
      val all = trace.subtree(r.spanId)
      val jobs = trace.jobsIn(all)
      m.put("construct_jobs", trace.jobsIn(construct).size)
      m.put("jobs", jobs.size)
      m.put("stages", trace.stagesIn(all))
      trace.tasksIn(all).asMap.foreach { case (k, v) => m.put(k, v) }
      val ph = trace.phasesIn(all)
      Seq("analysis", "optimization", "planning").foreach(p => m.put(s"${p}_s", ph.getOrElse(p, 0.0)))
    }
    m
  }
}
