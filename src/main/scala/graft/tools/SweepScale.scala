package graft.tools

import scala.util.control.NonFatal

/** Dev-only FULL-LANE scale sweep (r9 verdict task 3): run EVERY
  * `SparkEntry.queries` lane against a `copies`×-widened corpus (the
  * ScaleSmoke self-union build, all 10 tables) and record warm
  * full-materialization wall time per lane — one line per lane, parseable,
  * so a 1× run and a 32× run diff into a per-lane scale-exponent table
  * (time(32×)/time(1×)) for PLANS.md.
  *
  * Timing = [[graft.Bench.noopPass]], the gated bench pass; rep0 pays
  * codegen, rep1 is the reported warm number. A per-lane
  * watchdog cancels the lane's job group after SPARK_GRAFT_SWEEP_TIMEOUT
  * seconds (default 240) and records status=timeout — the documented-O(n²)
  * audit baselines are EXPECTED to trip it at 32×; that is the finding,
  * not a sweep failure.
  *
  * Usage:
  *   SPARK_GRAFT_SCALE_COPIES=32 SPARK_GRAFT_SCALE_REUSE=1 \
  *     sbt "runMain graft.tools.SweepScale [lanePrefix,...]"
  * The corpus must already exist (run ScaleSmoke first, or any lane list —
  * the build step is shared); args restrict lanes by prefix for chunked runs.
  */
object SweepScale {
  def main(args: Array[String]): Unit = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "8").toInt
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_SWEEP_TIMEOUT", "240").toInt
    val out = s"/tmp/graft_scale$copies"
    require(new java.io.File(s"$out/documents.parquet/_SUCCESS").exists(),
      s"corpus $out missing — run ScaleSmoke with SPARK_GRAFT_SCALE_COPIES=$copies first")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val only = args.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

    val lanes = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
    // clock anchor in the header: sweep logs from different containers
    // normalize through it (core/Calibration.scala)
    println(f"[sweep$copies] anchor_s=${graft.core.Calibration.measure()}%.3f")
    println(s"[sweep$copies] ${lanes.size} lanes, timeout ${timeoutSec}s, corpus $out")

    lanes.foreach { case (name, fn) =>
      // An executor OOM in local mode trips SparkUncaughtExceptionHandler
      // and stops the context — every later lane would then fail with a
      // misleading IllegalStateException (observed r11, 128× q24_lsh_pairs
      // heap OOM poisoning 7 lanes). Abort the sweep loudly instead.
      if (spark.sparkContext.isStopped) {
        println(s"[sweep$copies] lane=$name status=aborted-context-stopped " +
          "(an earlier lane killed the SparkContext — fix/re-run from here)")
        Console.out.flush()
        return
      }
      val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      // The lane runs on its OWN thread (r10 ADVICE): cancelJobGroup only
      // unblocks a lane stuck in a Spark job — a lane stuck DRIVER-side
      // (plan building, driver-held loops between jobs) has no job to
      // cancel, so the watchdog escalates to interrupting this thread.
      // Job groups are thread-local: set inside the runner.
      val results =
        new java.util.concurrent.atomic.AtomicReferenceArray[Either[String, Double]](2)
      lazy val runner: Thread = new Thread(() => {
        spark.sparkContext.setJobGroup(s"sweep-$name", name, interruptOnCancel = true)
        def onePass(): Either[String, Double] =
          try graft.Bench.noopPass(spark, fn, out).toEither.left.map { e =>
            // Root-cause message inline (r11: q93's 128× failure printed
            // only `error:SparkException` — useless for diagnosis);
            // newlines stripped so the line stays grep-parseable.
            def msg(t: Throwable): String = {
              val root = Iterator.iterate(t)(_.getCause)
                .takeWhile(_ != null).toSeq.last
              Option(root.getMessage).getOrElse("")
                .replaceAll("[\\r\\n\\t]+", " ").take(300)
            }
            if (cancelled.get()) "timeout"
            else s"error:${e.getClass.getSimpleName}(${msg(e)})"
          } catch {
            // the watchdog's last escalation interrupts this runner thread
            case _: InterruptedException => Left("timeout")
          }
        val r0 = onePass()
        results.set(0, r0)
        val r1 = if (r0.isRight && !cancelled.get()) onePass() else r0
        results.set(1, r1)
        spark.sparkContext.clearJobGroup()
        done.set(true)
      }, s"sweep-runner-$name")
      // watchdog: repeated cancel — a lane with a driver-side loop submits
      // NEW jobs into the same group after a one-shot cancel, so keep
      // cancelling until the lane's thread exits the timed region; after
      // ~10 s of failed cancels, interrupt the runner (best-effort — a
      // dev tool may leave the session untidy, never hung).
      val watchdog = new Thread(() => {
        val deadline = System.nanoTime() + timeoutSec * 1000000000L
        while (!done.get() && System.nanoTime() < deadline)
          Thread.sleep(250)
        var cancels = 0
        while (!done.get()) {
          cancelled.set(true)
          spark.sparkContext.cancelJobGroup(s"sweep-$name")
          cancels += 1
          if (cancels >= 5) runner.interrupt()
          Thread.sleep(2000)
        }
      })
      watchdog.setDaemon(true)
      runner.setDaemon(true)
      runner.start()
      watchdog.start()
      // grace beyond the lane timeout for the cancel/interrupt cascade;
      // a runner that survives even the interrupts is abandoned (daemon)
      runner.join((timeoutSec + 90) * 1000L)
      if (runner.isAlive) {
        cancelled.set(true)
        runner.interrupt()
        runner.join(30000L)
      }
      done.set(true)
      // no result without a cancel: a fatal error ended the runner thread
      val r0 = Option(results.get(0)).getOrElse(
        Left(if (cancelled.get()) "timeout" else "error:runner-died"): Either[String, Double])
      val r1 = Option(results.get(1)).getOrElse(r0)
      try { graft.GraftSession.releaseCaches(spark); System.gc() }
      catch { case NonFatal(_) => () }
      val (status, cold, warm) = (r0, r1) match {
        case (Right(a), Right(b)) => ("ok", f"$a%.2f", f"$b%.2f")
        case (Right(a), Left(s))  => (s, f"$a%.2f", "-1")
        case (Left(s), _)         => (s, "-1", "-1")
      }
      println(s"[sweep$copies] lane=$name status=$status cold=$cold warm=$warm")
      Console.out.flush()
    }
    spark.stop()
  }
}
