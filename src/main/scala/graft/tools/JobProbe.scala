package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-only: run one lane N passes ([[graft.Bench.noopPass]]) with a
  * listener that prints every job's wall time and its stages' task-time/
  * shuffle totals — for finding WHERE a lane's wall clock goes when
  * stage-cut probes disagree with end-to-end timing.
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.JobProbe <lane> [passes]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val lane = args(0)
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")

    case class StageAgg(var name: String = "", var taskTimeMs: Long = 0,
                        var tasks: Int = 0, var maxTaskMs: Long = 0,
                        var shuffleReadMB: Double = 0, var shuffleWriteMB: Double = 0,
                        var spillMB: Double = 0, var gcMs: Long = 0,
                        var deserMs: Long = 0, var frames: String = "")
    val stages = mutable.LinkedHashMap[Int, StageAgg]()
    val jobs = mutable.LinkedHashMap[Int, (Long, mutable.Buffer[Int])]() // start, stageIds
    val jobEnd = mutable.LinkedHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs(j.jobId) = (j.time, j.stageIds.toBuffer) }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobEnd(j.jobId) = j.time }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val a = stages.getOrElseUpdate(s.stageInfo.stageId, StageAgg())
          a.name = s.stageInfo.name.takeWhile(_ != '\n').take(90)
          // r16: the callsite name alone cannot tell ten AQE stage-
          // materialization jobs apart; the details stack's graft frames can
          a.frames = s.stageInfo.details.linesIterator
            .filter(l => l.contains("graft.") || l.contains("exchange") ||
              l.contains("adaptive"))
            .take(3).mkString(" | ").take(220)
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        stages.synchronized {
          val a = stages.getOrElseUpdate(t.stageId, StageAgg())
          val m = t.taskMetrics
          if (m != null) {
            val ms = m.executorRunTime
            a.taskTimeMs += ms; a.tasks += 1
            if (ms > a.maxTaskMs) a.maxTaskMs = ms
            a.shuffleReadMB += (m.shuffleReadMetrics.totalBytesRead / 1e6)
            a.shuffleWriteMB += (m.shuffleWriteMetrics.bytesWritten / 1e6)
            a.spillMB += (m.diskBytesSpilled / 1e6)
            a.gcMs += m.jvmGCTime
            a.deserMs += m.executorDeserializeTime
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = graft.SparkEntry.queries(lane)
    for (p <- 0 until passes) {
      jobs.clear(); jobEnd.clear(); stages.clear()
      val wall = graft.Bench.noopPass(spark, fn, sfDir).get
      // drain the async listener bus so straggler events cannot bleed
      // into the next pass's stats
      graft.GraftSession.drainListenerBus(spark)
      println(f"[jobprobe] pass$p wall=$wall%.2f s ---------------------------")
      jobs.toSeq.sortBy(_._1).foreach { case (jid, (st, sids)) =>
        val dur = (jobEnd.getOrElse(jid, st) - st) / 1e3
        if (dur > 0.15) {
          println(f"[jobprobe]  job $jid%3d ${dur}%7.2f s")
          sids.foreach { sid =>
            stages.get(sid).filter(_.taskTimeMs > 150).foreach { a =>
              println(f"[jobprobe]    stage $sid%4d task-time=${a.taskTimeMs / 1e3}%8.2f s tasks=${a.tasks}%4d " +
                f"maxTask=${a.maxTaskMs / 1e3}%6.2f s gc=${a.gcMs / 1e3}%6.2f s deser=${a.deserMs / 1e3}%6.2f s " +
                f"sr=${a.shuffleReadMB}%8.1f MB sw=${a.shuffleWriteMB}%8.1f MB " +
                f"spill=${a.spillMB}%6.1f MB  ${a.name}")
              if (a.frames.nonEmpty) println(s"[jobprobe]      ^ ${a.frames}")
            }
          }
        }
      }
    }
    spark.stop()
  }
}
