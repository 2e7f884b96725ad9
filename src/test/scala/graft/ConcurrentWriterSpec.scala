package graft

import graft.streaming.{StreamingJobs, VersionStore}

/** VersionStore optimistic concurrency — the multi-job failure mode one
  * step past VacuumSpec: two writers racing `v=<id>` directories. Pins:
  *  (1) a rival committing INSIDE the first writer's commit critical
  *      section (via the beforeCommitCheck seam) is detected — the first
  *      writer aborts loudly, publishes nothing, and the rival's version
  *      is intact (no silent lost update in either direction);
  *  (2) the aborted writer retries against the new latest and succeeds,
  *      with the rival's changes PRESENT in the final state (the lost
  *      update the unguarded scheme would have silently dropped);
  *  (3) single-writer replay (crash-and-rerun of the same batch id) is
  *      still idempotent through the guarded path;
  *  (4) a failed commit leaves no staging debris behind.
  */
class ConcurrentWriterSpec extends SparkSpec {
  import spark.implicits._

  private def state(dir: String): Set[(Long, Double, String)] = {
    val v = StreamingJobs.listVersions(dir).max
    spark.read.parquet(s"$dir/v=$v")
      .select("o_orderkey", "price", "status")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
  }

  test("a rival commit inside the critical section aborts the writer loudly") {
    val dir = tempDir("graft_ccw").toString
    StreamingJobs.applyCdcBatch(
      Seq(Chg(1L, "insert", 1.0, "A", in_chg = true)).toDF(), dir, 0L)

    // Writer A prepares batch 1 (derives from v=0); just before A's
    // recheck, writer B commits batch 2 — ALSO derived from v=0, exactly
    // the race the unguarded scheme loses. B runs on another thread
    // because A holds the commit lock inside the seam.
    val bDf = Seq(Chg(3L, "insert", 3.0, "B", in_chg = true)).toDF()
    val rival = new Thread(() =>
      StreamingJobs.applyCdcBatch(bDf, dir, 2L))
    val e = intercept[java.util.ConcurrentModificationException] {
      StreamingJobs.applyCdcBatchGuarded(
        Seq(Chg(2L, "insert", 2.0, "A", in_chg = true)).toDF(), dir, 1L,
        beforeCommitCheck = () => {
          // release the lock for the rival: it must acquire, commit, and
          // finish before A proceeds to its recheck
          val lock = java.nio.file.Paths.get(dir, "_graft_commit.lock")
          java.nio.file.Files.deleteIfExists(lock)
          rival.start(); rival.join()
          java.nio.file.Files.createFile(lock) // restore A's hold
        })
    }
    assert(e.getMessage.contains("concurrent writer"))
    // B's version is intact, A published nothing
    assert(StreamingJobs.listVersions(dir).sorted == Seq(0L, 2L))
    assert(state(dir) == Set((1L, 1.0, "A"), (3L, 3.0, "B")))
    // no staging debris from the aborted attempt
    val leftovers = new java.io.File(dir).listFiles
      .map(_.getName).filter(_.startsWith("_staging_"))
    assert(leftovers.isEmpty, s"staging debris: ${leftovers.mkString(",")}")

    // (2) the aborted writer re-derives from the NEW latest and succeeds;
    // the rival's row survives — the lost update the guard exists to stop
    StreamingJobs.applyCdcBatch(
      Seq(Chg(2L, "insert", 2.0, "A", in_chg = true)).toDF(), dir, 3L)
    assert(state(dir) == Set((1L, 1.0, "A"), (2L, 2.0, "A"), (3L, 3.0, "B")))
  }

  test("two REAL writer threads racing one store: loud loser or clean serialization, never a lost update") {
    // r10 verdict task 7: the seam-based test above proves conflict
    // DETECTION deterministically; this one proves the protocol under
    // actual interleaving — two threads, full applyCdcBatch each, no
    // seams. Both derive from the same base with the staging write
    // (~0.5 s of Spark work) between base-read and lock, so overlap is
    // near-certain; the spec still accepts the serial outcome and pins
    // the invariant either way: every batch either publishes its row or
    // throws ConcurrentModificationException — no third state.
    import scala.jdk.CollectionConverters._
    var conflicts = 0
    (0 until 3).foreach { round =>
      val dir = tempDir(s"graft_ccw_race$round").toString
      StreamingJobs.applyCdcBatch(
        Seq(Chg(1L, "insert", 1.0, "base", in_chg = true)).toDF(), dir, 0L)
      val df1 = Seq(Chg(2L, "insert", 2.0, "W1", in_chg = true)).toDF()
      val df2 = Seq(Chg(3L, "insert", 3.0, "W2", in_chg = true)).toDF()
      val errs = new java.util.concurrent.ConcurrentHashMap[Long, Throwable]()
      val start = new java.util.concurrent.CountDownLatch(1)
      def writer(id: Long, df: org.apache.spark.sql.DataFrame) = new Thread(() => {
        start.await()
        try StreamingJobs.applyCdcBatch(df, dir, id)
        catch { case t: Throwable => errs.put(id, t) }
      })
      val (t1, t2) = (writer(1L, df1), writer(2L, df2))
      t1.start(); t2.start(); start.countDown(); t1.join(); t2.join()

      errs.values.asScala.foreach(t => assert(
        t.isInstanceOf[java.util.ConcurrentModificationException],
        s"loser must abort LOUDLY with CME, got $t"))
      assert(errs.size <= 1, s"at most one loser per race, got ${errs.size}")
      val vs = StreamingJobs.listVersions(dir).sorted
      val st = state(dir)
      if (errs.isEmpty) { // serialized cleanly: both rows present
        assert(vs == Seq(0L, 1L, 2L))
        assert(st == Set((1L, 1.0, "base"), (2L, 2.0, "W1"), (3L, 3.0, "W2")))
      } else {            // conflict: winner's row present, loser published NOTHING
        conflicts += 1
        val loser = errs.keys.asScala.next()
        val winner = 3L - loser
        assert(vs == Seq(0L, winner))
        val winnerRow = if (winner == 1L) (2L, 2.0, "W1") else (3L, 3.0, "W2")
        assert(st == Set((1L, 1.0, "base"), winnerRow))
        // loser retries against the new latest: the update is never LOST
        val retryDf = if (loser == 1L) df1 else df2
        StreamingJobs.applyCdcBatch(retryDf, dir, 3L)
        assert(state(dir) ==
          Set((1L, 1.0, "base"), (2L, 2.0, "W1"), (3L, 3.0, "W2")))
      }
    }
    info(s"real-race interleavings: $conflicts/3 conflicted (0 = all serialized; " +
      "both outcomes are protocol-correct)")
  }

  test("vacuum racing a live committer: lock serializes, no vacuum error, no broken lineage") {
    // One thread commits batches 6..12 while another vacuums keepLast=2 in
    // a tight loop. The lock must serialize vacuum's list+delete against
    // the committer's recheck+publish: vacuum never throws, never deletes
    // a base out from under a derivation (keepLast ≥ 2 keeps every
    // replay base), and the final lineage carries EVERY committed row.
    import scala.jdk.CollectionConverters._
    val dir = tempDir("graft_ccw_vac_race").toString
    (0 to 5).foreach { i =>
      StreamingJobs.applyCdcBatch(
        Seq(Chg(i.toLong, "insert", i.toDouble, "A", in_chg = true)).toDF(), dir, i.toLong)
    }
    val dfs = (6 to 12).map(i =>
      i.toLong -> Seq(Chg(i.toLong, "insert", i.toDouble, "A", in_chg = true)).toDF()).toMap
    val commitErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val vacErrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val committer = new Thread(() => {
      try (6 to 12).foreach(i => StreamingJobs.applyCdcBatch(dfs(i.toLong), dir, i.toLong))
      catch { case t: Throwable => commitErr.set(t) }
    })
    val vacuum = new Thread(() => {
      while (!stop.get()) {
        try StreamingJobs.vacuumVersions(dir, keepLast = 2)
        catch { case t: Throwable => vacErrs.add(t) }
        Thread.sleep(5)
      }
    })
    committer.start(); vacuum.start()
    committer.join(); stop.set(true); vacuum.join()
    assert(commitErr.get() == null, s"committer failed: ${commitErr.get()}")
    assert(vacErrs.isEmpty, s"vacuum errors: ${vacErrs.asScala.mkString("; ")}")
    // lineage intact: the final state carries every insert 0..12
    assert(state(dir) == (0 to 12).map(i => (i.toLong, i.toDouble, "A")).toSet)
    // and vacuum actually ran: old versions are gone, latest survives
    val vs = StreamingJobs.listVersions(dir).sorted
    assert(vs.last == 12L)
    assert(vs.size <= 3, s"vacuum should have pruned, left $vs")
  }

  test("crash replay of the same batch id is idempotent through the guard") {
    val dir = tempDir("graft_ccw_replay").toString
    StreamingJobs.applyCdcBatch(
      Seq(Chg(1L, "insert", 1.0, "A", in_chg = true)).toDF(), dir, 0L)
    val b1 = Seq(Chg(1L, "update", 10.0, "B", in_chg = true))
    StreamingJobs.applyCdcBatch(b1.toDF(), dir, 1L)
    val before = state(dir)
    StreamingJobs.applyCdcBatch(b1.toDF(), dir, 1L) // at-least-once replay
    assert(state(dir) == before)
    assert(StreamingJobs.listVersions(dir).sorted == Seq(0L, 1L))
  }

  test("the committer marker is written and satisfies vacuum's store check") {
    val dir = tempDir("graft_ccw_marker").toString
    (0 to 3).foreach { i =>
      StreamingJobs.applyCdcBatch(
        Seq(Chg(i.toLong, "insert", i.toDouble, "A", in_chg = true)).toDF(),
        dir, i.toLong)
    }
    assert(new java.io.File(dir, VersionStore.MarkerName).isFile)
    assert(StreamingJobs.vacuumVersions(dir, keepLast = 2) == Seq(0L, 1L))
  }

  test("listVersions ignores malformed v= names and staging dirs") {
    val dir = tempDir("graft_ccw_list").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/v=7"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/v=oops"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/_staging_v8_abc"))
    assert(VersionStore.listVersions(dir) == Seq(7L))
  }
}
