package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => PropTest}
import graft.queries.Analytics

/** Generative invariants for the q43 gap-fill lane: whatever the hole
  * pattern, the dense grid must (a) cover each type's observed span
  * contiguously, (b) put zeros exactly on the silent hours, and (c) carry
  * a prefix-sum cumulative ending at the type's total. The oracle proves
  * one fixture; this proves the algebra over arbitrary sparse series.
  * Raw scalacheck runner, as in PropertySpec (no bridge in the cache);
  * few iterations — each case runs real Spark jobs. */
class GapfillPropertySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSpec.session

  // hour-aligned so date_trunc('hour') lands exactly on base + h*3600
  private val Base = 1699999200L

  // per type: sparse hour offsets in [0, 48] with per-hour counts 1..4
  private val seriesGen: Gen[Map[String, Map[Int, Int]]] = for {
    nTypes <- Gen.choose(1, 3)
    series <- Gen.sequence[Seq[(String, Map[Int, Int])], (String, Map[Int, Int])](
      Seq("a", "b", "c").take(nTypes).map { t =>
        for {
          hours <- Gen.nonEmptyContainerOf[Set, Int](Gen.choose(0, 48))
          counts <- Gen.sequence[Seq[(Int, Int)], (Int, Int)](
            hours.toSeq.map(h => Gen.choose(1, 4).map(h -> _)))
        } yield t -> counts.toMap
      })
  } yield series.toMap

  test("gap-fill grid is contiguous, zero-filled, and cum ends at the total") {
    import spark.implicits._
    val prop = Prop.forAll(seriesGen) { series =>
      val dir = tempDir("graft_gapfill_prop").toString
      val rows = for {
        (t, byHour) <- series.toSeq
        (h, n) <- byHour.toSeq
        i <- 0 until n
      } yield (math.abs(t.hashCode).toLong * 1000 + h * 10 + i,
        (Base + h * 3600L + i * 7L) * 1000000000L, 1L, t, 1.0, "{}")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      val out = Analytics.q43Gapfill(spark, dir)
        .select($"event_type", $"h".cast("long"), $"n", $"cum") // ts→seconds
        .as[(String, Long, Long, Long)].collect()
      series.forall { case (t, byHour) =>
        val g = out.filter(_._1 == t).sortBy(_._2)
        val hours = byHour.keys
        val span = g.length == hours.max - hours.min + 1
        val grid = g.map(_._2).sameElements(
          (hours.min to hours.max).map(h => Base + h * 3600L))
        val fills = g.forall { case (_, hSec, n, _) =>
          val off = ((hSec - Base) / 3600L).toInt
          n == byHour.getOrElse(off, 0).toLong
        }
        val total = byHour.values.map(_.toLong).sum
        val cumOk = g.last._4 == total &&
          g.scanLeft(0L)(_ + _._3).tail.sameElements(g.map(_._4))
        span && grid && fills && cumOk
      }
    }
    val res = PropTest.check(
      PropTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
