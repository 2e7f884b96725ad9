package perfbench

import java.time.Instant

/** Seeded source data of the `etl_sync` workload: what the mock CommCare API
  * serves (three tables, one per pagination path) and the documents staged
  * for push, cycle by cycle.
  *
  * Cycle `c` covers index timestamps in `(upper(c-1), upper(c)]`. Within a
  * cycle, rows come in bursts that share one index timestamp (so keyset
  * restarts refetch the burst's earlier rows), each burst smaller than a
  * page. Row counts (within 10 % of each table's size, so every seed is the
  * same amount of work), burst sizes and payload sizes are drawn from the
  * seed.
  */
final class EtlGen(val seed: Long, val cycles: Int) {
  import EtlGen._

  val tables: Map[String, Seq[Rec]] = TableShapes.map { case (t, shape) =>
    val rnd = new scala.util.Random(seed * 31 + t.hashCode)
    val recs = Seq.newBuilder[Rec]
    var id = shape.idBase
    (0 until cycles).foreach { c =>
      val lo = windowStart(c) + 1
      val n = (shape.rowsPerCycle * (0.9 + 0.2 * rnd.nextDouble())).toInt
      var left = n
      // distinct burst timestamps, sorted, inside the cycle's window
      val bursts = Iterator.continually(1 + rnd.nextInt(MaxBurst)).scanLeft(0)(_ + _)
        .takeWhile(_ < n).size
      val stamps = Iterator.continually(lo + (rnd.nextDouble() * (WindowMicros - 1)).toLong)
        .distinct.take(bursts).toSeq.sorted
      stamps.foreach { ts =>
        val k = math.min(left, 1 + rnd.nextInt(MaxBurst))
        (0 until k).foreach { _ =>
          val payload = math.min(4000, (120 * math.exp(rnd.nextGaussian() * 0.6)).toInt)
          recs += Rec(id, ts, shape.archivable && rnd.nextInt(10) == 0, payload)
          id += 1
        }
        left -= k
      }
    }
    t -> recs.result()
  }.toMap

  /** Documents staged for push in cycle `c`, per specifier: (id, ts micros). */
  def pushDocs(c: Int): Map[String, Seq[(Long, Long)]] = Specifiers.map { case (spec, _) =>
    val rnd = new scala.util.Random(seed * 131 + c * 7 + spec.hashCode)
    val n = (PushPerCycle * (0.9 + 0.2 * rnd.nextDouble())).toInt
    val base = (if (spec == Specifiers.head._1) 1L else 2L) * 1000000000L + c * 1000000L
    spec -> (0 until n).map(i => (base + i, windowStart(c) + 1 + (rnd.nextDouble() * (WindowMicros - 1)).toLong))
  }.toMap

  /** Rows the API returns for `table`: archived forms only when asked for. */
  def served(table: String, includeArchived: Boolean): Seq[Rec] =
    tables(table).filter(r => includeArchived || !r.archived)
}

object EtlGen {
  final case class Rec(id: Long, ts: Long, archived: Boolean, payloadLen: Int)
  final case class Shape(idBase: Long, rowsPerCycle: Int, limit: Int, archivable: Boolean)

  /** `case`: keyset; `form`: keyset with include_archived; `action_times`:
    * `UTC_start_time` window with no order_by, continued by `meta.next`.
    *
    * One cycle is a quarter of a window of the sizing probe in
    * `perfbench/README.md` (200 k rows per table over 8 windows is 25 k rows
    * per table and window; larger cycles made a run too long for the time
    * budget), paged at the engine's default page size of 1000
    * (`RestEnvelopeSource`'s `limit`). */
  val TableShapes: Seq[(String, Shape)] = Seq(
    "case" -> Shape(10000000L, 6250, 1000, archivable = false),
    "form" -> Shape(20000000L, 6250, 1000, archivable = true),
    "action_times" -> Shape(30000000L, 6250, 1000, archivable = false))
  val MaxBurst = 6
  /** One POST and one PATCH push target. */
  val Specifiers: Seq[(String, String)] = Seq("visits" -> "POST", "referrals" -> "PATCH")
  /** Documents per specifier and cycle: a quarter of the probe's 40 k
    * pushed documents over its 8 windows. */
  val PushPerCycle = 1250

  val T0: Long = Instant.parse("2024-06-01T00:00:00Z").getEpochSecond * 1000000L
  /** Four hours: the push input of a cycle lands in four hourly files per
    * specifier, as in the probe's 4-file push. */
  val WindowMicros: Long = 4L * 3600 * 1000000L

  /** Exclusive lower end of cycle `c`'s index window. */
  def windowStart(c: Int): Long = T0 + c * WindowMicros
  /** Inclusive upper end of cycle `c`'s window: the pull's upper bound. */
  def upper(c: Int): Instant = {
    val m = windowStart(c + 1)
    Instant.ofEpochSecond(m / 1000000L, (m % 1000000L) * 1000L)
  }

  /** The API's two timestamp spellings, with and without `Z`. */
  def fmt(micros: Long, withZ: Boolean): String =
    graft.sources.RestEnvelopeSource.fmtTs(micros).stripSuffix("Z") + (if (withZ) "Z" else "")
}
