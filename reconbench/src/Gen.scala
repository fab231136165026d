package reconbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.Sources

/** One generated event. `slice` is the paced slice that releases it, or -1
  * when `Sources.eventsReplay` decides the slices.
  */
final case class Ev(id: Long, tsMicros: Long, user: Long, etype: String,
                    value: Double, k: Int, slice: Int) {
  def row: Row = Row(id, Gen.timestamp(tsMicros), user, etype, value, s"""{"k": $k}""")
}

/** Seeded event generators, one per workload. Every output is in
  * `Sources.eventSchema`; the same seed gives the same events.
  */
object Gen {
  val BaseMicros = 1704067200000000L // 2024-01-01T00:00:00Z
  val HourMicros = 3600L * 1000000L
  val Types = Array("signup", "purchase", "view", "click", "error")
  val SentinelUser = -999L

  def timestamp(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  private def ev(r: SplittableRandom, id: Long, ts: Long, user: Long, t: String, slice: Int) =
    Ev(id, ts, user, t, r.nextInt(1, 20000) / 100.0, r.nextInt(100), slice)

  /** Event ids follow event time, as in the repository's events test data. */
  private def byTime(r: SplittableRandom, n: Int, spanMicros: Long)
      (draw: (Long, Long) => Ev): Array[Ev] = {
    val ts = Array.fill(n)(BaseMicros + r.nextLong(spanMicros))
    java.util.Arrays.sort(ts)
    Array.tabulate(n)(i => draw(i.toLong, ts(i)))
  }

  /** The shape of the sf0.1 events test data: five equally likely types,
    * 1.5k users, 30 event-time days.
    */
  def uniform(seed: Long, n: Int, users: Int = 1500, days: Int = 30): Array[Ev] = {
    val r = new SplittableRandom(seed)
    byTime(r, n, days * 24L * HourMicros) { (id, ts) =>
      ev(r, id, ts, r.nextInt(users).toLong, Types(r.nextInt(Types.length)), -1)
    }
  }

  /** Dense event time over many users with a low match rate: most events
    * are join legs, and only `overlap` of purchases come from users who
    * ever sign up.
    */
  def deep(seed: Long, n: Int, spanMicros: Long, users: Int, overlap: Double): Array[Ev] = {
    val r = new SplittableRandom(seed)
    byTime(r, n, spanMicros) { (id, ts) =>
      val x = r.nextDouble()
      if (x < 0.45) ev(r, id, ts, r.nextInt(users).toLong, "signup", -1)
      else if (x < 0.9) {
        val u = if (r.nextDouble() < overlap) r.nextInt(users) else users + r.nextInt(users)
        ev(r, id, ts, u.toLong, "purchase", -1)
      } else ev(r, id, ts, r.nextInt(users).toLong, Types(2 + r.nextInt(3)), -1)
    }
  }

  /** Open-loop input: `rate` events/s for `seconds`, each stamped with its
    * creation time, arriving up to `disorderMs` later and released in the
    * slice of its arrival time. Returns the events in arrival order.
    */
  def paced(seed: Long, rate: Int, seconds: Int, sliceMs: Int, disorderMs: Int,
            users: Int = 1500): (Array[Ev], Int) = {
    val r = new SplittableRandom(seed)
    val n = rate * seconds
    val span = seconds * 1000000L
    val slices = (seconds * 1000 / sliceMs).max(1)
    val created = byTime(r, n, span) { (id, ts) =>
      ev(r, id, ts, r.nextInt(users).toLong, Types(r.nextInt(Types.length)), -1)
    }
    val arrival = created.map(e => e.tsMicros - BaseMicros + r.nextLong(disorderMs * 1000L + 1))
    val order = created.indices.sortBy(i => arrival(i))
    (order.map { i =>
      created(i).copy(slice = (arrival(i) / (sliceMs * 1000L)).toInt.min(slices - 1))
    }.toArray, slices)
  }

  /** One far-future event per leg on a user that joins nothing but its
    * twin: the final watermark then passes every real join window, so all
    * unmatched state is evicted and emitted. Excluded from every count.
    */
  def sentinels(events: Array[Ev], slice: Int): Seq[Ev] = {
    val ts = events.map(_.tsMicros).max + 30L * 24 * HourMicros
    Seq(Ev(-1L, ts, SentinelUser, "signup", 0.0, 0, slice),
        Ev(-2L, ts, SentinelUser, "purchase", 0.0, 0, slice))
  }

  def frame(spark: SparkSession, events: Seq[Ev]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(events.map(_.row): _*), Sources.eventSchema)
}

/** Properties of one run's input, recorded with every result so a later
  * change can state which share of a workload has the property it targets.
  * `sliceMaxTs`/`sliceMinTs` are per slice, in release order.
  */
object InputProps {
  private val WatermarkDelay = 10L * 60 * 1000000L
  private val Band = 24L * Gen.HourMicros

  def apply(events: Array[Ev], sliceMinTs: Seq[Long], sliceMaxTs: Seq[Long],
            matchedSignups: Long): Map[String, Double] = {
    val signups = events.filter(_.etype == "signup").map(_.tsMicros).sorted
    val purchases = events.filter(_.etype == "purchase").map(_.tsMicros).sorted
    def within(xs: Array[Long], lo: Long, hi: Long): Int = upper(xs, hi) - upper(xs, lo)
    // cumulative max event time after each slice, and the watermark the
    // next batch runs with
    val hw = sliceMaxTs.scanLeft(Long.MinValue)(math.max).tail
    val disorder = sliceMinTs.indices.drop(1).map(k => hw(k - 1) - sliceMinTs(k)).foldLeft(0L)(math.max)
    // join-state values after batch k: signups still inside the band of a
    // future purchase, purchases not yet behind the watermark (Spark's
    // state row count adds one row per key and side to these)
    val peak = hw.indices.map { k =>
      val wm = if (k == 0) Long.MinValue / 4 else hw(k - 1) - WatermarkDelay
      within(signups, wm - Band, hw(k)) + within(purchases, wm, hw(k))
    }.foldLeft(0)(math.max)
    val spans = sliceMinTs.zip(sliceMaxTs).map { case (lo, hi) => (hi - lo) / 1e6 }.sorted
    Map(
      "events" -> events.length.toDouble,
      "users" -> events.map(_.user).distinct.length.toDouble,
      "signups" -> signups.length.toDouble,
      "purchases" -> purchases.length.toDouble,
      "signup_match_share" -> (if (signups.isEmpty) 0.0 else matchedSignups.toDouble / signups.length),
      "slices" -> sliceMinTs.length.toDouble,
      "batch_event_span_p50_s" -> Stats.quantile(spans, 0.5),
      "max_arrival_disorder_s" -> disorder / 1e6,
      "expected_peak_state_values" -> peak.toDouble)
  }

  /** Number of elements <= x in sorted xs. */
  private def upper(xs: Array[Long], x: Long): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) <= x) lo = m + 1 else hi = m }
    lo
  }
}
