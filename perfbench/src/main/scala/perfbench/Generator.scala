package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

/**
 * Open-loop ad-event generator for the streaming workload: one thread on
 * a fixed wall schedule that does not slow down when the job does.
 *
 * Tick k lands every impression and click whose event time falls in the
 * tick's event-time span (`periodMs * speed` event ms) as one JSON-lines
 * file per topic, written under a
 * hidden name and renamed into place so the job never sees a partial
 * file, with modification times that order the files as they were
 * landed. Events are written in event-time order. Impressions follow the
 * reference generator: uniform campaign over camp-1..camp-10, a click
 * with probability 0.1 (camp-1 boosted by the repeating 4-phase schedule
 * 1.0 / 0.1 / 4.0 / 1.0 over 5-minute phases, capped at 0.6) after a
 * 500-10000 ms delay.
 *
 * The catch-up phase lands `backlogTicks` ticks at once; the steady phase
 * then lands `steadyTicks` more on schedule, tick k due at `t0 + (k -
 * backlogTicks) * periodMs`. From what it emitted the generator keeps the expected
 * impression and click counts per (window, campaign) and per (window,
 * device type), and each steady tick's lateness.
 */
final class Generator(seed: Long, imprTopic: Path, clickTopic: Path,
                      val periodMs: Long, val speed: Long,
                      val impressionsPerTick: Int,
                      val steadyTicks: Int, val backlogTicks: Int) {
  import Generator._

  val tickSpanMs: Long = periodMs * speed

  final class WindowAcc {
    var impressions = 0L
    var clicks = 0L
  }
  /** (window start ms, campaign) → what the ctr sink should report. */
  val windows = mutable.HashMap.empty[(Long, String), WindowAcc]
  /** (window start ms, device type) → what the engagement sink should report. */
  val deviceWindows = mutable.HashMap.empty[(Long, String), WindowAcc]
  /** Lateness of each steady tick: write completed − due, ms. */
  val lateMs = mutable.ArrayBuffer.empty[Long]
  /** Wall time the backlog was due (the catch-up phase's start). */
  var backlogDueMs: Long = 0L
  /** Wall time the steady phase's first tick was due. */
  @volatile var t0Ms: Long = 0L
  var backlogEvents, steadyEvents = 0L

  private val rnd = new java.util.SplittableRandom(seed)
  private final case class PendingClick(timeMs: Long, json: String, window: (Long, String),
                                        deviceWindow: (Long, String))
  private val pending = mutable.PriorityQueue.empty[PendingClick](
    Ordering.by[PendingClick, Long](_.timeMs).reverse)
  private var nextImpression = 0L

  /** Event time after the last tick. */
  def endEventMs: Long = StartMs + (backlogTicks + steadyTicks) * tickSpanMs

  /** Wall time tick k was due. */
  def dueMs(k: Int): Long =
    if (k < backlogTicks) backlogDueMs else t0Ms + (k - backlogTicks) * periodMs

  /** The catch-up phase: every backlog tick, landed at once. */
  def landBacklog(): Unit = {
    backlogDueMs = System.currentTimeMillis()
    for (k <- 0 until backlogTicks) backlogEvents += tick(k)
  }

  /** The steady phase, on schedule; returns after the last tick. */
  def runSteady(): Unit = {
    t0Ms = System.currentTimeMillis()
    for (k <- backlogTicks until backlogTicks + steadyTicks) {
      val due = dueMs(k)
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      steadyEvents += tick(k)
      lateMs += System.currentTimeMillis() - due
    }
  }

  private def tick(k: Int): Long = {
    val from = StartMs + k * tickSpanMs
    val until = from + tickSpanMs
    val offsets = Array.fill(impressionsPerTick)(rnd.nextLong(tickSpanMs)).sorted
    val impr = new StringBuilder
    offsets.foreach { off =>
      val t = from + off
      val id = nextImpression
      nextImpression += 1
      val campaign = s"camp-${1 + rnd.nextInt(Campaigns)}"
      val user = rnd.nextInt(1000)
      val device = Devices(rnd.nextInt(Devices.length))
      val start = t - Math.floorMod(t, WindowMs)
      val window = (start, campaign)
      val deviceWindow = (start, device)
      windows.getOrElseUpdate(window, new WindowAcc).impressions += 1
      deviceWindows.getOrElseUpdate(deviceWindow, new WindowAcc).impressions += 1
      impr.append(s"""{"impression_id":"i-$id","user_id":"user-$user",""" +
        s""""campaign_id":"$campaign","ad_id":"ad-${rnd.nextInt(50)}",""" +
        s""""device_type":"$device",""" +
        s""""browser":"${Browsers(rnd.nextInt(Browsers.length))}",""" +
        s""""event_timestamp":$t,"cost":${rnd.nextInt(1, 201) / 100.0}}""").append('\n')
      if (rnd.nextDouble() < clickProbability(campaign, t)) {
        val ct = t + 500 + rnd.nextInt(9501)
        pending.enqueue(PendingClick(ct,
          s"""{"click_id":"c-$id","impression_id":"i-$id","user_id":"user-$user",""" +
            s""""event_timestamp":$ct}""", window, deviceWindow))
      }
    }
    val clicks = new StringBuilder
    var nClicks = 0
    while (pending.nonEmpty && pending.head.timeMs < until) {
      val c = pending.dequeue()
      clicks.append(c.json).append('\n')
      windows(c.window).clicks += 1
      deviceWindows(c.deviceWindow).clicks += 1
      nClicks += 1
    }
    land(imprTopic, k, impr)
    land(clickTopic, k, clicks)
    impressionsPerTick + nClicks
  }

  private val lastMtime = mutable.HashMap.empty[Path, Long]

  /** Writes one tick's file under a hidden name and renames it into place.
    * The file source takes files oldest modification time first, so each
    * file of a topic gets a strictly later (millisecond) time than the one
    * before: a backlog landed within one millisecond is still read in tick
    * order, as a log would be. */
  private def land(topic: Path, k: Int, body: StringBuilder): Unit = {
    val tmp = topic.resolve(f".tick-$k%06d.tmp")
    Files.write(tmp, body.toString.getBytes("UTF-8"))
    val mtime = math.max(System.currentTimeMillis(), lastMtime.getOrElse(topic, 0L) + 1)
    Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(mtime))
    lastMtime(topic) = mtime
    Files.move(tmp, topic.resolve(f"tick-$k%06d.json"), StandardCopyOption.ATOMIC_MOVE)
  }
}

object Generator {
  val Campaigns = 10
  val WindowMs = 60000L
  /** 2024-01-01T00:00:00Z, minute-aligned. */
  val StartMs = 1704067200000L
  private val Devices = Array("mobile", "desktop", "tablet")
  private val Browsers = Array("chrome", "firefox", "safari", "edge")

  /** The reference's 4-phase camp-1 boost, repeated every 20 minutes. */
  def boost(campaign: String, eventMs: Long): Double =
    if (campaign != "camp-1") 1.0
    else ((eventMs - StartMs) / 60000L % 20L) match {
      case m if m < 5 => 1.0
      case m if m < 10 => 0.1
      case m if m < 15 => 4.0
      case _ => 1.0
    }

  def clickProbability(campaign: String, eventMs: Long): Double =
    math.min(0.6, 0.1 * boost(campaign, eventMs))

  /** The reference anomaly job's LAG rule (flink/anomaly_job.sql), kept
    * independent of graft's implementation: a spike when the previous ctr
    * is positive and the current one is more than twice it, a drop when
    * the current one is under half the previous. */
  def alertType(current: Double, previous: Double): Option[String] =
    if (previous > 0.0 && current > previous * 2.0) Some("SPIKE")
    else if (current < previous * 0.5) Some("DROP")
    else None

  /** Expected alerts over one campaign's consecutive rows, given as
    * (window end ms, ctr) in window order: (window end, current ctr,
    * previous ctr, type) per alerting row. */
  def alerts(ctrs: Seq[(Long, Double)]): Seq[(Long, Double, Double, String)] =
    ctrs.sliding(2).flatMap {
      case Seq((_, prev), (end, cur)) => alertType(cur, prev).map(t => (end, cur, prev, t))
      case _ => None
    }.toSeq
}
