package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.streaming.StreamingJobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * The streaming workload: the paper's topology, `runMainJob` (impressions
 * + clicks → interval join → 1-minute ctr and engagement windows) chained
 * through the `ctr_results` topic into `runAnomalyJob` (the LAG alert
 * rule), both at their program defaults, fed by the open-loop
 * [[Generator]]. Event time runs [[Speed]] times faster than wall time.
 *
 *  - Catch-up phase: a fixed backlog of [[BacklogTicks]] ticks lands at
 *    once; `pass_s` is the wall time until the whole topology has worked
 *    it off: every ctr and engagement window it closes is visible, and
 *    the anomaly job has committed the batch that read the ctr files
 *    holding them. It also fills the job's 11-minute chained watermark
 *    delay, so the steady phase closes windows from its first tick.
 *  - Steady phase: [[LeadInTicks]] ticks, then `seconds` of wall time
 *    (the measured ticks) at a fixed offered rate below capacity.
 *    `latency_p50_ms` is the median, over the measured ticks, of
 *    the time from a tick's due time to the commit of the join batch that
 *    took it, which makes its matched rows visible on the `joined` topic
 *    the aggregations read. Every tick is a sample. The windowed rows'
 *    own latency (from the due time of the tick that let a window close
 *    to the commit that made the row visible, leaving out the chained
 *    delay, which at compressed event time would be 11 minutes / [[Speed]]
 *    of every sample) is the per-layer `streaming.row_latency_p50_ms`:
 *    all rows of a window-minute close together, so a short run holds
 *    only a few independent samples of it.
 *  - In both sinks every window closable [[DrainEventMs]] before the final
 *    input must be present with exact counts and every present row must
 *    be exact; the alerts must be exactly those the LAG rule gives over
 *    the present ctr rows.
 */
object Stream {

  /** Generator schedule: a tick every 400 ms, each covering 6 s of event
    * time (15x real time). Six event-seconds per file keeps the join's
    * largest per-batch watermark advance (8 files per trigger, the job's
    * default) under the minute of slack the chained 11-minute delay
    * leaves over the 10-minute join bound, so no row is late even while
    * the job works off the backlog. */
  val PeriodMs = 400L
  val Speed = 15L
  /** Offered load, impressions per wall second (clicks add ~10%). */
  val ImpressionsPerS = 500
  /** Backlog: just over 12 event-minutes, so that its first window closes
    * inside it. */
  val BacklogTicks = 123
  /** Steady ticks landed before the measured ones: the first seconds after
    * the catch-up still carry its tail (downstream batches, a full GC). */
  val LeadInTicks = 5
  /** The job's chained watermark delay (runMainJob's default). */
  val ChainedDelayMs: Long = 11L * 60000L
  /** A window must be visible once the input's event time passes its end
    * by the chained delay plus this slack (the joined topic's newest row
    * trails the input by up to a click delay). */
  val CloseSlackMs = 15000L
  /** Rows must be visible by the end of a run once the input's event time
    * passed their closing point by this much (8 s of steady ticks, more
    * than the job's row latency); later rows are checked when present. */
  val DrainEventMs = 2L * 60000L
  /** Generator lateness beyond this voids the steady phase. */
  val LateBoundMs = 1000L
  val SetupReps = 3
  /** Shuffle (state) partitions of the streaming session: with four
    * queries sharing four cores, each stateful operator's per-partition
    * commit is the floor of every microbatch. */
  val StatePartitions = 1

  /** One row of a windowed sink: keyed by campaign (ctr_results, which
    * also carries the ctr) or by device type (engagement_results, ctr NaN). */
  final case class WindowRow(windowStart: Long, key: String, impressions: Long,
                             clicks: Long, ctr: Double)
  final case class Alert(windowEnd: Long, campaign: String, current: Double,
                         previous: Double, kind: String)

  /** One output line of a file sink, with the batch that committed it and
    * the wall time (ms) of that commit, which made it visible. */
  final case class Line(text: String, batch: Long, committedMs: Long)

  /** A file sink as committed so far: its lines, and the name of every
    * data file with the batch that committed it. Reads the sink's metadata
    * log incrementally. */
  final class Sink(dir: Path) {
    private val seenFiles = mutable.HashSet.empty[String]
    private val seenLogs = mutable.HashSet.empty[String]
    val lines = mutable.ArrayBuffer.empty[Line]
    val files = mutable.ArrayBuffer.empty[(Long, String)]

    def poll(): Unit = {
      val meta = dir.resolve("_spark_metadata")
      if (Files.isDirectory(meta)) {
        val logs = Files.list(meta).iterator().asScala.toSeq
          .filter(p => p.getFileName.toString.matches("\\d+(\\.compact)?"))
          .filterNot(p => seenLogs(p.getFileName.toString))
          .sortBy(_.getFileName.toString.takeWhile(_.isDigit).toLong)
        logs.foreach { log =>
          seenLogs += log.getFileName.toString
          val committedMs = Files.getLastModifiedTime(log).toMillis
          val batch = batchOf(log)
          Files.readAllLines(log).asScala.drop(1).foreach { entry =>
            val path = (org.json4s.jackson.JsonMethods.parse(entry) \ "path")
              .values.toString
            if (seenFiles.add(path)) {
              files += batch -> path.substring(path.lastIndexOf('/') + 1)
              Files.readAllLines(Paths.get(new java.net.URI(path))).asScala
                .foreach(l => lines += Line(l, batch, committedMs))
            }
          }
        }
      }
    }
  }

  private def iso(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  def windowRow(line: String): WindowRow = {
    val j = org.json4s.jackson.JsonMethods.parse(line)
    def v(k: String) = (j \ k).values
    val ctr = (j \ "ctr").toOption.map(_.values.toString.toDouble).getOrElse(Double.NaN)
    WindowRow(iso(v("window_start").toString),
      (j \ "campaign_id").toOption.getOrElse(j \ "device_type").values.toString,
      v("impression_count").toString.toLong, v("click_count").toString.toLong, ctr)
  }

  def alertRow(line: String): Alert = {
    val j = org.json4s.jackson.JsonMethods.parse(line)
    def v(k: String) = (j \ k).values
    Alert(iso(v("alert_time").toString), v("campaign_id").toString,
      v("current_ctr").toString.toDouble, v("previous_ctr").toString.toDouble,
      v("alert_type").toString)
  }

  /** Compares one windowed sink with the generator's accounting. Returns
    * (attempted, failures): one attempt per `closable` row and per present
    * row beyond those. Every closable row must be present, and every
    * present row exact, its ctr (when it has one) included. */
  def checkRows(sink: String, expected: Map[(Long, String), (Long, Long)],
                closable: Set[(Long, String)], rows: Seq[WindowRow]): (Int, Seq[String]) = {
    val failures = mutable.ArrayBuffer.empty[String]
    val byKey = rows.groupBy(r => (r.windowStart, r.key))
    byKey.collect { case (k, rs) if rs.size > 1 => failures += s"duplicate $sink row $k" }
    closable.foreach(k => if (!byKey.contains(k)) failures += s"missing $sink row $k")
    rows.foreach { r =>
      expected.get((r.windowStart, r.key)) match {
        case Some((imps, clicks))
            if r.impressions == imps && r.clicks == clicks &&
               (r.ctr.isNaN || r.ctr == clicks.toDouble / imps.toDouble) =>
        case want => failures += s"wrong $sink row $r, expected $want"
      }
    }
    ((closable ++ byKey.keySet).size, failures.toSeq)
  }

  /** The alerts must be exactly those the LAG rule gives over each
    * campaign's present ctr rows. One attempt per expected or emitted alert. */
  def checkAlerts(ctrRows: Seq[WindowRow], alerts: Seq[Alert]): (Int, Seq[String]) = {
    val want = ctrRows.groupBy(_.key).toSeq.flatMap { case (c, rs) =>
      Generator.alerts(rs.sortBy(_.windowStart)
          .map(r => (r.windowStart + Generator.WindowMs, r.ctr)))
        .map { case (end, cur, prev, kind) => Alert(end, c, cur, prev, kind) }
    }.toSet
    val got = alerts.toSet
    val failures = (want -- got).toSeq.map(a => s"missing alert $a") ++
      (got -- want).toSeq.map(a => s"wrong alert $a") ++
      (if (got.size != alerts.size) Seq("duplicate alerts") else Nil)
    ((want ++ got).size, failures)
  }

  /** The tick whose input first carries event time past the window's end
    * by the chained delay: the earliest input after which the row can be
    * emitted. */
  def closingTick(windowStart: Long, tickSpanMs: Long): Int =
    ((windowStart + Generator.WindowMs + ChainedDelayMs - Generator.StartMs) / tickSpanMs).toInt

  /** Latency samples, ms: for each visible row whose closing tick is a
    * measured one (tick >= `firstTick`), the time from that tick's due
    * time to the commit that made the row visible. */
  def latencies(rows: Seq[(WindowRow, Long)], tickSpanMs: Long, firstTick: Int,
                dueMs: Int => Long): Seq[Double] =
    rows.flatMap { case (r, visibleMs) =>
      val k = closingTick(r.windowStart, tickSpanMs)
      if (k >= firstTick) Some((visibleMs - dueMs(k)).toDouble) else None
    }

  private def batchOf(p: Path): Long = p.getFileName.toString.takeWhile(_.isDigit).toLong

  private def logFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?")).sortBy(batchOf)

  /** Batch → commit wall time (ms) of a file sink, from its metadata log. */
  def commitTimes(sink: Path): Map[Long, Long] =
    logFiles(sink.resolve("_spark_metadata"))
      .map(p => batchOf(p) -> Files.getLastModifiedTime(p).toMillis).toMap

  /** Input file name → the file source's log offset that took it. */
  def fileOffsets(sourceLog: Path): Map[String, Long] = {
    val taken = mutable.HashMap.empty[String, Long]
    logFiles(sourceLog).foreach { log =>
      Files.readAllLines(log).asScala.drop(1).foreach { entry =>
        val path = (org.json4s.jackson.JsonMethods.parse(entry) \ "path").values.toString
        taken.getOrElseUpdate(path.substring(path.lastIndexOf('/') + 1), batchOf(log))
      }
    }
    taken.toMap
  }

  /** (batch, offset of `source`) in batch order, from a query's offset log,
    * where line 3 + i of a batch's entry holds source i's offset. A file
    * source's offset counts only the batches that found new files, so it
    * falls behind the query's batch id after every batch that had none. */
  def sourceOffsets(offsetLog: Path, source: Int): Seq[(Long, Long)] =
    logFiles(offsetLog).flatMap { f =>
      Files.readAllLines(f).asScala.lift(2 + source).filter(_.startsWith("{")).map { o =>
        batchOf(f) -> (org.json4s.jackson.JsonMethods.parse(o) \ "logOffset").values.toString.toLong
      }
    }

  /** Per-tick ingest latency, ms: for each of `ticks`, the commit time of
    * the first batch whose source offset reached the tick's file, minus the
    * tick's due time. */
  def ingestLatencies(ticks: Seq[Int], offsetOf: Map[String, Long], offsets: Seq[(Long, Long)],
                      commits: Map[Long, Long], dueMs: Int => Long): Seq[Double] =
    ticks.flatMap { k =>
      offsetOf.get(f"tick-$k%06d.json")
        .flatMap(x => offsets.find(_._2 >= x)).flatMap(b => commits.get(b._1))
        .map(ms => (ms - dueMs(k)).toDouble)
    }

  /** Progress of every query, seen by a benchmark-registered listener. */
  final class Progress extends StreamingQueryListener {
    import StreamingQueryListener._
    val batchMs = mutable.ArrayBuffer.empty[Long]
    val phaseMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var stateCommitMs, lateRows = 0L
    val stateRowsPeak = mutable.HashMap.empty[java.util.UUID, Long]
    val stateBytesPeak = mutable.HashMap.empty[java.util.UUID, Long]
    var callbackNs = 0L
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val t0 = System.nanoTime()
      val p = e.progress
      val d = p.durationMs.asScala
      d.get("triggerExecution").foreach(v => batchMs += v.longValue)
      d.foreach { case (k, v) => phaseMs(k) += v.longValue }
      val ops = Option(p.stateOperators).toSeq.flatten
      stateCommitMs += ops.map(_.commitTimeMs).sum
      lateRows += ops.map(_.numRowsDroppedByWatermark).sum
      stateRowsPeak(p.id) = math.max(stateRowsPeak.getOrElse(p.id, 0L), ops.map(_.numRowsTotal).sum)
      stateBytesPeak(p.id) = math.max(stateBytesPeak.getOrElse(p.id, 0L), ops.map(_.memoryUsedBytes).sum)
      callbackNs += System.nanoTime() - t0
    }
  }

  /** Files landed on a topic that the join query has not yet taken. */
  private def pendingFiles(topic: Path, sourceLog: Path): Long =
    Files.list(topic).iterator().asScala.count(_.getFileName.toString.endsWith(".json")) -
      fileOffsets(sourceLog).size

  def run(runDir: String, seed: Long, seconds: Int, traced: Boolean,
          trace: Trace): RunResult = {
    val setupS, buildS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var jobs: Seq[StreamingQuery] = Nil
    var root: Path = null
    for (rep <- 0 until SetupReps) {
      val t0 = if (rep == 0) Main.processStartNanos else System.nanoTime()
      root = Paths.get(runDir, s"setup-$rep")
      Files.createDirectories(root.resolve("tmp"))
      System.setProperty("java.io.tmpdir", root.resolve("tmp").toString)
      Seq("impressions", "clicks").foreach(t => Files.createDirectories(root.resolve(t)))
      spark = Session.create(root.toString, StatePartitions)
      val b0 = System.nanoTime()
      val work = root.resolve("work").toString
      jobs = StreamingJobs.runMainJob(spark, root.resolve("impressions").toString,
        root.resolve("clicks").toString, work) :+
        StreamingJobs.runAnomalyJob(spark, s"$work/ctr_results", work)
      val t1 = System.nanoTime()
      buildS += (t1 - b0) / 1e9
      setupS += (t1 - t0) / 1e9
      if (rep < SetupReps - 1) jobs.foreach(_.stop())
    }
    val progress = new Progress
    if (traced) {
      trace.install(spark)
      spark.streams.addListener(progress)
    }
    val e0 = if (traced) Some(trace.engine(spark)) else None

    val measuredTicks = (seconds * 1000L / PeriodMs).toInt
    val steadyTicks = LeadInTicks + measuredTicks
    val firstMeasured = BacklogTicks + LeadInTicks
    val gen = new Generator(seed, root.resolve("impressions"), root.resolve("clicks"),
      PeriodMs, Speed, (ImpressionsPerS * PeriodMs / 1000).toInt, steadyTicks, BacklogTicks)
    val work = root.resolve("work")
    val ctrSink = new Sink(work.resolve("ctr_results"))
    val engSink = new Sink(work.resolve("engagement_results"))
    def visible(sink: Sink): Map[(Long, String), Line] =
      sink.lines.map { l => val r = windowRow(l.text); (r.windowStart, r.key) -> l }.toMap
    /** Polls `sink` until `keys` are all visible or `timeoutMs` passes. */
    def awaitVisible(sink: Sink, keys: Set[(Long, String)], timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      sink.poll()
      while (!keys.forall(visible(sink).contains) && System.currentTimeMillis() < deadline) {
        Thread.sleep(50L)
        sink.poll()
      }
    }
    def closableBy(eventMs: Long, windows: Iterable[(Long, String)] = gen.windows.keySet) =
      windows.filter(_._1 + Generator.WindowMs + ChainedDelayMs + CloseSlackMs <= eventMs).toSet

    /** Wall time (ms) the last of `keys` became visible, once all are. */
    def lastVisible(sink: Sink, keys: Set[(Long, String)]): Option[Long] = {
      val v = visible(sink)
      if (keys.forall(v.contains)) Some(keys.map(v(_).committedMs).max) else None
    }
    val anomalyCk = work.resolve("_checkpoints/anomaly_alerts")
    /** Wall time (ms) the anomaly job committed the batch that read the
      * last ctr file committed up to ctr sink batch `ctrBatch`, once it has. */
    def anomalyCommitMs(ctrBatch: Long): Option[Long] = {
      val taken = fileOffsets(anomalyCk.resolve("sources/0"))
      val files = ctrSink.files.collect { case (b, f) if b <= ctrBatch => f }
      if (!files.forall(taken.contains)) None
      else sourceOffsets(anomalyCk.resolve("offsets"), 0)
        .find(_._2 >= files.map(taken).max)
        .flatMap(b => commitTimes(work.resolve("anomaly_alerts")).get(b._1))
    }

    // ---- catch-up: over once the backlog's closable rows are visible in
    // both windowed sinks and the anomaly job has committed the batch that
    // read the ctr files holding them
    val c0 = trace.nowUs
    gen.landBacklog()
    val backlogEnd = Generator.StartMs + BacklogTicks * gen.tickSpanMs
    val backlogWindows = closableBy(backlogEnd)
    val backlogDevices = closableBy(backlogEnd, gen.deviceWindows.keySet)
    require(backlogWindows.nonEmpty && backlogDevices.nonEmpty, "the backlog closes no window")
    awaitVisible(ctrSink, backlogWindows, 120000L)
    awaitVisible(engSink, backlogDevices, 60000L)
    val anomalyMs = lastVisible(ctrSink, backlogWindows).flatMap { _ =>
      val ctrBatch = backlogWindows.map(visible(ctrSink)(_).batch).max
      val deadline = System.currentTimeMillis() + 60000L
      var ms = anomalyCommitMs(ctrBatch)
      while (ms.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(50L)
        ms = anomalyCommitMs(ctrBatch)
      }
      ms
    }
    val catchUpDoneMs = Seq(lastVisible(ctrSink, backlogWindows),
      lastVisible(engSink, backlogDevices), anomalyMs)
    val catchUpS =
      if (catchUpDoneMs.forall(_.isDefined)) (catchUpDoneMs.flatten.max - gen.backlogDueMs) / 1000.0
      else Double.NaN
    if (traced) trace.add(0L, "stream", "catch-up", c0, trace.nowUs)
    val heap = mutable.ArrayBuffer(Heap.liveMb())

    // ---- steady
    val s0 = trace.nowUs
    val genThread = new Thread(() => gen.runSteady(), "perfbench-generator")
    genThread.setDaemon(true)
    genThread.start()
    genThread.join()
    if (traced) trace.add(0L, "stream", "steady", s0, trace.nowUs)
    val backlogFiles =
      pendingFiles(root.resolve("impressions"), work.resolve("_checkpoints/joined/sources/0")) +
        pendingFiles(root.resolve("clicks"), work.resolve("_checkpoints/joined/sources/1"))
    val closable = closableBy(gen.endEventMs - DrainEventMs)
    val closableDevices = closableBy(gen.endEventMs - DrainEventMs, gen.deviceWindows.keySet)
    // every steady tick taken and committed by the join: the ingest samples
    jobs.head.processAllAvailable()
    awaitVisible(ctrSink, closable, 60000L)
    awaitVisible(engSink, closableDevices, 60000L)
    jobs.take(3).foreach(_.stop())
    jobs.last.processAllAvailable()
    jobs.last.stop()
    heap += Heap.liveMb()
    val eng = e0.map(trace.engine(spark) - _)
    if (traced) {
      spark.streams.removeListener(progress)
      trace.remove(spark)
    }
    spark.stop()

    ctrSink.poll()
    val ctrRows = ctrSink.lines.map(l => (windowRow(l.text), l.committedMs)).toSeq
    engSink.poll()
    val engRows = engSink.lines.map(l => (windowRow(l.text), l.committedMs)).toSeq
    val alertSink = new Sink(work.resolve("anomaly_alerts"))
    alertSink.poll()
    val alerts = alertSink.lines.map(l => alertRow(l.text)).toSeq
    def counts(w: mutable.HashMap[(Long, String), gen.WindowAcc]) =
      w.map { case (k, a) => k -> (a.impressions, a.clicks) }.toMap
    val checks = Seq(
      checkRows("ctr", counts(gen.windows), closable, ctrRows.map(_._1)),
      checkRows("engagement", counts(gen.deviceWindows), closableDevices, engRows.map(_._1)),
      checkAlerts(ctrRows.map(_._1), alerts))
    val attempted = checks.map(_._1).sum
    val failures0 = checks.flatMap(_._2)
    val lateMax = gen.lateMs.max.toDouble
    val failures = failures0 ++
      (if (lateMax <= LateBoundMs) Nil
       else Seq(s"generator ran $lateMax ms late (bound $LateBoundMs ms)")) ++
      catchUpDoneMs.zip(Seq("ctr rows", "engagement rows", "anomaly commit")).collect {
        case (None, what) => s"catch-up: backlog $what not visible in time" }
    failures.take(20).foreach(f => System.err.println(s"[perfbench] stream: $f"))

    val rowLatMs = latencies(ctrRows ++ engRows, gen.tickSpanMs, firstMeasured, gen.dueMs)
    val latMs = ingestLatencies(firstMeasured until BacklogTicks + steadyTicks,
      fileOffsets(work.resolve("_checkpoints/joined/sources/0")),
      sourceOffsets(work.resolve("_checkpoints/joined/offsets"), 0),
      commitTimes(work.resolve("joined")), gen.dueMs)
    require(latMs.size == measuredTicks && rowLatMs.nonEmpty,
      s"stream-main: ${latMs.size} of $measuredTicks measured ticks taken, ${rowLatMs.size} rows closed")
    System.err.println(s"[perfbench] stream-main: ingest latency per steady tick, ms: ${latMs.map(_.toLong).mkString(" ")}")
    System.err.println(f"[perfbench] stream-main: catch-up ${gen.backlogEvents} events in " +
      f"$catchUpS%.3f s (${catchUpDoneMs.map(_.fold("-")(ms => f"${(ms - gen.backlogDueMs) / 1000.0}%.1f")).mkString("/")} s " +
      f"to ctr/engagement/anomaly), steady ${gen.steadyEvents} events, ingest latency p50 " +
      f"${Stats.median(latMs)}%.0f ms, row latency p50 ${Stats.median(rowLatMs)}%.0f ms " +
      f"(${rowLatMs.size} rows), ${ctrRows.size} ctr rows, ${engRows.size} engagement rows, " +
      f"${alerts.size} alerts, generator late max $lateMax%.0f ms, " +
      f"set-up ${setupS.map(x => f"$x%.2f").mkString("/")} s")
    val endToEnd = Seq(
      "setup_s" -> Stats.median(setupS.toSeq),
      "pass_s" -> catchUpS,
      "latency_p50_ms" -> Stats.median(latMs))
    val perLayer =
      if (!traced) Nil
      else {
        val e = eng.get
        val wall = (System.currentTimeMillis() - gen.backlogDueMs) / 1000.0
        val b = progress.batchMs.map(_.toDouble).toSeq
        Seq(
          "queries.build_s" -> Stats.median(buildS.toSeq),
          "engine.plan_s" -> e.planS,
          "engine.jobs" -> e.jobs.toDouble,
          "engine.stages" -> e.stages.toDouble,
          "engine.tasks" -> e.tasks.toDouble,
          "engine.task_run_s" -> e.taskRunS,
          "engine.task_cpu_s" -> e.taskCpuS,
          "engine.gc_s" -> e.gcS,
          "engine.shuffle_write_mb" -> e.shuffleWriteMb,
          "engine.spill_mb" -> e.spillMb,
          "engine.busy_share" -> e.taskRunS / (wall * Session.Cores),
          "engine.driver_only_s" -> (wall - e.taskRunS / Session.Cores),
          "engine.codegen_compile_s" -> Trace.codegenCompileS(),
          "streaming.batches" -> b.size.toDouble,
          "streaming.batch_p50_ms" -> Stats.median(b),
          "streaming.batch_p90_ms" -> Stats.tail(b, 0.90).getOrElse(b.max),
          "streaming.row_latency_p50_ms" -> Stats.median(rowLatMs),
          "streaming.source_ms" -> (progress.phaseMs("latestOffset") + progress.phaseMs("getBatch")).toDouble,
          "streaming.plan_ms" -> progress.phaseMs("queryPlanning").toDouble,
          "streaming.commit_ms" -> (progress.phaseMs("walCommit") + progress.phaseMs("commitOffsets")).toDouble,
          "streaming.add_batch_ms" -> progress.phaseMs("addBatch").toDouble,
          "streaming.state_rows_peak" -> progress.stateRowsPeak.values.sum.toDouble,
          "streaming.state_mb_peak" -> progress.stateBytesPeak.values.sum / 1e6,
          "streaming.state_commit_ms" -> progress.stateCommitMs.toDouble,
          "streaming.late_rows_dropped" -> progress.lateRows.toDouble,
          "streaming.backlog_files" -> backlogFiles.toDouble,
          "gen.late_ms_max" -> lateMax,
          "jvm.live_heap_mb" -> heap.max,
          "trace.overhead_s" -> progress.callbackNs / 1e9)
      }
    RunResult(attempted, failures, endToEnd, perLayer)
  }
}
