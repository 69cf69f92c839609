package perfbench

import graft.queries.SharedFrames
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** One registry query as the batch workloads run it. */
final case class Query(name: String, fn: (SparkSession, String) => DataFrame)

/** What a workload hands back to [[Main]]: operations attempted, one
  * entry per failed operation, and the metrics. */
final case class RunResult(attempted: Int, failed: Seq[String],
                           endToEnd: Seq[(String, Double)],
                           perLayer: Seq[(String, Double)])

/**
 * A batch workload: repeated passes over a fixed query list on one
 * session, in a seed-permuted order.
 *
 *  - Set-up (repeated [[SetupReps]] times, median reported): a fresh
 *    session, a fresh `java.io.tmpdir`, the base-table footers and the
 *    workload's TableLayout provisioning.
 *  - [[WarmUpPasses]] untimed warm-up passes compile the generated code.
 *  - Timed passes follow until the time budget is spent. Each starts from
 *    cold memos (SharedFrames cleared, caches dropped, a GC) so every
 *    pass pays the same memo builds, and each query is timed from the
 *    builder call to the end of its fingerprint action, which
 *    materializes every output column.
 *  - With tracing on, passes alternate untraced/traced and the listeners
 *    are attached for the traced passes only; end-to-end numbers come
 *    from the untraced passes.
 */
object Batch {

  val SetupReps = 3
  /** Untimed passes before the timed ones: the first compiles the
    * generated code, the rest let the JIT catch up with the driver (with
    * two, the timed passes were still getting faster, by ~20% over five). */
  val WarmUpPasses = 4
  /** Timed passes a run makes at least, for a median. */
  val MinPasses = 5

  private final case class Pass(wall: Double, perQuery: Seq[(String, Double)],
                                build: Double, action: Double, memoBuilds: Int,
                                engine: Option[Engine], liveHeapMb: Double)

  def run(workload: String, queries: Seq[Query], provision: (SparkSession, String) => Unit,
          dataDir: String, runDir: String, seed: Long, seconds: Int,
          traced: Boolean, expected: Map[String, Fingerprint.Value],
          trace: Trace): RunResult = {
    // ---- set-up, repeated
    val setupS = ArrayBuffer.empty[Double]
    val layoutS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      val t0 = if (rep == 0) Main.processStartNanos else System.nanoTime()
      val dir = s"$runDir/setup-$rep"
      new java.io.File(s"$dir/tmp").mkdirs()
      System.setProperty("java.io.tmpdir", s"$dir/tmp")
      spark = Session.create(dir)
      spark.range(1000).selectExpr("sum(id)").collect()
      Seq("events", "documents", "embeddings")
        .filter(t => new java.io.File(s"$dataDir/$t.parquet").exists)
        .foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())
      val l0 = System.nanoTime()
      provision(spark, dataDir)
      val l1 = System.nanoTime()
      layoutS += (l1 - l0) / 1e9
      setupS += (l1 - t0) / 1e9
    }

    val rnd = new scala.util.Random(seed)
    val failed = ArrayBuffer.empty[String]
    var attempted = 0

    def runPass(order: Seq[Query], tracedPass: Boolean, check: Boolean): Pass = {
      SharedFrames.clear(spark)
      spark.catalog.clearCache()
      if (tracedPass) trace.install(spark)
      val e0 = if (tracedPass) Some(trace.engine(spark)) else None
      val perQuery = ArrayBuffer.empty[(String, Double)]
      var build, action = 0.0
      var memoBuilds = 0
      val p0 = System.nanoTime()
      def timedPass(passSpan: Long): Unit = order.foreach { q =>
        val group = s"p${trace.pass}-${q.name}"
        spark.sparkContext.setJobGroup(group, q.name)
        val q0 = System.nanoTime()
        var q1 = q0
        val outcome: Either[String, Fingerprint.Value] =
          try {
            def body(qSpan: Long): Fingerprint.Value = {
              val df =
                if (!tracedPass) q.fn(spark, dataDir)
                else trace.span(qSpan, "queries", "build") { _ =>
                  val (d, built) = SharedFrames.tracedBuilds(q.fn(spark, dataDir))
                  memoBuilds += built.size
                  d
                }
              q1 = System.nanoTime()
              if (!tracedPass) Fingerprint.of(df)
              else trace.span(qSpan, "queries", "action") { aSpan =>
                trace.bindGroup(group, aSpan)
                Fingerprint.of(df)
              }
            }
            Right(if (!tracedPass) body(0L)
                  else trace.span(passSpan, "queries", s"query:${q.name}")(body))
          } catch {
            case scala.util.control.NonFatal(e) =>
              Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        val q2 = System.nanoTime()
        spark.sparkContext.clearJobGroup()
        perQuery += q.name -> (q2 - q0) / 1e9
        build += (q1 - q0) / 1e9
        action += (q2 - q1) / 1e9
        if (check) {
          attempted += 1
          val ok = outcome match {
            case Left(err) =>
              System.err.println(s"[perfbench] ${q.name} failed: $err"); false
            case Right(v) => expected.get(q.name) match {
              case Some(want) =>
                val same = v.rows == want.rows && (want.hash.isEmpty || v.hash == want.hash)
                if (!same) System.err.println(
                  s"[perfbench] ${q.name} mismatch: got $v, expected $want")
                same
              case None =>
                System.err.println(s"[perfbench] ${q.name}: no expected value"); false
            }
          }
          if (!ok) failed += q.name
        }
      }
      if (tracedPass) trace.span(0L, "pass", s"pass-${trace.pass}")(timedPass)
      else timedPass(0L)
      val wall = (System.nanoTime() - p0) / 1e9
      val eng = e0.map(trace.engine(spark) - _)
      if (tracedPass) trace.remove(spark)
      Pass(wall, perQuery.toSeq, build, action, memoBuilds, eng, Heap.liveMb())
    }

    // ---- warm-up: compiles generated code, untimed and unchecked
    for (_ <- 0 until WarmUpPasses) runPass(queries, tracedPass = false, check = false)
    val compileS = Trace.codegenCompileS()

    // ---- timed passes
    val passes = ArrayBuffer.empty[Pass]
    val tracedPasses = ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || passes.size < MinPasses ||
           (traced && tracedPasses.size < MinPasses)) {
      trace.pass = i + 1
      val tracedPass = traced && i % 2 == 1
      val p = runPass(rnd.shuffle(queries), tracedPass, check = true)
      if (tracedPass) tracedPasses += p else passes += p
      System.err.println(f"[perfbench] pass $i%d${if (tracedPass) " traced" else ""}: " +
        f"${p.wall}%.3f s, live heap ${p.liveHeapMb}%.0f MB")
      i += 1
    }
    val heapMb = passes.map(_.liveHeapMb).max
    spark.stop()

    val walls = passes.map(_.wall).toSeq
    val perQueryMedianMs = passes.flatMap(_.perQuery).groupBy(_._1)
      .map { case (q, xs) => q -> Stats.median(xs.map(_._2 * 1000.0).toSeq) }
    System.err.println(f"[perfbench] $workload: ${passes.size} timed passes, " +
      f"pass_s median ${Stats.median(walls)}%.3f, set-up " +
      s"${setupS.map(x => f"$x%.2f").mkString("/")} s of which layouts " +
      s"${layoutS.map(x => f"$x%.2f").mkString("/")} s; per query median ms: " +
      perQueryMedianMs.map { case (q, ms) => f"$q $ms%.0f" }.mkString(", "))
    val endToEnd = Seq(
      "setup_s" -> Stats.median(setupS.toSeq),
      "pass_s" -> Stats.median(walls),
      "latency_p50_ms" -> Stats.median(perQueryMedianMs.values.toSeq))

    val perLayer =
      if (!traced) Nil
      else {
        val tp = tracedPasses.toSeq
        def med(f: Pass => Double): Double = Stats.median(tp.map(f))
        def eng(f: Engine => Double): Double = med(p => f(p.engine.get))
        Seq(
          "queries.build_s" -> med(_.build),
          "queries.action_s" -> med(_.action),
          "queries.memo_builds" -> med(_.memoBuilds.toDouble),
          "engine.plan_s" -> eng(_.planS),
          "engine.jobs" -> eng(_.jobs.toDouble),
          "engine.stages" -> eng(_.stages.toDouble),
          "engine.tasks" -> eng(_.tasks.toDouble),
          "engine.task_run_s" -> eng(_.taskRunS),
          "engine.task_cpu_s" -> eng(_.taskCpuS),
          "engine.gc_s" -> eng(_.gcS),
          "engine.shuffle_write_mb" -> eng(_.shuffleWriteMb),
          "engine.spill_mb" -> eng(_.spillMb),
          "engine.busy_share" -> med(p => p.engine.get.taskRunS / (p.wall * Session.Cores)),
          "engine.driver_only_s" -> med(p => p.wall - p.engine.get.taskRunS / Session.Cores),
          "engine.codegen_compile_s" -> compileS,
          "sources.layout_s" -> Stats.median(layoutS.toSeq),
          "jvm.live_heap_mb" -> heapMb,
          "trace.overhead_s" -> (med(_.wall) - Stats.median(walls)))
      }
    RunResult(attempted, failed.toSeq, endToEnd, perLayer)
  }
}

object Heap {
  /** Heap in use right after a full collection, in MB: the live set. */
  def liveMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}
