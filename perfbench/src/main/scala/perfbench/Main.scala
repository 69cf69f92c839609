package perfbench

import graft.queries.{DataPipelineQueries, EventQueries, NamedQuery}
import graft.sources.TableLayout
import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point, launched by run.py once the inputs exist:
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --data DIR --run-dir DIR --expected FILE --trace-out FILE
 *
 * Prints one JSON object as its last stdout line: `correct`, `attempted`,
 * `failed` and `metrics` (end-to-end metrics untraced, per-layer metrics
 * traced).
 */
object Main {

  /** JVM start, the origin of the first set-up repetition. */
  lazy val processStartNanos: Long = {
    val upMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    System.nanoTime() - upMs * 1000000L
  }

  /** The batch workload's slice of the registry, in pipeline order: the
    * batch twins of the paper's two jobs (the interval-joined ctr tumble and
    * the LAG anomaly rule chained off it through a shared memo), a
    * date-partitioned layout read of `events`, and the curation side's
    * exact dedup and text statistics over `documents`. */
  val RegistrySlice: Seq[String] = Seq(
    "ctr_by_campaign", "anomaly_alerts", "events_layout_prune", "dedup_exact", "text_stats")

  /** Batch workloads: queries and their TableLayout provisioning. */
  val batchWorkloads: Map[String, (Seq[NamedQuery], (SparkSession, String) => Unit)] = Map(
    "registry-sf0.1" -> (
      RegistrySlice.map(n => (EventQueries.all ++ DataPipelineQueries.all).find(_.name == n)
        .getOrElse(sys.error(s"no registered query $n"))),
      (spark: SparkSession, dir: String) => {
        TableLayout.eventsDatePartitioned(spark, dir).queryExecution.executedPlan; ()
      }))

  /** Metrics printed untraced, with units (BENCHMARK.json `end_to_end`). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "latency_p50_ms" -> "ms")

  /** Metrics printed traced, with units (BENCHMARK.json `per_layer`). A
    * layer a workload does not run reads 0 there. */
  val PerLayer: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.action_s" -> "s", "queries.memo_builds" -> "count",
    "engine.plan_s" -> "s", "engine.jobs" -> "count", "engine.stages" -> "count",
    "engine.tasks" -> "count", "engine.task_run_s" -> "s", "engine.task_cpu_s" -> "s",
    "engine.gc_s" -> "s", "engine.shuffle_write_mb" -> "MB", "engine.spill_mb" -> "MB",
    "engine.busy_share" -> "ratio", "engine.driver_only_s" -> "s",
    "engine.codegen_compile_s" -> "s", "sources.layout_s" -> "s",
    "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms",
    "streaming.batch_p90_ms" -> "ms", "streaming.row_latency_p50_ms" -> "ms",
    "streaming.source_ms" -> "ms",
    "streaming.plan_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.state_rows_peak" -> "count",
    "streaming.state_mb_peak" -> "MB", "streaming.state_commit_ms" -> "ms",
    "streaming.late_rows_dropped" -> "count", "streaming.backlog_files" -> "count",
    "gen.late_ms_max" -> "ms", "jvm.live_heap_mb" -> "MB", "trace.overhead_s" -> "s")

  def main(argv: Array[String]): Unit = {
    processStartNanos
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traced = arg("trace") == "1"
    val runDir = arg("run-dir")
    val trace = new Trace

    val (attempted, failed, metrics) = batchWorkloads.get(workload) match {
      case Some((named, provision)) =>
        val expected = Expected.load(arg("expected"), workload)
        val r = Batch.run(workload, named.map(q => Query(q.name, q.fn)), provision,
          arg("data"), runDir, seed, seconds, traced, expected, trace)
        (r.attempted, r.failed, if (traced) r.perLayer else r.endToEnd)
      case None if workload == "stream-main" =>
        val r = Stream.run(runDir, seed, seconds, traced, trace)
        (r.attempted, r.failed, if (traced) r.perLayer else r.endToEnd)
      case None => sys.error(s"unknown workload $workload")
    }
    if (traced) trace.write(java.nio.file.Paths.get(arg("trace-out")), workload)
    if (failed.nonEmpty)
      System.err.println(s"[perfbench] failed: ${failed.distinct.mkString(", ")}")
    val reported = metrics.toMap
    val ms = (if (traced) PerLayer else EndToEnd).map { case (k, unit) =>
      s""""$k":{"value":${Json.num(reported.getOrElse(k, 0.0))},"unit":"$unit"}""" }.mkString(",")
    println(s"""{"correct":${failed.isEmpty},"attempted":$attempted,""" +
      s""""failed":${failed.size},"metrics":{$ms}}""")
  }
}

/** Expected fingerprints per workload, recorded from a run whose outputs
  * matched the DuckDB oracles (see record.py). An empty `hash` marks a
  * query checked by row count only. */
object Expected {
  def load(path: String, workload: String): Map[String, Fingerprint.Value] = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    (j \ workload \ "queries") match {
      case JObject(fields) => fields.map { case (name, v) =>
        val rows = (v \ "rows") match { case JInt(n) => n.toLong; case _ => -1L }
        val hash = (v \ "hash") match { case JString(s) => s; case _ => "" }
        name -> Fingerprint.Value(rows, hash)
      }.toMap
      case _ => Map.empty
    }
  }
}
