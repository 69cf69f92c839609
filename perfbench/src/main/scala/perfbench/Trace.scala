package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one pass share `pass`; a Spark job span
  * hangs under the query action that ran it through the job group. */
final case class Span(id: Long, parent: Long, pass: Int, layer: String,
                      name: String, startUs: Long, endUs: Long)

/** Engine counters summed over an interval (see [[Trace.engine]]). */
final case class Engine(jobs: Long, stages: Long, tasks: Long,
                        taskRunS: Double, taskCpuS: Double, gcS: Double,
                        shuffleWriteMb: Double, spillMb: Double, planS: Double) {
  def -(o: Engine): Engine = Engine(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskRunS - o.taskRunS, taskCpuS - o.taskCpuS,
    gcS - o.gcS, shuffleWriteMb - o.shuffleWriteMb, spillMb - o.spillMb,
    planS - o.planS)
}

/**
 * The traced run's recorder. Spans around calls into graft's layers are
 * opened from the benchmark's own code; the engine underneath is observed
 * only through Spark's public listener interfaces (SparkListener for jobs,
 * stages and tasks, QueryExecutionListener for Catalyst phase times) and
 * the codegen metrics source. Spans stay in memory and are written as
 * JSON lines when the run ends.
 */
final class Trace {
  private val t0Nanos = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0Us + (System.nanoTime() - t0Nanos) / 1000L

  private val nextId = new AtomicLong(1L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile var pass: Int = 0

  def span[T](parent: Long, layer: String, name: String)(body: Long => T): T = {
    val id = nextId.getAndIncrement()
    val s = nowUs
    try body(id)
    finally spans.add(Span(id, parent, pass, layer, name, s, nowUs))
  }

  /** A span whose interval was measured by the caller. */
  def add(parent: Long, layer: String, name: String, startUs: Long, endUs: Long): Unit =
    spans.add(Span(nextId.getAndIncrement(), parent, pass, layer, name, startUs, endUs))

  /** Job-group id → span that owns the group's jobs. */
  private val groups = new ConcurrentHashMap[String, java.lang.Long]()
  def bindGroup(group: String, spanId: Long): Unit = groups.put(group, spanId)

  private val jobs, stages, tasks = new AtomicLong()
  private val taskRunMs, taskCpuNs, gcMs, shuffleBytes, spillBytes = new AtomicLong()
  private val planS = new DoubleAdder()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long, Int)]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      val parent = group.flatMap(g => Option(groups.get(g))).map(_.longValue).getOrElse(0L)
      jobStart.put(e.jobId, (e.time * 1000L, parent, pass))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, parent, p) =>
        spans.add(Span(nextId.getAndIncrement(), parent, p, "engine",
          s"job-${e.jobId}", s, e.time * 1000L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      planS.add(qe.tracker.phases.values.map(_.durationMs).sum / 1000.0)
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def remove(spark: SparkSession): Unit = {
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Engine counters so far; drains the listener bus first so every
    * event of work already finished is counted. */
  def engine(spark: SparkSession): Engine = {
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    Engine(jobs.get, stages.get, tasks.get, taskRunMs.get / 1000.0,
      taskCpuNs.get / 1e9, gcMs.get / 1000.0, shuffleBytes.get / 1e6,
      spillBytes.get / 1e6, planS.sum)
  }

  def write(path: java.nio.file.Path, workload: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.forEach { s =>
      w.write(s"""{"workload":"$workload","id":${s.id},"parent":${s.parent},""" +
        s""""pass":${s.pass},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  /** Total codegen compile seconds recorded by Spark's codegen metrics
    * source so far. The histogram keeps every sample until it holds
    * 1,028 of them; past that it is estimated from the sample mean. */
  def codegenCompileS(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val values = snap.getValues
    (if (h.getCount <= values.length) values.sum.toDouble
     else snap.getMean * h.getCount) / 1000.0
  }
}
