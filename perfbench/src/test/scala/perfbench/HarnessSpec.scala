package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The benchmark's own logic: the tail-percentile rule, latency
  * reconstruction, the generator's accounting and the fingerprint. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a tail percentile is reported only with ten samples beyond it") {
    assert(Stats.minSamples(0.75) == 40)
    assert(Stats.minSamples(0.90) == 100)
    assert(Stats.minSamples(0.95) == 200)
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs.take(39), 0.75).isEmpty)
    assert(Stats.tail(xs, 0.75).contains(30.0)) // 30 is the 30th of 40; 10 lie beyond
    assert(Stats.beyond(40, 0.75) == 10)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("latency runs from the closing tick's due time to the visible commit") {
    // 6 s ticks, 130 backlog ticks due at 1,000; steady tick k due at
    // 50,000 + (k - 130) * 300
    val due = (k: Int) => if (k < 130) 1000L else 50000L + (k - 130) * 300L
    val start = Generator.StartMs
    val early = Stream.WindowRow(start, "camp-1", 10, 1, 0.1)                 // closes at 12 min: tick 120
    val late = Stream.WindowRow(start + 2 * 60000L, "mobile", 10, 1, Double.NaN) // closes at 14 min: tick 140
    assert(Stream.closingTick(early.windowStart, 6000L) == 120)
    assert(Stream.closingTick(late.windowStart, 6000L) == 140)
    val lat = Stream.latencies(Seq(early -> 60000L, late -> 60000L), 6000L, 130, due)
    // only the steady-closed row counts: 60,000 - (50,000 + 10 * 300)
    assert(lat == Seq(7000.0))
  }

  test("ingest latency maps a tick's file through the source offset to its batch's commit") {
    // source offsets per batch: batch 2 found no new files, so from there
    // the batch id runs one ahead of the source's log offset
    val offsets = Seq(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L)
    val offsetOf = Map("tick-000130.json" -> 1L, "tick-000131.json" -> 2L)
    val commits = Map(0L -> 1000L, 1L -> 52000L, 2L -> 53000L, 3L -> 54500L)
    val due = (k: Int) => 50000L + (k - 130) * 400L
    assert(Stream.ingestLatencies(Seq(130, 131, 132), offsetOf, offsets, commits, due) ==
      Seq(2000.0, 4100.0)) // tick 132 was never taken: no sample
  }

  test("the checks flag missing and wrong rows and alerts") {
    val w0 = Generator.StartMs
    val w1 = w0 + Generator.WindowMs
    val expected = Map((w0, "camp-1") -> (10L, 1L), (w1, "camp-1") -> (10L, 3L),
      (w0, "camp-2") -> (4L, 1L))
    val rows = Seq(Stream.WindowRow(w0, "camp-1", 10, 1, 0.1),
      Stream.WindowRow(w1, "camp-1", 10, 3, 0.3), Stream.WindowRow(w0, "camp-2", 4, 1, 0.25))
    val all = expected.keySet
    assert(Stream.checkRows("ctr", expected, all, rows) == (3, Nil))
    assert(Stream.checkRows("ctr", expected, all, rows.take(2))._2 ==
      Seq(s"missing ctr row ${(w0, "camp-2")}"))
    val wrongCtr = rows.updated(2, Stream.WindowRow(w0, "camp-2", 4, 1, 0.5))
    assert(Stream.checkRows("ctr", expected, all, wrongCtr)._2.head.startsWith("wrong ctr row"))
    // engagement rows carry no ctr
    assert(Stream.checkRows("engagement", expected, all,
      rows.map(_.copy(ctr = Double.NaN))) == (3, Nil))
    // 0.1 -> 0.3 on camp-1 is a spike; camp-2 has one row, so no alert
    val spike = Stream.Alert(w1 + Generator.WindowMs, "camp-1", 0.3, 0.1, "SPIKE")
    assert(Stream.checkAlerts(rows, Seq(spike)) == (1, Nil))
    assert(Stream.checkAlerts(rows, Nil)._2 == Seq(s"missing alert $spike"))
    assert(Stream.checkAlerts(rows, Seq(spike, spike.copy(campaign = "camp-2")))._2.head
      .startsWith("wrong alert"))
  }

  test("the generator accounts for every event it lands and for its lateness") {
    val dir = Files.createTempDirectory("perfbench-gen")
    val impr = Files.createDirectories(dir.resolve("impressions"))
    val clk = Files.createDirectories(dir.resolve("clicks"))
    val gen = new Generator(7L, impr, clk, periodMs = 20L, speed = 300L,
      impressionsPerTick = 200, steadyTicks = 5, backlogTicks = 3)
    gen.landBacklog()
    gen.runSteady()
    def lines(d: java.nio.file.Path) = Files.list(d).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => Files.readAllLines(p).size).sum
    assert(Files.list(impr).iterator().asScala.count(_.getFileName.toString.startsWith(".")) == 0)
    assert(lines(impr) == 8 * 200)
    assert(gen.windows.values.map(_.impressions).sum == lines(impr))
    assert(gen.windows.values.map(_.clicks).sum == lines(clk))
    assert(gen.deviceWindows.values.map(_.impressions).sum == lines(impr))
    assert(gen.deviceWindows.values.map(_.clicks).sum == lines(clk))
    assert(gen.backlogEvents + gen.steadyEvents == lines(impr) + lines(clk))
    assert(gen.lateMs.size == 5 && gen.lateMs.forall(_ >= 0))
    assert(gen.dueMs(0) == gen.backlogDueMs && gen.dueMs(4) == gen.t0Ms + 20L)
    // files are ordered by modification time as landed, and every line is
    // in event-time order within and across files
    val mtimes = Files.list(impr).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .map(p => Files.getLastModifiedTime(p).toMillis)
    assert(mtimes.sliding(2).forall { case Seq(a, b) => a < b })
    val times = Files.list(impr).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .flatMap(p => Files.readAllLines(p).asScala)
      .map(l => "\"event_timestamp\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
    assert(times == times.sorted)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the fingerprint ignores row order and partitioning but not content") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5)).toDF("id", "s", "x")
    val base = Fingerprint.of(df)
    assert(base.rows == 3)
    assert(Fingerprint.of(df.orderBy($"id".desc).repartition(3)) == base)
    assert(Fingerprint.of(Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.6))
      .toDF("id", "s", "x")) != base)
    assert(Fingerprint.of(df.limit(2)) != base)
    val maps = Seq((1L, Map("k" -> 1, "j" -> 2))).toDF("id", "m")
    assert(Fingerprint.of(maps) == Fingerprint.of(Seq((1L, Map("j" -> 2, "k" -> 1))).toDF("id", "m")))
    assert(Fingerprint.of(df.filter($"id" < 0)) == Fingerprint.Value(0L, "0"))
  }
}
