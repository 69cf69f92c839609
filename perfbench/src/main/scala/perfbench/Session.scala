package perfbench

import org.apache.spark.sql.SparkSession

/** The session every workload runs on: the batch settings of
  * `graft.Bench` at a fixed core count (the streaming workload passes its
  * own shuffle partition count), with every scratch
  * location (block manager, warehouse, Hadoop temp) inside the run's own
  * directory so no state carries over between runs. */
object Session {

  val Cores = 4

  def settings(runDir: String, shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
    "spark.sql.files.minPartitionNum" -> "1",
    "spark.local.dir" -> s"$runDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$runDir/warehouse",
    "spark.hadoop.hadoop.tmp.dir" -> s"$runDir/hadoop-tmp",
    "spark.sql.streaming.checkpointLocation" -> s"$runDir/checkpoints")

  /** A fresh session; the previous one, if any, is stopped first so each
    * set-up repetition pays the full session start. */
  def create(runDir: String, shufflePartitions: Int = Cores): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val b = SparkSession.builder().appName("graft-perfbench")
    settings(runDir, shufflePartitions).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
