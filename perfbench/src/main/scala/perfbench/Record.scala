package perfbench

import graft.queries.SharedFrames

/**
 * Fingerprints a batch workload's queries for its expected results:
 *
 *   perfbench.Record WORKLOAD DATA_DIR RUN_DIR OUT_FILE
 *
 * Runs every query of the workload three times on one session (memos
 * cleared in between) and writes OUT_FILE, a JSON object with each
 * query's fingerprints and wall seconds. record.py checks the outputs
 * against their oracles and turns the fingerprints into expected.json.
 */
object Record {
  def main(argv: Array[String]): Unit = {
    val Array(workload, dataDir, runDir, outFile) = argv
    val (named, provision) = Main.batchWorkloads(workload)
    new java.io.File(s"$runDir/tmp").mkdirs()
    System.setProperty("java.io.tmpdir", s"$runDir/tmp")
    val spark = Session.create(runDir)
    provision(spark, dataDir)
    val rows = named.map { q =>
      val runs = (0 until 3).map { _ =>
        SharedFrames.clear(spark)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val v = Fingerprint.of(q.fn(spark, dataDir))
        (v, (System.nanoTime() - t0) / 1e9)
      }
      System.err.println(s"[record] ${q.name} ${runs.map(r => f"${r._2}%.3f").mkString(" ")} ${runs.head._1}")
      val fps = runs.map(r => s""""${r._1.rows}:${r._1.hash}"""").mkString(",")
      val secs = runs.map(r => Json.num(r._2)).mkString(",")
      s""""${q.name}":{"fingerprints":[$fps],"seconds":[$secs]}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      rows.mkString("{", ",", "}").getBytes("UTF-8"))
    spark.stop()
  }
}
