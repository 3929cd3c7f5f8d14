package graft.engine

import org.apache.spark.sql.SparkSession

/** One local session shared by all Spark-backed specs (sbt forks a single
  * test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.tune(SparkSession.builder())
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // keep saveAsTable specs (bucketed index) out of the repo tree, in a
      // FRESH per-JVM directory: the in-memory catalog dies with the JVM
      // but a fixed warehouse dir would not, and a killed run (OOM, CI
      // timeout) that skips a spec's DROP TABLE finally-block would leave
      // a husk that fails the next run's overwrite-create with
      // "location already exists"
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-test-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
