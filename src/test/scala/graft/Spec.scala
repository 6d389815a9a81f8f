package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM (forked by sbt). */
object Spec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // fresh warehouse per test JVM: managed-table locations left by a
      // previous run otherwise fail CREATE TABLE with LOCATION_ALREADY_EXISTS
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      // analyzer-level extensions (SQL UPDATE/MERGE INTO lowering) only
      // exist on the config path
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** What `counted` saw: Spark jobs started and classes the code
    * generator compiled. */
  final case class Counts(jobs: Int, compiles: Long)

  /** Run `body` and count its Spark jobs (a listener, with the bus
    * drained before and after) and its generated-class compiles (the
    * JVM-wide codegen compile histogram, so suites must not overlap). */
  def counted[A](body: => A): (A, Counts) = {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // incremented from the listener-bus thread, read from the test
    // thread — atomic, or the count can go flaky
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val compiles = METRIC_COMPILATION_TIME.getCount
    try {
      val a = body
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
      (a, Counts(jobs.get(), METRIC_COMPILATION_TIME.getCount - compiles))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
