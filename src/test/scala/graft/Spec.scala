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

  /** Run `body` with `spark.sql.session.timeZone` set to `zone`,
    * restoring the previous zone after. */
  def withSessionZone[A](zone: String)(body: => A): A = {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    spark.conf.set(key, zone)
    try body finally spark.conf.set(key, before)
  }

  /** 300 rows in 3 partitions with a column of every stats type: a
    * boolean, byte to long (past 2^53), DECIMAL(38,18) and (10,2),
    * float and double with NaN, ±0.0 and ±Inf, a DATE, TIMESTAMP and
    * TIMESTAMP_NTZ across the 2024-03-10 Los Angeles DST change, and
    * strings with supplementary-plane characters — NULLs in several. */
  def everyStatsType(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val id = col("id")
    def special(c: org.apache.spark.sql.Column, zero: Any, inf: Any) =
      when(id === 13, lit(Double.NaN)).when(id === 14, lit(-0.0))
        .when(id === 15, lit(0.0)).when(id === 16, lit(inf))
        .when(id === 17, lit(zero)).when(id % 11 === 0, lit(null))
        .otherwise(c)
    spark.range(0, 300, 1, 3).select(id.as("doc_id"),
      when(id % 9 === 0, lit(null)).otherwise(id % 2 === 0).as("b"),
      (id % 200 - 100).cast("byte").as("i8"),
      when(id % 7 === 0, lit(null)).otherwise(id * 37 % 1000).cast("short").as("i16"),
      (id * 100003 - 15000000).cast("int").as("i32"),
      when(id % 2 === 0, lit(1L << 60) + id).otherwise(-id).as("i64"),
      format_string("%d.%018d", id - 150, id * 7919).cast("decimal(38,18)").as("dec"),
      (id / 7).cast("decimal(10,2)").as("dec2"),
      special(id / 3.0, -0.0, Double.NegativeInfinity).cast("float").as("f"),
      special(id / 3.0, -0.0, Double.PositiveInfinity).as("dbl"),
      date_add(lit("2024-03-01").cast("date"), (id % 40).cast("int")).as("d"),
      timestamp_seconds(lit(1710000000L) + id * 1800L).as("ts"),
      timestamp_seconds(lit(1710000000L) + id * 1800L).cast("timestamp_ntz").as("ntz"),
      concat(lit("s"), when(id % 5 === 0, lit("\uD83D\uDE00"))
        .when(id % 5 === 1, lit("\uE000")).otherwise(id.cast("string"))).as("str"))
  }
  val everyStatsCol: Seq[String] = Seq("b", "i8", "i16", "i32", "i64", "dec",
    "dec2", "f", "dbl", "d", "ts", "ntz", "str")

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
