package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One call the benchmark makes into a module's public surface. */
final case class Step(name: String, module: String,
                      run: (SparkSession, String) => DataFrame,
                      oracle: Option[String])

/** Measurement side of the benchmark: one JVM runs one workload and
  * writes its raw samples to `<out>/measure.json`; `run.py` checks the
  * outputs and reduces the samples to metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --out DIR --steps A,B,... [--mix-ops FILE] */
object Main {
  /** Set-ups timed after the first; `setup_s` is their median. */
  val ReSetups = 5

  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = Json.writeValueAsString(v)

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The module that owns a registered query: the package of the object
    * whose `all` registered it, read off the function's class name. */
  def moduleOf(q: graft.Q): String =
    q.fn.getClass.getName.stripPrefix("graft.").takeWhile(_ != '.')

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // the graft.Bench session settings
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (256 << 10).toString)
      .config("spark.sql.files.openCostInBytes", (64 << 10).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.install(spark)
    spark
  }

  /** Inputs registered: every table listed, its footer read, a view. */
  def register(spark: SparkSession, dir: String): Unit =
    Tables.foreach { t =>
      val f = s"$dir/$t.parquet"
      if (new File(f).exists) spark.read.parquet(f).createOrReplaceTempView(t)
    }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dir = a("data")
    val out = a("out")
    new File(out).mkdirs()

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session()
    register(spark, dir)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)
    // set-up again in the same JVM: session, extensions and inputs, with
    // the classes already loaded
    for (_ <- 1 to ReSetups) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session()
      register(spark, dir)
      setups += (System.nanoTime() - t0) / 1e9
    }

    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec("workload") = workload
    rec("setup_samples_s") = setups.toSeq
    val tracer = new Tracer(spark)
    val kind = workload.takeWhile(_ != '_')
    if (kind == "table") TableMix.run(spark, dir, a("mix-ops"), seconds,
      trace, tracer, rec, out)
    else Queries.run(spark, dir, a("steps").split(',').toSeq, seed, seconds,
      trace, tracer, rec, out)

    System.gc(); System.gc()
    rec("heap_live_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    rec("spans") = tracer.spans.toSeq.map(s => Map("name" -> s.name,
      "module" -> s.module, "pass" -> s.pass, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "parent" -> s.parent.getOrElse("")))
    Files.writeString(Paths.get(out, "measure.json"), json(rec))
    spark.stop()
  }
}
