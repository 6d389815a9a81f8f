package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query workloads: each pass runs every step once, in an order the
  * seed fixes per pass. The cold pass writes each step's result as
  * parquet, as a scheduled job writes its output, and run.py checks those
  * files against the oracle; every later pass materializes through the
  * noop sink (the graft.Bench protocol). */
object Queries {
  def run(spark: SparkSession, dir: String, names: Seq[String], seed: Long,
          seconds: Double, trace: Boolean, tracer: Tracer,
          rec: mutable.Map[String, Any], out: String): Unit = {
    val byName = graft.Registry.all.map(q => q.name -> q).toMap
    val steps = names.map { n =>
      val q = byName(n)
      Step(n, Main.moduleOf(q), q.fn, q.oracle)
    }
    var failed = 0L
    var attempted = 0L
    val errors = mutable.ArrayBuffer.empty[String]

    def noop(s: Step, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def pass(p: Int, sink: (Step, DataFrame) => Unit = noop): (Double, Seq[(String, Double)]) = {
      val order = new scala.util.Random(seed * 7919L + p).shuffle(steps)
      val t0 = System.nanoTime()
      val per = tracer.call("pass", "pass", p, None) {
        order.map { s =>
          val s0 = System.nanoTime()
          attempted += 1
          try tracer.call(s.name, s.module, p, Some("pass")) {
            sink(s, s.run(spark, dir))
          } catch { case e: Throwable =>
            failed += 1; errors += s"${s.name}: ${e.getMessage}".take(300)
          }
          s.name -> (System.nanoTime() - s0) / 1e9
        }
      }
      ((System.nanoTime() - t0) / 1e9, per)
    }

    def now = System.nanoTime() / 1e9
    var p = 0
    val c0 = Counters.read()
    // µs parquet timestamps, the logical type the oracle side produces
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val (cold, coldSteps) = pass(p, (s, df) =>
      df.write.mode("overwrite").parquet(s"$out/results/${s.name}"))
    p += 1
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val cold1 = Counters.read() - c0
    rec("cold_pass_s") = cold
    rec("cold_step_s") = coldSteps.toMap
    rec("cold_counters") = counters(cold1, 1)

    // warm-up: one untimed pass; the cold pass before it has already
    // compiled every plan
    rec("warmup_pass_s") = pass(p)._1; p += 1

    // timed passes; a traced run alternates untraced and traced passes,
    // so trace_overhead compares passes of the same warmth
    val plain = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double)])]
    val traced = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Int]
    var cd: Option[Counters] = None
    val rounds = if (trace) 2 else 1
    val t0 = now
    while (plain.size < 2 || now - t0 < seconds * rounds ||
        (trace && traced.size < plain.size)) {
      if (trace && traced.size < plain.size) {
        tracer.start()
        val c = Counters.read()
        traced += pass(p)._1
        val d = Counters.read() - c
        cd = Some(cd.fold(d)(_ + d))
        tracer.stop()
        tracedPasses += p
      } else plain += pass(p)
      p += 1
    }
    rec("passes_s") = plain.map(_._1).toSeq
    rec("step_s") = steps.map(s =>
      s.name -> plain.map(_._2.toMap.apply(s.name)).toSeq).toMap
    if (trace) {
      rec("traced_passes_s") = traced.toSeq
      rec("layers") = tracer.layers(tracedPasses.size) ++
        counters(cd.get, tracedPasses.size)
    }

    Files.writeString(Paths.get(out, "oracle.json"), Main.json(
      steps.flatMap(s => s.oracle.map(s.name -> _)).toMap))
    rec("attempted") = attempted
    rec("failed") = failed
    rec("errors") = errors.toSeq
  }

  def counters(c: Counters, n: Int): Map[String, Double] = Map(
    "codegen.compiles" -> c.compiles.toDouble / n,
    "codegen.compile_ms" -> c.compiles * c.meanCompileMs / n,
    "jvm.jit_s" -> c.jitMs / 1e3 / n,
    "jvm.gc_s" -> c.gcMs / 1e3 / n,
    "scan.files_discovered" -> c.filesDiscovered.toDouble / n,
    "io.meta_reads" -> c.metaReads.toDouble / n,
    "io.data_writes" -> c.dataWrites.toDouble / n,
    "io.overlap_stats_ratio" ->
      (if (c.dataWrites > 0) c.overlapStats.toDouble / c.dataWrites else 0.0))
}
