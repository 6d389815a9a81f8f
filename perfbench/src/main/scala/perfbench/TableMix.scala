package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.io.TxnTable

/** The table_mix workload: a seeded op sequence through TxnTable's
  * public API (readEquals, readRange, commitAppend, deleteEquals, merge,
  * compact + vacuum) on a table built from lineitem plus a unique `rid`.
  * Every op's latency, and every read's count, is recorded for run.py,
  * which replays the same ops without graft to check them. */
object TableMix {
  val StatsCols = Seq("rid", "l_orderkey")
  val BloomCols = Seq("rid")
  val WarmBlocks = 1
  val TimedBlocks = 2

  def bytes(dir: String): Long = {
    val files = Files.walk(Paths.get(dir))
    try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
    finally files.close()
  }

  def parse(file: String): Seq[Map[String, String]] = {
    val src = Source.fromFile(file)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val w = l.split(' ')
      w.tail.map { kv => val Array(k, v) = kv.split('='); k -> v }.toMap +
        ("op" -> w.head)
    }.toVector
    finally src.close()
  }

  final class Log {
    val kind = mutable.ArrayBuffer.empty[String]
    val ms = mutable.ArrayBuffer.empty[Double]
    val rows = mutable.ArrayBuffer.empty[Long]
    val traced = mutable.ArrayBuffer.empty[Boolean]
    var scanned = 0L
    var total = 0L
    var failed = 0L
    // bytes of the table directory before the latest compact: the most
    // the sequence has written since the previous maintenance
    var preCompactBytes = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val blocks = mutable.ArrayBuffer.empty[Double]
    val blockTraced = mutable.ArrayBuffer.empty[Boolean]
    def json: Map[String, Any] = Map("kind" -> kind.toSeq, "ms" -> ms.toSeq,
      "rows" -> rows.toSeq, "traced" -> traced.toSeq, "scanned" -> scanned,
      "total" -> total, "failed" -> failed, "errors" -> errors.toSeq,
      "pre_compact_bytes" -> preCompactBytes,
      "blocks_s" -> blocks.toSeq, "block_traced" -> blockTraced.toSeq)
  }

  def run(spark: SparkSession, dir: String, opsFile: String, seconds: Double,
          trace: Boolean, tracer: Tracer, rec: mutable.Map[String, Any],
          out: String): Unit = {
    val base = spark.read.parquet(s"$dir/mix_base.parquet").cache()
    base.count()
    val tables = s"$out/tables"
    def create(t: String): Unit = TxnTable.commitOverwrite(
      base.repartitionByRange(8, col("rid")), t, StatsCols, BloomCols)

    def rows(src: Long, n: Long, first: Long): DataFrame =
      base.filter(col("rid") >= src && col("rid") < src + n)
        .withColumn("rid", col("rid") - lit(src) + lit(first))

    def op(t: String, o: Map[String, String], log: Log): Unit = {
      def L(k: String) = o(k).toLong
      o("op") match {
        case "read_eq" =>
          val (df, s, n) = TxnTable.readEquals(spark, t, "rid", L("rid"))
          log.rows += df.count(); log.scanned += s; log.total += n
        case "read_range" =>
          val (df, s, n) = TxnTable.readRange(spark, t, "rid",
            L("lo").toDouble, L("hi").toDouble)
          log.rows += df.count(); log.scanned += s; log.total += n
        case "append" =>
          TxnTable.commitAppend(rows(L("src"), L("n"), L("first")), t,
            StatsCols, BloomCols)
          log.rows += -1
        case "delete" =>
          TxnTable.deleteEquals(spark, t, "rid", L("rid"))
          log.rows += -1
        case "merge" =>
          TxnTable.merge(rows(L("src"), L("n"), L("lo")).withColumn(
            "l_extendedprice", col("l_extendedprice") + lit(o("bump").toDouble)),
            t, "rid")
          log.rows += -1
        case "compact" =>
          TxnTable.compact(spark, t)
          TxnTable.vacuum(spark, t)
          log.rows += -1
      }
    }

    /** Run ops block by block (a block ends with its compact) until
      * `done(block times, elapsed s)`; block i runs traced iff
      * `traced(i)`, each op one call of module io. */
    def sequence(t: String, ops: Seq[Map[String, String]],
                 traced: Int => Boolean)(
                 done: (Seq[Double], Double) => Boolean): Log = {
      val log = new Log
      val t0 = System.nanoTime()
      var b0 = t0
      val it = ops.iterator
      if (traced(0)) tracer.start()
      while (it.hasNext && !done(log.blocks.toSeq, (System.nanoTime() - t0) / 1e9)) {
        val o = it.next()
        if (o("op") == "compact") log.preCompactBytes = bytes(t)
        val s0 = System.nanoTime()
        try tracer.call(s"io.${o("op")}#${log.kind.size}", "io",
            log.blocks.size, None) {
          op(t, o, log)
        } catch { case e: Throwable =>
          log.failed += 1; log.rows += -2
          log.errors += s"${o("op")}: ${e.getMessage}".take(300)
        }
        val s1 = System.nanoTime()
        log.kind += o("op")
        log.ms += (s1 - s0) / 1e6
        log.traced += tracer.enabled
        if (o("op") == "compact") {
          log.blocks += (s1 - b0) / 1e9
          log.blockTraced += tracer.enabled
          tracer.stop()
          if (traced(log.blocks.size)) tracer.start()
          b0 = System.nanoTime()
        }
      }
      tracer.stop()
      log
    }

    // cold pass: creating a scratch table and one block of ops on it,
    // which is the whole warm-up
    val c0 = Counters.read()
    val w0 = System.nanoTime()
    create(s"$tables/scratch")
    val created = System.nanoTime()
    val warm = sequence(s"$tables/scratch", parse(opsFile + ".warm"),
      _ => false)((b, _) => b.size >= WarmBlocks)
    rec("cold_pass_s") = (created - w0) / 1e9 + warm.blocks.head
    rec("cold_counters") = Queries.counters(Counters.read() - c0, 1)
    rec("warmup_blocks_s") = warm.blocks.toSeq

    // timed, on a fresh table; a traced run alternates untraced and
    // traced blocks, so trace_overhead compares blocks of the same warmth
    val ops = parse(opsFile)
    create(s"$tables/mix")
    val rounds = if (trace) 2 else 1
    val c1 = Counters.read()
    val timed = sequence(s"$tables/mix", ops, i => trace && i % 2 == 1) {
      (b, el) => b.size >= TimedBlocks * rounds && b.size % rounds == 0 &&
        el >= seconds * rounds
    }
    rec("timed") = timed.json
    rec("io_counters") = Queries.counters(Counters.read() - c1, timed.blocks.size)
    if (trace) rec("layers") = tracer.layers(timed.blockTraced.count(identity))

    // the live rows, written once as plain parquet: the final-table check
    // and the denominator of storage_amp (compact leaves them unchanged,
    // so they are also the live rows before the last compact)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    TxnTable.read(spark, s"$tables/mix").coalesce(1).write.mode("overwrite")
      .parquet(s"$out/mix_final")
    rec("attempted") = warm.kind.size + timed.kind.size
    rec("failed") = warm.failed + timed.failed
    rec("errors") = (warm.errors ++ timed.errors).toSeq
  }
}
