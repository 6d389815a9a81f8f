package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.TxnTable

/** The stats/bloom pass runs INSIDE the write (the write tasks collect
  * it) for every frame shape — optimizedWrite partitioned commits,
  * plain partitioned ones, V1 parquet scans, graft-scan (V2) sources
  * and nondeterministic projections alike, including the shapes whose
  * re-execution could differ from the written rows. This spec pins
  * the EXACTNESS bar per shape: the recorded stats, row
  * counts and bloom sidecar bytes must be byte-identical to what the
  * read-back reference (`TxnTable.readBackStats`) computes over the
  * written files — and the write-task pass must have engaged (counter)
  * so the parity assert cannot go vacuous. */
class OverlapStatsSpec extends AnyFunSuite {
  lazy val spark = Spec.spark
  import spark.implicits._

  private def withZone(f: String => Unit): Unit = {
    val zone = java.nio.file.Files
      .createTempDirectory("graft_overlapstats").toFile
    try f(zone.getAbsolutePath)
    finally graft.io.Tables.deleteTree(zone)
  }

  // checkpointed frame with nulls in both a stats and a bloom column,
  // several buckets, and a skewed key
  private def frame() = {
    val rows = (1L to 500L).map { i =>
      (i,
        if (i % 41 == 0) null else s"k${i % 97}",
        if (i % 23 == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(i % 13))
    }
    rows.toDF("doc_id", "h", "grp").localCheckpoint()
  }

  private val statsCols = Seq("doc_id", "h", "grp")
  private val bloomCols = Seq("h", "doc_id")

  /** Bloom sidecar bytes on disk, keyed by (table-relative file, col). */
  private def sidecars(table: String): Map[(String, String), Seq[Byte]] = {
    val root = new java.io.File(table).toPath
    def walk(d: java.io.File): Seq[java.io.File] =
      if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
    // skip hidden entries: the local filesystem's `.<name>.crc` twins
    walk(root.toFile).filter(f => f.getName.contains(".bloom.") &&
        !f.getName.startsWith(".")).map { f =>
      val rel = root.relativize(f.toPath).toString
      val i = rel.indexOf(".bloom.")
      (rel.take(i), rel.drop(i + ".bloom.".length)) ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq
    }.toMap
  }

  /** Write `df` as a bucketed graft table and assert the write-task
    * pass engaged and recorded exactly the read-back reference's
    * stats, rows and bloom bytes. */
  private def writeAndCheck(df: org.apache.spark.sql.DataFrame,
      table: String, optimized: Boolean = true,
      stats: Seq[String] = statsCols): Unit = {
    val before = TxnTable.overlapStatsPasses.get()
    df.write.format("graft")
      .option("partitionBy", "bucket(8, h)")
      .option("statsCols", stats.mkString(","))
      .option("bloomCols", bloomCols.mkString(","))
      .option("optimizedWrite", optimized.toString)
      .mode("overwrite").save(table)
    assert(TxnTable.overlapStatsPasses.get() == before + 1,
      "the write tasks must have collected the stats")
    val v = TxnTable.latestVersion(spark, table).get
    val files = TxnTable.snapshotFiles(spark, table, v)
    val (refStats, refRows, refBlooms) = TxnTable.readBackStats(
      spark, table, files, df.schema, stats, bloomCols)
    def sorted(m: Map[String, Seq[TxnTable.FileStat]]) =
      m.view.mapValues(_.sortBy(_.col)).toMap
    assert(sorted(TxnTable.fileStats(spark, table, v)) == sorted(refStats),
      "stats diverge from the read-back reference")
    assert(TxnTable.fileRows(spark, table, v) == refRows)
    val bl = sidecars(table)
    assert(bl.nonEmpty, "expected bloom sidecars")
    assert(bl == refBlooms, "bloom bitsets diverge from the read-back's")
  }

  test("overlapped pass records byte-identical stats/rows/blooms") {
    withZone { zone =>
      val df = frame()
      writeAndCheck(df, s"$zone/on")
      // one file per bucket value under optimizedWrite
      val v = TxnTable.latestVersion(spark, s"$zone/on").get
      val files = TxnTable.snapshotFiles(spark, s"$zone/on", v)
      assert(files.map(_.split('/')(1)).distinct.size == files.size)
      // and the data itself reads back as written
      val a = spark.read.format("graft").load(s"$zone/on")
        .orderBy($"doc_id").collect().toSeq
      assert(a == df.orderBy($"doc_id").collect().toSeq)
    }
  }

  test("non-optimized and graft-scan (V2) frames record read-back-exact " +
      "stats") {
    withZone { zone =>
      // not optimizedWrite: several files per value
      writeAndCheck(frame(), s"$zone/plain", optimized = false)
      // graft-scan (V2) frame: its scan re-resolves the manifest per
      // execution, so only the write tasks see exactly the rows written
      writeAndCheck(spark.read.format("graft").load(s"$zone/plain"),
        s"$zone/scanned")
    }
  }

  test("every stats type records read-back-exact stats under UTC and " +
      "Los Angeles") {
    withZone { zone =>
      for (tz <- Seq("UTC", "America/Los_Angeles")) Spec.withSessionZone(tz) {
        val df = Spec.everyStatsType()
          .withColumn("h", concat(lit("k"), $"doc_id" % 97))
          .withColumn("grp", $"doc_id" % 13)
        writeAndCheck(df, s"$zone/$tz", stats = Spec.everyStatsCol :+ "h")
      }
    }
  }

  test("V1 parquet-scan and rand() frames record read-back-exact stats") {
    withZone { zone =>
      frame().write.mode("overwrite").parquet(s"$zone/raw")
      val scan = spark.read.parquet(s"$zone/raw")
        .filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"h", $"grp")
      writeAndCheck(scan, s"$zone/v1")
      // a nondeterministic projection draws once, in the write tasks:
      // the stats describe the written bytes
      val r = scan.withColumn("r", rand())
        .withColumn("grp", when($"r" < 0.5, $"grp"))
      writeAndCheck(r, s"$zone/nondet")
    }
  }
}
