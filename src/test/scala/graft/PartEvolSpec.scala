package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnTable

/** PARTITION-SPEC EVOLUTION (`ALTER TABLE … SET PARTITIONED BY`):
  * a metadata-only commit changes how FUTURE writes lay out; existing
  * files keep their old directory layout and stay fully readable and
  * prunable, because graft plans from per-file stats and path-parsed
  * bucket ids — never from an assumed global layout. Iceberg's
  * signature capability, impossible in Delta without a full rewrite. */
class PartEvolSpec extends AnyFunSuite {
  private lazy val spark = Spec.spark

  private def withZone(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_pevol").toFile
    try body(s"${root.getAbsolutePath}/t")
    finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(root)
    }
  }

  /** File counts of every GraftScanFiles in the executed plan. */
  private def dsv2ScanCounts(
      q: org.apache.spark.sql.DataFrame): Seq[Int] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] =
      p.flatMap {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case g: graft.io.GraftScanFiles => Seq(g.scannedFileCount)
            case _ => Nil
          }
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(s.plan)
        case _ => Nil
      }
    q.count() // materialize so AQE settles
    walk(q.queryExecution.executedPlan)
  }

  test("evolving the spec is metadata-only; each vintage keeps its layout") {
    withZone { table =>
      import spark.implicits._
      // vintage 1: identity-partitioned by g (4 values → 4 value dirs)
      Seq.range(0L, 100L).map(k => (k, k / 25L))
        .toDF("k", "g").coalesce(1)
        .write.format("graft").option("statsCols", "k")
        .option("partitionBy", "g").mode("overwrite").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val filesBefore = TxnTable.snapshotFiles(spark, table, v1).toSet
      assert(filesBefore.forall(_.contains("__gp_g=")))

      val v2 = TxnTable.setPartitionSpec(spark, table, Seq("bucket(4, k)"))
      assert(v2 == v1 + 1, "evolution is one commit")
      assert(TxnTable.snapshotFiles(spark, table, v2).toSet == filesBefore,
        "zero data files written or dropped by the spec change")
      assert(TxnTable.partitionColumns(spark, table) == Seq("bucket(4,k)"),
        "canonical entry spelling recorded")

      // vintage 2: appends INHERIT the new spec automatically
      Seq.range(100L, 200L).map(k => (k, k / 25L))
        .toDF("k", "g")
        .write.format("graft").option("statsCols", "k")
        .mode("append").save(table)
      val after = TxnTable.snapshotFiles(
        spark, table, TxnTable.latestVersion(spark, table).get)
      val fresh = after.filterNot(filesBefore)
      assert(fresh.nonEmpty && fresh.forall(_.contains("__gp_bucket_4_k=")),
        s"new files must lay out under the evolved spec; got $fresh")
      assert(filesBefore.forall(f => !f.contains("__gp_bucket")),
        "old files never move")

      // both vintages serve one coherent table
      val df = spark.read.format("graft").load(table)
      assert(df.count() == 200L)
      assert(df.agg(sum($"k")).head().getLong(0) == 199L * 200L / 2L)
      // SHOW PARTITIONS reports each vintage's REAL layout
      val parts = spark.sql(s"SHOW PARTITIONS '$table'")
        .select("partition").as[String].collect().toSet
      assert(parts.exists(_.startsWith("g=")) &&
        parts.exists(_.startsWith("bucket_4_k=")),
        s"mixed-vintage partition report: $parts")
    }
  }

  test("a point lookup prunes BOTH vintages: stats on old, bucket on new") {
    withZone { table =>
      import spark.implicits._
      // vintage 1: 4 files partitioned by g, k contiguous per file
      Seq.range(0L, 100L).map(k => (k, k / 25L))
        .toDF("k", "g").coalesce(1)
        .write.format("graft").option("statsCols", "k")
        .option("partitionBy", "g").mode("overwrite").save(table)
      TxnTable.setPartitionSpec(spark, table, Seq("bucket(4,k)"))
      // vintage 2: 4 bucket files, each spanning k's whole [100,200)
      // range — min/max stats are useless on them BY CONSTRUCTION
      Seq.range(100L, 200L).map(k => (k, k / 25L))
        .toDF("k", "g").coalesce(1)
        .write.format("graft").option("statsCols", "k")
        .mode("append").save(table)
      val total = TxnTable.snapshotFiles(
        spark, table, TxnTable.latestVersion(spark, table).get).size
      assert(total >= 8, s"expected both vintages' files, got $total")

      // k = 150 lives in vintage 2: the four OLD files refute on
      // k-range stats, and of the four NEW files only the value's own
      // bucket survives path-id pruning → exactly ONE file scanned
      val hit = spark.read.format("graft").load(table).filter($"k" === 150L)
      assert(hit.count() == 1L)
      val scans = dsv2ScanCounts(
        spark.read.format("graft").load(table).filter($"k" === 150L))
      assert(scans.nonEmpty && scans.sum == 1,
        s"point lookup on an evolved table must read 1 file of $total; " +
          s"scan counts: $scans")

      // k = 50 lives in vintage 1: old files prune to the one k-range
      // file; new files can't refute by stats, but their bucket ids CAN
      // — only k=50's bucket survives → at most 2 files either way
      val scansOld = dsv2ScanCounts(
        spark.read.format("graft").load(table).filter($"k" === 50L))
      assert(scansOld.sum <= 2,
        s"old-vintage lookup must stats-prune old files and bucket-prune " +
          s"new ones; scan counts: $scansOld")
    }
  }

  test("SQL spellings, unpartition, refusals, and time travel") {
    withZone { table =>
      import spark.implicits._
      Seq((1L, java.sql.Date.valueOf("2024-03-01"), "x"),
          (2L, java.sql.Date.valueOf("2024-03-02"), "y"))
        .toDF("k", "d", "s").coalesce(1)
        .write.format("graft").option("statsCols", "k")
        .mode("overwrite").save(table)
      val v0 = TxnTable.latestVersion(spark, table).get

      spark.sql(s"ALTER TABLE '$table' SET PARTITIONED BY (days(d), bucket(8, k))")
      assert(TxnTable.partitionColumns(spark, table) ==
        Seq("days(d)", "bucket(8,k)"))
      // idempotent re-declare: provable no-op, no commit
      val vSame = TxnTable.setPartitionSpec(
        spark, table, Seq("days(d)", "bucket(8,k)"))
      assert(vSame == TxnTable.latestVersion(spark, table).get)

      spark.sql(s"ALTER TABLE '$table' SET UNPARTITIONED")
      assert(TxnTable.partitionColumns(spark, table).isEmpty)
      Seq((3L, java.sql.Date.valueOf("2024-03-03"), "z")).toDF("k", "d", "s")
        .write.format("graft").mode("append").save(table)
      val vEnd = TxnTable.latestVersion(spark, table).get
      val newest = TxnTable.snapshotFiles(spark, table, vEnd)
        .filterNot(TxnTable.snapshotFiles(spark, table, v0).toSet)
      assert(newest.nonEmpty && newest.forall(f => !f.contains("__gp_")),
        s"unpartitioned appends carry no layout dirs: $newest")

      // time travel reads the spec THEN — the pinned snapshot's reads
      // and SHOW PARTITIONS are unaffected by later evolution
      assert(spark.read.format("graft").option("versionAsOf", v0.toString)
        .load(table).count() == 2L)

      // refusals: unknown source column; temporal transform on a string
      intercept[IllegalArgumentException] {
        TxnTable.setPartitionSpec(spark, table, Seq("nope"))
      }
      intercept[IllegalArgumentException] {
        TxnTable.setPartitionSpec(spark, table, Seq("days(s)"))
      }
    }
  }

  test("catalog spelling: SET PARTITIONED BY on a catalog table") {
    val s = spark
    if (s.conf.getOption("spark.sql.catalog.gpev").isEmpty) {
      s.conf.set("spark.sql.catalog.gpev", "graft.io.GraftTableCatalog")
      s.conf.set("spark.sql.catalog.gpev.warehouse",
        java.nio.file.Files.createTempDirectory("graft_pevol_cat").toString)
    }
    s.sql("CREATE NAMESPACE IF NOT EXISTS gpev.db")
    s.sql("DROP TABLE IF EXISTS gpev.db.pt")
    try {
      s.sql("CREATE TABLE gpev.db.pt (k BIGINT, g BIGINT) USING graft")
      s.sql("INSERT INTO gpev.db.pt VALUES (1, 0), (2, 1)")
      s.sql("ALTER TABLE gpev.db.pt SET PARTITIONED BY (g)")
      val wh = s.conf.get("spark.sql.catalog.gpev.warehouse")
      assert(TxnTable.partitionColumns(s, s"$wh/db/pt") == Seq("g"))
      s.sql("INSERT INTO gpev.db.pt VALUES (3, 0)")
      val vEnd = TxnTable.latestVersion(s, s"$wh/db/pt").get
      assert(TxnTable.snapshotFiles(s, s"$wh/db/pt", vEnd)
        .exists(_.contains("__gp_g=")), "evolved catalog appends lay out")
      assert(s.sql("SELECT COUNT(*) FROM gpev.db.pt").head().getLong(0) == 3L)
    } finally s.sql("DROP TABLE IF EXISTS gpev.db.pt")
  }

  test("a spec change racing an append: both land, the table stays coherent") {
    withZone { table =>
      import spark.implicits._
      Seq.range(0L, 50L).map(k => (k, k % 5L)).toDF("k", "g").coalesce(1)
        .write.format("graft").option("statsCols", "k")
        .mode("overwrite").save(table)
      // the append computes its layout from the OLD spec; the evolution
      // commits concurrently — whichever CAS order results, both
      // commits land and reads stay exact (files are self-describing,
      // so an old-layout straggler under a new spec is merely
      // conservative, never wrong)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      import scala.concurrent.{ExecutionContext, Future, Await}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fA = Future {
        Seq.range(50L, 100L).map(k => (k, k % 5L)).toDF("k", "g")
          .write.format("graft").mode("append").save(table)
      }
      val fB = Future { TxnTable.setPartitionSpec(spark, table, Seq("g")) }
      try {
        Await.result(fA, 120.seconds); Await.result(fB, 120.seconds)
      } finally pool.shutdown()
      assert(TxnTable.partitionColumns(spark, table) == Seq("g"))
      val df = spark.read.format("graft").load(table)
      assert(df.count() == 100L)
      assert(df.agg(sum($"k")).head().getLong(0) == 99L * 100L / 2L)
      // and the NEXT append honors the evolved spec
      Seq((100L, 0L)).toDF("k", "g")
        .write.format("graft").mode("append").save(table)
      val vEnd = TxnTable.latestVersion(spark, table).get
      assert(TxnTable.snapshotFiles(spark, table, vEnd)
        .exists(_.contains("__gp_g=")))
    }
  }

  test("an implicit-spec overwrite racing a spec change lays out under " +
      "the spec its own commit records") {
    withZone { table =>
      import spark.implicits._
      Seq.range(0L, 50L).map(k => (k, k % 5L)).toDF("k", "g").coalesce(1)
        .write.format("graft").mode("overwrite").save(table)
      // the overwrite reads the unpartitioned spec, then spends its data
      // write racing the evolution (which starts a beat later, so it
      // usually lands inside that write). An overwrite's files are the
      // table's ENTIRE content: whichever CAS order results, they must
      // be laid out under the spec recorded by the overwrite's commit
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      import scala.concurrent.{ExecutionContext, Future, Await}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fA = Future {
        TxnTable.commitOverwrite(
          Seq.range(100L, 150L).map(k => (k, k % 5L)).toDF("k", "g"), table)
      }
      val fB = Future {
        Thread.sleep(100)
        TxnTable.setPartitionSpec(spark, table, Seq("g"))
      }
      try {
        Await.result(fA, 120.seconds); Await.result(fB, 120.seconds)
      } finally pool.shutdown()
      assert(TxnTable.partitionColumns(spark, table) == Seq("g"))
      val latest = TxnTable.commitLog(spark, table).head
      val files = TxnTable.snapshotFiles(spark, table, latest.version)
      if (latest.op == "overwrite")
        // lost the CAS to the evolution: rewritten under the new spec
        assert(files.nonEmpty && files.forall(_.contains("__gp_g=")), files)
      else
        // landed first: its flat files are one more vintage under the
        // spec evolved after them
        assert(files.nonEmpty && files.forall(!_.contains("__gp_")), files)
      val df = spark.read.format("graft").load(table)
      assert(df.count() == 50L)
      assert(df.agg(sum($"k")).head().getLong(0) == (100L until 150L).sum)
    }
  }

  test("a running stream's next microbatch honors an evolved sink spec") {
    withZone { zone =>
      import spark.implicits._
      val src = s"$zone-src"; val sink = s"$zone-sink"; val cp = s"$zone-cp"
      Seq((1L, 0L), (2L, 1L)).toDF("k", "g").coalesce(1)
        .write.format("graft").mode("overwrite").save(src)
      def drain(): Unit = {
        val q = spark.readStream.format("graft").load(src)
          .writeStream.format("graft")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(sink)
        q.awaitTermination()
      }
      drain()
      val before = TxnTable.snapshotFiles(spark, sink,
        TxnTable.latestVersion(spark, sink).get).toSet
      assert(before.forall(f => !f.contains("__gp_")))
      // evolve the SINK's spec between microbatches — the stream's next
      // commit inherits it (partitioning is sticky and read at COMMIT
      // time, not pinned at stream start)
      TxnTable.setPartitionSpec(spark, sink, Seq("g"))
      Seq((3L, 0L), (4L, 1L)).toDF("k", "g")
        .write.format("graft").mode("append").save(src)
      drain()
      val after = TxnTable.snapshotFiles(spark, sink,
        TxnTable.latestVersion(spark, sink).get)
      val fresh = after.filterNot(before)
      assert(fresh.nonEmpty && fresh.forall(_.contains("__gp_g=")),
        s"mid-stream evolution must shape the next microbatch: $fresh")
      assert(spark.read.format("graft").load(sink).count() == 4L)
    }
  }

  test("widening refuses while old bucket-layout files linger, then allows") {
    withZone { table =>
      import spark.implicits._
      Seq.range(0, 40).map(i => (i, i.toString)).toDF("k", "s")
        .coalesce(1).write.format("graft").option("statsCols", "k")
        .option("partitionBy", "bucket(4,k)").mode("overwrite").save(table)
      // evolve AWAY from the bucket spec: the spec no longer names k …
      TxnTable.setPartitionSpec(spark, table, Nil)
      // … but the old files still carry hashed-from-int bucket ids in
      // their paths; a widen now would poison a future bucket re-add
      val e = intercept[IllegalArgumentException] {
        TxnTable.alterColumnType(spark, table, "k",
          org.apache.spark.sql.types.LongType)
      }
      assert(e.getMessage.contains("bucket"), e.getMessage)
      // OPTIMIZE rewrites the old layout away → widen becomes legal
      TxnTable.compactSmall(spark, table, smallBytes = 1L << 30)
      TxnTable.alterColumnType(spark, table, "k",
        org.apache.spark.sql.types.LongType)
      val df = spark.read.format("graft").load(table)
      assert(df.schema("k").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(df.count() == 40L)
      // and a bucket RE-ADD over the rewritten (long-typed) files is
      // sound: new appends hash the current type
      TxnTable.setPartitionSpec(spark, table, Seq("bucket(4,k)"))
      Seq.range(40L, 80L).map(i => (i, i.toString)).toDF("k", "s")
        .write.format("graft").mode("append").save(table)
      assert(spark.read.format("graft").load(table)
        .filter($"k" === 77L).count() == 1L)
    }
  }
}
