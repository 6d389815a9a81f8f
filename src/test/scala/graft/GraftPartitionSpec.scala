package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.{Tables, TxnTable}

/** Partitioned graft writes: partition-value file groups, sticky
  * partitioning across appends AND rewrites, metadata-only partition
  * drops, and SQL DML over a partitioned table. */
class GraftPartitionSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private def withZone(f: String => Unit): Unit = {
    val zone = java.nio.file.Files.createTempDirectory("graft_part").toFile
    try f(zone.getAbsolutePath)
    finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete(); ()
      }
      rm(zone)
    }
  }

  test("partitionBy via API and option; every file single-valued; sticky append") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      cust.filter($"c_custkey" % 2 === 0)
        .write.format("graft").mode("overwrite")
        .partitionBy("c_mktsegment").save(table)
      assert(TxnTable.partitionColumns(spark, table) == Seq("c_mktsegment"))
      // append WITHOUT partitionBy conforms (sticky)
      cust.filter($"c_custkey" % 2 === 1)
        .write.format("graft").mode("append").save(table)
      val v = TxnTable.latestVersion(spark, table).get
      val stats = TxnTable.fileStats(spark, table, v)
      val files = TxnTable.snapshotFiles(spark, table, v)
      assert(files.forall(f => stats.getOrElse(f, Nil).exists(s =>
        s.col == "c_mktsegment" && s.minV == s.maxV && s.nulls == 0L)))
      // content round-trips exactly
      val got = TxnTable.read(spark, table)
      assert(got.count() == cust.count())
      assert(got.except(cust).count() == 0 && cust.except(got).count() == 0)
      // option spelling works too
      val t2 = s"$zone/t2"
      cust.write.format("graft").mode("overwrite")
        .option("partitionBy", "c_mktsegment").save(t2)
      assert(TxnTable.partitionColumns(spark, t2) == Seq("c_mktsegment"))
    }
  }

  test("deleteEquals on the partition column drops whole partitions as metadata") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      cust.write.format("graft").mode("overwrite")
        .partitionBy("c_mktsegment").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val before = TxnTable.snapshotFiles(spark, table, v1).toSet
      val stats = TxnTable.fileStats(spark, table, v1)
      val doomed = before.filter(f => stats(f)
        .exists(s => s.col == "c_mktsegment" && s.minV == "BUILDING"))
      val v2 = TxnTable.deleteEquals(spark, table, "c_mktsegment", "BUILDING")
      val after = TxnTable.snapshotFiles(spark, table, v2).toSet
      // pure metadata: removed exactly the partition's files, added none
      assert(after == before -- doomed,
        s"partition delete should drop ${doomed.size} files by metadata only")
      assert(TxnTable.read(spark, table)
        .filter($"c_mktsegment" === "BUILDING").count() == 0)
      assert(TxnTable.read(spark, table).count() ==
        cust.filter($"c_mktsegment" =!= "BUILDING").count())
    }
  }

  test("days(ts) transform: day-tight files, sticky, rewrites preserve it") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      val ev = Tables.events(spark, Spec.sf0001)
        .select($"event_id", $"ts", $"value")
      ev.filter($"event_id" % 2 === 0)
        .write.format("graft").mode("overwrite")
        .option("partitionBy", "days(ts)").save(table)
      assert(TxnTable.partitionColumns(spark, table) == Seq("days(ts)"))
      ev.filter($"event_id" % 2 === 1)
        .write.format("graft").mode("append").save(table)
      def dayTight(): Boolean = {
        val v = TxnTable.latestVersion(spark, table).get
        val stats = TxnTable.fileStats(spark, table, v)
        val files = TxnTable.snapshotFiles(spark, table, v)
        // ts is TIMESTAMP_NTZ: its stats are local micros
        def day(us: String) = math.floorDiv(us.toLong, 86400000000L)
        files.nonEmpty && files.forall(f => stats.getOrElse(f, Nil).exists(s =>
          s.col == "ts" && day(s.minV) == day(s.maxV)))
      }
      assert(dayTight(), "append must conform to the sticky days(ts) layout")
      assert(TxnTable.read(spark, table).count() == ev.count())
      // a SQL UPDATE rewrite keeps the day grouping
      spark.sql(s"CREATE TABLE graft_days_dml USING graft OPTIONS (path '$table')")
      try {
        spark.sql("UPDATE graft_days_dml SET value = 0.0 WHERE event_id < 50")
      } finally spark.sql("DROP TABLE graft_days_dml")
      assert(TxnTable.partitionColumns(spark, table) == Seq("days(ts)"))
      assert(dayTight(), "the UPDATE's rewritten files must stay day-tight")
    }
  }

  test("hours/months/years transforms bucket tightly and stay sticky") {
    import spark.implicits._
    withZone { zone =>
      val ev = Tables.events(spark, Spec.sf0001)
        .select($"event_id", $"ts", $"value")
      def tight(table: String, bucket: Long => Any): Boolean = {
        val v = TxnTable.latestVersion(spark, table).get
        val stats = TxnTable.fileStats(spark, table, v)
        val files = TxnTable.snapshotFiles(spark, table, v)
        def b(us: String) = bucket(math.floorDiv(us.toLong, 1000000L))
        files.nonEmpty && files.forall(f => stats.getOrElse(f, Nil).exists(s =>
          s.col == "ts" && b(s.minV) == b(s.maxV)))
      }
      def ym(sec: Long) = {
        val d = java.time.LocalDate.ofEpochDay(math.floorDiv(sec, 86400L))
        (d.getYear, d.getMonthValue)
      }
      val hT = s"$zone/h"
      ev.filter($"event_id" < 100)
        .write.format("graft").mode("overwrite")
        .option("partitionBy", "hours(ts)").save(hT)
      assert(TxnTable.partitionColumns(spark, hT) == Seq("hours(ts)"))
      assert(tight(hT, math.floorDiv(_, 3600L)),
        "hour files must be hour-tight on ts")
      val mT = s"$zone/m"
      ev.write.format("graft").mode("overwrite")
        .option("partitionBy", "months(ts)").save(mT)
      assert(tight(mT, ym), "month files must be month-contained")
      assert(TxnTable.read(spark, mT).count() == ev.count())
      // sticky across an append, like identity and days
      ev.limit(10).write.format("graft").mode("append").save(mT)
      assert(TxnTable.partitionColumns(spark, mT) == Seq("months(ts)"))
      val yT = s"$zone/y"
      ev.write.format("graft").mode("overwrite")
        .option("partitionBy", "years(ts)").save(yT)
      assert(TxnTable.partitionColumns(spark, yT) == Seq("years(ts)"))
      assert(TxnTable.read(spark, yT).count() == ev.count())
    }
  }

  test("rewrites (SQL UPDATE, compactSmall) preserve the partition layout") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      cust.write.format("graft").mode("overwrite")
        .partitionBy("c_mktsegment").save(table)
      spark.sql(s"CREATE TABLE graft_part_dml USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """UPDATE graft_part_dml SET c_acctbal = 0.0
            |WHERE c_mktsegment = 'MACHINERY' AND c_custkey < 100""".stripMargin)
      } finally spark.sql("DROP TABLE graft_part_dml")
      TxnTable.compactSmall(spark, table, smallBytes = 1L << 40)
      val v = TxnTable.latestVersion(spark, table).get
      assert(TxnTable.partitionColumns(spark, table) == Seq("c_mktsegment"))
      val stats = TxnTable.fileStats(spark, table, v)
      val files = TxnTable.snapshotFiles(spark, table, v)
      // every file — including the UPDATE's and compaction's rewrites —
      // is still single-valued on the partition column
      assert(files.forall(f => stats.getOrElse(f, Nil).exists(s =>
        s.col == "c_mktsegment" && s.minV == s.maxV)))
      val expect = cust.select($"c_custkey", $"c_mktsegment",
        when($"c_mktsegment" === "MACHINERY" && $"c_custkey" < 100, 0.0)
          .otherwise($"c_acctbal").as("c_acctbal"))
      val got = TxnTable.read(spark, table)
      assert(got.except(expect).count() == 0 && expect.except(got).count() == 0)
    }
  }

  test("optimizedWrite: one file per partition value regardless of input tasks") {
    withZone { zone =>
      import spark.implicits._
      val t = s"$zone/opt"
      val ev = graft.io.Tables.events(spark, Spec.sf0001)
        .select($"event_id", $"event_type", $"value")
        .repartition(16) // many tasks: the naive layout writes ~16 x values files
      graft.io.TxnTable.commitAppend(ev, t,
        partitionCols = Seq("event_type"), optimizedWrite = true)
      val files = graft.io.TxnTable.snapshotFiles(
        spark, t, graft.io.TxnTable.latestVersion(spark, t).get)
      val nTypes = graft.io.Tables.events(spark, Spec.sf0001)
        .select($"event_type").distinct().count()
      assert(files.size == nTypes,
        s"optimized write should land one file per value: ${files.size} vs $nTypes")
      // contrast: the plain layout multiplies tasks x values
      val t2 = s"$zone/plain"
      graft.io.TxnTable.commitAppend(ev, t2, partitionCols = Seq("event_type"))
      val plain = graft.io.TxnTable.snapshotFiles(
        spark, t2, graft.io.TxnTable.latestVersion(spark, t2).get)
      assert(plain.size > files.size)
      // same rows either way
      val a = spark.read.format("graft").load(t)
      val b = spark.read.format("graft").load(t2)
      assert(a.count() == b.count() && a.except(b).isEmpty)
    }
  }

  test("optimizedWrite through the DSv2 writer option") {
    withZone { zone =>
      import spark.implicits._
      val t = s"$zone/dsv2opt"
      graft.io.Tables.events(spark, Spec.sf0001)
        .select($"event_id", $"event_type", $"value")
        .repartition(16)
        .write.format("graft").mode("overwrite")
        .option("optimizedWrite", "true")
        .partitionBy("event_type").save(t)
      val files = graft.io.TxnTable.snapshotFiles(
        spark, t, graft.io.TxnTable.latestVersion(spark, t).get)
      val nTypes = graft.io.Tables.events(spark, Spec.sf0001)
        .select($"event_type").distinct().count()
      assert(files.size == nTypes)
    }
  }
}
