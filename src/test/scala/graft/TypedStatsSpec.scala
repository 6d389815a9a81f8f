package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.TxnTable

import java.time.{LocalDate, LocalDateTime}

/** Manifest stats are recorded in each column's own type: what a
  * file holds reads back the same in every session zone, long keys
  * past 2^53 stay distinct, values equal under Spark's ordering group
  * together, and legacy double (`num`) lines still serve where they
  * are exact. */
class TypedStatsSpec extends AnyFunSuite {

  lazy val spark = Spec.spark
  private val LosAngeles = "America/Los_Angeles"

  private def withTable(f: String => Unit): Unit = {
    val zone = java.nio.file.Files.createTempDirectory("graft_typed").toFile
    try f(s"${zone.getAbsolutePath}/t")
    finally graft.io.Tables.deleteTree(zone)
  }

  /** Does the executed plan read data files (a BatchScan)? */
  private def scans(q: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def walk(p: SparkPlan): Boolean = p.exists {
      case _: BatchScanExec => true
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => false
    }
    walk(q.queryExecution.executedPlan)
  }

  /** 100 rows in 4 files: `n` TIMESTAMP_NTZ from 2024-01-01T00:00 to
    * 2024-01-05T03:00, `d` DATE from 2024-01-01 to 2024-01-05. */
  private def commitTemporal(table: String): Unit = {
    import spark.implicits._
    val df = spark.range(0, 100, 1, 4).select($"id",
      make_timestamp_ntz(lit(2024), lit(1), ($"id" % 5 + 1).cast("int"),
        ($"id" % 4).cast("int"), lit(0), lit(0)).as("n"),
      make_date(lit(2024), lit(1), ($"id" % 5 + 1).cast("int")).as("d"))
    TxnTable.commitOverwrite(df, table, statsCols = Seq("n", "d"))
  }

  test("metadata-only MIN/MAX on TIMESTAMP_NTZ outside UTC returns the " +
      "stored wall clock") {
    import spark.implicits._
    Spec.withSessionZone(LosAngeles) {
      withTable { table =>
        commitTemporal(table)
        val q = spark.read.format("graft").load(table).agg(min($"n"), max($"n"))
        val r = q.head()
        assert(!scans(q), s"expected a manifest answer:\n${q.queryExecution.executedPlan}")
        assert(r.getAs[LocalDateTime](0) == LocalDateTime.parse("2024-01-01T00:00") &&
          r.getAs[LocalDateTime](1) == LocalDateTime.parse("2024-01-05T03:00"), r)
      }
    }
  }

  test("metadata-only MIN/MAX on DATE outside UTC is answered from the " +
      "manifest") {
    import spark.implicits._
    Spec.withSessionZone(LosAngeles) {
      withTable { table =>
        commitTemporal(table)
        val q = spark.read.format("graft").load(table).agg(min($"d"), max($"d"))
        val r = q.head()
        assert(!scans(q), s"expected a manifest answer:\n${q.queryExecution.executedPlan}")
        assert(r.getAs[java.sql.Date](0).toLocalDate == LocalDate.parse("2024-01-01") &&
          r.getAs[java.sql.Date](1).toLocalDate == LocalDate.parse("2024-01-05"), r)
      }
    }
  }

  test("a metadata-only GROUP BY puts -0.0 and 0.0 files in one group, " +
      "and NaN files in another") {
    import spark.implicits._
    withTable { table =>
      TxnTable.commitOverwrite(Seq((-0.0, 1L), (-0.0, 2L)).toDF("g", "v").coalesce(1),
        table, statsCols = Seq("g"))
      for (g <- Seq(0.0, Double.NaN, Double.NaN))
        TxnTable.commitAppend(Seq((g, 3L)).toDF("g", "v").coalesce(1),
          table, statsCols = Seq("g"))
      val q = spark.read.format("graft").load(table).groupBy($"g").count()
      val rows = q.collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(!scans(q), s"expected a manifest answer:\n${q.queryExecution.executedPlan}")
      assert(rows.size == 2 && rows.head == ((0.0, 3L)) && 1.0 / rows.head._1 > 0 &&
        rows(1)._1.isNaN && rows(1)._2 == 2L, rows)
    }
  }

  test("deleteRangeOn(k, 2^60, 2^60) keeps the row at 2^60 + 1") {
    import spark.implicits._
    val big = 1L << 60
    withTable { table =>
      TxnTable.commitOverwrite(Seq(5L, big, big + 1L).toDF("k").coalesce(1),
        table, statsCols = Seq("k"))
      val (rows, _, _) = TxnTable.readRangeOn(spark, table, "k", big, big)
      assert(rows.as[Long].collect().toSeq == Seq(big))
      TxnTable.deleteRangeOn(spark, table, "k", big, big)
      assert(TxnTable.read(spark, table).as[Long].collect().sorted.toSeq ==
        Seq(5L, big + 1L))
    }
  }

  test("a fractional range on an integral or decimal column rounds " +
      "inward and still prunes") {
    import spark.implicits._
    withTable { table =>
      // four files hold k 0-9, 10-19, 20-29 and 30-39; m = k / 100
      for (i <- 0 until 4) {
        val part = spark.range(i * 10, i * 10 + 10, 1, 1)
          .select($"id".as("k"), ($"id" / 100).cast("decimal(10,2)").as("m"))
        if (i == 0) TxnTable.commitOverwrite(part, table, statsCols = Seq("k", "m"))
        else TxnTable.commitAppend(part, table, statsCols = Seq("k", "m"))
      }
      def ks(df: DataFrame) = df.select($"k").as[Long].collect().sorted.toSeq
      val (byK, scannedK, _) = TxnTable.readRange(spark, table, "k", 9.5, 19.5)
      assert(scannedK == 1 && ks(byK) == (10L to 19L), s"$scannedK files")
      val (byM, scannedM, _) = TxnTable.readRangeOn(spark, table, "m",
        BigDecimal("0.095"), BigDecimal("0.195"))
      assert(scannedM == 1 && ks(byM) == (10L to 19L), s"$scannedM files")
      // [20.5, 29.5] straddles the third file only: 21-29 go, 20 stays,
      // and the other three files are carried
      val before = TxnTable.snapshotFiles(spark, table, 4L).toSet
      val v = TxnTable.deleteRange(spark, table, "k", 20.5, 29.5)
      assert((before -- TxnTable.snapshotFiles(spark, table, v)).size == 1)
      assert(ks(TxnTable.read(spark, table)) == (0L to 20L) ++ (30L to 39L))
    }
  }

  test("profile reports temporal min/max as epoch seconds in every " +
      "session zone") {
    import spark.implicits._
    withTable { table =>
      Spec.withSessionZone("UTC")(TxnTable.commitOverwrite(
        Seq(("2024-01-01", "2024-01-01 00:00:00"),
          ("2024-01-05", "2024-01-05 03:00:00")).toDF("d", "t")
        .select($"d".cast("date").as("d"), to_timestamp($"t").as("ts"),
          to_timestamp_ntz($"t").as("n")).coalesce(1),
        table, statsCols = Seq("d", "ts", "n")))
      def profiled() = TxnTable.profile(spark, table).collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val utc = Spec.withSessionZone("UTC")(profiled())
      val (lo, hi) = (LocalDate.parse("2024-01-01").toEpochDay * 86400.0,
        LocalDate.parse("2024-01-05").toEpochDay * 86400.0)
      assert(utc("d") == ((lo, hi)) && utc("n") == ((lo, hi + 3 * 3600)), utc)
      // the TIMESTAMP was parsed under UTC above: its instant is fixed
      assert(utc("ts") == utc("n"), utc)
      assert(Spec.withSessionZone(LosAngeles)(profiled()) == utc)
    }
  }

  test("legacy num lines prune and prove where exact; TIMESTAMP_NTZ ones " +
      "read as no stat") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    withTable { table =>
      // four single-valued files, one per day, written under UTC
      val day0 = LocalDate.parse("2024-01-01")
      TxnTable.commitOverwrite(spark.range(0, 12, 1, 1)
        .select(($"id" % 4).as("k"), $"id".as("v"))
        .select($"k", $"v",
          date_add(lit(day0), $"k".cast("int")).as("d"),
          timestamp_seconds(lit(day0.toEpochDay * 86400L) + $"k" * 86400L).as("ts"),
          timestamp_seconds(lit(day0.toEpochDay * 86400L) + $"k" * 86400L)
            .cast("timestamp_ntz").as("n"))
        .repartitionByRange(4, $"k"), table, statsCols = Seq("k", "d", "ts", "n"))
      assert(TxnTable.snapshotFiles(spark, table, 1L).size == 4)
      // rewrite every stat as the double the pre-typed writer recorded
      // under UTC: epoch seconds for temporals, the value for longs
      val fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
      val manifest = new Path(table, "_v00001.manifest")
      val in = fs.open(manifest)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      def legacy(c: String, v: String): String = c match {
        case "k" => v.toLong.toDouble.toString
        case "d" => (v.toLong * 86400.0).toString
        case _ => (v.toLong / 1e6).toString
      }
      val rewritten = lines.map { l =>
        if (!l.startsWith("#stat=")) l
        else {
          val Array(f, c, mn, mx, nulls, "typed") = l.stripPrefix("#stat=").split('|')
          s"#stat=$f|$c|${legacy(c, mn)}|${legacy(c, mx)}|$nulls|num"
        }
      }
      assert(rewritten.count(_.endsWith("|num")) == 16, rewritten)
      val out = fs.create(manifest, true)
      try out.write(rewritten.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()

      def at(k: Int) = day0.plusDays(k).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      def ids(df: DataFrame) = df.select($"v").as[Long].collect().sorted.toSeq
      // long, date and timestamp lines still prune to one file of four
      for ((c, v) <- Seq("k" -> 1L, "d" -> day0.plusDays(1), "ts" -> at(1))) {
        val (rows, scanned, total) = TxnTable.readEquals(spark, table, c, v)
        assert(scanned == 1 && total == 4, s"$c: $scanned of $total")
        assert(ids(rows) == Seq(1L, 5L, 9L), c)
      }
      // the NTZ line reads as no stat: every file scanned, the answer right
      val ntz = day0.plusDays(2).atStartOfDay()
      val (rows, scanned, _) = TxnTable.readEquals(spark, table, "n", ntz)
      assert(scanned == 4 && ids(rows) == Seq(2L, 6L, 10L))
      assert(ids(spark.read.format("graft").load(table).filter($"n" === lit(ntz))) ==
        Seq(2L, 6L, 10L))
      // a covered deleteEquals drops its file unread: no Spark job
      for ((c, v) <- Seq("k" -> 0L, "d" -> day0.plusDays(1), "ts" -> at(3))) {
        val before = TxnTable.snapshotFiles(spark, table,
          TxnTable.latestVersion(spark, table).get).size
        val (ver, Spec.Counts(jobs, _)) =
          Spec.counted(TxnTable.deleteEquals(spark, table, c, v))
        assert(jobs == 0 && TxnTable.snapshotFiles(spark, table, ver).size ==
          before - 1, s"$c: $jobs jobs")
      }
      TxnTable.deleteEquals(spark, table, "n", ntz)
      assert(ids(TxnTable.read(spark, table)).isEmpty)
    }
  }
}
