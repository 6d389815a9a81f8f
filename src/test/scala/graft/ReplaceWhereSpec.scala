package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.TxnTable

/** replaceRange semantics beyond k125's partition-aligned query: the
  * boundary-rewrite path on a range layout, delete-only replacement,
  * and the typed change feed of a replace commit. */
class ReplaceWhereSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private def withZone(f: String => Unit): Unit = {
    val zone = java.nio.file.Files.createTempDirectory("graft_rw").toFile
    try f(zone.getAbsolutePath)
    finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete(); ()
      }
      rm(zone)
    }
  }

  test("boundary files keep only their out-of-range rows") {
    withZone { zone =>
      import spark.implicits._
      val table = s"$zone/t"
      // 1..100 range-partitioned into 4 files of 25; replace [30, 70]
      // straddles two files (26-50, 51-75) and covers none fully
      TxnTable.commitOverwrite(
        (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v")
          .repartitionByRange(4, $"id").sortWithinPartitions($"id"),
        table, statsCols = Seq("id"))
      val before = TxnTable.snapshotFiles(spark, table, 1L)
      TxnTable.replaceRange(
        Seq((50L, -1.0)).toDF("id", "v"), table, "id", 30L, 70L)
      val out = TxnTable.read(spark, table)
      assert(out.count() == 100L - 41L + 1L) // 41 replaced by 1
      assert(out.filter($"id".between(30L, 70L)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((50L, -1.0)))
      // the two stats-disjoint files carried by identity
      val after = TxnTable.snapshotFiles(spark, table, 2L).toSet
      val stats = TxnTable.fileStats(spark, table, 1L)
      val untouched = before.filter(f =>
        stats.getOrElse(f, Nil).exists(s => s.col == "id" &&
          s.bounds(org.apache.spark.sql.types.LongType).exists {
            case (mn: Long, mx: Long) => mx < 30L || mn > 70L
            case _ => false
          }))
      assert(untouched.nonEmpty && untouched.forall(after.contains))
    }
  }

  test("an empty replacement is a scoped truncate") {
    withZone { zone =>
      import spark.implicits._
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v")
          .repartitionByRange(4, $"id").sortWithinPartitions($"id"),
        table, statsCols = Seq("id"))
      TxnTable.replaceRange(
        Seq.empty[(Long, Double)].toDF("id", "v"), table, "id", 1L, 25L)
      assert(TxnTable.read(spark, table).count() == 75L)
      assert(TxnTable.read(spark, table)
        .agg(min($"id")).head().getLong(0) == 26L)
    }
  }

  test("the change feed classifies a replace as deletes + inserts") {
    withZone { zone =>
      import spark.implicits._
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v")
          .repartitionByRange(2, $"id").sortWithinPartitions($"id"),
        table, statsCols = Seq("id"), cdf = Some(true))
      TxnTable.replaceRange(
        Seq((5L, 50.0), (6L, 60.0)).toDF("id", "v"), table, "id", 1L, 10L)
      val feed = spark.sql(s"SELECT * FROM graft_changes('$table', 1)")
      val byType = feed.groupBy(col(TxnTable.ChangeTypeCol)).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType == Map("delete" -> 10L, "insert" -> 2L))
      val inserted = feed
        .filter(col(TxnTable.ChangeTypeCol) === "insert")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(inserted == Set(5L, 6L))
    }
  }

  test("SQL INSERT OVERWRITE PARTITION routes to the scoped overwrite") {
    withZone { zone =>
      val table = s"$zone/t"
      spark.sql("DROP TABLE IF EXISTS rw_sql_t")
      spark.sql(
        s"""CREATE TABLE rw_sql_t (id BIGINT, v DOUBLE, p STRING)
           |USING graft PARTITIONED BY (p)
           |OPTIONS (path '$table')""".stripMargin)
      try {
        spark.sql(
          "INSERT INTO rw_sql_t VALUES (1, 1.0, 'a'), (2, 2.0, 'a'), " +
            "(3, 3.0, 'b')")
        val v1 = TxnTable.latestVersion(spark, table).get
        val before = TxnTable.snapshotFiles(spark, table, v1)
        val stats = TxnTable.fileStats(spark, table, v1)
        val bFiles = before.filter(f => stats.getOrElse(f, Nil)
          .exists(s => s.col == "p" && s.minV == "b"))
        spark.sql(
          "INSERT OVERWRITE rw_sql_t PARTITION (p = 'a') VALUES (10, 10.0)")
        val out = spark.table("rw_sql_t").collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
        assert(out == Set((10L, 10.0, "a"), (3L, 3.0, "b")))
        // the untouched partition's files carried by identity
        val after = TxnTable.snapshotFiles(spark, table,
          TxnTable.latestVersion(spark, table).get)
        assert(bFiles.nonEmpty && bFiles.forall(after.contains))
      } finally spark.sql("DROP TABLE rw_sql_t")
    }
  }

  test("dynamic partition overwrite replaces exactly the incoming partitions") {
    withZone { zone =>
      import spark.implicits._
      val table = s"$zone/t"
      Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"), (4L, 4.0, "c"))
        .toDF("id", "v", "p")
        .write.format("graft").option("statsCols", "id")
        .partitionBy("p").mode("overwrite").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val before = TxnTable.snapshotFiles(spark, table, v1)
      val stats = TxnTable.fileStats(spark, table, v1)
      val cFiles = before.filter(f => stats.getOrElse(f, Nil)
        .exists(s => s.col == "p" && s.minV == "c"))
      // the daily job recomputed partitions a and b — c must survive
      Seq((10L, 10.0, "a"), (30L, 30.0, "b"))
        .toDF("id", "v", "p")
        .write.format("graft").mode("overwrite")
        .option("dynamicPartitionOverwrite", "true").save(table)
      val out = spark.read.format("graft").load(table).collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(out == Set((10L, "a"), (30L, "b"), (4L, "c")))
      // the untouched partition's files carried by identity
      val after = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get)
      assert(cFiles.nonEmpty && cFiles.forall(after.contains))
      // replaceValues over a value set feeds the change feed the same
      // way and rejects rows outside the declared set
      assert(intercept[IllegalArgumentException] {
        TxnTable.replaceValues(
          Seq((99L, 9.0, "zzz")).toDF("id", "v", "p"), table, "p",
          Seq("a"))
      }.getMessage.contains("scoped-overwrite contract"))
    }
  }

  // 2^60 and 2^60+1 share one normalized double in the manifest stats:
  // an equality replace of 2^60 must not treat a file holding only
  // 2^60+1 as covered
  private val big = 1L << 60
  private def replacesOnlyBig(
      replace: (org.apache.spark.sql.DataFrame, String) => Unit): Unit =
    withZone { zone =>
      import spark.implicits._
      val table = s"$zone/t"
      TxnTable.commitOverwrite(Seq((big + 1L, 1.0)).toDF("id", "v").coalesce(1),
        table, statsCols = Seq("id"))
      TxnTable.commitAppend(Seq((1L, 2.0)).toDF("id", "v").coalesce(1),
        table, statsCols = Seq("id"))
      replace(Seq((big, 5.0)).toDF("id", "v"), table)
      assert(TxnTable.read(spark, table).select($"id").as[Long].collect()
        .sorted.toSeq == Seq(1L, big, big + 1L))
    }

  test("replaceValues beyond 2^53 keeps a row its stats cannot tell apart") {
    replacesOnlyBig((df, table) => { TxnTable.replaceValues(df, table, "id", Seq(big)); () })
  }

  test("replaceWhere `id = v` beyond 2^53 keeps a row its stats cannot tell apart") {
    replacesOnlyBig((df, table) => df.write.format("graft").mode("overwrite")
      .option("replaceWhere", s"id = $big").save(table))
  }

  // outside UTC a timestamp string parses in the session zone: file
  // choice must convert bounds the same way, or the replaced rows'
  // files look disjoint and carry forward next to the new rows
  private val LosAngeles = "America/Los_Angeles"

  test("INSERT OVERWRITE PARTITION on a DATE column outside UTC") {
    Spec.withSessionZone(LosAngeles) { withZone { zone =>
      val table = s"$zone/t"
      spark.sql("DROP TABLE IF EXISTS rw_date_t")
      spark.sql(
        s"""CREATE TABLE rw_date_t (id BIGINT, d DATE)
           |USING graft PARTITIONED BY (d)
           |OPTIONS (path '$table')""".stripMargin)
      try {
        spark.sql("INSERT INTO rw_date_t VALUES (1, DATE'2024-01-01'), " +
          "(2, DATE'2024-01-01'), (3, DATE'2024-01-02')")
        spark.sql("INSERT OVERWRITE rw_date_t PARTITION (d = DATE'2024-01-01') " +
          "VALUES (10)")
        def rows = spark.table("rw_date_t").selectExpr("id", "CAST(d AS STRING)")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(rows == Set((10L, "2024-01-01"), (3L, "2024-01-02")))
        assert(spark.table("rw_date_t")
          .filter(col("d") === lit("2024-01-02").cast("date")).count() == 1L)
        assert(TxnTable.readEquals(spark, table, "d",
          java.time.LocalDate.parse("2024-01-01"))._1.count() == 1L)
        TxnTable.deleteEquals(spark, table, "d", java.time.LocalDate.parse("2024-01-02"))
        assert(rows == Set((10L, "2024-01-01")))
      } finally spark.sql("DROP TABLE rw_date_t")
    }}
  }

  test("replaceWhere `ts = '…'` outside UTC replaces the rows `===` matches") {
    Spec.withSessionZone(LosAngeles) { withZone { zone =>
      import spark.implicits._
      val table = s"$zone/t"
      def frame(rows: (Long, String)*) = rows.toDF("id", "ts")
        .select($"id", $"ts".cast("timestamp").as("ts")).coalesce(1)
      TxnTable.commitOverwrite(frame((1L, "2024-01-01 10:00:00"),
        (2L, "2024-01-01 10:00:00")), table, statsCols = Seq("ts"))
      TxnTable.commitAppend(frame((3L, "2024-01-02 10:00:00")), table,
        statsCols = Seq("ts"))
      frame((10L, "2024-01-01 10:00:00")).write.format("graft")
        .mode("overwrite").option("replaceWhere", "ts = '2024-01-01 10:00:00'")
        .save(table)
      assert(TxnTable.read(spark, table).select($"id").as[Long].collect()
        .sorted.toSeq == Seq(3L, 10L))
    }}
  }

  test("a date range written under UTC and replaced under Los Angeles " +
      "replaces every matching row once") {
    withZone { zone =>
      import spark.implicits._
      val table = s"$zone/t"
      val day0 = java.time.LocalDate.parse("2024-01-01")
      // four single-day files, written under UTC
      (0 until 4).foreach { i =>
        val df = Seq.range(0L, 3L).map(j => (i * 10L + j, java.sql.Date.valueOf(
          day0.plusDays(i)))).toDF("id", "d").coalesce(1)
        if (i == 0) TxnTable.commitOverwrite(df, table, statsCols = Seq("d"))
        else TxnTable.commitAppend(df, table, statsCols = Seq("d"))
      }
      Spec.withSessionZone(LosAngeles) {
        TxnTable.replaceRange(Seq((100L, java.sql.Date.valueOf(day0.plusDays(1))),
            (101L, java.sql.Date.valueOf(day0.plusDays(2)))).toDF("id", "d"),
          table, "d", day0.plusDays(1), day0.plusDays(2))
      }
      assert(TxnTable.read(spark, table).select($"id").as[Long].collect()
        .sorted.toSeq == Seq(0L, 1L, 2L, 30L, 31L, 32L, 100L, 101L))
    }
  }

  test("NULL-keyed rows survive a replace (SQL range semantics)") {
    withZone { zone =>
      import spark.implicits._
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        Seq((Some(1L), 1.0), (Some(2L), 2.0), (None, 99.0))
          .toDF("id", "v").coalesce(1),
        table, statsCols = Seq("id"))
      TxnTable.replaceRange(
        Seq((Some(1L), 10.0)).toDF("id", "v"), table, "id", 1L, 1L)
      val out = TxnTable.read(spark, table).collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getDouble(1))
        .toMap
      assert(out == Map(1L -> 10.0, 2L -> 2.0, -1L -> 99.0))
    }
  }
}
