package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.{Tables, TxnTable}

/** SQL UPDATE and MERGE INTO on graft catalog tables — the analyzer
  * lowering (GraftDmlRewrite) onto TxnTable's copy-on-write commit.
  * Asserts semantics (matched/unmatched/cascade/cardinality) AND the
  * scale shape: only files the predicate touches are rewritten. */
class SqlDmlSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private def withZone(f: String => Unit): Unit = {
    val zone = java.nio.file.Files.createTempDirectory("graft_sqldml").toFile
    try f(zone.getAbsolutePath)
    finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete(); ()
      }
      rm(zone)
    }
  }

  test("SQL UPDATE: correct rows change; only touched files rewritten") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      // three key-disjoint commits with stats → the WHERE can prune
      TxnTable.commitOverwrite(
        cust.filter($"c_custkey" <= 500).coalesce(1), table, Seq("c_custkey"))
      TxnTable.commitAppend(
        cust.filter($"c_custkey".between(501, 1000)).coalesce(1), table,
        Seq("c_custkey"))
      TxnTable.commitAppend(
        cust.filter($"c_custkey" > 1000).coalesce(1), table, Seq("c_custkey"))
      val before = TxnTable.latestVersion(spark, table).get
      val beforeFiles = TxnTable.snapshotFiles(spark, table, before).toSet
      val lowFiles = TxnTable.snapshotFiles(spark, table, 1L).toSet
      spark.sql(s"CREATE TABLE sqldml_upd USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          "UPDATE sqldml_upd SET c_acctbal = c_acctbal * 2 WHERE c_custkey <= 50")
        val after = TxnTable.latestVersion(spark, table).get
        val afterFiles = TxnTable.snapshotFiles(spark, table, after).toSet
        // only the low-range files were replaced; the other two commits'
        // files carried forward by reference
        assert((beforeFiles -- lowFiles).subsetOf(afterFiles),
          "files outside the WHERE range must carry forward")
        assert((beforeFiles & afterFiles & lowFiles) == Set.empty[String],
          "files inside the WHERE range must be rewritten")
        // semantics: doubled inside the range, untouched outside
        val got = TxnTable.read(spark, table)
        val expect = cust.select($"c_custkey",
          when($"c_custkey" <= 50, $"c_acctbal" * 2)
            .otherwise($"c_acctbal").as("c_acctbal"))
        assert(got.except(expect).count() == 0 && expect.except(got).count() == 0)
      } finally spark.sql("DROP TABLE sqldml_upd")
    }
  }

  test("SQL UPDATE without WHERE updates every row") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
          .toDF("k", "name", "v"), table)
      spark.sql(s"CREATE TABLE sqldml_all USING graft OPTIONS (path '$table')")
      try {
        spark.sql("UPDATE sqldml_all SET v = v + 1, name = upper(name)")
        val got = TxnTable.read(spark, table).orderBy($"k")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        assert(got.toSeq == Seq((1L, "A", 11.0), (2L, "B", 21.0), (3L, "C", 31.0)))
      } finally spark.sql("DROP TABLE sqldml_all")
    }
  }

  test("MERGE INTO: update matched, insert unmatched, conditions respected") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "bal"), table)
      Seq((2L, 200.0), (3L, -1.0), (4L, 40.0))
        .toDF("k", "bal").createOrReplaceTempView("sqldml_src")
      spark.sql(s"CREATE TABLE sqldml_mrg USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """MERGE INTO sqldml_mrg t USING sqldml_src s ON t.k = s.k
            |WHEN MATCHED AND s.bal > 0 THEN UPDATE SET bal = s.bal
            |WHEN NOT MATCHED THEN INSERT (k, bal) VALUES (s.k, s.bal)
            |""".stripMargin)
        val got = TxnTable.read(spark, table).orderBy($"k")
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        // k=2 updated, k=3 kept (condition false), k=4 inserted
        assert(got.toSeq == Seq((1L, 10.0), (2L, 200.0), (3L, 30.0), (4L, 40.0)))
      } finally spark.sql("DROP TABLE sqldml_mrg")
    }
  }

  test("MERGE INTO: matched DELETE and NOT MATCHED BY SOURCE") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("k", "bal"),
        table)
      Seq((2L, 0.0), (3L, 300.0)).toDF("k", "bal")
        .createOrReplaceTempView("sqldml_src2")
      spark.sql(s"CREATE TABLE sqldml_mrg2 USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """MERGE INTO sqldml_mrg2 t USING sqldml_src2 s ON t.k = s.k
            |WHEN MATCHED AND s.bal = 0 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET bal = s.bal
            |WHEN NOT MATCHED BY SOURCE AND t.k = 1 THEN UPDATE SET bal = -bal
            |""".stripMargin)
        val got = TxnTable.read(spark, table).orderBy($"k")
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        // k=1 negated (not matched by source, cond), k=2 deleted,
        // k=3 updated, k=4 kept (not matched by source, cond false)
        assert(got.toSeq == Seq((1L, -10.0), (3L, 300.0), (4L, 40.0)))
      } finally spark.sql("DROP TABLE sqldml_mrg2")
    }
  }

  test("MERGE INTO: UPDATE SET * and INSERT * expand against source columns") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal"), table)
      Seq((2L, 222.0), (3L, 30.0)).toDF("k", "bal")
        .createOrReplaceTempView("sqldml_star_src")
      spark.sql(s"CREATE TABLE sqldml_star USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """MERGE INTO sqldml_star t USING sqldml_star_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |""".stripMargin)
        val got = TxnTable.read(spark, table).orderBy($"k")
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        assert(got.toSeq == Seq((1L, 10.0), (2L, 222.0), (3L, 30.0)))
      } finally spark.sql("DROP TABLE sqldml_star")
    }
  }

  test("bounded WHEN NOT MATCHED BY SOURCE rewrites only matching files") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      // 8 range-partitioned files over k = 0..199
      TxnTable.commitOverwrite(
        Seq.range(0L, 200L).map(k => (k, k * 1.0)).toDF("k", "bal")
          .repartitionByRange(8, $"k").sortWithinPartitions($"k"),
        table, statsCols = Seq("k"))
      val before = TxnTable.snapshotFiles(spark, table, 1L).toSet
      // source matches k in [40, 60); NMBS condition confines to k < 25
      Seq.range(40L, 60L).map(k => (k, -1.0)).toDF("k", "bal")
        .createOrReplaceTempView("sqldml_nmbs_src")
      spark.sql(s"CREATE TABLE sqldml_nmbs USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """MERGE INTO sqldml_nmbs t USING sqldml_nmbs_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET bal = s.bal
            |WHEN NOT MATCHED BY SOURCE AND t.k < 25 THEN UPDATE SET bal = 0.0
            |""".stripMargin)
      } finally spark.sql("DROP TABLE sqldml_nmbs")
      val v = TxnTable.latestVersion(spark, table).get
      val after = TxnTable.snapshotFiles(spark, table, v).toSet
      val stats = TxnTable.fileStats(spark, table, 1L)
      // files provably outside BOTH the source keys [40,60) and the
      // NMBS bound k<25 must carry by reference
      val untouched = before.filter(f => stats(f).exists(s =>
        s.col == "k" && (s.minV.toLong >= 60L ||
          (s.maxV.toLong < 40L && s.minV.toLong >= 25L))))
      assert(untouched.nonEmpty, "fixture must have provably-disjoint files")
      assert(untouched.subsetOf(after),
        "files outside the source keys and the NMBS bound must carry")
      val got = TxnTable.read(spark, table).orderBy($"k")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val want = Seq.range(0L, 200L).map {
        case k if k >= 40L && k < 60L => (k, -1.0)
        case k if k < 25L => (k, 0.0)
        case k => (k, k * 1.0)
      }
      assert(got.toSeq == want)
    }
  }

  test("MERGE INTO WITH SCHEMA EVOLUTION adds source-only columns") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal"), table,
        statsCols = Seq("k"))
      Seq((2L, 222.0, "eu"), (3L, 30.0, "us")).toDF("k", "bal", "region")
        .createOrReplaceTempView("sqldml_evo_src")
      spark.sql(s"CREATE TABLE sqldml_evo USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """MERGE WITH SCHEMA EVOLUTION INTO sqldml_evo t
            |USING sqldml_evo_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |""".stripMargin)
        val got = TxnTable.read(spark, table).orderBy($"k")
          .collect().map(r => (r.getLong(0), r.getDouble(1),
            Option(r.getString(2))))
        // k=1 untouched: new column NULL; k=2 updated; k=3 inserted
        assert(got.toSeq == Seq((1L, 10.0, None),
          (2L, 222.0, Some("eu")), (3L, 30.0, Some("us"))))
      } finally spark.sql("DROP TABLE sqldml_evo")
    }
  }

  test("MERGE star without evolution refuses a missing source column") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        Seq((1L, 10.0, "x")).toDF("k", "bal", "tag"), table)
      Seq((1L, 11.0)).toDF("k", "bal")
        .createOrReplaceTempView("sqldml_strict_src")
      spark.sql(s"CREATE TABLE sqldml_strict USING graft OPTIONS (path '$table')")
      try {
        val e = intercept[Exception] {
          spark.sql(
            """MERGE INTO sqldml_strict t USING sqldml_strict_src s ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET *
              |""".stripMargin)
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("no same-name source column")))
      } finally spark.sql("DROP TABLE sqldml_strict")
    }
  }

  test("SQL UPDATE with a scalar subquery in SET") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal"), table)
      Seq(Tuple1(77.0)).toDF("v").createOrReplaceTempView("sqldml_scalar_src")
      spark.sql(s"CREATE TABLE sqldml_scalar USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """UPDATE sqldml_scalar
            |SET bal = (SELECT max(v) FROM sqldml_scalar_src)
            |WHERE k = 1""".stripMargin)
        val got = TxnTable.read(spark, table).orderBy($"k")
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        assert(got.toSeq == Seq((1L, 77.0), (2L, 20.0)))
      } finally spark.sql("DROP TABLE sqldml_scalar")
    }
  }

  test("SQL UPDATE with an IN-subquery WHERE") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "bal"), table)
      Seq(Tuple1(1L), Tuple1(3L)).toDF("kk")
        .createOrReplaceTempView("sqldml_subq_keys")
      spark.sql(s"CREATE TABLE sqldml_subq USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """UPDATE sqldml_subq SET bal = 0.0
            |WHERE k IN (SELECT kk FROM sqldml_subq_keys)""".stripMargin)
        val got = TxnTable.read(spark, table).orderBy($"k")
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        assert(got.toSeq == Seq((1L, 0.0), (2L, 20.0), (3L, 0.0)))
      } finally spark.sql("DROP TABLE sqldml_subq")
    }
  }

  test("SQL DELETE with arbitrary predicates lowers to copy-on-write") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(6, $"c_custkey")
          .sortWithinPartitions($"c_custkey"), table, Seq("c_custkey"))
      val before = TxnTable.snapshotFiles(spark, table, 1L).toSet
      spark.sql(s"CREATE TABLE sqldml_del USING graft OPTIONS (path '$table')")
      try {
        // multi-column predicate: not expressible by the metadata-gated
        // SupportsDelete shapes — must still work, file-surgically
        // (keys span 0..149 in 6 range files; < 60 touches only the
        // low-range files, the rest carry by reference)
        spark.sql(
          """DELETE FROM sqldml_del
            |WHERE c_mktsegment = 'BUILDING' AND c_custkey < 60""".stripMargin)
        val v = TxnTable.latestVersion(spark, table).get
        val after = TxnTable.snapshotFiles(spark, table, v).toSet
        assert((before & after).nonEmpty,
          "key-range-pruned files must carry forward by reference")
        val expect = cust.filter(
          !($"c_mktsegment" === "BUILDING" && $"c_custkey" < 60))
        val got = TxnTable.read(spark, table)
        assert(got.count() == expect.count())
        assert(got.except(expect).count() == 0 && expect.except(got).count() == 0)
        // OR / IS NULL shapes route the same way
        spark.sql(
          "DELETE FROM sqldml_del WHERE c_custkey > 1400 OR c_acctbal < -900")
        val expect2 = expect.filter(!($"c_custkey" > 1400 || $"c_acctbal" < -900))
        assert(TxnTable.read(spark, table).count() == expect2.count())
      } finally spark.sql("DROP TABLE sqldml_del")
    }
  }

  test("MERGE INTO: duplicate source matches fail the cardinality check") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(Seq((1L, 10.0)).toDF("k", "bal"), table)
      Seq((1L, 100.0), (1L, 200.0)).toDF("k", "bal")
        .createOrReplaceTempView("sqldml_src3")
      spark.sql(s"CREATE TABLE sqldml_mrg3 USING graft OPTIONS (path '$table')")
      try {
        val e = intercept[Exception] {
          spark.sql(
            """MERGE INTO sqldml_mrg3 t USING sqldml_src3 s ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET bal = s.bal
              |""".stripMargin)
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("cardinality")))
        // table unchanged
        assert(TxnTable.read(spark, table).collect().toSeq
          .map(r => (r.getLong(0), r.getDouble(1))) == Seq((1L, 10.0)))
      } finally spark.sql("DROP TABLE sqldml_mrg3")
    }
  }

  test("MERGE INTO: insert-only merge is an append-only commit") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(Seq((1L, 10.0)).toDF("k", "bal"), table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val f1 = TxnTable.snapshotFiles(spark, table, v1).toSet
      Seq((1L, 999.0), (2L, 20.0)).toDF("k", "bal")
        .createOrReplaceTempView("sqldml_src4")
      spark.sql(s"CREATE TABLE sqldml_mrg4 USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """MERGE INTO sqldml_mrg4 t USING sqldml_src4 s ON t.k = s.k
            |WHEN NOT MATCHED THEN INSERT (k, bal) VALUES (s.k, s.bal)
            |""".stripMargin)
        val v2 = TxnTable.latestVersion(spark, table).get
        val f2 = TxnTable.snapshotFiles(spark, table, v2).toSet
        assert(f1.subsetOf(f2), "insert-only merge must not rewrite files")
        val got = TxnTable.read(spark, table).orderBy($"k")
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        assert(got.toSeq == Seq((1L, 10.0), (2L, 20.0)))
      } finally spark.sql("DROP TABLE sqldml_mrg4")
    }
  }

  test("two copy-on-write UPDATEs rewriting the SAME file: loser recomputes") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      // ONE data file, so both updates must rewrite the same file —
      // the overlap the CAS must detect. Disjoint ROW sets make the
      // serial outcome unique: both deltas must land exactly once.
      TxnTable.commitOverwrite(
        Seq.range(0L, 50L).map(k => (k, k * 1.0)).toDF("k", "v").coalesce(1),
        table, Seq("k"))
      assert(TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get).size == 1)
      spark.sql(s"CREATE TABLE sqldml_race USING graft OPTIONS (path '$table')")
      val ex = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val gate = new java.util.concurrent.CountDownLatch(1)
        def upd(sql: String) = ex.submit(new Runnable {
          override def run(): Unit = { gate.await(); spark.sql(sql); () }
        })
        val a = upd("UPDATE sqldml_race SET v = v + 1 WHERE k < 25")
        val b = upd("UPDATE sqldml_race SET v = v + 100 WHERE k >= 25")
        gate.countDown()
        a.get(); b.get()
        val got = TxnTable.read(spark, table)
        // no row lost, none duplicated, BOTH updates applied — the CAS
        // loser recomputed against the winner's snapshot instead of
        // re-publishing its stale rewrite (which would resurrect the
        // winner's pre-update rows)
        assert(got.count() == 50L)
        assert(got.select(countDistinct($"k")).head().getLong(0) == 50L)
        val sum = got.agg(org.apache.spark.sql.functions.sum($"v"))
          .head().getDouble(0)
        val expect = (0L until 50L).map(_.toDouble).sum + 25 * 1.0 + 25 * 100.0
        assert(sum == expect,
          s"both updates must land exactly once: got $sum expected $expect")
      } finally {
        ex.shutdown()
        spark.sql("DROP TABLE sqldml_race")
      }
    }
  }

  test("concurrent UPDATE and DELETE on the same rows serialize cleanly") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitOverwrite(
        Seq.range(0L, 40L).map(k => (k, k * 1.0)).toDF("k", "v").coalesce(1),
        table, Seq("k"))
      spark.sql(s"CREATE TABLE sqldml_race2 USING graft OPTIONS (path '$table')")
      val ex = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val gate = new java.util.concurrent.CountDownLatch(1)
        def run(sql: String) = ex.submit(new Runnable {
          override def run(): Unit = { gate.await(); spark.sql(sql); () }
        })
        val a = run("UPDATE sqldml_race2 SET v = v + 1000 WHERE k < 10")
        val b = run("DELETE FROM sqldml_race2 WHERE k < 10")
        gate.countDown()
        a.get(); b.get()
        val got = TxnTable.read(spark, table)
        val n = got.count()
        val survivors = got.filter($"k" < 10).count()
        // either serial order: delete-then-update (update matches
        // nothing) or update-then-delete (updated rows then deleted) —
        // both end with the k<10 rows GONE; a lost-update anomaly would
        // resurrect them (n=40) or drop extras
        assert(n == 30L && survivors == 0L,
          s"serializable outcome required: n=$n survivors=$survivors")
      } finally {
        ex.shutdown()
        spark.sql("DROP TABLE sqldml_race2")
      }
    }
  }
}
