package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnTable

/** SQL DDL surface over graft catalog tables: CREATE TABLE with a
  * declared schema and PARTITIONED BY, positional INSERT INTO /
  * INSERT OVERWRITE, and CTAS. */
class GraftDdlSpec extends AnyFunSuite {
  private lazy val spark = Spec.spark

  private def withZone(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_ddl").toFile
    try body(root.getAbsolutePath)
    finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(root)
    }
  }

  test("CREATE TABLE + PARTITIONED BY + positional INSERT INTO") {
    withZone { zone =>
      spark.sql(s"""CREATE TABLE ddl_part (k BIGINT, seg STRING) USING graft
                   |PARTITIONED BY (seg) OPTIONS (path '$zone/p')""".stripMargin)
      try {
        // the FIRST insert has no committed manifest — the positional
        // VALUES frame must align to the DECLARED schema, or the
        // parquet lands col1/col2 names the declared read nulls out
        spark.sql("INSERT INTO ddl_part VALUES (1, 'a'), (2, 'b'), (3, 'a')")
        assert(TxnTable.partitionColumns(spark, s"$zone/p") == Seq("seg"))
        val rows = spark.sql("SELECT k, seg FROM ddl_part ORDER BY k")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "a")))
        // partition-value file groups from the DDL-declared partitioning
        val v = TxnTable.latestVersion(spark, s"$zone/p").get
        val stats = TxnTable.fileStats(spark, s"$zone/p", v)
        val files = TxnTable.snapshotFiles(spark, s"$zone/p", v)
        assert(files.forall(f => stats.getOrElse(f, Nil).exists(s =>
          s.col == "seg" && s.minV == s.maxV)))
      } finally spark.sql("DROP TABLE ddl_part")
    }
  }

  test("INSERT INTO ... REPLACE WHERE swaps exactly the predicate's slice") {
    withZone { zone =>
      import spark.implicits._
      val path = s"$zone/rw"
      // two segment slices land as separate files (partitioned write)
      Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "B", 30L), (4L, "B", 40L))
        .toDF("k", "seg", "v").coalesce(1)
        .write.format("graft").option("statsCols", "k")
        .option("partitionBy", "seg").mode("overwrite").save(path)
      val before = TxnTable.snapshotFiles(spark, path,
        TxnTable.latestVersion(spark, path).get)
      val aFiles = before.filter(_.contains("__gp_seg=A"))
      assert(aFiles.nonEmpty)
      Seq((30L, "B", 300L), (31L, "B", 310L), (32L, "B", 320L))
        .toDF("k", "seg", "v").createOrReplaceTempView("rw_batch")
      // the daily re-publish spelling: one atomic scoped overwrite
      spark.sql(
        s"INSERT INTO '$path' REPLACE WHERE seg = 'B' SELECT * FROM rw_batch")
      val df = spark.read.format("graft").load(path)
      assert(df.count() == 5L)
      assert(df.filter($"seg" === "B").select($"k").as[Long]
        .collect().toSet == Set(30L, 31L, 32L))
      assert(df.filter($"seg" === "A").select($"k").as[Long]
        .collect().toSet == Set(1L, 2L))
      // slice A's files carried BY REFERENCE — untouched bytes
      val after = TxnTable.snapshotFiles(spark, path,
        TxnTable.latestVersion(spark, path).get)
      assert(aFiles.forall(after.contains),
        s"untouched slice must carry by reference; before=$aFiles after=$after")
      // rows OUTSIDE the predicate refuse write-side
      Seq((9L, "A", 90L)).toDF("k", "seg", "v")
        .createOrReplaceTempView("rw_bad")
      val e = intercept[Exception] {
        spark.sql(
          s"INSERT INTO '$path' REPLACE WHERE seg = 'B' SELECT * FROM rw_bad")
      }
      assert(e.getMessage != null && e.getMessage.contains("replaceWhere"),
        e.getMessage)
    }
  }

  test("INSERT OVERWRITE replaces the snapshot as one overwrite commit") {
    withZone { zone =>
      spark.sql(s"CREATE TABLE ddl_ovw (k BIGINT, s STRING) USING graft " +
        s"OPTIONS (path '$zone/o')")
      try {
        spark.sql("INSERT INTO ddl_ovw VALUES (1, 'a'), (2, 'b')")
        spark.sql("INSERT OVERWRITE ddl_ovw VALUES (9, 'z')")
        val rows = spark.sql("SELECT k, s FROM ddl_ovw")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(rows == Seq((9L, "z")))
        val ops = spark.sql(s"SELECT op FROM graft_history('$zone/o')")
          .collect().map(_.getString(0)).toSeq
        assert(ops == Seq("overwrite", "append"))
      } finally spark.sql("DROP TABLE ddl_ovw")
    }
  }

  test("CTAS lands the query result as the first commit") {
    withZone { zone =>
      spark.sql(s"CREATE TABLE ddl_ctas USING graft OPTIONS (path '$zone/c') " +
        "AS SELECT 1L AS k, 'x' AS s")
      try {
        val rows = spark.sql("SELECT k, s FROM ddl_ctas")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(rows == Seq((1L, "x")))
      } finally spark.sql("DROP TABLE ddl_ctas")
    }
  }

  test("a declared table with no data yet: SELECT empty, DML no-ops, MERGE bootstraps") {
    import spark.implicits._
    withZone { zone =>
      spark.sql(s"CREATE TABLE ddl_empty (k BIGINT, v DOUBLE) USING graft " +
        s"OPTIONS (path '$zone/t')")
      try {
        assert(spark.sql("SELECT * FROM ddl_empty").collect().isEmpty)
        assert(spark.sql("SELECT COUNT(*) AS n FROM ddl_empty")
          .head().getLong(0) == 0L)
        spark.sql("DELETE FROM ddl_empty WHERE k % 2 = 0") // no-op, no error
        spark.sql("UPDATE ddl_empty SET v = 0.0 WHERE k = 1")
        assert(TxnTable.latestVersion(spark, s"$zone/t").isEmpty,
          "no-op DML must not commit anything")
        // bootstrap-by-merge: WHEN NOT MATCHED inserts seed the table
        Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
          .createOrReplaceTempView("ddl_empty_src")
        spark.sql(
          """MERGE INTO ddl_empty t USING ddl_empty_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET v = s.v
            |WHEN NOT MATCHED AND s.k < 2 THEN INSERT *
            |""".stripMargin)
        val rows = spark.sql("SELECT k, v FROM ddl_empty ORDER BY k")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(rows == Seq((1L, 1.0))) // insert condition honored
      } finally spark.sql("DROP TABLE ddl_empty")
    }
  }

  test("OPTIMIZE and VACUUM SQL statements run graft maintenance") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      // 4 small commits -> 4+ small files
      (0 until 4).foreach { i =>
        TxnTable.commitAppend(
          Seq.range(i * 10L, i * 10L + 10L).map(k => (k, k * 1.0)).toDF("k", "v"),
          table, statsCols = Seq("k"))
      }
      val before = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get).size
      spark.sql(s"OPTIMIZE '$table'")
      val afterOpt = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get).size
      assert(afterOpt < before, s"OPTIMIZE must pack small files " +
        s"($before -> $afterOpt)")
      assert(TxnTable.read(spark, table).count() == 40L)
      // VACUUM by catalog identifier, keeping only the compacted tip
      spark.sql(s"CREATE TABLE ddl_vac USING graft OPTIONS (path '$table')")
      try spark.sql("VACUUM ddl_vac KEEP 0 VERSIONS")
      finally spark.sql("DROP TABLE ddl_vac")
      val vs = TxnTable.versions(spark, table)
      assert(vs.size <= 2, s"VACUUM must drop reclaimable history, got $vs")
      assert(TxnTable.read(spark, table).count() == 40L)
      // RETAIN window: a fresh table vacuumed with a huge window keeps all
      spark.sql(s"VACUUM '$table' RETAIN 1000 HOURS")
      assert(TxnTable.read(spark, table).count() == 40L)
      // non-graft identifier refuses loudly
      spark.sql("CREATE TABLE ddl_vac_plain (k INT) USING parquet")
      try {
        val e = intercept[Exception] { spark.sql("VACUUM ddl_vac_plain") }
        assert(e.getMessage.contains("not a graft table"))
      } finally spark.sql("DROP TABLE ddl_vac_plain")
      // ordinary SQL still parses through the delegate
      assert(spark.sql("SELECT 1 AS one").head().getInt(0) == 1)
    }
  }

  test("RESTORE and DESCRIBE HISTORY SQL statements") {
    import spark.implicits._
    withZone { zone =>
      val table = s"$zone/t"
      TxnTable.commitAppend(Seq((1L, "a")).toDF("k", "v"), table,
        statsCols = Seq("k"))
      TxnTable.commitAppend(Seq((2L, "b")).toDF("k", "v"), table,
        statsCols = Seq("k"))
      TxnTable.commitAppend(Seq((3L, "c")).toDF("k", "v"), table,
        statsCols = Seq("k"))
      // DESCRIBE HISTORY: one row per commit, newest first
      val hist = spark.sql(s"DESCRIBE HISTORY '$table'").collect()
      assert(hist.length == 3)
      assert(hist.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
      assert(hist.forall(_.getString(2) == "append"))
      // RESTORE TO VERSION AS OF: new commit, old snapshot content
      spark.sql(s"RESTORE TABLE '$table' TO VERSION AS OF 1")
      assert(TxnTable.read(spark, table).as[(Long, String)].collect()
        .toSet == Set((1L, "a")))
      assert(TxnTable.latestVersion(spark, table).get == 4L)
      // history is preserved: travel forward to v3 still works
      assert(spark.read.format("graft").option("versionAsOf", 3)
        .load(table).count() == 3L)
      // RESTORE by catalog identifier + TIMESTAMP AS OF (far future =
      // latest committed version, i.e. the v4 restore point itself)
      spark.sql(s"CREATE TABLE ddl_restore USING graft OPTIONS (path '$table')")
      try {
        spark.sql("RESTORE ddl_restore TO TIMESTAMP AS OF '2999-01-01'")
        assert(TxnTable.read(spark, table).count() == 1L)
        val e = intercept[Exception] {
          spark.sql("RESTORE nope_not_here TO VERSION AS OF 1")
        }
        assert(e.getMessage.contains("not a graft table"))
      } finally spark.sql("DROP TABLE ddl_restore")
    }
  }

  test("time transforms in SQL DDL surface the session catalog's refusal") {
    withZone { zone =>
      // V2SessionCatalog itself rejects non-identity transforms in DDL —
      // days() partitioning is the API / option spelling's job; the SQL
      // error must stay loud, not silently drop the transform
      val e = intercept[Exception] {
        spark.sql(s"""CREATE TABLE ddl_days (k BIGINT, ts TIMESTAMP_NTZ)
                     |USING graft PARTITIONED BY (days(ts))
                     |OPTIONS (path '$zone/d')""".stripMargin)
      }
      assert(e.getMessage.contains("UNSUPPORTED_PARTITION_TRANSFORM") ||
        e.getMessage.contains("days"))
    }
  }

  test("VACUUM DRY RUN lists exactly what a real run deletes, deletes nothing") {
    withZone { zone =>
      import spark.implicits._
      val table = s"$zone/t"
      (0 until 3).foreach { i =>
        TxnTable.commitAppend(
          Seq((i.toLong, i * 1.0)).toDF("k", "v"), table,
          statsCols = Seq("k"))
      }
      TxnTable.compact(spark, table, targetFiles = 1)
      def allFiles: Set[String] = {
        val base = java.nio.file.Paths.get(table)
        val out = scala.collection.mutable.Set.empty[String]
        java.nio.file.Files.walk(base).forEach { q =>
          // local-FS checksum shadows (.crc) are invisible to Hadoop
          // listings and don't exist on HDFS/object stores — the dry
          // run is file-manifest-level, not checksum-shadow-level
          if (java.nio.file.Files.isRegularFile(q) &&
              !q.getFileName.toString.startsWith("."))
            out += base.relativize(q).toString
        }
        out.toSet
      }
      val before = allFiles
      val dry = spark.sql(s"VACUUM '$table' KEEP 0 VERSIONS DRY RUN")
        .collect().map(_.getString(0)).toSet
      assert(dry.nonEmpty, "superseded history must be reclaimable")
      assert(allFiles == before, "DRY RUN must delete nothing")
      // a real run with the same arguments deletes exactly the dry list
      // (modulo the _latest discovery hint, which is overwritten in place)
      spark.sql(s"VACUUM '$table' KEEP 0 VERSIONS")
      val deleted = before -- allFiles
      assert(deleted == dry,
        s"dry list must equal the real deletions;\n  dry-only: " +
          s"${(dry -- deleted).mkString(", ")}\n  real-only: " +
          s"${(deleted -- dry).mkString(", ")}")
      assert(TxnTable.read(spark, table).count() == 3L)
    }
  }

  test("OPTIMIZE WHERE BETWEEN compacts only the range's files") {
    withZone { zone =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val table = s"$zone/t"
      // 4 range-partitioned slices: k in [0,25), [25,50), [50,75), [75,100)
      (0 until 4).foreach { i =>
        Seq.range(i * 25L, i * 25L + 25L).map(k => (k, k * 1.0)).toDF("k", "v")
          .coalesce(1)
          .write.format("graft").option("statsCols", "k")
          .mode(if (i == 0) "overwrite" else "append").save(table)
      }
      val v0 = TxnTable.latestVersion(spark, table).get
      val files0 = TxnTable.snapshotFiles(spark, table, v0)
      val stats0 = TxnTable.fileStats(spark, table, v0)
      def lowOf(f: String): Long = stats0(f).find(_.col == "k").get.minV.toLong
      val inRange0 = files0.filter(f => lowOf(f) < 50L)   // first two slices
      val outside0 = files0.filterNot(f => lowOf(f) < 50L)
      assert(inRange0.size == 2 && outside0.size == 2)
      spark.sql(s"OPTIMIZE '$table' WHERE k BETWEEN 0 AND 49")
      val v1 = TxnTable.latestVersion(spark, table).get
      val files1 = TxnTable.snapshotFiles(spark, table, v1)
      // the range's two files packed into one; the others untouched
      assert(outside0.forall(files1.contains),
        "files outside the BETWEEN range must carry by identity")
      assert(!files1.exists(inRange0.contains),
        "files inside the range must be replaced")
      assert(files1.size == outside0.size + 1)
      assert(TxnTable.read(spark, table).count() == 100L)
      assert(TxnTable.read(spark, table)
        .filter(col("k") < 50L).count() == 50L)
    }
  }
}
