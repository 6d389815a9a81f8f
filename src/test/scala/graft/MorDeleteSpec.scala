package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnTable

/** MERGE-ON-READ equality deletes: a DELETE on a mergeOnRead table
  * commits a small tuple file instead of rewriting data files; reads
  * subtract it (version-gated), OPTIMIZE materializes it. */
class MorDeleteSpec extends AnyFunSuite {
  private lazy val spark = Spec.spark

  private var n = 0
  /** Temp table dir + a catalog name for the SQL spellings. */
  private def withZone(body: (String, String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_mor").toFile
    val name = { n += 1; s"mor_spec_$n" }
    val path = s"${root.getAbsolutePath}/t"
    try body(path, name)
    finally {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(root)
    }
  }

  private def files(table: String): Set[String] =
    TxnTable.morState(spark, table,
      TxnTable.latestVersion(spark, table).get).files.toSet
  private def dels(table: String) =
    TxnTable.morState(spark, table,
      TxnTable.latestVersion(spark, table).get).dels

  /** Register the (already-seeded) path as a catalog table so the SQL
    * spellings resolve its committed schema. */
  private def reg(tn: String, path: String): Unit =
    spark.sql(s"CREATE TABLE $tn USING graft OPTIONS (path '$path')")

  private def seed(table: String, tn: String): Unit = {
    import spark.implicits._
    val df = Seq.range(0L, 100L).map(k => (k, s"s$k", k % 5)).toDF("k", "s", "g")
      .repartitionByRange(4, $"k")
    df.write.format("graft").option("statsCols", "k,g")
      .option("mergeOnRead", "true").mode("overwrite").save(table)
    reg(tn, table)
  }

  test("SQL DELETE on a mergeOnRead table writes a delete file, not data") {
    withZone { (table, tn) =>
      seed(table, tn)
      val before = files(table)
      spark.sql(s"DELETE FROM $tn WHERE g = 2")
      assert(files(table) == before, "data files must be untouched")
      val d = dels(table)
      assert(d.size == 1 && d.head.keyCols == Seq("g"))
      // reads subtract the tuples — SQL and DataFrame alike
      val left = spark.read.format("graft").load(table)
      assert(left.count() == 80L)
      assert(left.filter(col("g") === 2).count() == 0L)
      assert(spark.sql(
        s"SELECT count(*) AS c FROM $tn").head().getLong(0) == 80L)
      // column pruning survives the anti-join rewrite: selecting a
      // non-key column still answers
      assert(spark.read.format("graft").load(table)
        .select("s").distinct().count() == 80L)
    }
  }

  test("deleteWhereMoR counts its tuples in the write job, not per file") {
    withZone { (table, tn) =>
      seed(table, tn)
      val jobs = Spec.counted(
        TxnTable.deleteWhereMoR(spark, table, Seq("g"), t => t("g") === 2))._2.jobs
      // the distinct's shuffle stage and the tuple-file write, whose
      // tasks count the tuples: no job reads the tuple file back
      assert(jobs <= 2, s"$jobs jobs")
      assert(dels(table).map(_.rows) == Seq(1L))
      assert(spark.read.format("graft").load(table).count() == 80L)
    }
  }

  test("metadata-shape DELETE routes merge-on-read; re-insert survives the gate") {
    import spark.implicits._
    withZone { (table, tn) =>
      seed(table, tn)
      val before = files(table)
      // k = 7 is the canDeleteWhere point-delete shape — mergeOnRead
      // must reroute it to the equality-delete path
      spark.sql(s"DELETE FROM $tn WHERE k = 7")
      assert(files(table) == before)
      assert(spark.read.format("graft").load(table).count() == 99L)
      // re-insert the same key AFTER the delete: the add-version gate
      // exempts the new file, so the row survives the old delete
      Seq((7L, "reborn", 2L)).toDF("k", "s", "g")
        .write.format("graft").mode("append").save(table)
      val back = spark.read.format("graft").load(table)
        .filter($"k" === 7).collect()
      assert(back.map(_.getString(1)).toSeq == Seq("reborn"))
      // a second delete of the same key removes the re-inserted row too
      spark.sql(s"DELETE FROM $tn WHERE k = 7")
      assert(spark.read.format("graft").load(table)
        .filter($"k" === 7).count() == 0L)
      assert(dels(table).size == 2)
    }
  }

  test("time travel sees pre-delete rows; ignoreDeletes reads raw") {
    withZone { (table, tn) =>
      seed(table, tn)
      spark.sql(s"DELETE FROM $tn WHERE g = 0")
      assert(spark.read.format("graft").option("versionAsOf", "1")
        .load(table).count() == 100L)
      assert(spark.read.format("graft").load(table).count() == 80L)
      assert(spark.read.format("graft").option("ignoreDeletes", "true")
        .load(table).count() == 100L)
    }
  }

  test("copy-on-write UPDATE composes: touched files materialize, others stay gated") {
    import spark.implicits._
    withZone { (table, tn) =>
      seed(table, tn)
      spark.sql(s"DELETE FROM $tn WHERE g = 1")
      // update a disjoint slice — the scalar subquery forces the
      // COPY-ON-WRITE path (merge-on-read updates route plain
      // predicates); its file rewrite must NOT resurrect the deleted
      // g=1 rows that shared those files
      spark.sql(
        s"UPDATE $tn SET s = 'upd' WHERE k < (SELECT min(k) + 10 FROM $tn)")
      val df = spark.read.format("graft").load(table)
      assert(df.filter($"g" === 1).count() == 0L)
      assert(df.filter($"s" === "upd").count() == 8L) // k in 0..9 minus g=1 (k=1,6)
      assert(df.count() == 80L)
    }
  }

  test("compact materializes deletes and drops their entries") {
    withZone { (table, tn) =>
      seed(table, tn)
      spark.sql(s"DELETE FROM $tn WHERE g = 3")
      assert(dels(table).nonEmpty)
      TxnTable.compact(spark, table)
      assert(dels(table).isEmpty, "overwrite/compact must drop delete entries")
      assert(spark.read.format("graft").load(table).count() == 80L)
      assert(TxnTable.morEnabled(spark, table), "the mode flag is sticky")
    }
  }

  test("compactSmall keeps gating exact while packing") {
    import spark.implicits._
    withZone { (table, tn) =>
      seed(table, tn)
      spark.sql(s"DELETE FROM $tn WHERE k < 50")
      // append a small file that the delete must NOT touch (gate) and
      // that compactSmall will pack together with the seed files
      Seq((7L, "post", 9L)).toDF("k", "s", "g")
        .write.format("graft").mode("append").save(table)
      TxnTable.compactSmall(spark, table, smallBytes = 1L << 40,
        checkpoint = true)
      val df = spark.read.format("graft").load(table)
      assert(df.count() == 51L)
      assert(df.filter($"s" === "post").count() == 1L)
      // everything packed into post-delete files: the checkpoint prunes
      // the now-dead delete entry
      assert(dels(table).isEmpty)
      // and vacuum can now reclaim the orphaned tuple file
      TxnTable.vacuum(spark, table, keep = 0)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val tupleFiles = walk(new java.io.File(table))
        .filter(f => f.getPath.contains("/_del/") && f.getName.endsWith(".parquet"))
      assert(tupleFiles.isEmpty, "materialized delete tuples must vacuum away")
    }
  }

  test("CDF records merge-on-read deletes eagerly") {
    import spark.implicits._
    withZone { (table, tn) =>
      val df = Seq.range(0L, 20L).map(k => (k, k % 4)).toDF("k", "g")
      df.write.format("graft").option("statsCols", "k")
        .option("mergeOnRead", "true").option("enableChangeFeed", "true")
        .mode("overwrite").save(table)
      reg(tn, table)
      spark.sql(s"DELETE FROM $tn WHERE g = 3")
      val feed = TxnTable.changeFeed(spark, table, sinceVersion = 1L)
      val got = feed.select($"k", $"_change_type")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Seq(3L, 7L, 11L, 15L, 19L).map((_, "delete")).toSet)
    }
  }

  test("append-only incremental reads fail loudly across a delete; skip mode skips") {
    withZone { (table, tn) =>
      seed(table, tn)
      val v1 = TxnTable.latestVersion(spark, table).get
      spark.sql(s"DELETE FROM $tn WHERE g = 4")
      import spark.implicits._
      Seq((1000L, "new", 9L)).toDF("k", "s", "g")
        .write.format("graft").mode("append").save(table)
      val e = intercept[IllegalArgumentException] {
        TxnTable.readChanges(spark, table, sinceVersion = v1)
      }
      assert(e.getMessage.contains("merge-on-read"))
      val (rows, _) =
        TxnTable.readChanges(spark, table, v1, skipChangeCommits = true)
      assert(rows.count() == 1L, "skip mode delivers only the append")
    }
  }

  test("vacuum retains live tuple files; API range delete refuses while deletes live") {
    withZone { (table, tn) =>
      seed(table, tn)
      spark.sql(s"DELETE FROM $tn WHERE k >= 90")
      TxnTable.vacuum(spark, table, keep = 0)
      assert(spark.read.format("graft").load(table).count() == 90L,
        "vacuum must not reclaim a live delete's tuple file")
      val e = intercept[IllegalArgumentException] {
        TxnTable.deleteRangeOn(spark, table, "k", 0L, 10L)
      }
      assert(e.getMessage.contains("merge-on-read"))
    }
  }

  test("scalar-subquery DELETE falls back to copy-on-write and stays exact") {
    withZone { (table, tn) =>
      seed(table, tn)
      spark.sql(
        s"DELETE FROM $tn WHERE k > (SELECT max(k) - 5 FROM $tn)")
      val df = spark.read.format("graft").load(table)
      assert(df.count() == 95L)
      assert(df.agg(max("k")).head().getLong(0) == 94L)
    }
  }
}
