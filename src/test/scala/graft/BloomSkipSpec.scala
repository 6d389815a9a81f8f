package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.{Bloom, Tables, TxnTable}

/** Bloom-sidecar equality skipping: never-false-negative bitset math,
  * point-lookup pruning where min/max stats can't prune, GDPR point
  * delete with NULL retention and by-reference carry, DSv2 `===`
  * pruning, merge/vacuum lifecycle of the sidecars. */
class BloomSkipSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private def withZone(f: String => Unit): Unit = {
    val zone = java.nio.file.Files.createTempDirectory("graft_bloomspec").toFile
    try f(s"${zone.getAbsolutePath}/t")
    finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete(); ()
      }
      rm(zone)
    }
  }

  test("bitset math: no false negatives, bounded false positives") {
    val bits = 4096
    val hashes = 7
    val bytes = new Array[Byte](bits / 8)
    val rnd = new scala.util.Random(42)
    val present = Seq.fill(200)(rnd.nextLong())
    present.foreach(h => Bloom.add(bytes, bits, hashes, h))
    // the correctness contract: every inserted hash probes positive
    assert(present.forall(h => Bloom.mightContain(bytes, bits, hashes, h)))
    // quality, not correctness: absent hashes mostly probe negative
    val absent = Seq.fill(2000)(rnd.nextLong()).filterNot(present.toSet)
    val fp = absent.count(h => Bloom.mightContain(bytes, bits, hashes, h))
    assert(fp < absent.size / 10, s"false-positive rate implausible: $fp/${absent.size}")
  }

  test("readEquals prunes via bloom where min/max stats cannot") {
    import spark.implicits._
    withZone { table =>
      val docs = Tables.documents(spark, Spec.sf001)
        .select($"doc_id", $"n_chars")
      // hash partitioning: every file spans ~the full key range, so
      // min/max stats keep all files — only the bloom can prune
      TxnTable.commitOverwrite(docs.repartition(8, $"doc_id"), table,
        statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      val target = 250L
      val (rows, scanned, total) = TxnTable.readEquals(spark, table, "doc_id", target)
      assert(total == 8)
      assert(scanned < total, s"bloom pruned nothing: $scanned of $total")
      val expected = docs.filter($"doc_id" === target).count()
      assert(rows.count() == expected && expected == 1L)
      // a key that does not exist prunes everything (whp) and returns 0
      val (miss, missScanned, _) = TxnTable.readEquals(spark, table, "doc_id", 999999L)
      assert(miss.count() == 0L)
      assert(missScanned == 0, s"absent key still scanned $missScanned files")
    }
  }

  test("deleteEquals: surgical rewrite, NULLs retained, misses are metadata-only") {
    import spark.implicits._
    withZone { table =>
      val docs = Tables.documents(spark, Spec.sf001)
        .select(
          when($"doc_id" % 10 === 0, lit(null)).otherwise($"doc_id")
            .cast("long").as("k"),
          $"n_chars")
      TxnTable.commitOverwrite(docs.repartition(6, $"n_chars"), table,
        statsCols = Seq("k"), bloomCols = Seq("k"))
      val before = TxnTable.snapshotFiles(spark, table, 1L).toSet
      val nullsBefore = TxnTable.read(spark, table).filter($"k".isNull).count()
      assert(nullsBefore > 0)
      val v = TxnTable.deleteEquals(spark, table, "k", 251L)
      val after = TxnTable.snapshotFiles(spark, table, v).toSet
      // the key lives in one file: everything else carries by reference
      assert(before.intersect(after).size >= before.size - 2,
        s"point delete rewrote ${before.size - before.intersect(after).size} files")
      assert(TxnTable.read(spark, table).filter($"k" === 251L).count() == 0L)
      assert(TxnTable.read(spark, table).filter($"k".isNull).count() == nullsBefore,
        "DELETE must retain NULL-keyed rows")
      // deleting an absent key touches nothing: pure metadata no-op
      val v2 = TxnTable.deleteEquals(spark, table, "k", 999999L)
      assert(TxnTable.snapshotFiles(spark, table, v2).toSet == after,
        "absent-key delete must not rewrite any file")
    }
  }

  test("DSv2 equality filter prunes files through the bloom") {
    import spark.implicits._
    withZone { table =>
      val docs = Tables.documents(spark, Spec.sf001)
        .select($"doc_id", $"n_chars")
      TxnTable.commitOverwrite(docs.repartition(8, $"doc_id"), table,
        statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      val pruned = spark.read.format("graft").load(table)
        .filter($"doc_id" === 250L)
      val scanned = org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(pruned)
        .getOrElse(fail("no DSv2 scan in plan"))
      assert(scanned < 8, s"DSv2 bloom skipping failed: scanned $scanned of 8")
      assert(pruned.count() == 1L)
      // IN-list: union of points — each value probes; all rows survive
      val inq = spark.read.format("graft").load(table)
        .filter($"doc_id".isin(10L, 250L, 400L))
      assert(inq.count() == 3L)
    }
  }

  // manifest stats normalize longs to doubles: 2^60 and 2^60+1 share
  // one, so stats alone cannot prove a file holding only 2^60+1 equal
  // to 2^60 — the delete must read it and keep its row
  test("deleteEquals beyond 2^53 keeps a row its stats cannot tell apart") {
    import spark.implicits._
    withZone { table =>
      val big = 1L << 60
      TxnTable.commitOverwrite(Seq((big + 1L, 1L)).toDF("k", "v").coalesce(1),
        table, statsCols = Seq("k"))
      TxnTable.commitAppend(Seq((1L, 2L), (2L, 3L)).toDF("k", "v").coalesce(1),
        table, statsCols = Seq("k"))
      TxnTable.deleteEquals(spark, table, "k", big)
      assert(TxnTable.read(spark, table).select($"k").as[Long].collect()
        .sorted.toSeq == Seq(1L, 2L, big + 1L))
    }
  }

  // a DECIMAL(38,18) value normalizes to the same double as its
  // neighbours: stats cannot prove a file equal to the deleted key
  test("deleteEquals on a wide decimal keeps a row its stats cannot tell apart") {
    withZone { table =>
      def frame(k: String, v: Long) = spark.sql(
        s"SELECT CAST('$k' AS DECIMAL(38,18)) AS k, ${v}L AS v").coalesce(1)
      TxnTable.commitOverwrite(frame("1.000000000000000002", 1L), table,
        statsCols = Seq("k"))
      TxnTable.commitAppend(frame("2", 2L), table, statsCols = Seq("k"))
      TxnTable.deleteEquals(spark, table, "k",
        new java.math.BigDecimal("1.000000000000000001"))
      assert(TxnTable.read(spark, table).count() == 2L)
    }
  }

  // 1.7e15 is past 2^50 but inside 2^53, where a long and its
  // normalized double still agree — the epoch-microsecond key range
  Seq(7L, 1700000000000000L).foreach { key =>
    test(s"deleteEquals drops a provably covered file of key $key without a Spark job") {
      import spark.implicits._
      withZone { table =>
        TxnTable.commitOverwrite(Seq((key, 1L), (key, 2L)).toDF("k", "v").coalesce(1),
          table, statsCols = Seq("k"))
        val covered = TxnTable.snapshotFiles(spark, table, 1L)
        val v2 = TxnTable.commitAppend(
          Seq((1L, 3L), (2L, 4L)).toDF("k", "v").coalesce(1), table,
          statsCols = Seq("k"))
        val other = TxnTable.snapshotFiles(spark, table, v2).filterNot(covered.toSet)
        val (v3, Spec.Counts(jobs, _)) = Spec.counted(TxnTable.deleteEquals(spark, table, "k", key))
        assert(jobs == 0, s"a metadata-only delete ran $jobs jobs")
        assert(TxnTable.snapshotFiles(spark, table, v3) == other)
        assert(TxnTable.read(spark, table).select($"k").as[Long].collect()
          .sorted.toSeq == Seq(1L, 2L))
      }
    }
  }

  test("readEquals, readRangeOn and a boundary deleteEquals keep their job counts") {
    import spark.implicits._
    withZone { table =>
      // eight range files of 100 keys, stats and a bloom on k
      TxnTable.commitOverwrite(
        spark.range(0L, 800L).select($"id".as("k"), ($"id" * 2).as("v"))
          .repartitionByRange(8, $"k"),
        table, statsCols = Seq("k"), bloomCols = Seq("k"))
      TxnTable.readEquals(spark, table, "k", 1L)._1.count() // warm caches
      val (eq, Spec.Counts(eqJobs, _)) = Spec.counted(TxnTable.readEquals(spark, table, "k", 250L)._1.count())
      val (rng, Spec.Counts(rngJobs, _)) = Spec.counted(TxnTable.readRangeOn(spark, table, "k", 150L, 260L)._1.count())
      val (_, Spec.Counts(delJobs, _)) = Spec.counted(TxnTable.deleteEquals(spark, table, "k", 250L))
      assert((eq, rng) == ((1L, 111L)))
      assert((eqJobs, rngJobs, delJobs) == ((2, 2, 1)),
        s"jobs per call: readEquals $eqJobs, readRangeOn $rngJobs, deleteEquals $delJobs")
      assert(TxnTable.read(spark, table).count() == 799L)
    }
  }

  test("readEquals and readRangeOn choose the files a DSv2 scan does") {
    import spark.implicits._
    withZone { table =>
      // three commits over a bucket(4, k) layout: per bucket, files of
      // disjoint key ranges — bucket ids, min/max and blooms all prune
      (0 until 3).foreach { c =>
        TxnTable.commitAppend(
          spark.range(200L * c, 200L * (c + 1)).select($"id".as("k"), $"id".as("v")),
          table, statsCols = Seq("k"), bloomCols = Seq("k"),
          partitionCols = Seq("bucket(4,k)"))
      }
      val total = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get).size
      def dsv2(f: org.apache.spark.sql.Column): Int =
        org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(
          spark.read.format("graft").load(table).filter(f))
          .getOrElse(fail("no DSv2 scan in plan"))
      Seq(250L, 7L, 999L).foreach { v =>
        val (rows, scanned, _) = TxnTable.readEquals(spark, table, "k", v)
        assert(scanned == dsv2($"k" === v), s"k = $v")
        assert(rows.count() == (if (v < 600L) 1L else 0L))
      }
      val (rows, scanned, _) = TxnTable.readRangeOn(spark, table, "k", 150L, 260L)
      assert(scanned == dsv2($"k" >= 150L && $"k" <= 260L))
      assert(scanned < total && rows.count() == 111L)
      assert(TxnTable.readEquals(spark, table, "k", 250L)._2 < total)
    }
  }

  test("a zero-row file an older manifest lists is never chosen") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    withZone { table =>
      TxnTable.commitOverwrite(
        spark.range(0L, 400L).select($"id".as("k"), ($"id" * 2L).as("v"))
          .repartitionByRange(4, $"k"),
        table, statsCols = Seq("k"), bloomCols = Seq("k"))
      // what writes left before empty files were dropped: a schema-only
      // part file in a data dir, listed with 0 rows and no stats or bloom
      val v1 = TxnTable.latestVersion(spark, table).get
      val files = TxnTable.snapshotFiles(spark, table, v1)
      val empty = s"${files.head.takeWhile(_ != '/')}/part-empty.parquet"
      val side = s"$table-empty"
      spark.range(0L, 0L).select($"id".as("k"), $"id".as("v"))
        .coalesce(1).write.parquet(side)
      val fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
      val written = fs.listStatus(new Path(side)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      assert(written.length == 1)
      assert(fs.rename(written.head, new Path(s"$table/$empty")))
      val manifest = new Path(table, f"_v$v1%05d.manifest")
      val in = fs.open(manifest)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val out = fs.create(manifest, true)
      try out.write((lines :+ s"$empty|0").mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      assert(TxnTable.snapshotFiles(spark, table, v1).toSet == files.toSet + empty)

      val (one, scanned, total) = TxnTable.readEquals(spark, table, "k", 150L)
      assert(one.collect().map(_.getLong(1)).toSeq == Seq(300L))
      assert(scanned == 1 && total == files.size + 1, s"$scanned of $total")
      assert(TxnTable.readRangeOn(spark, table, "k", 0L, 399L)._2 == files.size)
      assert(org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(
        spark.read.format("graft").load(table).filter($"k" === 150L)) == Some(1))
      // the delete rewrites the key's file and carries the empty one
      val v2 = TxnTable.deleteEquals(spark, table, "k", 150L)
      assert(TxnTable.snapshotFiles(spark, table, v2).contains(empty))
      assert(TxnTable.read(spark, table).count() == 399L)
    }
  }

  test("merge rewrite preserves bloom coverage; vacuum reaps sidecars") {
    import spark.implicits._
    withZone { table =>
      val docs = Tables.documents(spark, Spec.sf001)
        .select($"doc_id", $"n_chars")
      TxnTable.commitOverwrite(docs.repartition(4, $"doc_id"), table,
        statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      val up = Seq((250L, 77L)).toDF("doc_id", "n_chars")
      TxnTable.merge(up, table, "doc_id")
      // the rewritten file must carry a fresh bloom: a point lookup on
      // the merged key still prunes and still finds the updated row
      val (rows, scanned, total) = TxnTable.readEquals(spark, table, "doc_id", 250L)
      assert(scanned < total)
      assert(rows.select($"n_chars").as[Long].head() == 77L)
      // vacuum: superseded files AND their sidecars are reclaimed. The
      // merge commit is a DELTA manifest, so first roll the log up with
      // a full overwrite — vacuum retains a delta's checkpoint base by
      // design (the chain is unreadable without it).
      TxnTable.commitOverwrite(docs.repartition(3, $"doc_id"), table,
        statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      TxnTable.vacuum(spark, table)
      def bloomCount: Int = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        // endsWith, not contains: Hadoop's local FS shadows every
        // sidecar with a `.<name>.crc` checksum twin
        walk(new java.io.File(table)).count(_.getName.endsWith(".bloom.doc_id"))
      }
      val live = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get).size
      assert(bloomCount == live,
        s"expected exactly $live live sidecars after vacuum, found $bloomCount")
    }
  }
}
