package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.{Tables, TxnTable}

/** TxnTable commit-protocol contracts: atomic visibility, append commits,
  * time travel, orphan tolerance, concurrent-writer CAS, idempotent
  * replay markers, reference-counted vacuum, compaction. */
class TxnSinkSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  private def withZone(f: String => Unit): Unit = {
    val zone = java.nio.file.Files.createTempDirectory("graft_txnspec")
      .toFile
    try f(s"${zone.getAbsolutePath}/t")
    finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete(); ()
      }
      rm(zone)
    }
  }

  /** Parquet-file count of snapshot `v`, resolved through its manifest
    * (the layout names data dirs per WRITER, not per version). */
  private def nFiles(table: String, v: Long): Int =
    TxnTable.snapshotFiles(spark, table, v).size

  test("commit flips the visible snapshot; superseded versions stay intact") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
      assert(TxnTable.latestVersion(spark, table).isEmpty)
      val v1 = TxnTable.commitOverwrite(cust.filter($"c_custkey" <= 10), table)
      assert(v1 == 1L && TxnTable.latestVersion(spark, table).contains(1L))
      assert(TxnTable.read(spark, table).count() ==
        cust.filter($"c_custkey" <= 10).count())
      val v2 = TxnTable.commitOverwrite(cust, table)
      assert(v2 == 2L)
      assert(TxnTable.read(spark, table).count() == cust.count())
      // time travel: v1 still reads its original content
      assert(TxnTable.readVersion(spark, table, 1).count() ==
        cust.filter($"c_custkey" <= 10).count())
    }
  }

  test("append commits accumulate without rewriting prior data") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      val n = cust.count()
      TxnTable.commitAppend(cust.filter($"c_custkey" % 2 === 0), table)
      TxnTable.commitAppend(cust.filter($"c_custkey" % 2 === 1), table)
      assert(TxnTable.read(spark, table).count() == n)
      // v1 time travel shows only the first batch
      assert(TxnTable.readVersion(spark, table, 1).count() ==
        cust.filter($"c_custkey" % 2 === 0).count())
      // v2's manifest is a strict superset of v1's — appends rewrote
      // nothing, and v1's physical files are still on disk
      val v1Files = TxnTable.snapshotFiles(spark, table, 1)
      val v2Files = TxnTable.snapshotFiles(spark, table, 2)
      assert(v1Files.nonEmpty && v1Files.toSet.subsetOf(v2Files.toSet))
      assert(v1Files.forall(f => new java.io.File(s"$table/$f").exists()))
    }
  }

  test("a writer dying before its manifest commit is fully invisible") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
      TxnTable.commitOverwrite(cust.filter($"c_custkey" <= 10), table)
      // simulate the crash: data dir fully written, no manifest created
      cust.write.parquet(s"$table/w=deadwriter01")
      assert(TxnTable.latestVersion(spark, table).contains(1L))
      assert(TxnTable.read(spark, table).count() ==
        cust.filter($"c_custkey" <= 10).count())
      // the orphan is invisible even to the version listing …
      assert(TxnTable.versions(spark, table) == Seq(1L))
      // … and the next commit proceeds normally alongside it
      val v = TxnTable.commitOverwrite(cust, table)
      assert(v == 2L)
      assert(TxnTable.read(spark, table).count() == cust.count())
      // vacuum reclaims the orphan (its files are in no manifest)
      TxnTable.vacuum(spark, table)
      assert(!new java.io.File(s"$table/w=deadwriter01").exists())
    }
  }

  test("concurrent committers: the manifest CAS serializes, both appends survive") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      val n = cust.count()
      val gate = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      val fs = Seq(0, 1).map { parity =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await(10, TimeUnit.SECONDS)
            TxnTable.commitAppend(
              cust.filter($"c_custkey" % 2 === parity), table)
          }
        })
      }
      gate.countDown() // release both writers at once
      val versions = fs.map(_.get(120, TimeUnit.SECONDS)).sorted
      pool.shutdown()
      // exactly one writer won v1; the loser retried and landed v2 with
      // the winner's files carried forward — no lost update
      assert(versions == Seq(1L, 2L))
      assert(TxnTable.read(spark, table).count() == n)
      assert(TxnTable.versions(spark, table) == Seq(1L, 2L))
    }
  }

  test("delete racing disjoint appends REBASES: one data write, no recompute") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    withZone { table =>
      val base = Seq.range(0L, 1000L).map(k => (k, k * 2.0)).toDF("k", "v")
      TxnTable.commitOverwrite(base.coalesce(1), table, statsCols = Seq("k"))
      val before = TxnTable.dataWrites.get()
      val gate = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      // three appenders land key ranges PROVABLY disjoint (stats on k)
      // from the racing deleteRange [100, 200]: every CAS the delete
      // loses is rebasable, so its complement rewrite runs ONCE
      val appends = (0 until 3).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await(10, TimeUnit.SECONDS)
            val lo = 10000L + i * 1000L
            TxnTable.commitAppend(
              Seq.range(lo, lo + 100L).map(k => (k, k * 2.0)).toDF("k", "v")
                .coalesce(1),
              table, statsCols = Seq("k"))
          }
        })
      }
      val del = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await(10, TimeUnit.SECONDS)
          TxnTable.deleteRange(spark, table, "k", lo = 100, hi = 200)
        }
      })
      gate.countDown()
      (appends :+ del).foreach(_.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      val writes = TxnTable.dataWrites.get() - before
      // 3 append writes + exactly 1 delete rewrite — a CAS loss must
      // REBASE the manifest, never re-run the read-filter-write
      assert(writes == 4L,
        s"expected 4 data writes (3 appends + 1 delete rewrite), got $writes")
      assert(TxnTable.versions(spark, table) == (1L to 5L))
      assert(TxnTable.read(spark, table).count() == (1000 - 101) + 300)
      assert(TxnTable.read(spark, table)
        .filter($"k".between(100, 200)).count() == 0)
    }
  }

  test("SQL UPDATE racing disjoint appends REBASES: one data write") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    withZone { table =>
      val base = Seq.range(0L, 2000L).map(k => (k, k * 2.0)).toDF("k", "v")
      TxnTable.commitOverwrite(base.coalesce(2), table, statsCols = Seq("k"),
        cdf = Some(true)) // the rebase must carry the CDC lines too
      spark.sql(s"CREATE TABLE sink_upd_race USING graft OPTIONS (path '$table')")
      try {
        val before = TxnTable.dataWrites.get()
        val gate = new CountDownLatch(1)
        val pool = Executors.newFixedThreadPool(4)
        // three appenders land key ranges PROVABLY disjoint (stats on k)
        // from the UPDATE's WHERE [100, 200]: every CAS the update loses
        // is rebasable through the rewrite's disjointKey bound, so its
        // copy-on-write rewrite runs ONCE
        val appends = (0 until 3).map { i =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              gate.await(10, TimeUnit.SECONDS)
              val lo = 10000L + i * 1000L
              TxnTable.commitAppend(
                Seq.range(lo, lo + 100L).map(k => (k, k * 2.0)).toDF("k", "v")
                  .coalesce(1),
                table, statsCols = Seq("k"))
            }
          })
        }
        val upd = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            gate.await(10, TimeUnit.SECONDS)
            spark.sql(
              "UPDATE sink_upd_race SET v = v + 0.5 WHERE k BETWEEN 100 AND 200")
            ()
          }
        })
        gate.countDown()
        appends.foreach(_.get(120, TimeUnit.SECONDS))
        upd.get(120, TimeUnit.SECONDS)
        pool.shutdown()
        val writes = TxnTable.dataWrites.get() - before
        assert(writes == 4L,
          s"expected 4 data writes (3 appends + 1 update rewrite), got $writes")
        assert(TxnTable.versions(spark, table) == (1L to 5L))
        val t = TxnTable.read(spark, table)
        assert(t.count() == 2000 + 300)
        assert(t.filter($"k".between(100, 200) && $"v" =!= $"k" * 2.0 + 0.5)
          .count() == 0, "every row in the WHERE range must be updated")
        assert(t.filter(!$"k".between(100, 200) && $"v" =!= $"k" * 2.0)
          .count() == 0, "rows outside the WHERE range must be untouched")
        // CDC survives the rebase: whichever version the update landed
        // at, the feed carries its exact pre/post images, and the
        // racing appends feed as plain inserts
        val feed = TxnTable.changeFeed(spark, table, sinceVersion = 1L)
        val byType = feed.groupBy($"_change_type").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(byType == Map(
          "insert" -> 300L,
          "update_preimage" -> 101L, "update_postimage" -> 101L),
          s"rebased commit must keep its change files, got $byType")
        assert(feed.filter($"_change_type" === "update_postimage" &&
          $"v" =!= $"k" * 2.0 + 0.5).count() == 0,
          "post-images must carry the updated values")
      } finally spark.sql("DROP TABLE sink_upd_race")
    }
  }

  test("4 writers x 3 appends each: all 12 commits serialize and survive") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      val n = cust.count()
      val gate = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      val fs = (0 until 4).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = {
            gate.await(10, TimeUnit.SECONDS)
            // writer w appends its 3 disjoint slices (keys ≡ w, w+4, w+8 mod 12)
            (0 until 3).map { s =>
              TxnTable.commitAppend(
                cust.filter($"c_custkey" % 12 === (w + 4 * s)), table)
            }
          }
        })
      }
      gate.countDown()
      val versions = fs.flatMap(_.get(300, TimeUnit.SECONDS)).sorted
      pool.shutdown()
      // every commit claimed a distinct version 1..12 — no lost update
      assert(versions == (1L to 12L))
      assert(TxnTable.versions(spark, table) == (1L to 12L))
      assert(TxnTable.read(spark, table).count() == n)
      assert(TxnTable.read(spark, table).select($"c_custkey").distinct().count() == n)
    }
  }

  test("idempotent replay: an already-applied (appId, batchId) is a no-op") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      val b0 = cust.filter($"c_custkey" % 2 === 0)
      val b1 = cust.filter($"c_custkey" % 2 === 1)
      val v1 = TxnTable.commitAppendIdempotent(b0, table, "sinkA", 0L)
      assert(v1 == 1L)
      // replay of batch 0 (foreachBatch restart): no new version, no rows
      val vReplay = TxnTable.commitAppendIdempotent(b0, table, "sinkA", 0L)
      assert(vReplay == 1L)
      assert(TxnTable.latestVersion(spark, table).contains(1L))
      assert(TxnTable.read(spark, table).count() == b0.count())
      // the next batch commits normally
      val v2 = TxnTable.commitAppendIdempotent(b1, table, "sinkA", 1L)
      assert(v2 == 2L)
      assert(TxnTable.read(spark, table).count() == cust.count())
      // a DIFFERENT app's batch 0 is independent state
      val v3 = TxnTable.commitAppendIdempotent(b0.limit(3), table, "sinkB", 0L)
      assert(v3 == 3L)
      assert(TxnTable.lastCommittedBatch(spark, table, "sinkA").contains(1L))
      assert(TxnTable.lastCommittedBatch(spark, table, "sinkB").contains(0L))
      // markers carry forward across an overwrite commit too
      TxnTable.commitOverwrite(b0.limit(1), table)
      assert(TxnTable.lastCommittedBatch(spark, table, "sinkA").contains(1L))
    }
  }

  test("schema evolution on append: log-recorded schema, old files read NULL") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
      TxnTable.commitAppend(cust.select($"c_custkey"), table)
      // the table evolves: a second append carries a new column
      TxnTable.commitAppend(
        cust.select($"c_custkey", $"c_acctbal"), table)
      val latest = TxnTable.read(spark, table)
      assert(latest.columns.toSeq == Seq("c_custkey", "c_acctbal"))
      val n = cust.count()
      assert(latest.count() == 2 * n)
      // pre-evolution rows surface the evolved column as NULL
      assert(latest.filter($"c_acctbal".isNull).count() == n)
      // time travel returns v1's OWN schema, not the evolved one
      assert(TxnTable.readVersion(spark, table, 1).columns.toSeq == Seq("c_custkey"))
      // incompatible evolution fails at COMMIT, not at a later read
      intercept[Exception] {
        TxnTable.commitAppend(
          cust.select($"c_name".as("c_custkey")), table)
      }
      assert(TxnTable.latestVersion(spark, table).contains(2L))
    }
  }

  test("vacuum is reference-counted: append-shared files survive") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitAppend(cust.filter($"c_custkey" % 2 === 0), table)
      TxnTable.commitAppend(cust.filter($"c_custkey" % 2 === 1), table)
      val v1Files = TxnTable.snapshotFiles(spark, table, 1)
      // v2 (latest) references v1's files, so vacuum must NOT delete
      // them; v2 is also a DELTA hanging off v1's full manifest, so the
      // chain base v1 survives the manifest sweep too
      TxnTable.vacuum(spark, table)
      assert(TxnTable.versions(spark, table) == Seq(1L, 2L))
      assert(TxnTable.read(spark, table).count() == cust.count())
      // overwrite commit orphans all earlier files; vacuum reclaims them
      TxnTable.commitOverwrite(cust.filter($"c_custkey" <= 5), table)
      TxnTable.vacuum(spark, table)
      assert(TxnTable.versions(spark, table) == Seq(3L))
      assert(v1Files.forall(f => !new java.io.File(s"$table/$f").exists()))
      assert(TxnTable.read(spark, table).count() ==
        cust.filter($"c_custkey" <= 5).count())
      // a retention window protects recent (possibly in-flight) dirs
      cust.limit(1).write.parquet(s"$table/w=inflight00001")
      TxnTable.vacuum(spark, table, retainMs = 3600L * 1000)
      assert(new java.io.File(s"$table/w=inflight00001").exists())
    }
  }

  test("readChanges: cursor-based incremental consumption of appends") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitAppend(cust.filter($"c_custkey" % 2 === 0), table)
      // a consumer at cursor 0 sees everything
      val (all0, c0) = TxnTable.readChanges(spark, table, 0L)
      assert(c0 == 1L && all0.count() == cust.filter($"c_custkey" % 2 === 0).count())
      // caught up: empty delta, cursor unchanged
      val (none, c1) = TxnTable.readChanges(spark, table, c0)
      assert(c1 == c0 && none.isEmpty)
      // next append: only ITS rows appear
      TxnTable.commitAppend(cust.filter($"c_custkey" % 2 === 1), table)
      val (delta, c2) = TxnTable.readChanges(spark, table, c1)
      assert(c2 == 2L)
      assert(delta.count() == cust.filter($"c_custkey" % 2 === 1).count())
      // an overwrite breaks append lineage: incremental read REFUSES
      // rather than misreporting the rewrite as pure addition
      TxnTable.commitOverwrite(cust.limit(5), table)
      intercept[IllegalArgumentException] {
        TxnTable.readChanges(spark, table, c2)
      }
      // history reflects every retained snapshot
      val h = TxnTable.history(spark, table)
        .orderBy($"version").collect()
      assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(h.forall(_.getLong(2) == 2L)) // n_columns
    }
  }

  test("incremental view: caught-up refresh commits nothing; merge matches recompute") {
    import spark.implicits._
    import graft.io.IncrementalView
    withZone { table =>
      val src = s"$table-src"
      val view = s"$table-view"
      val cust = Tables.customer(spark, Spec.sf0001)
        .select(($"c_custkey" % 4).as("seg"), $"c_acctbal")
      TxnTable.commitAppend(cust.filter($"c_acctbal" > 0), src)
      var cursor = IncrementalView.refresh(spark, src, view, "seg", "c_acctbal", 0L)
      val viewV = TxnTable.latestVersion(spark, view)
      // caught up: no delta, no new view commit, cursor unchanged
      assert(IncrementalView.refresh(spark, src, view, "seg", "c_acctbal", cursor) == cursor)
      assert(TxnTable.latestVersion(spark, view) == viewV)
      // second append; merged state equals a one-shot recompute
      TxnTable.commitAppend(cust.filter($"c_acctbal" <= 0), src)
      cursor = IncrementalView.refresh(spark, src, view, "seg", "c_acctbal", cursor)
      val got = IncrementalView.read(spark, view)
        .orderBy($"k").as[(Long, Long, Double)].collect().toSeq
      val want = cust.groupBy($"seg".as("k"))
        .agg(count(lit(1)).as("n"), graft.ops.Num.dsum($"c_acctbal").as("s"))
        .orderBy($"k").as[(Long, Long, Double)].collect().toSeq
      assert(got == want)
      // crash replay: the caller loses the returned cursor and restarts
      // with a stale one — the marker committed WITH the view state is
      // authoritative, so the already-applied delta must not re-apply
      assert(IncrementalView.committedCursor(spark, src, view) == cursor)
      val replayed = IncrementalView.refresh(spark, src, view, "seg", "c_acctbal", 0L)
      assert(replayed == cursor, "stale-cursor refresh must fast-forward")
      val afterReplay = IncrementalView.read(spark, view)
        .orderBy($"k").as[(Long, Long, Double)].collect().toSeq
      assert(afterReplay == want, "replay double-counted the delta")
      def rmr(p: String): Unit = {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(p))
      }
      rmr(src); rmr(view)
    }
  }

  test("file stats: range reads skip files; merges rewrite only containing files") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(6, $"c_custkey").sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      assert(TxnTable.fileStats(spark, table, 1L).size == 6)
      // a range outside every file's stats scans nothing
      val (empty, s0, t0) = TxnTable.readRange(spark, table, "c_custkey", 1e9, 2e9)
      assert(s0 == 0 && t0 == 6 && empty.isEmpty)
      // a narrow range scans a strict subset and returns exact rows
      val (rows, s1, _) = TxnTable.readRange(spark, table, "c_custkey", 10, 20)
      assert(s1 < 6 && rows.count() ==
        cust.filter($"c_custkey".between(10, 20)).count())
      // pure-insert merge: no existing file contains the keys — ALL
      // files carry forward, one new file lands
      val before = TxnTable.snapshotFiles(spark, table, 1L).toSet
      val v2 = TxnTable.merge(
        Seq((800001L, 1.0)).toDF("c_custkey", "c_acctbal"), table, "c_custkey")
      val after = TxnTable.snapshotFiles(spark, table, v2).toSet
      assert(before.subsetOf(after) && (after -- before).size == 1)
      // targeted update: only the file containing key 1 is rewritten
      val v3 = TxnTable.merge(
        Seq((1L, 999.0)).toDF("c_custkey", "c_acctbal"), table, "c_custkey")
      val after3 = TxnTable.snapshotFiles(spark, table, v3).toSet
      assert((after -- after3).size == 1, "exactly one file replaced")
      val got = TxnTable.read(spark, table)
        .filter($"c_custkey" === 1L).select($"c_acctbal").as[Double].head()
      assert(got == 999.0)
      assert(TxnTable.read(spark, table).count() == cust.count() + 1)
    }
  }

  test("deleteRange: a fully-covered file drops as pure metadata — no new files") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(6, $"c_custkey").sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      val before = TxnTable.snapshotFiles(spark, table, 1L)
      // delete exactly one file's recorded range: keys are unique, so
      // no other file overlaps it — the delete must be a manifest edit
      def range(st: TxnTable.FileStat): (Double, Double) = (st.minV.toDouble, st.maxV.toDouble)
      val (f, fStats) = TxnTable.fileStats(spark, table, 1L).head
      val (lo, hi) = range(fStats.head)
      val v = TxnTable.deleteRange(spark, table, "c_custkey", lo, hi)
      val after = TxnTable.snapshotFiles(spark, table, v)
      assert(after.toSet == before.toSet - f,
        "expected exactly the covered file dropped, nothing rewritten")
      assert(TxnTable.read(spark, table).count() ==
        cust.filter(!$"c_custkey".between(lo, hi)).count())
      // boundary delete: a range straddling two files rewrites only them;
      // half-integer bounds on the integral key still prune and prove
      val remaining = TxnTable.fileStats(spark, table, v).toSeq
        .map { case (file, ss) => file -> range(ss.head) }
        .sortBy(_._2._1)
      val (loF, hiF) = (remaining.head, remaining(1))
      def mid(r: (Double, Double)) = math.floor((r._1 + r._2) / 2) + 0.5
      val v2 = TxnTable.deleteRange(spark, table, "c_custkey", mid(loF._2), mid(hiF._2))
      val after2 = TxnTable.snapshotFiles(spark, table, v2).toSet
      // the two straddled files are gone (rewritten), the others carried
      assert(!after2.contains(loF._1) && !after2.contains(hiF._1))
      assert(remaining.drop(2).forall(kv => after2.contains(kv._1)))
      assert(TxnTable.read(spark, table).count() == cust
        .filter(!$"c_custkey".between(lo, hi))
        .filter(!$"c_custkey".between(mid(loF._2), mid(hiF._2))).count())
    }
  }

  test("log checkpointing: commit and read costs stay bounded over 500 appends") {
    import spark.implicits._
    withZone { table =>
      val row = Seq((1L, 1.0)).toDF("k", "v").coalesce(1)
      TxnTable.commitOverwrite(row, table)
      (2 to 500).foreach(_ => TxnTable.commitAppend(row, table))
      assert(TxnTable.latestVersion(spark, table).contains(500L))
      assert(TxnTable.read(spark, table).count() == 500L)
      // state resolution reads at most interval manifests (10 by
      // default), however deep the history
      val (reads, bytes) = TxnTable.logReadCost(spark, table, 500L)
      assert(reads <= 11, s"resolution read $reads manifests — O(history)?")
      assert(bytes < 64 * 1024, s"resolution read $bytes log bytes")
      // off-checkpoint commits write O(change) deltas: their manifests
      // must stay tiny while the full file list is 500 entries
      val sizes = new java.io.File(table).listFiles()
        .filter(_.getName.matches("_v\\d+\\.manifest"))
        .map(f => f.getName.stripPrefix("_v").stripSuffix(".manifest").toInt
          -> f.length()).toMap
      val deltaMax = sizes.collect { case (v, len) if v % 10 != 0 && v > 1 => len }.max
      assert(deltaMax < 2048,
        s"a delta manifest is $deltaMax bytes — rewriting cumulative state?")
      // checkpoints DO carry the full list (sanity that deltas are not
      // just empty): the last one dwarfs any delta
      assert(sizes(500) > 10 * deltaMax)
      // time travel resolves mid-chain versions exactly
      assert(TxnTable.readVersion(spark, table, 123L).count() == 123L)
      // vacuum keeps the chain base of the oldest retained version:
      // every surviving snapshot stays readable
      TxnTable.vacuum(spark, table, keep = 5)
      assert(TxnTable.read(spark, table).count() == 500L)
      assert(TxnTable.readVersion(spark, table, 496L).count() == 496L)
    }
  }

  test("deleteRange retains NULL-keyed rows: covered-drop guard + complement filter") {
    import spark.implicits._
    withZone { table =>
      // file A: keys 10..50 PLUS two NULL keys — min/max sit fully
      // inside the delete range, but min/max ignore NULLs, so a
      // metadata-only drop would delete the NULL rows; the manifest's
      // null count must force a rewrite instead
      val fileA = Seq[(Option[Long], Double)](
        (Some(10L), 1.0), (Some(50L), 2.0), (None, 3.0), (None, 4.0))
        .toDF("k", "v").coalesce(1)
      // file B: null-free and fully covered — the legitimate
      // metadata-only drop
      val fileB = Seq[(Option[Long], Double)]((Some(60L), 5.0), (Some(90L), 6.0))
        .toDF("k", "v").coalesce(1)
      // file C: disjoint, carried by reference
      val fileC = Seq[(Option[Long], Double)]((Some(1000L), 7.0), (Some(2000L), 8.0))
        .toDF("k", "v").coalesce(1)
      TxnTable.commitOverwrite(fileA, table, statsCols = Seq("k"))
      TxnTable.commitAppend(fileB, table, statsCols = Seq("k"))
      TxnTable.commitAppend(fileC, table, statsCols = Seq("k"))
      val before = TxnTable.snapshotFiles(spark, table, 3L)
      assert(before.size == 3)
      val Seq(fA, fB, fC) = before
      val v = TxnTable.deleteRange(spark, table, "k", lo = 0, hi = 500)
      val after = TxnTable.snapshotFiles(spark, table, v).toSet
      assert(after.contains(fC), "disjoint file must carry forward by reference")
      assert(!after.contains(fB), "null-free covered file must drop as metadata")
      assert(!after.contains(fA), "covered-but-nulled file must be rewritten, not dropped")
      assert((after - fC).nonEmpty, "rewrite of file A must produce output")
      val rows = TxnTable.read(spark, table).orderBy($"v").collect()
      // survivors: A's two NULL-keyed rows + C's two disjoint rows
      assert(rows.map(_.getDouble(1)).toSeq == Seq(3.0, 4.0, 7.0, 8.0))
      assert(rows.take(2).forall(_.isNullAt(0)), "NULL keys must survive DELETE")
    }
  }

  test("concurrent merges on disjoint keys: pinned CAS retries, both land") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(6, $"c_custkey").sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      val gate = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      val fs = Seq(5L, 25L).map { key =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await(10, TimeUnit.SECONDS)
            TxnTable.merge(
              Seq((key, key * 100.0)).toDF("c_custkey", "c_acctbal"),
              table, "c_custkey")
          }
        })
      }
      gate.countDown()
      val versions = fs.map(_.get(300, TimeUnit.SECONDS)).sorted
      pool.shutdown()
      // the loser recomputed against the winner's snapshot — both
      // updates survive, row count unchanged (pure updates, no inserts)
      assert(versions == Seq(2L, 3L))
      val t = TxnTable.read(spark, table)
      assert(t.count() == cust.count())
      assert(t.filter($"c_custkey" === 5L).select($"c_acctbal")
        .as[Double].head() == 500.0)
      assert(t.filter($"c_custkey" === 25L).select($"c_acctbal")
        .as[Double].head() == 2500.0)
    }
  }

  test("compact rewrites the snapshot into fewer files without changing rows") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
      TxnTable.commitOverwrite(cust.repartition(8), table)
      assert(nFiles(table, 1) > 1)
      val v = TxnTable.compact(spark, table)
      assert(v == 2L && TxnTable.latestVersion(spark, table).contains(2L))
      assert(nFiles(table, 2) == 1)
      assert(TxnTable.read(spark, table).count() == cust.count())
      TxnTable.vacuum(spark, table)
      assert(TxnTable.versions(spark, table) == Seq(2L))
    }
  }

  test("compact preserves skipping metadata: stats, blooms, and row counts survive") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(cust.repartition(8), table,
        statsCols = Seq("c_custkey"), bloomCols = Seq("c_custkey"))
      val v = TxnTable.compact(spark, table, targetFiles = 2)
      val stats = TxnTable.fileStats(spark, table, v)
      val files = TxnTable.snapshotFiles(spark, table, v)
      assert(files.size == 2)
      assert(files.forall(f =>
        stats.getOrElse(f, Nil).exists(_.col == "c_custkey")),
        "compacted files must keep the tracked column's stats")
      assert(files.forall(TxnTable.fileRows(spark, table, v).contains))
      // bloom still prunes a point lookup after compaction
      val (_, scanned, total) = TxnTable.readEquals(spark, table, "c_custkey", -12345L)
      assert(total == 2 && scanned == 0,
        s"bloom must survive compact: scanned $scanned of $total for an absent key")
    }
  }


  test("restore rolls back by reference: no data writes, markers kept, vacuum-safe") {
    import spark.implicits._
    withZone { table =>
      val cust = Tables.customer(spark, Spec.sf0001)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(cust, table, statsCols = Seq("c_custkey"))
      // a bad load lands, and an idempotent sink applies batch 5
      TxnTable.commitAppend(
        Seq((-1L, 0.0)).toDF("c_custkey", "c_acctbal"), table)
      TxnTable.commitAppendIdempotent(
        Seq((-2L, 0.0)).toDF("c_custkey", "c_acctbal"), table, "app", 5L)
      val v = TxnTable.restore(spark, table, 1L)
      assert(v == 4L)
      // rollback re-references v1's files verbatim — zero data movement
      assert(TxnTable.snapshotFiles(spark, table, v) ==
        TxnTable.snapshotFiles(spark, table, 1L))
      assert(TxnTable.read(spark, table).count() == cust.count())
      // the bad versions stay time-travelable until vacuumed
      assert(TxnTable.readVersion(spark, table, 3L).count() == cust.count() + 2)
      // txn markers come from the LATEST state, not the restored one:
      // the sink must not re-apply batch 5 after the data rollback
      assert(TxnTable.lastCommittedBatch(spark, table, "app").contains(5L))
      // a second restore is just another commit over identical content
      val v2 = TxnTable.restore(spark, table, 1L)
      assert(v2 == 5L && TxnTable.read(spark, table).count() == cust.count())
      // vacuum keeps the restored snapshot's files (they ARE referenced)
      TxnTable.vacuum(spark, table)
      assert(TxnTable.read(spark, table).count() == cust.count())
    }
  }
}
