package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnTable

/** The merge-on-read commit path shared by every deletion-vector and
  * equality-delete op: its rebase rule under a racing delete (the
  * change feed must record each deleted row once) and the Spark job
  * count each op pays per call. */
class MorCommitSpec extends AnyFunSuite {
  private lazy val spark = Spec.spark

  private def withZone(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_morc").toFile
    try body(s"${root.getAbsolutePath}/t")
    finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(root)
    }
  }

  /** 100 rows over 4 files, g = k % 5 (20 rows per g). */
  private def seed(table: String, cdf: Boolean): Unit = {
    import spark.implicits._
    Seq.range(0L, 100L).map(k => (k, s"s$k", k % 5)).toDF("k", "s", "g")
      .repartitionByRange(4, $"k")
      .write.format("graft").option("statsCols", "k,g")
      .option("mergeOnRead", "true")
      .option("enableChangeFeed", cdf.toString)
      .mode("overwrite").save(table)
  }

  private def latest(table: String): Long =
    TxnTable.latestVersion(spark, table).get

  /** Delete g = 2 through `delete`; with `race`, the same delete is
    * committed from inside the first call's predicate, so the first
    * call loses its CAS to a commit that already removed its rows.
    * Returns (change-feed delete rows, versions committed). */
  private def raced(table: String, race: Boolean,
                    delete: Cond => Long)
      : (Long, Long) = {
    seed(table, cdf = true)
    val v0 = latest(table)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(!race)
    delete { df =>
      if (fired.compareAndSet(false, true)) delete(d => d("g") === 2L)
      df("g") === 2L
    }
    val feed = TxnTable.changeFeed(spark, table, v0)
      .filter(col(TxnTable.ChangeTypeCol) === "delete")
    assert(spark.read.format("graft").load(table).count() == 80L)
    (feed.count(), latest(table) - v0)
  }

  private type Cond = DataFrame => org.apache.spark.sql.Column
  private val flavors: Seq[(String, (String, Cond) => Long)] = Seq(
    ("equality", (t: String, c: Cond) =>
      TxnTable.deleteWhereMoR(spark, t, Seq("g"), c)),
    ("positional", (t: String, c: Cond) =>
      TxnTable.deleteWherePos(spark, t, c)))

  for ((flavor, del) <- flavors)
    test(s"a $flavor delete that loses its CAS to the same delete records " +
        "each row once in the change feed") {
      withZone { table =>
        assert(raced(table, race = false, del(table, _)) == ((20L, 1L)))
      }
      withZone { table =>
        // the racing delete commits; the loser finds nothing left to
        // delete and settles without a second version
        assert(raced(table, race = true, del(table, _)) == ((20L, 1L)))
      }
    }

  /** Spark jobs of each merge-on-read op's SECOND call on a fresh
    * 100-row, 4-file table, with auto-coalesce off. */
  private def jobsPerOp(cdf: Boolean): Map[String, Int] = {
    import spark.implicits._
    def count(op: String => Unit): Int = {
      var jobs = 0
      withZone { table =>
        seed(table, cdf)
        op(table)
        jobs = Spec.counted(op(table))._2.jobs
      }
      jobs
    }
    // each call takes the next g (or the next keys), so both calls match
    def next(): () => Long = { var i = 0L; () => { i += 1; i } }
    Map(
      "deleteWhereMoR" -> { val g = next(); count { t =>
        val i = g()
        TxnTable.deleteWhereMoR(spark, t, Seq("g"), _("g") === i)
      } },
      "deleteWherePos" -> { val g = next(); count { t =>
        val i = g()
        TxnTable.deleteWherePos(spark, t, _("g") === i)
      } },
      "deleteFromPos" -> { val g = next(); count { t =>
        val i = g()
        TxnTable.deleteFromPos(spark, t, Seq(i, i + 10L).toDF("k"), Seq("k"))
      } },
      "updateWherePos" -> { val g = next(); count { t =>
        val i = g()
        TxnTable.updateWherePos(spark, t, _("g") === i, Map("s" -> lit("u")))
      } },
      "updateFromPos" -> { val g = next(); count { t =>
        val i = g()
        TxnTable.updateFromPos(spark, t,
          Seq((i, "u"), (i + 10L, "u")).toDF("k", "s"), Seq("k"))
      } },
      "replacePositions" -> { val g = next(); count { t =>
        val i = g()
        TxnTable.replacePositions(spark, t, _.filter(col("g") === i),
          Seq((1000L + i, "r", i)).toDF("k", "s", "g"))
      } })
  }

  test("each merge-on-read op runs a fixed number of Spark jobs per call") {
    spark.conf.set("graft.txn.posCoalesceAt", "0")
    try {
      // the second call's pinned read already subtracts the first
      // call's live delete
      assert(Seq(false, true).map(jobsPerOp) == Seq(
        Map("deleteWhereMoR" -> 3, "deleteWherePos" -> 5,
          "deleteFromPos" -> 8, "updateWherePos" -> 8,
          "updateFromPos" -> 12, "replacePositions" -> 9),
        Map("deleteWhereMoR" -> 5, "deleteWherePos" -> 7,
          "deleteFromPos" -> 10, "updateWherePos" -> 9,
          "updateFromPos" -> 13, "replacePositions" -> 10)))
    } finally spark.conf.unset("graft.txn.posCoalesceAt")
  }
}
