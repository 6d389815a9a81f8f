package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnTable

/** MERGE's literal-key branch: a merge whose update keys are few (at
  * most `graft.dedup.probeKeyLimit`) and of an `IN`-exact type finds
  * its touched files with a static `IN` filter and rewrites them with
  * a `NOT IN` filter — no semi-join, distinct shuffle or anti-join.
  * Each scenario merges the same updates into two byte-identical copies
  * of one table, once on the default path and once with the join
  * branch forced (`probeKeyLimit = 0`), and requires the same final
  * rows, the same removed files and the same change feed. */
class MergeProbeSpec extends AnyFunSuite {
  private lazy val spark = Spec.spark

  private def withZone(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_mprobe").toFile
    try body(root.getAbsolutePath)
    finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(root)
    }
  }

  private def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
      ()
    } finally walk.close()
  }

  private def withKeyLimit[A](limit: Int)(body: => A): A = {
    spark.conf.set("graft.dedup.probeKeyLimit", limit.toString)
    try body finally spark.conf.unset("graft.dedup.probeKeyLimit")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Source rows: `id` (nullable) → key `k` through `key`, payload `v`
    * and a partition column `g`. */
  private def frame(ids: Seq[Option[Long]], key: Column => Column,
                    bump: Long): DataFrame = {
    import spark.implicits._
    ids.toDF("id").select(
      when(col("id").isNotNull, key(col("id"))).as("k"),
      (coalesce(col("id"), lit(-1L)) + lit(bump)).as("v"),
      pmod(coalesce(col("id"), lit(0L)), lit(4L)).as("g"))
  }

  // target: even ids 0..398 plus two NULL keys; updates: matched keys,
  // a duplicated matched key, absent keys inside and outside the
  // target's range, and NULL keys
  private val targetIds: Seq[Option[Long]] =
    (0L until 400L by 2L).map(Some(_)) ++ Seq(None, None)
  private val updateIds: Seq[Option[Long]] =
    Seq(4L, 18L, 18L, 60L, 62L, 150L, 154L, 33L, 35L, 999L, 1001L)
      .map(Some(_)) ++ Seq(None, None)

  private final case class Outcome(rows: Seq[String], removed: Set[String],
                                   cdf: Seq[String], jobs: Int)

  /** Seed one table with `seed`, copy it, merge `updates` into each copy
    * (default path, then the join branch forced) and return both
    * outcomes. `drop` names columns left out of the row comparison
    * (freshly minted identity values, whose order is the shuffle's). */
  private def both(seed: String => Unit, updates: DataFrame,
                   drop: Seq[String] = Nil): (Outcome, Outcome) = {
    var out: (Outcome, Outcome) = null
    withZone { zone =>
      seed(s"$zone/base")
      copyDir(s"$zone/base", s"$zone/a")
      copyDir(s"$zone/base", s"$zone/b")
      def run(t: String, limit: Option[Int]): Outcome = {
        val before = TxnTable.latestVersion(spark, t).get
        val jobs = Spec.counted {
          limit match {
            case Some(l) => withKeyLimit(l)(TxnTable.merge(updates, t, "k"))
            case None => TxnTable.merge(updates, t, "k")
          }
        }._2.jobs
        val after = TxnTable.latestVersion(spark, t).get
        assert(after == before + 1, s"merge into $t must commit once")
        val removed = TxnTable.snapshotFiles(spark, t, before).toSet --
          TxnTable.snapshotFiles(spark, t, after)
        val cdf =
          if (!TxnTable.changeFeedEnabled(spark, t)) Nil
          else sortedRows(TxnTable.changeFeed(spark, t, sinceVersion = before)
            .drop(("_commit_timestamp" +: drop): _*))
        Outcome(sortedRows(TxnTable.read(spark, t).drop(drop: _*)), removed,
          cdf, jobs)
      }
      out = (run(s"$zone/a", None), run(s"$zone/b", Some(0)))
    }
    out
  }

  private def sameOutcome(dflt: Outcome, join: Outcome, what: String): Unit = {
    assert(dflt.rows == join.rows, s"$what: final rows differ")
    assert(dflt.removed == join.removed, s"$what: removed files differ")
    assert(dflt.cdf == join.cdf, s"$what: change feeds differ")
  }

  /** The rows a merge must leave: target rows whose key is NULL or not
    * an update key, plus every update row. */
  private def expected(target: DataFrame, updates: DataFrame): Seq[String] = {
    val upd = updates.collect().toSeq
    val keys = upd.map(_.get(0)).filter(_ != null).toSet
    (target.collect().filterNot(r => r.get(0) != null && keys(r.get(0))) ++ upd)
      .map(_.toString).toSeq.sorted
  }

  test("a 400-key merge into an 8-file table schedules at most 3 jobs") {
    withZone { zone =>
      val t = s"$zone/t"
      TxnTable.commitOverwrite(
        spark.range(0L, 8000L).select(col("id").as("k"), (col("id") * 3L).as("v"))
          .repartitionByRange(8, col("k")),
        t, statsCols = Seq("k"), bloomCols = Seq("k"))
      assert(TxnTable.snapshotFiles(spark, t,
        TxnTable.latestVersion(spark, t).get).size == 8)
      val updates = spark.range(1000L, 1400L)
        .select(col("id").as("k"), (col("id") * 3L + 1L).as("v"))
      val jobs = Spec.counted(TxnTable.merge(updates, t, "k"))._2.jobs
      // the key gather, the touched-file probe, the rewrite's write
      assert(jobs <= 3, s"$jobs jobs")
      val got = TxnTable.read(spark, t)
      assert(got.count() == 8000L)
      assert(got.filter(col("v") === col("k") * 3L + 1L).count() == 400L)
    }
  }

  private val keyTypes: Seq[(String, Column => Column)] = Seq(
    "long" -> (c => c),
    "int" -> (c => c.cast("int")),
    "string" -> (c => format_string("k%05d", c)),
    "date" -> (c => date_add(lit("2020-01-01").cast("date"), c.cast("int"))),
    "timestamp" -> (c => timestamp_seconds(c * 3600L)),
    "decimal" -> (c => (c / 100).cast("decimal(12,2)")))

  keyTypes.foreach { case (name, key) =>
    test(s"$name keys: the literal branch equals the join branch") {
      val target = frame(targetIds, key, 0L)
      val updates = frame(updateIds, key, 100000L)
      val (dflt, join) = both(t => TxnTable.commitOverwrite(
        target.repartitionByRange(8, col("k")), t,
        statsCols = Seq("k"), bloomCols = Seq("k")), updates)
      sameOutcome(dflt, join, name)
      assert(dflt.rows == expected(target, updates), s"$name: wrong rows")
      assert(dflt.removed.nonEmpty)
      assert(dflt.jobs < join.jobs,
        s"$name: ${dflt.jobs} jobs must be fewer than the join's ${join.jobs}")
    }
  }

  test("merge-on-read-deleted target rows: both branches agree") {
    val key: Column => Column = c => c
    val target = frame(targetIds, key, 0L)
    val updates = frame(updateIds, key, 100000L)
    val (dflt, join) = both({ t =>
      TxnTable.commitOverwrite(target.repartitionByRange(8, col("k")), t,
        statsCols = Seq("k"), bloomCols = Seq("k"), mor = Some(true))
      // 18 and 60 are update keys: their target rows are already gone
      TxnTable.deleteWhereMoR(spark, t, Seq("k"), df => df("k").isin(18L, 60L, 100L))
      ()
    }, updates)
    sameOutcome(dflt, join, "mor")
    val live = target.filter(!col("k").isin(18L, 60L, 100L) || col("k").isNull)
    assert(dflt.rows == expected(live, updates))
    assert(dflt.jobs < join.jobs)
  }

  test("partitioned table: both branches agree") {
    val key: Column => Column = c => c
    val target = frame(targetIds, key, 0L)
    val updates = frame(updateIds, key, 100000L)
    val (dflt, join) = both(t => TxnTable.commitOverwrite(target, t,
      statsCols = Seq("k"), bloomCols = Seq("k"), partitionCols = Seq("g")),
      updates)
    sameOutcome(dflt, join, "partitioned")
    assert(dflt.rows == expected(target, updates))
    assert(dflt.jobs < join.jobs)
  }

  test("identity column: matched rows inherit, inserts mint; both branches agree") {
    val key: Column => Column = c => format_string("k%05d", c)
    val target = frame(targetIds, key, 0L)
    val updates = frame(updateIds, key, 100000L)
    val seed = (t: String) => { TxnTable.commitOverwrite(
      TxnTable.withIdentityColumn(target.repartitionByRange(8, col("k")), "id"),
      t, statsCols = Seq("k"), bloomCols = Seq("k")); () }
    val (dflt, join) = both(seed, updates, drop = Seq("id"))
    sameOutcome(dflt, join, "identity")
    assert(dflt.rows == expected(target, updates))
    // with the ids: the same values exist, and every matched key keeps
    // its own (minted values may pair with inserts in either order)
    val (dflt2, join2) = both(seed, updates)
    // rows render `[id,k,v,g]`: the identity column leads
    def ids(o: Outcome) = o.rows.map(_.stripPrefix("[").split(',').head).sorted
    assert(ids(dflt2) == ids(join2))
    def idOf(o: Outcome, k: String) = o.rows.filter(_.contains(s",$k,"))
    Seq("k00004", "k00018", "k00062", "k00150").foreach { k =>
      assert(idOf(dflt2, k).nonEmpty && idOf(dflt2, k) == idOf(join2, k), k)
    }
  }

  test("CDF on: both branches write the same change feed") {
    val key: Column => Column = c => c.cast("int")
    val target = frame(targetIds, key, 0L)
    val updates = frame(updateIds, key, 100000L)
    val (dflt, join) = both(t => TxnTable.commitOverwrite(
      target.repartitionByRange(8, col("k")), t,
      statsCols = Seq("k"), bloomCols = Seq("k"), cdf = Some(true)), updates)
    sameOutcome(dflt, join, "cdf")
    assert(dflt.cdf.exists(_.contains("update_preimage")) &&
      dflt.cdf.exists(_.contains("update_postimage")) &&
      dflt.cdf.exists(_.contains("insert")))
    assert(dflt.jobs < join.jobs)
  }

  test("double keys with NaN and -0.0 take the join branch") {
    import spark.implicits._
    val target = Seq[(Option[Double], Long)](
      (Some(Double.NaN), 1L), (Some(-0.0), 2L), (Some(1.5), 3L),
      (Some(2.5), 4L), (None, 5L)).toDF("k", "v")
    val updates = Seq[(Option[Double], Long)](
      (Some(Double.NaN), 10L), (Some(0.0), 20L), (Some(2.5), 40L),
      (Some(7.0), 70L)).toDF("k", "v")
    val (dflt, join) = both(t => TxnTable.commitOverwrite(
      target.repartition(2), t, statsCols = Seq("k")), updates)
    sameOutcome(dflt, join, "double")
    assert(dflt.jobs == join.jobs, "a double key must take the join branch")
    // the join's equality: NaN matches NaN, 0.0 matches -0.0
    assert(dflt.rows == Seq("[0.0,20]", "[1.5,3]", "[2.5,40]", "[7.0,70]",
      "[NaN,10]", "[null,5]"))
  }

  test("a merge over the key limit takes the join branch") {
    val key: Column => Column = c => c
    val target = frame(targetIds, key, 0L)
    // 1100 distinct keys: past the default limit of 1024
    val updates = frame((0L until 1100L).map(Some(_)), key, 100000L)
    val (dflt, join) = both(t => TxnTable.commitOverwrite(
      target.repartitionByRange(8, col("k")), t, statsCols = Seq("k")),
      updates)
    sameOutcome(dflt, join, "over the limit")
    assert(dflt.rows == expected(target, updates))
    assert(dflt.jobs == join.jobs, "past the limit a merge joins")
  }
}
