package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnTable

/** SCHEMA EVOLUTION UNDER A CHANGE-FEED SUBSCRIPTION — what a corpus
  * `ADD COLUMN` does to a running, checkpointed CDF subscriber is a
  * CONTRACT, not an accident (GraftCdc.plan's schema-boundary gate):
  *
  *   - mid-stream, additive: the subscriber keeps the schema its
  *     handle was created with; post-evolution commits keep flowing,
  *     projected to that schema (the added column is invisible until
  *     restart) — adapt, never corrupt;
  *   - across a restart: the new handle carries the evolved schema;
  *     pre-evolution rows surface the added column as NULL (ordinary
  *     log-driven evolution), and the checkpoint prevents redelivery;
  *   - NON-additive (drop/rename/retype of a subscribed column): the
  *     feed's raw file scan cannot coalesce name vintages the way the
  *     batch planner does, so the window REFUSES loudly instead of
  *     serving NULLs where data exists under another name. */
class CdcEvolutionSpec extends AnyFunSuite {
  private lazy val spark = Spec.spark
  import spark.implicits._

  private def withZone(f: String => Unit): Unit = {
    val zone =
      java.nio.file.Files.createTempDirectory("graft_cdcevo").toFile
    try f(zone.getAbsolutePath)
    finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete(); ()
      }
      rm(zone)
    }
  }

  private def await(what: String)(pred: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 120000L
    while (!pred && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(pred, s"timed out waiting for $what")
  }

  test("ADD COLUMN mid-drain: the running subscriber keeps its " +
      "schema; a restart adopts the new one without redelivery") {
    withZone { zone =>
      val t = s"$zone/corpus"
      val cp = s"$zone/cp"
      TxnTable.commitOverwrite(
        (0L until 5L).map(k => (k, k * 2L)).toDF("k", "v"), t,
        statsCols = Seq("k"), cdf = Some(true), mor = Some(true))
      // every delivered batch's (column set, keys) — the contract is
      // about SCHEMA, so capture it alongside the rows
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[
        (Seq[String], Seq[Long])]()
      def keys: Set[Long] =
        seen.toArray(Array.empty[(Seq[String], Seq[Long])])
          .flatMap(_._2).toSet
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(t)
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            val rows = b.select(col("k")).collect()
              .map(_.getLong(0)).toSeq
            if (rows.nonEmpty) seen.add((b.columns.toSeq, rows))
            ()
        }
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .start()
      try {
        await("the initial snapshot")((0L until 5L).toSet.subsetOf(keys))
        // the evolution + post-evolution commit land while the
        // subscriber RUNS — its handle predates the column
        TxnTable.addColumns(spark, t,
          StructType(Seq(StructField("w", LongType))))
        TxnTable.commitAppend(
          Seq((10L, 20L, 100L), (11L, 22L, 110L)).toDF("k", "v", "w"), t)
        await("the post-evolution batch")(keys.contains(10L))
        // drain AND commit outstanding offsets before stopping —
        // stop() right after the foreachBatch callback can land before
        // the offset commit, and the restart below would legitimately
        // redeliver (at-least-once), failing the no-redelivery assert
        q.processAllAvailable()
      } finally q.stop()
      val batches = seen.toArray(Array.empty[(Seq[String], Seq[Long])])
      assert(batches.forall(!_._1.contains("w")),
        "a running subscriber must keep its handle's schema — the " +
          s"added column leaked mid-stream: ${batches.map(_._1).toSeq}")
      // restart from the SAME checkpoint: the new handle sees the
      // evolved schema, delivers only NEW commits (no redelivery),
      // and their added-column values are real, not null
      TxnTable.commitAppend(
        Seq((20L, 40L, 200L)).toDF("k", "v", "w"), t)
      val seen2 = new java.util.concurrent.ConcurrentLinkedQueue[
        (Seq[String], Seq[(Long, Any)])]()
      val q2 = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(t)
        .writeStream
        .option("checkpointLocation", cp)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            val rows = b.select(col("k"), col("w")).collect()
              .map(r => (r.getLong(0), r.get(1))).toSeq
            if (rows.nonEmpty) seen2.add((b.columns.toSeq, rows))
            ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
      val rows2 = seen2.toArray(
        Array.empty[(Seq[String], Seq[(Long, Any)])]).toSeq
      val delivered = rows2.flatMap(_._2)
      assert(delivered.map(_._1).toSet == Set(20L),
        s"a checkpointed restart must deliver ONLY new commits — got " +
          s"${delivered.map(_._1)}")
      assert(delivered.forall(_._2 == 200L),
        "the restarted subscriber must see the added column's values")
      assert(rows2.forall(_._1.contains("w")),
        "the restarted handle must carry the evolved schema")
    }
  }

  test("a fresh full-history read null-fills pre-evolution rows " +
      "(log-driven evolution through the feed)") {
    withZone { zone =>
      val t = s"$zone/corpus"
      TxnTable.commitOverwrite(
        (0L until 3L).map(k => (k, k)).toDF("k", "v"), t,
        statsCols = Seq("k"), cdf = Some(true), mor = Some(true))
      TxnTable.addColumns(spark, t,
        StructType(Seq(StructField("w", LongType))))
      TxnTable.commitAppend(Seq((10L, 10L, 99L)).toDF("k", "v", "w"), t)
      val feed = spark.read.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0").load(t)
        .select($"k", $"w").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      assert((0L until 3L).forall(k => feed(k).isEmpty),
        "pre-evolution rows must surface the added column as NULL")
      assert(feed(10L).contains(99L),
        "post-evolution rows must carry the added column's value")
      // regression: a WINDOW that ends BEFORE the ADD COLUMN commit
      // (bounded read, or a throttled stream's early microbatch) is
      // the additive-safe case too — the gate must null-fill, never
      // misread "not yet added at until" as "dropped/renamed"
      val early = spark.read.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("endingVersion", "1").load(t)
        .select($"k", $"w").collect()
        .map(r => (r.getLong(0), r.isNullAt(1)))
      assert(early.nonEmpty && early.forall(_._2),
        "a pre-evolution window must serve the subscriber's added " +
          "column as NULL, not refuse")
    }
  }

  test("non-additive evolution refuses the window loudly instead of " +
      "serving nulls where data exists") {
    withZone { zone =>
      val t = s"$zone/corpus"
      TxnTable.commitOverwrite(
        (0L until 3L).map(k => (k, k)).toDF("k", "v"), t,
        statsCols = Seq("k"), cdf = Some(true), mor = Some(true))
      TxnTable.commitAppend(Seq((10L, 10L)).toDF("k", "v"), t)
      TxnTable.renameColumn(spark, t, "v", "vv")
      val e = intercept[IllegalArgumentException] {
        spark.read.format("graft")
          .option("readChangeFeed", "true")
          .option("startingVersion", "0").load(t)
          .collect()
      }
      assert(e.getMessage.contains("RENAME vintage"),
        s"expected the rename-vintage refusal, got: ${e.getMessage}")
    }
  }

  test("a bounded historical read ending before a drop-via-overwrite is " +
      "served; the same read past the drop still refuses") {
    withZone { zone =>
      val t = s"$zone/corpus"
      TxnTable.commitOverwrite(
        (0L until 3L).map(k => (k, k * 10L)).toDF("k", "v"), t,
        cdf = Some(true))
      TxnTable.commitAppend(Seq((7L, 70L)).toDF("k", "v"), t)
      val beforeDrop = TxnTable.latestVersion(spark, t).get
      // `v` leaves through an OVERWRITE: no retired or alias marker
      TxnTable.commitOverwrite(Seq(9L).toDF("k"), t)
      // the subscriber's handle pins the pre-drop schema (k, v)
      def feed(until: Long) = spark.read.format("graft")
        .option("readChangeFeed", "true")
        .option("versionAsOf", beforeDrop.toString)
        .option("startingVersion", "0")
        .option("endingVersion", until.toString).load(t)
      val served = feed(beforeDrop)
        .select($"k", $"v", $"_change_type").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(served == Set((0L, 0L, "insert"), (1L, 10L, "insert"),
        (2L, 20L, "insert"), (7L, 70L, "insert")),
        "every commit of the window stores `v` under its subscribed name")
      val e = intercept[IllegalArgumentException] {
        feed(beforeDrop + 1L).collect()
      }
      assert(e.getMessage.contains("no longer has column 'v'"),
        s"expected the drop-via-overwrite refusal, got: ${e.getMessage}")
    }
  }
}
