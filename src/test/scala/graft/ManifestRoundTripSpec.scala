package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnTable

/** FULL vs DELTA manifests describe the same snapshot: one op sequence
  * runs against two tables, one with `graft.txn.checkpointInterval=1`
  * (every commit a full manifest) and one with 1000 (every commit that
  * may be a delta is one). The writer renders a commit either way from
  * the same change, and the reader replays a delta through the same
  * function the writer used — so after every step both tables must read
  * the same rows, schema, constraints, properties and history. */
class ManifestRoundTripSpec extends AnyFunSuite {
  private lazy val spark = Spec.spark

  private def withZone(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_rt").toFile
    try body(root.getAbsolutePath)
    finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(root)
    }
  }

  test("every op reads back identically from full and delta manifests") {
    withZone { zone =>
      import spark.implicits._
      val tables = Seq("1" -> s"$zone/full", "1000" -> s"$zone/delta")
      def fingerprint(t: String) = {
        val df = spark.read.format("graft").load(t)
        (df.schema.fields.map(f => (f.name, f.dataType)).toSeq,
          df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")),
          TxnTable.checkConstraints(spark, t),
          TxnTable.tableProperties(spark, t),
          TxnTable.commitLog(spark, t).map(_.op))
      }
      def step(what: String)(op: String => Any): Unit = {
        tables.foreach { case (interval, t) =>
          spark.conf.set("graft.txn.checkpointInterval", interval)
          try op(t) finally spark.conf.unset("graft.txn.checkpointInterval")
        }
        val Seq(full, delta) = tables.map(t => fingerprint(t._2))
        assert(full == delta, s"full and delta tables diverge after $what")
      }
      def rows(ks: Seq[Long]) =
        ks.map(k => (k, k * 10L, k % 4L)).toDF("k", "v", "g")

      step("overwrite") { t =>
        TxnTable.commitOverwrite(rows(0L until 40L).repartition(4), t,
          statsCols = Seq("k"))
      }
      step("append")(TxnTable.commitAppend(rows(40L until 50L), _))
      step("delete equals")(TxnTable.deleteEquals(spark, _, "k", 3L))
      step("merge") { t =>
        TxnTable.merge(Seq((5L, -5L, 1L), (60L, 600L, 0L)).toDF("k", "v", "g"),
          t, "k")
      }
      // the interval-1000 table now resolves through a delta chain
      val Seq(fullReads, deltaReads) = tables.map { case (_, t) =>
        TxnTable.logReadCost(spark, t, TxnTable.latestVersion(spark, t).get)._1
      }
      assert(fullReads == 1 && deltaReads > 1, (fullReads, deltaReads))
      val beforeMoR = TxnTable.latestVersion(spark, tables.head._2).get
      step("ALTER: add constraint")(TxnTable.addCheck(spark, _, "k_nonneg", "k >= 0"))
      step("set properties")(TxnTable.setProperties(spark, _, Map("owner" -> "etl")))
      step("merge-on-read delete") { t =>
        TxnTable.deleteWhereMoR(spark, t, Seq("g"), df => df("g") === 2L)
      }
      step("positional delete") { t =>
        TxnTable.deleteFromPos(spark, t, Seq(7L, 11L).toDF("k"), Seq("k"))
      }
      step("merge-on-read upsert") { t =>
        TxnTable.updateWherePos(spark, t, df => df("k") === 20L,
          Map("v" -> lit(999L)))
      }
      step("append after deletes")(TxnTable.commitAppend(rows(70L until 75L), _))
      step("compact")(TxnTable.compact(spark, _))
      step("restore")(TxnTable.restore(spark, _, beforeMoR))
      step("overwrite a populated table") { t =>
        TxnTable.commitOverwrite(rows(100L until 110L), t, statsCols = Seq("k"))
      }
    }
  }
}
