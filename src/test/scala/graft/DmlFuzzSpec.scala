package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import graft.io.TxnTable

/** Randomized CONCURRENT-DML fuzz over one table: N threads each fire a
  * seeded random sequence of {append, MERGE, positional DELETE,
  * positional UPDATE, one-commit REPLACE (positional delete + append,
  * the d51 displacement primitive), OPTIMIZE} at the same table with no
  * coordination.
  * The serializability oracle: graft commits are linearized by the
  * manifest CAS, so the valid serial orders are exactly version order
  * with each op's logical effect applied at the version it committed —
  * every op reports its commit version, the model replays the claimed
  * ops in version order against an in-memory map, and the final table
  * must equal the model. This machine-checks what the hand-picked race
  * specs (TxnSinkSpec, SqlDmlSpec) only sample: that ANY interleaving
  * of the DML surface is equivalent to a serial replay — lost updates,
  * double-applied deletes, or a commit that "failed" after publishing
  * all surface as a multiset mismatch.
  *
  * One wrinkle: the predicate ops legitimately return the CURRENT
  * version when nothing matched (documented no-op), so a version can
  * carry several claims. The real committer is always among the
  * claimants (every version ≥ 2 here is committed by one of our ops),
  * so the checker searches the small assignment space — "equals SOME
  * serial order's replay", literally. Appends and merges can never
  * no-op, so a version with two such claims is an immediate failure. */
class DmlFuzzSpec extends AnyFunSuite {
  private lazy val spark = Spec.spark
  import spark.implicits._

  private sealed trait Op { def canNoOp: Boolean }
  private case class Append(rows: Seq[(Long, Long)]) extends Op {
    val canNoOp = false
  }
  private case class Merge(rows: Seq[(Long, Long)]) extends Op {
    val canNoOp = false
  }
  private case class VecDelete(mod: Long, r: Long) extends Op {
    val canNoOp = true
  }
  // frame-keyed positional delete (deleteFromPos — the takedown
  // spelling): same pinned-snapshot semantics and residue class as
  // VecDelete; the keys frame enumerates the init pool's residue
  // members (all < 50), so its effect equals the predicate's
  private case class FrameDelete(mod: Long, r: Long) extends Op {
    val canNoOp = true
  }
  private case class EqDelete(mod: Long, r: Long) extends Op {
    val canNoOp = true
  }
  private case class PosUpdate(mod: Long, r: Long, delta: Long) extends Op {
    val canNoOp = true
  }
  // one-commit positional delete + append (the d51 displacement
  // primitive): always publishes (its appends are never empty), so a
  // version it claims is pinned to it
  private case class Replace(mod: Long, r: Long,
      rows: Seq[(Long, Long)]) extends Op {
    val canNoOp = false
  }
  private case object Optimize extends Op { val canNoOp = true }
  // the key-scoped copy-on-write ops (deleteEquals, deleteRangeOn,
  // replaceValues): they refuse merge-on-read tables, so they race on
  // a copy-on-write one (see randomScopedOp)
  private case class KeyDelete(k: Long) extends Op { val canNoOp = true }
  private case class RangeDelete(lo: Long, hi: Long) extends Op {
    val canNoOp = true
  }
  private case class ValuesReplace(rows: Seq[(Long, Long)]) extends Op {
    val canNoOp = false
  }

  private def applyModel(state: Map[Long, Long], op: Op): Map[Long, Long] =
    op match {
      case Append(rows) => state ++ rows
      case Merge(rows) => state ++ rows
      case VecDelete(m, r) => state.filterNot { case (k, _) => k % m == r }
      case FrameDelete(m, r) =>
        state.filterNot { case (k, _) => k % m == r }
      case EqDelete(m, r) => state.filterNot { case (k, _) => k % m == r }
      case PosUpdate(m, r, d) =>
        state.map { case (k, v) => k -> (if (k % m == r) v + d else v) }
      case Replace(m, r, rows) =>
        state.filterNot { case (k, _) => k % m == r } ++ rows
      case Optimize => state
      case KeyDelete(k) => state - k
      case RangeDelete(lo, hi) =>
        state.filterNot { case (k, _) => k >= lo && k <= hi }
      case ValuesReplace(rows) => state -- rows.map(_._1) ++ rows
    }

  private def run(op: Op, table: String,
      enrich: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        identity): Long = op match {
    case Append(rows) =>
      TxnTable.commitAppend(enrich(rows.toDF("k", "v")), table)
    case Merge(rows) =>
      TxnTable.merge(enrich(rows.toDF("k", "v")), table, "k")
    case VecDelete(m, r) =>
      TxnTable.deleteWherePos(spark, table, df => df("k") % m === r)
    case FrameDelete(m, r) =>
      TxnTable.deleteFromPos(spark, table,
        spark.range(0L, 5L).select((col("id") * m + r).as("k")),
        Seq("k"))
    case EqDelete(m, r) =>
      TxnTable.deleteWhereMoR(spark, table, Seq("k"),
        df => df("k") % m === r)
    case PosUpdate(m, r, d) =>
      TxnTable.updateWherePos(spark, table,
        df => df("k") % m === r, Map("v" -> (col("v") + lit(d))))
    case Replace(m, r, rows) =>
      TxnTable.replacePositions(spark, table,
        snap => snap.filter(col("k") % m === r),
        enrich(rows.toDF("k", "v")))
    case Optimize =>
      TxnTable.compact(spark, table, targetFiles = 2)
    case KeyDelete(k) => TxnTable.deleteEquals(spark, table, "k", k)
    case RangeDelete(lo, hi) =>
      TxnTable.deleteRangeOn(spark, table, "k", lo, hi)
    case ValuesReplace(rows) =>
      TxnTable.replaceValues(rows.toDF("k", "v"), table, "k", rows.map(_._1))
  }

  /** Key-class discipline: the positional ops (vector delete/update)
    * have DOCUMENTED pinned-snapshot semantics — their commit loop
    * rebases over interleaved appends and other vectors, so rows added
    * between their pin and their commit are untouched by construction.
    * Version-order replay models an op's effect at its COMMIT, so every
    * row a positional predicate can match must be invisible to
    * concurrent insertion: predicates hit residues {0..5} mod 10 (init
    * rows only), while appends and merges insert keys ≡ {7,8,9} mod 10.
    * Delete and update residue classes are additionally disjoint from
    * each other (even vs odd) because each rebases over the other's
    * commits. Merges still race every op kind on shared files, and the
    * maintenance ops race everything on the whole table. */
  private def randomOp(rnd: scala.util.Random, tid: Int, i: Int): Op =
    rnd.nextInt(10) match {
      case 0 | 1 | 2 =>
        // globally unique keys: (tid, i)-namespaced, far above the pool
        val base = 1000000L * (tid + 1) + 1000L * i + 7L
        Append((0L until 3L).map(j => (base + j, base + j)))
      case 3 | 4 =>
        // merge over a SHARED pool slice: races every other op kind
        val ks = Seq.fill(3)(10L * rnd.nextInt(5) + 7L + rnd.nextInt(3))
          .distinct
        Merge(ks.map(k => (k, 7000L + rnd.nextInt(1000))))
      case 5 =>
        val r = 2L * rnd.nextInt(2)
        if (rnd.nextBoolean()) VecDelete(10L, r) else FrameDelete(10L, r)
      // equality-flavor MoR delete owns residue 6: keys no other op
      // kind ever (re)inserts, so its key-tuple effect is identical at
      // pin and commit
      case 6 => EqDelete(10L, 6L)
      case 7 => PosUpdate(10L, 2L * rnd.nextInt(3) + 1L, 1L)
      // one-commit replace owns residue 4 (ceded by VecDelete above);
      // its appended keys live in the (tid, i) namespace like Append's
      // — a (tid, i) runs exactly one op, so the bases never collide
      case 8 =>
        val base = 1000000L * (tid + 1) + 1000L * i + 7L
        Replace(10L, 4L, (0L until 2L).map(j => (base + j, base + j)))
      case _ => Optimize
    }

  /** The key-scoped copy-on-write mix: every op commits against the
    * snapshot it publishes on (a lost CAS recomputes, or rebases over
    * appends whose stats refute the op's key envelope), so no key
    * discipline is needed — deletes, replaces and merges all hit one
    * shared pool [0, 60) while appends land far above it, the
    * stats-disjoint shape the rebase serves. */
  private def randomScopedOp(rnd: scala.util.Random, tid: Int, i: Int): Op =
    rnd.nextInt(8) match {
      case 0 | 1 =>
        val base = 1000000L * (tid + 1) + 1000L * i + 7L
        Append((0L until 3L).map(j => (base + j, base + j)))
      case 2 | 3 =>
        Merge(Seq.fill(3)(rnd.nextInt(60).toLong).distinct
          .map(k => (k, 7000L + rnd.nextInt(1000))))
      case 4 | 5 => KeyDelete(rnd.nextInt(60).toLong)
      case 6 =>
        val lo = rnd.nextInt(56).toLong
        RangeDelete(lo, lo + 4L)
      case _ =>
        ValuesReplace(Seq.fill(2)(rnd.nextInt(60).toLong).distinct
          .map(k => (k, 9000L + rnd.nextInt(1000))))
    }

  /** Every consistent owner assignment over the multi-claim versions:
    * per version pick one claimant as the real committer (the rest were
    * no-op returns). Versions with a no-op-incapable claimant are
    * pinned to it. */
  private def assignments(claims: Map[Long, Seq[Op]])
      : Seq[Map[Long, Op]] = {
    claims.foreach { case (v, ops) =>
      assert(ops.count(!_.canNoOp) <= 1,
        s"version $v claimed by two ops that cannot no-op: $ops")
    }
    val versions = claims.keys.toSeq.sorted
    versions.foldLeft(Seq(Map.empty[Long, Op])) { (acc, v) =>
      val cands = claims(v).filterNot(_.canNoOp) match {
        case Seq(pinned) => Seq(pinned)
        case _ => claims(v).distinct
      }
      assert(acc.size * cands.size <= 100000, "assignment space blew up")
      acc.flatMap(m => cands.map(c => m + (v -> c)))
    }
  }

  test("concurrent DML equals its version-order serial replay (seeded)") {
    serialReplayFuzz()
  }

  // the 3-key merges above take merge's literal-key branch; this arm
  // races the same schedule through its semi-join/anti-join branch
  test("concurrent DML with join-branch merges equals its serial replay") {
    spark.conf.set("graft.dedup.probeKeyLimit", "0")
    try serialReplayFuzz()
    finally spark.conf.unset("graft.dedup.probeKeyLimit")
  }

  // the scoped rewrite core under race: point and range deletes, value
  // replaces and merges over shared keys, appends stats-disjoint from
  // them, on a copy-on-write table with stats and a bloom on the key
  test("concurrent key-scoped deletes and replaces equal their serial replay") {
    serialReplayFuzz(Map("bloomCols" -> "k"), randomScopedOp)
  }

  private def serialReplayFuzz(
      tableOpts: Map[String, String] = Map("mergeOnRead" -> "true"),
      nextOp: (scala.util.Random, Int, Int) => Op = randomOp): Unit = {
    val threads = 4
    val opsPerThread = 4
    // dev knob: GRAFT_DMLFUZZ_EXTRA widens the sweep for bug hunts
    val scenarios = 8 + sys.env.get("GRAFT_DMLFUZZ_EXTRA")
      .map(_.toInt).getOrElse(0) // 8 × 4 × 4 = 128 racing ops default
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(
        java.util.concurrent.Executors.newFixedThreadPool(threads))
    // low threshold so positional-sidecar AUTO-COALESCE fires MID-RACE:
    // its full-manifest commit replacing the delete set must serialize
    // cleanly against every op kind (a coalesce-owned version is
    // unclaimed in the replay — a logical no-op, which the final
    // equality check verifies it truly is)
    spark.conf.set("graft.txn.posCoalesceAt", "2")
    try (1 to scenarios).foreach { seed =>
      val root = java.nio.file.Files.createTempDirectory("graft_fuzz").toFile
      val table = s"${root.getAbsolutePath}/t"
      try {
        val init = (0L until 50L).map(k => (k, k))
        init.toDF("k", "v").coalesce(2)
          .write.format("graft").option("statsCols", "k")
          .options(tableOpts).mode("overwrite").save(table)
        val claimsQ =
          new java.util.concurrent.ConcurrentLinkedQueue[(Long, Op)]()
        val futures = (0 until threads).map { tid =>
          Future {
            val rnd = new scala.util.Random(seed * 1000 + tid)
            (0 until opsPerThread).foreach { i =>
              val op = nextOp(rnd, tid, i)
              // CAS retries internally; a throw here fails the test —
              // every op must eventually commit (or no-op cleanly)
              claimsQ.add(run(op, table) -> op)
              ()
            }
          }
        }
        Await.result(Future.sequence(futures), 10.minutes)
        val claims = claimsQ.toArray(Array.empty[(Long, Op)])
          .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).toSeq }
        val latest = TxnTable.latestVersion(spark, table).get
        val got = spark.read.format("graft").load(table)
          .select($"k", $"v").as[(Long, Long)].collect().toSeq
        assert(got.size == got.distinct.size &&
            got.map(_._1).distinct.size == got.size,
          s"seed $seed: duplicate keys in final state")
        val gotMap = got.toMap
        // replay every consistent ownership assignment in version
        // order (unclaimed versions — auto-maintenance — are logical
        // no-ops); the run passes if ANY serial replay matches
        val ok = assignments(claims).exists { owners =>
          var model: Map[Long, Long] = init.toMap
          (2L to latest).foreach { v =>
            owners.get(v).foreach(op => model = applyModel(model, op))
          }
          model == gotMap
        }
        assert(ok,
          s"seed $seed: final state matches NO version-order replay " +
            s"(claims=${claims.toSeq.sortBy(_._1)}, " +
            s"rows=${gotMap.size}, latest=$latest)")
      } finally {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(root)
      }
    } finally spark.conf.unset("graft.txn.posCoalesceAt")
  }

  test("partitioned fuzz: the raced table reads exact through a keyed SPJ") {
    // same serializability oracle, but the table is IDENTITY-PARTITIONED
    // (g = k % 4) so the post-race read exercises the keyed-splits +
    // deletion-vector composition: a storage-partitioned self-join over
    // whatever mixture of live vectors / equality deletes / rewrites
    // the race left behind must plan ZERO shuffles and agree row-for-row
    // with the plain read (which itself must equal a serial replay).
    val threads = 4
    val opsPerThread = 4
    val scenarios = 4 + sys.env.get("GRAFT_DMLFUZZ_EXTRA")
      .map(_.toInt).getOrElse(0)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(
        java.util.concurrent.Executors.newFixedThreadPool(threads))
    val enrich = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("g", pmod(col("k"), lit(4L)))
    spark.conf.set("graft.txn.posCoalesceAt", "3")
    try (1 to scenarios).foreach { seed =>
      val root = java.nio.file.Files.createTempDirectory("graft_fuzzp").toFile
      val table = s"${root.getAbsolutePath}/t"
      try {
        val init = (0L until 50L).map(k => (k, k))
        enrich(init.toDF("k", "v"))
          .write.format("graft").option("statsCols", "k")
          .option("mergeOnRead", "true").option("partitionBy", "g")
          .mode("overwrite").save(table)
        val claimsQ =
          new java.util.concurrent.ConcurrentLinkedQueue[(Long, Op)]()
        val futures = (0 until threads).map { tid =>
          Future {
            val rnd = new scala.util.Random(seed * 7000 + tid)
            (0 until opsPerThread).foreach { i =>
              val op = randomOp(rnd, tid, i)
              claimsQ.add(run(op, table, enrich) -> op)
              ()
            }
          }
        }
        Await.result(Future.sequence(futures), 10.minutes)
        val claims = claimsQ.toArray(Array.empty[(Long, Op)])
          .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).toSeq }
        val latest = TxnTable.latestVersion(spark, table).get
        val got = spark.read.format("graft").load(table)
          .select($"k", $"v").as[(Long, Long)].collect().toSeq
        assert(got.map(_._1).distinct.size == got.size,
          s"seed $seed: duplicate keys in final state")
        val gotMap = got.toMap
        val ok = assignments(claims).exists { owners =>
          var model: Map[Long, Long] = init.toMap
          (2L to latest).foreach { v =>
            owners.get(v).foreach(op => model = applyModel(model, op))
          }
          model == gotMap
        }
        assert(ok,
          s"seed $seed: final state matches NO version-order replay " +
            s"(claims=${claims.toSeq.sortBy(_._1)}, rows=${gotMap.size})")
        // the keyed read path: SPJ self-join on (g, k), zero shuffles
        val spjConfs = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = spjConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
        try {
          spjConfs.foreach { case (k, v) => spark.conf.set(k, v) }
          val l = spark.read.format("graft").load(table)
          val r = spark.read.format("graft").load(table)
            .select($"g", $"k", $"v".as("v2"))
          val j = l.join(r, Seq("g", "k")).select($"k", $"v", $"v2")
          val rows = j.collect()
          def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
            p.collect {
              case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
              case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                shuffles(q.plan)
              case rx: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
                shuffles(rx.child)
            }.sum
          val fin = j.queryExecution.executedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case p => p
          }
          // POSITIONAL vectors compose with the keyed report; live
          // EQUALITY deletes legitimately read through the analyzer
          // splice (a Union), which cannot carry the clustering — only
          // require zero shuffles when the race left none of those
          val stF = TxnTable.morState(spark, table,
            TxnTable.latestVersion(spark, table).get)
          val eqLive = stF.dels.exists(d =>
            d.keyCols != Seq(TxnTable.PosDelKey) &&
              stF.files.exists(f => d.gates(f, stF.addv.getOrElse(f, 0L))))
          if (!eqLive) assert(shuffles(fin) == 0,
            s"seed $seed: keyed self-join of the raced table must stay " +
              s"shuffle-free (only positional vectors live):\n$fin")
          assert(rows.length == gotMap.size &&
              rows.forall(x => gotMap.get(x.getLong(0))
                .contains(x.getLong(1)) && x.getLong(1) == x.getLong(2)),
            s"seed $seed: SPJ read disagrees with the plain read")
        } finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      } finally {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(root)
      }
    } finally spark.conf.unset("graft.txn.posCoalesceAt")
  }
}
