package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q => RQ}
import graft.io.Tables
import graft.text.TextFunctions._
import graft.sim.Similarity

/** Deduplication surface for a training-data pipeline, over documents and
  * embeddings:
  *
  *   d33 exact fingerprint groups   — hash-groupBy, one shuffle on md5 key
  *   d34 exact dedup keep-first     — same + per-group rank filter
  *   d35 n-gram Jaccard             — pairwise similarity (adjacent pairs)
  *   d36 MinHash signatures + bands — the LSH prep: O(n) per doc
  *   d37 MinHash candidate pairs    — band-key self-join: only colliding
  *                                    docs are compared — the 100 TB path
  *                                    (vs O(n²) all-pairs)
  *   d39 embedding near-dup pairs   — cosine > τ within a capped id range
  *
  * At scale: fingerprint/minhash dedup shuffles each doc once by hash key;
  * band joins co-partition candidates so the quadratic blow-up is bounded
  * per bucket. */
object DedupOps {

  // ---------------------------------------------------------------- d33
  private def d33(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"fp").orderBy($"doc_id")
    val wc = Window.partitionBy($"fp")
    Tables.documents(spark, dir)
      .select($"doc_id", fingerprint($"text").as("fp"))
      .withColumn("dup_rank", row_number().over(w).cast("bigint"))
      .withColumn("n_copies", count(lit(1)).over(wc).cast("bigint"))
      .orderBy($"doc_id")
  }
  private val d33Sql =
    """SELECT doc_id, fp,
      | CAST(ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS BIGINT) AS dup_rank,
      | CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_copies
      |FROM (SELECT doc_id, md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp
      |      FROM documents) t
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d34
  /** Exact dedup, keep lowest doc_id per fingerprint group — spelled
    * as a map-side-combinable MIN, not a rank window: the keeper per
    * group IS the aggregate, so a fingerprint duplicated 10^6 times
    * collapses to one row per mapper partition before the shuffle
    * instead of pinning a reducer with the whole group. */
  private def d34(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", fingerprint($"text").as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", $"fp")
      .orderBy($"doc_id")
  }
  private val d34Sql =
    """SELECT doc_id, fp FROM (
      |  SELECT doc_id, md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp,
      |    ROW_NUMBER() OVER (PARTITION BY md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))))
      |                       ORDER BY doc_id) AS rn
      |  FROM documents) t
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d35
  /** Token-bigram Jaccard similarity between consecutive documents
    * (the pairwise kernel; candidate generation at scale is d37). */
  private def d35(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", tokens($"text"))
      .select($"doc_id", tokenNgrams("toks", 2).as("bg"))
    val a = docs.select($"doc_id".as("doc_a"), $"bg".as("bg_a"))
    val b = docs.select($"doc_id".as("doc_b"), $"bg".as("bg_b"))
    a.join(b, $"doc_b" === $"doc_a" + 1)
      .select($"doc_a", $"doc_b", jaccard($"bg_a", $"bg_b").as("jac"))
      .orderBy($"doc_a")
  }
  private val d35Sql =
    """WITH bg AS (
      |  SELECT doc_id,
      |    [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
      |     for i in range(1, len(string_split(text,' ')))] AS grams
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | CAST(LEN(list_intersect(a.grams, b.grams)) AS DOUBLE)
      |   / NULLIF(LEN(list_distinct(list_concat(a.grams, b.grams))), 0) AS jac
      |FROM bg a JOIN bg b ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_a""".stripMargin

  // ---------------------------------------------------------------- d36
  /** MinHash signatures (8 hashes over token 3-shingles) + 4 LSH band
    * keys per document. */
  /** MinHash band keys per doc, UNordered — shared by d36 (adds the
    * oracle ORDER BY) and d37 (caches it; sorting before a cache that
    * feeds band self-joins would be wasted work). */
  /** MinHash band signature of an arbitrary documents frame — the
    * batch-parameterized core of [[sigFrame]], reused by d47's
    * incremental ingest. */
  private def sigOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // native one-pass signature (graft.functions.MinHashSig): the HOF
    // spelling of this — 8 interpreted lambda traversals materializing
    // k×|sh| hex strings — measured 10 s on 500 docs; the native
    // expression keeps 8 running minima in one tight loop.
    graft.functions.GraftExtensions.install(spark)
    val sig = expr("minhash_sig(sh, 8)")
    docs
      .withColumn("toks", tokens($"text"))
      .withColumn("sh", tokenNgrams("toks", 3))
      .withColumn("sig", sig)
      .select(
        $"doc_id",
        md5(concat(element_at($"sig", 1), element_at($"sig", 2))).as("band1"),
        md5(concat(element_at($"sig", 3), element_at($"sig", 4))).as("band2"),
        md5(concat(element_at($"sig", 5), element_at($"sig", 6))).as("band3"),
        md5(concat(element_at($"sig", 7), element_at($"sig", 8))).as("band4"))
  }

  private def sigFrame(spark: SparkSession, dir: String): DataFrame =
    sigOf(spark, graft.ops.Par.spread(Tables.documents(spark, dir)))

  private def d36(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sigFrame(spark, dir).orderBy($"doc_id")
  }
  private val d36Sql = {
    def mh(i: Int) =
      s"list_aggregate(list_transform(sh, s -> md5('$i:' || s)), 'min')"
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
       |     for i in range(1, len(string_split(text,' ')) - 1)] AS sh
       |  FROM documents)
       |SELECT doc_id,
       | md5(${mh(1)} || ${mh(2)}) AS band1,
       | md5(${mh(3)} || ${mh(4)}) AS band2,
       | md5(${mh(5)} || ${mh(6)}) AS band3,
       | md5(${mh(7)} || ${mh(8)}) AS band4
       |FROM sh ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d37
  /** MinHash-LSH near-dup candidate pairs: docs sharing any band key.
    * Each band is a self-equi-join on the band hash — at scale this
    * shuffles by band key and never compares non-colliding docs. */
  /** Distinct candidate pairs (doc_a < doc_b) from the band self-joins —
    * shared by d37 (adds the oracle ORDER BY) and d40 (clusters them). */
  private[graft] def candidatePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // localCheckpoint, not cache(): the 4 band self-joins each rescan the
    // signatures, so materializing once is the point — but CacheManager
    // pins .cache()d frames until explicit unpersist (they accumulated
    // across verify/bench runs), while checkpoint blocks are freed by the
    // ContextCleaner as soon as the frame is unreferenced.
    val sig = sigFrame(spark, dir).localCheckpoint()
    // ONE self-join on the composite (band index, band hash) instead of
    // four band-wise self-joins: posexplode is narrow, so the whole
    // candidate generation pays one shuffle per join leg + the distinct,
    // where the per-band spelling paid four joins and a union — same
    // candidate set, ~3 fewer shuffles of the signature table (the
    // difference between one pass and four over a 100 TB corpus).
    val ex = sig.select($"doc_id",
      posexplode(array((1 to 4).map(k => col(s"band$k")): _*))
        .as(Seq("k", "bk")))
    ex.select($"doc_id".as("doc_a"), $"k", $"bk")
      .join(ex.select($"doc_id".as("doc_b"), $"k", $"bk"), Seq("k", "bk"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
  }

  private def d37(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    candidatePairs(spark, dir).orderBy($"doc_a", $"doc_b")
  }
  private val d37Sql = {
    def mh(i: Int) =
      s"list_aggregate(list_transform(sh, s -> md5('$i:' || s)), 'min')"
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
       |     for i in range(1, len(string_split(text,' ')) - 1)] AS sh
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |   md5(${mh(1)} || ${mh(2)}) AS band1,
       |   md5(${mh(3)} || ${mh(4)}) AS band2,
       |   md5(${mh(5)} || ${mh(6)}) AS band3,
       |   md5(${mh(7)} || ${mh(8)}) AS band4
       |  FROM sh)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM sig a JOIN sig b
       |  ON a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3 OR a.band4 = b.band4
       |WHERE a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- d38
  /** Native-expression SimHash64 (graft.functions.SimHash64, registered
    * through GraftExtensions so it is SQL-callable) + Hamming distance
    * over d37's LSH band candidate pairs — the fineweb verify step:
    * candidates come from the bucketed band join (no all-pairs, no global
    * window), the 64-bit sketch confirms or rejects each.
    *
    * All joins are doc_id equi-joins; at 100 TB this shuffles by doc id
    * once per side and never touches non-colliding docs. The oracle
    * restates the sketch bit-for-bit in DuckDB: per-token MD5 bit votes,
    * sign-packed into a signed 64-bit value (HUGEINT sum with the b=0
    * sign-bit term stated as -2^63, since DuckDB's BIGINT shift overflows
    * at 1<<63), then xor + bit_count per candidate pair. */
  private def d38(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.install(spark)
    val sigs = Tables.documents(spark, dir)
      .withColumn("toks", tokens($"text"))
      .select($"doc_id", expr("simhash64(toks)").as("simhash"))
    candidatePairs(spark, dir)
      .join(sigs.select($"doc_id".as("doc_a"), $"simhash".as("sim_a")), "doc_a")
      .join(sigs.select($"doc_id".as("doc_b"), $"simhash".as("sim_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"sim_a", $"sim_b",
        expr("bit_count(sim_a ^ sim_b)").cast("bigint").as("hamming"))
      .orderBy($"doc_a", $"doc_b")
  }
  private val d38Sql = {
    def mh(i: Int) =
      s"list_aggregate(list_transform(sh, s -> md5('$i:' || s)), 'min')"
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
       |     for i in range(1, len(string_split(text,' ')) - 1)] AS sh
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |   md5(${mh(1)} || ${mh(2)}) AS band1,
       |   md5(${mh(3)} || ${mh(4)}) AS band2,
       |   md5(${mh(5)} || ${mh(6)}) AS band3,
       |   md5(${mh(7)} || ${mh(8)}) AS band4
       |  FROM sh),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b
       |    ON a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3 OR a.band4 = b.band4
       |  WHERE a.doc_id < b.doc_id),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |votes AS (
       |  SELECT doc_id, r.range AS b,
       |    SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), CAST(r.range // 4 AS INT) + 1, 1)) - 1)
       |               >> CAST(3 - r.range % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM toks, range(64) r GROUP BY doc_id, r.range),
       |simhash AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN v >= 0 THEN
       |      CASE WHEN b = 0 THEN (-9223372036854775808)::HUGEINT
       |           ELSE 1::HUGEINT << CAST(63 - b AS INT) END
       |      ELSE 0::HUGEINT END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id)
       |SELECT p.doc_a, p.doc_b, sa.simhash AS sim_a, sb.simhash AS sim_b,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
       |FROM pairs p
       |JOIN simhash sa ON sa.doc_id = p.doc_a
       |JOIN simhash sb ON sb.doc_id = p.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- d39
  /** Embedding-cosine near-duplicates: pairs with cosine > 0.3 among the
    * first 200 vectors (capped all-pairs kernel; LSH candidates replace
    * the cap at scale). */
  private def d39(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).filter($"vec_id" < 200)
    val a = emb.select($"vec_id".as("vec_a"), $"embedding".as("ea"))
    val b = emb.select($"vec_id".as("vec_b"), $"embedding".as("eb"))
    a.join(broadcast(b), $"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", Similarity.cosine("ea", "eb").as("cos_sim"))
      .filter($"cos_sim" > 0.3)
      .orderBy($"vec_a", $"vec_b")
  }
  private val d39Sql =
    s"""WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       | ${Similarity.cosineSql("a.embedding", "b.embedding")} AS cos_sim
       |FROM sub a JOIN sub b ON a.vec_id < b.vec_id
       |WHERE ${Similarity.cosineSql("a.embedding", "b.embedding")} > 0.3
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- d40
  /** Near-duplicate CLUSTERS: connected components over the MinHash
    * candidate pairs (the step after d37 in a fineweb-style dedup: pairs →
    * components → keep one doc per component). Spark side is iterative
    * min-label propagation — each round every node takes the min label in
    * its neighborhood; converged when the label sum stops changing (labels
    * only ever decrease). Rounds ≈ component diameter, and each round is
    * one keyed join + aggregation, so the shape distributes at any scale
    * (the large-graph refinement — large-star/small-star — keeps the same
    * per-round plan). The oracle states reachability directly as a
    * recursive CTE. */
  /** Connected components by iterative MIN-LABEL PROPAGATION: every node
    * starts labeled with its own id; each round every node takes the
    * minimum label in its closed neighborhood; the fixpoint labels each
    * component with its smallest member id.
    *
    * Convergence detection: labels only ever decrease, so the label SUM is
    * strictly decreasing until the fixpoint — one cheap scalar action per
    * round, no row-level diff join. Rounds ≈ component diameter (bounded
    * here at 50); each round is one keyed equi-join + min-aggregation, so
    * the per-round plan is the same partition-parallel shape at any data
    * size (the large-star/small-star refinement changes the round count,
    * not the plan shape).
    *
    * JOIN STRATEGY (r21, measured and deliberately left sort-merge):
    * hinting the label-sized sides BROADCAST regressed d52 +26% — every
    * broadcast build is an extra driver-barrier job per round, and the
    * loop is round-trip-bound; hinting them SHUFFLE_HASH (no extra job,
    * no edge-side sort) still regressed d40's CC ~25% warm and d52 ~12%
    * vs sort-merge (A/B receipts in OPTIMIZATION_r21.md). The cached
    * edge side's hash partitioning is established once below; the
    * per-round sort it pays under SMJ is cheaper here than either
    * alternative's overhead, so the spill-graceful default stays.
    *
    * @param pairs two numeric columns (a, b), one undirected edge per row.
    * @return (id, label) — one row per node appearing in any edge. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val Seq(a, b) = pairs.columns.toSeq.take(2).map(col)
    // hash-partitioned by src ONCE before caching: every round joins
    // edges on src and the init aggregates by src, so establishing the
    // partitioning here means no round ever exchanges the EDGE side
    // again (guide §2.4 — operations keyed the same way share one
    // exchange; edges is the big side of every round at scale, labels
    // the small one)
    val edges = pairs.select(a.as("src"), b.as("dst"))
      .union(pairs.select(b.as("src"), a.as("dst")))
      .repartition(col("src"))
      .cache()
    // localCheckpoint per round: iterative plans otherwise NEST — round
    // k's plan contains rounds 1..k-1 — and analysis/planning cost grows
    // without bound. Checkpointing truncates lineage to the materialized
    // partitions, keeping every round's plan constant-size (same reason
    // GraphX/ALS checkpoint their iterations). LAZY (eager=false) so the
    // convergence-sum action materializes the checkpoint AND computes the
    // sum in ONE job per round.
    // init FUSED with round 1: the node list needs a shuffle on src
    // anyway (the old distinct()), so take min(id, min(neighbor)) in the
    // same aggregation — one full propagation round for free, no extra
    // convergence action
    var labels = edges.groupBy($"src")
      .agg(min($"dst").as("m"))
      .select($"src".as("id"), least($"src", $"m").as("label"))
      .localCheckpoint(eager = false)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum($"label"), lit(0L))).as[Long].head()
    var prev = -1L
    var cur = labelSum(labels)
    var rounds = 0
    // early hybrid switch: min-label needs ~diameter rounds, star
    // contraction ~log(component size). A graph still moving after 10
    // rounds is overwhelmingly a high-diameter one — burning the old
    // 50-round cap first paid 40 extra shuffle rounds for nothing
    // before starting contraction from scratch.
    val maxRounds = 10
    while (cur != prev && rounds < maxRounds) {
      // ONE join + ONE aggregation per round (r21): the propagated
      // neighbor labels and the node's own label row union into a
      // single min-by-id — identical to the old two-join spelling
      // (least(label, min over incoming neighbors' labels): every id
      // keeps its own row in the union, so ids with no incoming edge
      // pass through unchanged) but with one fewer join and one fewer
      // Exchange per round: the old shape re-shuffled labels on id a
      // SECOND time for the left join against nbrMin. Labels is the
      // corpus-sized side of d40's rounds — at scale that exchange was
      // the round's dominant shuffle.
      labels = edges.join(labels, edges("src") === labels("id"))
        .select($"dst".as("id"), $"label")
        .unionByName(labels)
        .groupBy($"id").agg(min($"label").as("label"))
        .localCheckpoint(eager = false)
      prev = cur
      cur = labelSum(labels)
      rounds += 1
    }
    // (measured: batching two propagation steps per checkpoint halves the
    // action count but doubles the join work of the confirming rounds —
    // net neutral at small diameters, so one step per round stays.)
    edges.unpersist(blocking = false)
    // a non-converged run means component diameter > maxRounds — the
    // min-label rounds ≈ diameter regime is the wrong algorithm, not a
    // reason to return partially-propagated (i.e. WRONG) labels. Switch
    // to the large-star/small-star contraction, whose round count is
    // logarithmic in component size regardless of diameter.
    if (cur != prev) return starContraction(pairs)
    labels
  }

  /** Connected components by LARGE-STAR / SMALL-STAR contraction (the
    * MapReduce CC algorithm of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — the high-diameter path behind
    * `connectedComponents`:
    *
    *   large-star  every node u links each LARGER neighbor to the
    *               minimum of its closed neighborhood
    *   small-star  every node u links each smaller-or-equal neighbor
    *               (and itself) to that minimum
    *
    * Alternating the two halves the component "height" per round, so a
    * diameter-D component converges in O(log D)-ish rounds where
    * min-label propagation needs D — a 200-link chain takes ~8 rounds
    * instead of 200. Each half-round is one groupBy-min + one equi-join
    * (the same partition-parallel per-round plan as label propagation);
    * the fixpoint is a star forest whose edges read off the labels
    * directly. Convergence detection is an exact set compare
    * (`except` both ways), not a fingerprint — stopping early would
    * return wrong labels. */
  private[graft] def starContraction(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val Seq(a, b) = pairs.columns.toSeq.take(2).map(col)
    // node set from BOTH endpoint columns (covers isolated/self-paired
    // nodes); edges canonicalized u < v, self-loops dropped
    val nodes = pairs.select(a.as("id")).union(pairs.select(b.as("id")))
      .distinct().localCheckpoint(eager = false)
    var e = pairs
      .select(least(a, b).as("u"), greatest(a, b).as("v"))
      .filter($"u" =!= $"v").distinct()
      .localCheckpoint(eager = false)
    var converged = e.isEmpty
    var rounds = 0
    val maxRounds = 64 // provably convergent long before this
    while (!converged && rounds < maxRounds) {
      // large-star: per node x, min m of closed neighborhood; every
      // LARGER neighbor y > x re-links as (m, y). m <= x < y keeps the
      // canonical orientation for free.
      val dir = e.select($"u".as("x"), $"v".as("y"))
        .union(e.select($"v".as("x"), $"u".as("y")))
      val mins = dir.groupBy($"x")
        .agg(min($"y").as("mn"))
        .select($"x", least($"x", $"mn").as("m"))
      val ls = dir.join(mins, "x")
        .filter($"y" > $"x")
        .select($"m".as("u"), $"y".as("v"))
        .distinct()
      // small-star: per node x, its SMALLER neighbors (canonical edges
      // (u,v): node v's smaller neighbor is u); min m over them; each
      // smaller neighbor != m and x itself re-link as (m, ·).
      val sdir = ls.select($"v".as("x"), $"u".as("y"))
      val smins = sdir.groupBy($"x").agg(min($"y").as("m"))
      val ss = sdir.join(smins, "x")
        .select($"m".as("u"), $"y".as("v"))
        .filter($"u" =!= $"v")
        .union(smins.select($"m".as("u"), $"x".as("v")))
        .distinct()
        .localCheckpoint(eager = false)
      // exact fixpoint test: the edge SETS are equal (both directions —
      // a fingerprint could collide and stop early with wrong labels)
      converged = ss.except(e).isEmpty && e.except(ss).isEmpty
      e = ss
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"starContraction did not converge within $maxRounds rounds")
    // fixpoint = star forest: every edge is (component-min, member);
    // roots and isolated nodes label themselves
    nodes.join(e.select($"v".as("id"), $"u".as("star_label")), Seq("id"), "left")
      .select($"id", coalesce($"star_label", $"id").as("label"))
  }

  private def d40(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    connectedComponents(candidatePairs(spark, dir))
      .select($"id".cast("bigint").as("doc_id"), $"label".cast("bigint").as("cluster_id"))
      .orderBy($"doc_id")
  }
  private val d40Sql = {
    def mh(i: Int) =
      s"list_aggregate(list_transform(sh, s -> md5('$i:' || s)), 'min')"
    s"""WITH RECURSIVE sh AS (
       |  SELECT doc_id,
       |    [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
       |     for i in range(1, len(string_split(text,' ')) - 1)] AS sh
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |   md5(${mh(1)} || ${mh(2)}) AS band1,
       |   md5(${mh(3)} || ${mh(4)}) AS band2,
       |   md5(${mh(5)} || ${mh(6)}) AS band3,
       |   md5(${mh(7)} || ${mh(8)}) AS band4
       |  FROM sh),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b
       |    ON a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3 OR a.band4 = b.band4
       |  WHERE a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(node, root) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
       |SELECT CAST(node AS BIGINT) AS doc_id, CAST(MIN(root) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d41
  /** Dedup KEEP-BEST: within each exact-fingerprint group keep the
    * richest copy (longest raw text, then lowest id) — the canonical-pick
    * policy real pipelines use instead of d34's keep-first. The pick is
    * a lexicographic MIN over (-length, doc_id): map-side combinable,
    * so a mass-duplicated fingerprint never pins a window reducer. */
  private def d41(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // (-n_chars, doc_id) packed into ONE decimal (the d48 move): the
    // struct spelling planned as SortAggregate (struct minima have no
    // mutable agg buffer) — two full sorts of the keyed frame — while
    // min(packed) is a partial-aggregating HashAggregate. Injective and
    // order-preserving: doc_id ∈ [0, 2^63), so packed = nl·2^63 + doc_id
    // orders first by nl then doc_id, and |nl|·2^63 ≤ 2^94 < 10^38
    // never overflows decimal(38,0). Both fields recover exactly:
    // doc_id = pmod(packed, 2^63), nl = (packed − doc_id)/2^63 (exact).
    val two63 = lit(new java.math.BigDecimal(
      java.math.BigInteger.ONE.shiftLeft(63)))
    Tables.documents(spark, dir)
      .select($"doc_id", fingerprint($"text").as("fp"),
        length($"text").cast("bigint").as("n_chars"))
      .groupBy($"fp")
      .agg(min((-$"n_chars").cast("decimal(38,0)") * two63 + $"doc_id")
        .as("p"))
      .select(pmod($"p", two63).cast("bigint").as("doc_id"), $"fp",
        (-(($"p" - pmod($"p", two63)) / two63)).cast("bigint").as("n_chars"))
      .orderBy($"doc_id")
  }
  private val d41Sql =
    """SELECT doc_id, fp, n_chars FROM (
      |  SELECT doc_id, md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp,
      |    CAST(LENGTH(text) AS BIGINT) AS n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))))
      |                       ORDER BY LENGTH(text) DESC, doc_id) AS rn
      |  FROM documents) t
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d42
  /** CANDIDATE-PRECISION harness — dedup's measure-don't-guess eval
    * (e49's analog for the LSH pipeline): for every d37 band-collision
    * pair, compute the TRUE token-3-shingle Jaccard (the similarity the
    * MinHash sketch estimates) and report how many candidates clear the
    * dedup threshold. At scale this is the nightly LSH-quality job that
    * tunes bands-vs-rows: low precision wastes verification compute,
    * and the number is a measurement, not a hope. One summary row —
    * candidate count, true-positive count at τ=0.5, precision. */
  private def d42(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", tokens($"text"))
      .select($"doc_id", tokenNgrams("toks", 3).as("sh"))
    val judged = candidatePairs(spark, dir)
      .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .select(jaccard($"sh_a", $"sh_b").as("jac"))
    judged.agg(
      count(lit(1)).cast("bigint").as("n_candidates"),
      sum(when($"jac" >= 0.5, 1L).otherwise(0L)).cast("bigint").as("n_true"),
      (sum(when($"jac" >= 0.5, 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("precision"))
  }
  private val d42Sql = {
    def mh(i: Int) =
      s"list_aggregate(list_transform(sh, s -> md5('$i:' || s)), 'min')"
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
       |     for i in range(1, len(string_split(text,' ')) - 1)] AS sh
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |   md5(${mh(1)} || ${mh(2)}) AS band1,
       |   md5(${mh(3)} || ${mh(4)}) AS band2,
       |   md5(${mh(5)} || ${mh(6)}) AS band3,
       |   md5(${mh(7)} || ${mh(8)}) AS band4
       |  FROM sh),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b
       |    ON a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3 OR a.band4 = b.band4
       |  WHERE a.doc_id < b.doc_id),
       |j AS (
       |  SELECT CAST(LEN(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |    / NULLIF(LEN(list_distinct(list_concat(x.sh, y.sh))), 0) AS jac
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.doc_a
       |  JOIN sh y ON y.doc_id = c.doc_b)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
       | CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       | CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS precision
       |FROM j""".stripMargin
  }

  // ---------------------------------------------------------------- d43
  /** PASSAGE-LEVEL exact dedup (the sub-document primitive document
    * dedup misses): split every document into consecutive 10-word
    * passages, drop each passage's repeats corpus-wide keeping the
    * first occurrence (ordered by doc_id, position — deterministic),
    * and rebuild the cleaned documents. This is the repeated-
    * boilerplate removal step of C4/CCNet-style pipelines: a license
    * header shared by 10⁶ documents survives exactly once.
    *
    * Scale shape: TWO keyed shuffles and nothing else — one on the
    * passage hash (the dedup key: first-occurrence is a window over
    * it), one on doc_id (the rebuild groupBy). No crossJoin, no
    * driver-side text. The rebuild keeps passage order via an
    * array_sort over (position, passage) structs — order-insensitive
    * aggregation, so the result is partition-count-independent. */
  private def d43(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // checkpointed once: the min-agg and the flag join both consume it
    // and the explode is the op's CPU hot spot (the d48 pattern)
    val passages = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(expr(
        """transform(
          |  sequence(0, cast(ceil(size(split(text, ' ')) / 10.0) as int) - 1),
          |  i -> array_join(slice(split(text, ' '), i * 10 + 1, 10), ' '))"""
          .stripMargin)).as(Seq("pos", "passage")))
      .localCheckpoint()
    // keep-first without a corpus window (the d48 spelling): the first
    // occurrence per passage is a map-side-combinable MIN, only the
    // DUPLICATED tail joins back (left, broadcast in the common case),
    // and occurrences of unique passages are first by construction —
    // a license header shared by 10^6 documents partial-aggregates
    // instead of pinning one reducer
    // (doc_id, pos) packed into one decimal so the min is a
    // HashAggregate, not a double-sort SortAggregate (injective,
    // order-preserving: pos is a passage index in [0, 2^31) — the d48
    // spelling, see spanDedup)
    def pk(doc: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column) =
      doc.cast("decimal(38,0)") * lit(2147483648L) + pos
    val dupFirsts = passages.groupBy($"passage")
      .agg(min(pk($"doc_id", $"pos")).as("first"),
        count(lit(1)).as("n"))
      .filter($"n" > 1)
      .select($"passage", $"first")
    passages.join(dupFirsts, Seq("passage"), "left")
      .withColumn("keep",
        $"first".isNull || pk($"doc_id", $"pos") === $"first")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_passages"),
        sum(when($"keep", 1L).otherwise(0L)).cast("bigint").as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when($"keep", struct($"pos", $"passage")))),
            s => s.getField("passage")),
          " ").as("cleaned"))
      .orderBy($"doc_id")
  }
  private val d43Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |passages AS (
      |  SELECT doc_id, i AS pos,
      |    array_to_string(w[(i*10+1):(i*10+10)], ' ') AS passage
      |  FROM (SELECT doc_id, w,
      |          unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS i
      |        FROM toks) u),
      |ranked AS (
      |  SELECT doc_id, pos, passage,
      |    ROW_NUMBER() OVER (PARTITION BY passage ORDER BY doc_id, pos) AS rn
      |  FROM passages)
      |SELECT doc_id,
      | CAST(COUNT(*) AS BIGINT) AS n_passages,
      | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | COALESCE(string_agg(CASE WHEN rn = 1 THEN passage END, ' ' ORDER BY pos), '') AS cleaned
      |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d45
  /** BOILERPLATE PURGE by corpus frequency — the C4 rule d43's
    * keep-first dedup deliberately does NOT implement: a passage
    * occurring in >= 3 DISTINCT documents is boilerplate (nav chrome,
    * license headers, cookie banners) and EVERY occurrence is dropped,
    * including the first — C4 removes any line repeated 3+ times in
    * the corpus outright, on the theory that text shared that widely
    * is template, not content. 3-word passages, stride 3.
    *
    * Scale shape: one keyed agg on the passage (countDistinct doc_id,
    * map-side combinable) → the hot set, which is TINY relative to the
    * corpus by construction (it's the >= K-doc tail of the passage
    * frequency distribution), so the purge join broadcasts; the
    * rebuild is one doc_id shuffle. No window over the corpus, no
    * all-pairs anything. */
  private def d45(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val passages = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(expr(
        """transform(
          |  sequence(0, cast(ceil(size(split(text, ' ')) / 3.0) as int) - 1),
          |  i -> array_join(slice(split(text, ' '), i * 3 + 1, 3), ' '))"""
          .stripMargin)).as(Seq("pos", "passage")))
    val hot = passages.groupBy($"passage")
      .agg(countDistinct($"doc_id").as("ndocs"))
      .filter($"ndocs" >= 3)
      .select($"passage".as("hp"))
    passages
      .join(broadcast(hot), $"passage" === $"hp", "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_passages"),
        sum(when($"hp".isNull, 1L).otherwise(0L)).cast("bigint").as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when($"hp".isNull, struct($"pos", $"passage")))),
            s => s.getField("passage")),
          " ").as("cleaned"))
      .orderBy($"doc_id")
  }
  private val d45Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |passages AS (
      |  SELECT doc_id, i AS pos,
      |    array_to_string(w[(i*3+1):(i*3+3)], ' ') AS passage
      |  FROM (SELECT doc_id, w,
      |          unnest(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT))) AS i
      |        FROM toks) u),
      |hot AS (
      |  SELECT passage AS hp FROM passages
      |  GROUP BY passage HAVING COUNT(DISTINCT doc_id) >= 3)
      |SELECT doc_id,
      | CAST(COUNT(*) AS BIGINT) AS n_passages,
      | CAST(SUM(CASE WHEN hp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | COALESCE(string_agg(CASE WHEN hp IS NULL THEN passage END, ' ' ORDER BY pos), '') AS cleaned
      |FROM passages LEFT JOIN hot ON passage = hp
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d44
  /** BENCHMARK DECONTAMINATION — the training-data hygiene pass every
    * serious pretraining pipeline runs (the n-gram overlap check of
    * GPT-3 appendix C / Dolma): flag every training document sharing a
    * word 5-gram with the held-out set. The "benchmark" here is the
    * deterministic slice `doc_id % 17 == 3`; real pipelines substitute
    * their eval suites. Scale shape: the eval side collapses to a
    * DISTINCT gram set (tiny next to the corpus — benchmark suites are
    * megabytes, corpora are terabytes), so AQE broadcasts it and the
    * training side streams through one hash join + one keyed
    * aggregation; no all-pairs anything. */
  private def d44(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", tokens($"text"))
      .select($"doc_id", tokenNgrams("toks", 5).as("g"))
    val evalGrams = docs.filter($"doc_id" % 17 === 3)
      .select(explode($"g").as("gram")).distinct()
    val trainGrams = docs.filter($"doc_id" % 17 =!= 3)
      .select($"doc_id", explode($"g").as("gram")).distinct()
    val hits = trainGrams.join(evalGrams, Seq("gram"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("bigint").as("hits"))
    docs.filter($"doc_id" % 17 =!= 3).select($"doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"hits", lit(0L)).cast("bigint").as("n_contaminated"),
        $"hits".isNotNull.as("contaminated"))
      .orderBy($"doc_id")
  }
  private val d44Sql =
    """WITH g AS (
      |  SELECT doc_id,
      |    [array_to_string(string_split(text,' ')[i:i+4], ' ')
      |     for i in range(1, len(string_split(text,' ')) - 3)] AS grams
      |  FROM documents),
      |eval_g AS (
      |  SELECT DISTINCT UNNEST(grams) AS gram FROM g WHERE doc_id % 17 = 3),
      |train_g AS (
      |  SELECT DISTINCT doc_id, UNNEST(grams) AS gram
      |  FROM g WHERE doc_id % 17 <> 3),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS n
      |  FROM train_g JOIN eval_g USING (gram) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contaminated,
      |  h.n IS NOT NULL AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 3) d
      |LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val all: Seq[RQ] = Seq(
    RQ("d33_fingerprint_groups", d33, Some(d33Sql)),
    RQ("d34_dedup_exact", d34, Some(d34Sql), bench = true),
    RQ("d35_ngram_jaccard", d35, Some(d35Sql)),
    RQ("d36_minhash_bands", d36, Some(d36Sql), bench = true),
    RQ("d37_minhash_pairs", d37, Some(d37Sql)),
    RQ("d38_simhash64", d38, Some(d38Sql)),
    RQ("d39_embedding_neardup", d39, Some(d39Sql)),
    RQ("d40_dedup_clusters", d40, Some(d40Sql), bench = true),
    RQ("d41_dedup_keep_best", d41, Some(d41Sql)),
    RQ("d42_candidate_precision", d42, Some(d42Sql)),
    RQ("d43_passage_dedup", d43, Some(d43Sql)),
    RQ("d44_decontaminate", d44, Some(d44Sql)),
    RQ("d45_boilerplate_purge", d45, Some(d45Sql)),
    RQ("d46_dedup_inplace", d46, Some(d46Sql), bench = true),
    RQ("d47_incremental_dedup", d47, Some(d47Sql), bench = true),
    RQ("d48_span_dedup", d48, Some(d48Sql), bench = true),
    RQ("d49_incremental_span_dedup", d49, Some(d49Sql), bench = true),
    RQ("d50_incremental_boilerplate", d50, Some(d50Sql)),
    RQ("d51_incremental_keep_best", d51, Some(d51Sql), bench = true),
    RQ("d52_incremental_clusters", d52, Some(d52Sql), bench = true),
    RQ("d54_clusters_under_deletions", d54, Some(d54Sql)),
    RQ("d53_incremental_decontam", d53, Some(d53Sql)),
    RQ("d55_churn_maintenance", d55, Some(d55Sql)))

  // ---------------------------------------------------------------- d46
  /** IN-PLACE dedup via POSITIONAL deletion vectors: the rewrite-free
    * form of d34's keep-first — on a merge-on-read graft table, rank
    * duplicates of IDENTICAL texts by doc_id and delete every rank>1
    * row as exact (file, row ordinal) coordinates
    * (`TxnTable.deletePositions`). Equality deletes cannot express
    * "drop some of several byte-identical rows"; position deletes name
    * physical rows, so a 100 TB corpus dedups by committing
    * kilobyte-scale sidecars instead of rewriting data files (REQUIREd
    * here), with OPTIMIZE materializing later. Scale shape: one
    * column-pruned (text, doc_id) aggregation pass whose map-side
    * combine collapses duplicates before the shuffle, a flag join
    * against only the duplicated tail (broadcast in the common case)
    * streaming the identity read, one broadcast anti-join at read —
    * no corpus window, so a mass-duplicated text never pins a
    * reducer. */
  private def d46(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.TxnTable
    val zone = java.nio.file.Files
      .createTempDirectory("graft_d46_pos").toFile.getAbsolutePath
    try {
      val table = s"$zone/docs_txn"
      // hash-repartitioned, not range: the scenario needs "8 files with
      // duplicates scattered across them" — hash placement gives that
      // without repartitionByRange's extra range-sampling pass
      Tables.documents(spark, dir).select($"doc_id", $"lang", $"text")
        .repartition(8, $"doc_id")
        .write.format("graft").option("mergeOnRead", "true")
        .mode("overwrite").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val before = TxnTable.morState(spark, table, v1).files.toSet
      val rows = TxnTable.readWithRowIdentity(spark, table)
      // keeper-per-text is a map-side-combinable MIN over a
      // column-pruned (text, doc_id) scan — duplicates collapse BEFORE
      // the shuffle, where the previous window spelling shipped every
      // row (with identity columns) to a per-text-hash reducer and a
      // mass-duplicated text pinned one task. Only the duplicated tail
      // (n > 1) joins back — broadcast in the common case — so the
      // identity read streams; losers are rows above their text's min.
      val dupMins = rows.select($"text", $"doc_id")
        .groupBy($"text")
        .agg(min($"doc_id").as("_m"), count(lit(1)).as("_n"))
        .filter($"_n" > 1)
        .select($"text", $"_m")
      val losers = rows.join(dupMins, Seq("text"))
        .filter($"doc_id" > $"_m")
      TxnTable.deletePositions(spark, table, losers)
      val st = TxnTable.morState(spark, table,
        TxnTable.latestVersion(spark, table).get)
      require(st.files.toSet == before,
        "in-place dedup must not rewrite any data file")
      val result = spark.read.format("graft").load(table)
        .groupBy($"lang")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum($"doc_id").cast("bigint").as("id_sum"))
        .orderBy($"lang")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  // ---------------------------------------------------------------- d47
  /** Shuffle Exchanges in an executed (possibly adaptive) plan. */
  private def d47Shuffles(
      p: org.apache.spark.sql.execution.SparkPlan): Int =
    p.collect {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        d47Shuffles(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        d47Shuffles(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        d47Shuffles(r.child)
    }.sum

  /** Probe a PERSISTED bucket(16, `keyCol`) graft table with a
    * batch-sized frame — the incremental-dedup inner join, shared by
    * d47 (minhash band signatures) and d49 (span shingle keys). The
    * batch side broadcasts into an inner join PROBING the corpus-sized
    * table — a left-semi spelling would put the corpus on the
    * build/shuffle side, so the join is flipped: the persisted rows
    * stream out of their scan and the batch's keys ride the broadcast.
    * A small batch additionally pre-filters the scan with its literal
    * key set (plan-time file skipping via bucket ids + stats + per-file
    * blooms); a batch too big to broadcast is written in the SAME
    * bucket(16, `keyCol`) layout and joined storage-co-partitioned (the
    * k138 machinery — zero Exchanges on either side at any batch size).
    * The zero-ShuffleExchange contract is REQUIREd on the executed
    * plan. Returns (checkpointed `out` columns, (scanned files, total
    * files)) — the caller asserts pruning where its batch is small.
    *
    * CONCURRENCY CONTRACT: probe-then-commit is NOT atomic — two
    * concurrent ingests each probe the pre-race snapshot, so neither
    * sees the other's signatures and both sides of a cross-batch dup
    * pair would admit. The manifest CAS cannot catch this (the racing
    * files are disjoint; the conflict is semantic). The supported
    * recovery is RE-PROBE ON CAS LOSS, implemented in [[d47Ingest]]:
    * pin the probed version, land the signature append via
    * `TxnTable.commitAppend` (which returns the landed version), and
    * re-judge the batch against exactly the foreign appends in
    * (probed, landed) — the final state then equals the serial replay
    * in landed order (machine-checked by IngestFuzzSpec). Adopted by
    * d47 (delete late losers), d49 (REPLACE the affected docs' cleaned
    * rows — a stale span probe writes wrong text, not just a wrong
    * admit), and m70/m75 (the earlier-ID keep rule applied to the
    * window, so a foreign higher-id near-dup that landed first
    * legitimately survives, as it would arriving first serially).
    * Caveats: the recovery covers broadcast-sized batches (the
    * big-batch SPJ branch flips SESSION confs and writes a fixed-name
    * scratch table, so SPJ-sized ingests keep a single-writer-per-
    * index requirement), and the window assumes concurrent INGESTS —
    * a takedown racing an ingest is a different hazard and stays
    * single-writer. Ingests that have not adopted the re-probe
    * (d50/d51/d52/d53, t56, e59 — displacement, cluster-map, and
    * multi-table state shapes) assume a single writer per index. */
  // private[graft] (not private): the conf-restore failure-injection
  // spec drives the SPJ branch into a thrown AnalysisException directly
  private[graft] def probePersisted(spark: SparkSession, persisted: String,
      batch: DataFrame, joinCols: Seq[String], out: Seq[String],
      keyCol: String, cat: String,
      scanPayload: Seq[String] = Nil): (DataFrame, (Int, Int)) = {
    import spark.implicits._
    import graft.io.TxnTable
    val total = TxnTable.snapshotFiles(spark, persisted,
      TxnTable.latestVersion(spark, persisted).get).size
    val keyLimit = graft.io.KeySet.probeKeyLimit(spark)
    // ONE job serves both decisions (this was a count() plus a
    // distinct+limit collect — two driver round trips per probe): each
    // partition counts its rows and gathers its distinct keys CAPPED at
    // keyLimit+1; the moment a partition locally exceeds the cap it
    // drops its set and degrades to a count-only loop (no further
    // string materialization — a batch with more distinct keys than the
    // cap gains nothing from literal-key pruning anyway), so the
    // per-task work matches the old partial-distinct and the collect is
    // bounded by partitions × keyLimit. Driver-merged sets give the
    // EXACT distinct set whenever it fits — including the mass-dup case
    // (10^9 rows, a handful of keys) the old row-count guard
    // conservatively skipped pruning for.
    val kl = keyLimit
    // cast to string HERE, exactly as the old `.as[String]` collect
    // implicitly did — keyCol may be numeric (m75's video fingerprints),
    // and reading a long column's InternalRow as UTF8String is garbage
    val perPart = batch.select(col(keyCol).cast("string"))
      .queryExecution.toRdd
      .mapPartitions { it =>
        var c = 0L
        var over = false
        val s = new java.util.HashSet[String]()
        while (it.hasNext) {
          val row = it.next()
          c += 1
          if (!over) {
            s.add(if (row.isNullAt(0)) null else row.getUTF8String(0).toString)
            if (s.size > kl) { s.clear(); over = true }
          }
        }
        Iterator.single((c, over,
          if (over) Array.empty[String] else s.toArray(new Array[String](s.size))))
      }.collect()
    val batchN = perPart.iterator.map(_._1).sum
    val mergedKeys = new java.util.HashSet[String]()
    var keysOver = perPart.exists(_._2)
    if (!keysOver) {
      perPart.foreach(_._3.foreach(mergedKeys.add))
      if (mergedKeys.size > keyLimit) keysOver = true
    }
    val keys: Seq[String] =
      if (keysOver) Seq.empty
      else mergedKeys.toArray(new Array[String](mergedKeys.size)).toSeq
    val smallKeys = keys.nonEmpty && keys.length <= keyLimit
    // `scanPayload`: extra PERSISTED-side columns the probe's output
    // references (d50 reads the matching occurrences' doc ids); the
    // batch side must not carry same-named columns
    val base = spark.read.format("graft").load(persisted)
      .select((joinCols ++ scanPayload).distinct.map(col): _*)
    val scanSide =
      if (smallKeys) base.filter(col(keyCol).isin(keys: _*))
      else base
    val prevConfs = scala.collection.mutable.ListBuffer
      .empty[(String, Option[String])]
    val bigBatch = !smallKeys && batchN > sigBroadcastLimit(spark)
    // session confs the SPJ branch flips and the scratch bucketed copy
    // it writes are BOTH restored/removed on every exit path — a
    // thrown plan (bad column, broken co-partitioning REQUIRE) must
    // not leave the session with broadcast joins disabled or leak a
    // full bucketed copy of the batch beside the persisted table
    try {
      val probe =
        if (!bigBatch)
          scanSide.join(broadcast(batch), joinCols, "inner")
            .select(out.map(col): _*)
        else {
          // bucketed-SPJ spelling: land the batch in the SAME
          // bucket(16, keyCol) layout and join co-partitioned. Both
          // sides must resolve through a CATALOG: Spark only turns a
          // reported KeyGroupedPartitioning's bucket() transform into a
          // usable clustering when the relation carries a
          // FunctionCatalog to resolve it (path-based loads silently
          // degrade to UnknownPartitioning).
          val tmp = persisted + "_batch"
          batch.write.format("graft")
            .option("partitionBy", s"bucket(16, $keyCol)")
            .option("optimizedWrite", "true")
            .mode("overwrite").save(tmp)
          val slash = persisted.lastIndexOf('/')
          val (wh, name) = (persisted.substring(0, slash),
            persisted.substring(slash + 1))
          (Seq(
            "spark.sql.sources.v2.bucketing.enabled" -> "true",
            "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
            "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
            // this path exists BECAUSE the batch exceeds broadcast
            // limits — planner size estimates must not re-pick BHJ
            "spark.sql.autoBroadcastJoinThreshold" -> "-1",
            s"spark.sql.catalog.$cat" -> "graft.io.GraftTableCatalog",
            s"spark.sql.catalog.$cat.warehouse" -> wh))
            .foreach { case (k, v) =>
              prevConfs += k -> spark.conf.getOption(k)
              spark.conf.set(k, v)
            }
          spark.table(s"$cat.`$name`")
            .select((joinCols ++ scanPayload).distinct.map(col): _*)
            .join(spark.table(s"$cat.`${name}_batch`")
              .select((out.filterNot(scanPayload.contains) ++ joinCols)
                .distinct.map(col): _*),
              joinCols, "inner")
            .select(out.map(col): _*)
        }
      val checked = probe.localCheckpoint()
      require(d47Shuffles(probe.queryExecution.executedPlan) == 0,
        "cross-batch probe must not shuffle the persisted " +
          s"table:\n${probe.queryExecution.executedPlan}")
      val scanned = org.apache.spark.sql.GraftBridge
        .dsv2ScannedFiles(probe).getOrElse(total)
      (checked, (scanned, total))
    } finally {
      prevConfs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      // the scratch table is only needed until the probe materializes
      // (localCheckpoint above); best-effort delete — a failure here
      // must not mask the probe's own outcome
      if (bigBatch) try {
        val p = new org.apache.hadoop.fs.Path(persisted + "_batch")
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        ()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Signature rows above which an increment abandons `broadcast(sig)`
    * (Spark's 8 GB hard cap, driver memory in practice) for the
    * bucketed STORAGE-PARTITIONED spelling: the batch's signatures are
    * written `bucket(16, h)` like the persisted table and the probe
    * joins co-partitioned file groups — zero Exchanges on EITHER side
    * at any batch size (k138 machinery). */
  private[graft] def sigBroadcastLimit(spark: SparkSession): Long =
    spark.conf.getOption("graft.dedup.sigBroadcastLimit")
      .map(_.toLong).getOrElse(50L * 1000 * 1000)

  /** The batch's exploded band signatures, materialized — the
    * batch-PURE prefix of a d47 ingest (a function of the batch text
    * only), extractable so callers can pipeline the NEXT batch's
    * hashing under the current ingest's commits (Par.defer, §2.6). */
  private def d47Sig(spark: SparkSession, batch: DataFrame): DataFrame = {
    import spark.implicits._
    sigOf(spark, batch).select($"doc_id",
      posexplode(array($"band1", $"band2", $"band3", $"band4"))
        .as(Seq("b", "h"))).localCheckpoint()
  }

  /** One incremental-dedup ingest (the d47 step, reusable by specs):
    * append `batch` to the merge-on-read `corpus`, probe the persisted
    * `sigs` table for cross-batch band matches, positional-delete the
    * batch's losers, append the batch's signatures. Returns the
    * probe's (scanned, total) signature file counts (0,0 on the first
    * ingest) so callers can REQUIRE real file pruning. The probe plan
    * REQUIREs zero shuffle Exchanges on every path — the corpus-sized
    * signature side must always stream out of its scan. */
  private[graft] def d47Ingest(spark: SparkSession, corpus: String,
      sigs: String, batch: DataFrame, first: Boolean,
      inBatchPred: org.apache.spark.sql.Column,
      pre: Option[() => DataFrame] = None): (Int, Int) = {
    import spark.implicits._
    import graft.io.TxnTable
    // corpus append ∥ signature materialization: independent legs (one
    // commits the batch rows, the other hashes them into band keys) —
    // overlapped per guide §2.6 so the signature compute back-fills the
    // commit's scheduling tail. Everything downstream (probe, losers,
    // sig append) needs both, so the join point is here. `pre` is the
    // pipelined [[d47Sig]] (joined INSIDE the leg, so the append still
    // overlaps any of its remaining materialization).
    val (_, sig) = graft.ops.Par.both(spark)(
      batch.write.format("graft").option("mergeOnRead", "true")
        .option("statsCols", "doc_id")
        .mode(if (first) "overwrite" else "append").save(corpus),
      pre.map(_()).getOrElse(d47Sig(spark, batch)))
    // cross-batch dups: batch docs whose band key already exists in
    // the persisted signatures (all strictly earlier ids) — the shared
    // probePersisted contract: broadcast or SPJ, zero shuffles of the
    // persisted side, literal-key scan pruning for small batches
    // CONCURRENT-INGEST RECOVERY, part 1: pin the signature version
    // this probe judges against BEFORE probing. The probe may read a
    // NEWER snapshot (a foreign append landing in between) — that only
    // widens the re-probe window below into overlap, and the recovery
    // is idempotent there (re-discovered losers are already deleted).
    val vProbe: Long =
      if (first) -1L
      else graft.io.TxnTable.latestVersion(spark, sigs).get
    val (cross, pruneCounts) =
      if (first) (spark.emptyDataset[Long].toDF("doc_id"), (0, 0))
      else {
        val r = probePersisted(spark, sigs, sig,
          joinCols = Seq("b", "h"), out = Seq("doc_id"),
          keyCol = "h", cat = "gd47spj")
        r
      }
    // in-batch dups: per band key, everything above the min id — a
    // map-side-combinable MIN over the checkpointed sigs plus a join
    // against only the DUPLICATED band keys (no window: a batch
    // carrying 10^6 copies of one doc shares band keys that would pin
    // a single window reducer; the dup tail broadcasts instead)
    val dupBands = sig.groupBy($"b", $"h")
      .agg(min($"doc_id").as("_m"), count(lit(1)).as("_n"))
      .filter($"_n" > 1)
      .select($"b", $"h", $"_m")
    val inBatch = sig.join(dupBands, Seq("b", "h"))
      .filter($"doc_id" > $"_m").select($"doc_id")
    // materialized ONCE: the emptiness check and the delete leg's
    // semi-join both read the blocks — without the checkpoint the
    // union+distinct (and its broadcast builds) re-executed inside the
    // delete's write job, a full second run of the loser plan
    val losers = cross.union(inBatch).distinct().localCheckpoint()
    // a loser-free increment (the common small-batch case) skips the
    // whole positional-delete leg — identity read, join, and commit
    val anyLosers = losers.limit(1).count() > 0L
    // the corpus delete leg — its own commit on the CORPUS table,
    // independent of the signature append below (different tables), so
    // the two commits overlap (guide §2.6); the re-probe recovery runs
    // only after BOTH have landed
    def deleteLeg(): Unit = if (anyLosers) {
      // coordinate lookup confined to the BATCH's id range: the
      // predicate prunes the identity read to the batch's own files
      // (doc_id stats), so the increment never rescans the corpus
      val rows = TxnTable.readWithRowIdentity(spark, corpus)
        .filter(inBatchPred)
      // losers is batch-bounded (it came from this increment's sigs) but
      // carries no size stats — without the hint Spark sort-merges and
      // shuffles the identity read
      TxnTable.deletePositions(spark, corpus,
        rows.join(broadcast(losers), Seq("doc_id"), "left_semi"))
      ()
    }
    // ALL signatures persist — the earlier-id pairwise rule judges
    // against every prior doc, deleted or not. Layout is the point:
    // bucket(16, h) (sticky across appends) + per-file (b,h) stats
    // and h blooms give later increments a PRUNABLE probe target,
    // and optimizedWrite keeps it one file per bucket per ingest
    if (first) {
      graft.ops.Par.both(spark)(
        deleteLeg(),
        sig.write.format("graft")
          .option("statsCols", "b,h").option("bloomCols", "h")
          .option("optimizedWrite", "true")
          .option("partitionBy", "bucket(16, h)").mode("overwrite")
          .save(sigs))
    } else {
      // commitAppend (same code path as the writer; sticky bucket(16,h)
      // carries from the snapshot) RETURNS the landed version — this
      // ingest's place in the serialization order the manifest CAS
      // established across concurrent writers
      val (_, vLanded) = graft.ops.Par.both(spark)(
        deleteLeg(),
        TxnTable.commitAppend(sig, sigs,
          statsCols = Seq("b", "h"), bloomCols = Seq("h"),
          optimizedWrite = true))
      // CONCURRENT-INGEST RECOVERY, part 2 (re-probe on CAS loss):
      // foreign signature appends in (vProbe, vLanded) landed after
      // this ingest's probe read but BEFORE its own signatures — in
      // the serial order the CAS defines, those batches came first,
      // so this batch's docs sharing a band key with them are losers
      // the stale probe missed. Re-judge ONLY against that window and
      // positionally delete the late losers (the same pruned identity
      // read as the main loser leg — batch-local by construction).
      // One pass suffices: any writer landing after vLanded sees
      // THESE signatures in ITS window, so cross-batch pairs always
      // resolve on exactly one side — the later-landed one — and the
      // final state equals the serial replay in landed order
      // (IngestFuzzSpec REQUIREs this).
      reprobeWindow(spark, sigs, vProbe, vLanded) { foreign =>
        sig.join(broadcast(foreign.select($"b", $"h").distinct()),
            Seq("b", "h"), "left_semi")
          .select($"doc_id").distinct()
      } { late =>
        val rows = TxnTable.readWithRowIdentity(spark, corpus)
          .filter(inBatchPred)
        TxnTable.deletePositions(spark, corpus,
          rows.join(broadcast(late), Seq("doc_id"), "left_semi"))
        ()
      }
    }
    pruneCounts
  }

  /** Diagnostic (test vacuity guard): how many ingests found a
    * non-empty foreign window and ran the re-probe recovery. */
  private[graft] val reprobeWindows =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Concurrent-ingest re-probe recovery — the WINDOW PLUMBING every
    * adopter shares (d47/d49/m70/m75; see probePersisted's concurrency
    * contract). A non-empty foreign window (vProbe, vLanded) holds
    * exactly the signature appends this ingest's probe could not have
    * seen but that precede it in the CAS serialization order: `judge`
    * maps those foreign rows to this batch's late verdict (loser ids,
    * or span-affected docs), and `act` applies it — invoked only when
    * the verdict is non-empty. The guard arithmetic, the bounded
    * window read, the vacuity counter, and the empty-check live HERE
    * so the four protocols cannot silently drift; only the judge and
    * the application differ per protocol and stay inline at their
    * call sites. */
  private[graft] def reprobeWindow(spark: SparkSession, sigsT: String,
      vProbe: Long, vLanded: Long)(
      judge: DataFrame => DataFrame)(act: DataFrame => Unit): Unit =
    if (vLanded > vProbe + 1) {
      reprobeWindows.incrementAndGet()
      val foreign = graft.io.TxnTable
        .readChangesBetween(spark, sigsT, vProbe, vLanded - 1)
      val late = judge(foreign).localCheckpoint()
      if (late.limit(1).count() > 0) act(late)
    }

  // ---------------------------------------------------------------- d48
  /** EXACT DUPLICATE-SPAN removal with SLIDING k-gram windows — the
    * substring-level dedup of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (ACL 2022), re-expressed with
    * bounded-memory relational passes instead of a corpus-wide suffix
    * array. d43's disjoint stride-10 passages miss any duplicate run
    * that straddles a passage boundary (the common case: the same
    * paragraph quoted mid-document at a different word offset); here
    * EVERY k-word window (k=8) is a dedup key, so a duplicated run of
    * >= k words is caught at ANY alignment:
    *
    *   1. each doc explodes into its sliding 8-word shingles with
    *      their 1-based start positions;
    *   2. an occurrence is a DUP iff an identical shingle exists at a
    *      strictly earlier (doc_id, pos) — keep-first, deterministic;
    *   3. a doc's removed region is the UNION of its dup windows
    *      [pos, pos+7] (overlapping windows merge for free as a
    *      position-set union — the interval merge of the paper);
    *   4. surviving words rejoin in order.
    *
    * Scale shape: keyed shuffles only — shingle-keyed for the
    * first-occurrence MIN and the flag join (one exchange, reused),
    * doc_id-keyed for the rebuild. The shingle explode is a projection
    * (no pre-shuffle blowup materialized), the covered-set is per-doc
    * and bounded by doc length, and nothing is pairwise: corpus-wide
    * duplicate text costs one aggregation pass however many copies
    * exist, with hot shingles partial-aggregated map-side and the
    * flag join AQE-skew-splittable (a window spelling would pin every
    * occurrence of a boilerplate shingle on one reducer). The per-word
    * `array_contains` rebuild is O(words x removed) per doc — fine
    * for bounded documents; a corpus of book-length docs would swap
    * step 4 for an explode + anti-join on (doc_id, pos), one more
    * doc_id-keyed shuffle. */
  // def, not val: d48Sql is evaluated eagerly inside `all`, which is
  // declared EARLIER in the object — a val here would still be 0 there
  private def d48K = 8
  private def d48(spark: SparkSession, dir: String): DataFrame =
    spanDedup(spark, Tables.documents(spark, dir))

  /** The d48 transform over any (doc_id, text) frame — returns
    * (doc_id, n_words, n_removed, cleaned) ordered by doc_id. */
  private[graft] def spanDedup(spark: SparkSession,
      input: DataFrame): DataFrame = {
    import spark.implicits._
    val docs = input.select($"doc_id", split($"text", " ").as("w"))
    // sliding shingles; docs shorter than k yield none (and survive
    // untouched through the left join below)
    // materialized once: the min-agg and the flag join both consume the
    // shingle frame, and the explode (split + slice + join per window)
    // is the op's CPU hot spot — recomputing it per branch would double
    // the work (d36/d47 checkpoint their signature frames the same way;
    // a production corpus would persist its shingle table to storage)
    // native one-pass sliding windows (SlidingGram): byte-identical to
    // `transform(sequence(1, size(w) - k + 1), i -> array_join(slice(w,
    // i, k), ' '))` without the per-window slice copy and interpreted
    // lambda dispatch — the explode input was this op's CPU hot spot
    val grams = docs
      .select($"doc_id", posexplode(when(size($"w") >= d48K,
          org.apache.spark.sql.GraftBridge.column(
            graft.functions.SlidingGram(
              org.apache.spark.sql.GraftBridge.expression($"w"),
              d48K, hashed = false)))
          .otherwise(typedLit(Seq.empty[String]))).as(Seq("off", "g")))
      .select($"doc_id", ($"off" + 1).as("pos"), $"g")
      .localCheckpoint()
    // keep-first WITHOUT a window: the corpus-wide first occurrence per
    // shingle is a map-side-combinable MIN, and flagging is an equi-join
    // back on the shingle. A row_number window would pin every
    // occurrence of a hot shingle (boilerplate shared by 10^6 docs) on
    // ONE reducer with no recourse; the join spelling partial-aggregates
    // hot keys before the shuffle and AQE splits a skewed join
    // partition — same semantics ((doc_id, pos) is unique, so
    // "occurrence != min" is exactly "rank > 1"), no hot-key ceiling.
    // only shingles occurring MORE than once matter for flagging — the
    // duplicated tail is tiny relative to the corpus (it's bounded by
    // actual duplication volume), so the flag join usually broadcasts
    // and the gram side streams with no sort; a massively-duplicated
    // corpus falls back to an AQE-skew-splittable SMJ by size estimate
    // (doc_id, pos) packed into ONE decimal — injective and
    // order-preserving because pos is a 1-based array index (< 2^31),
    // and 2^63 * 2^31 < 10^38 never overflows decimal(38,0) — so
    // min(packed) IS min(struct(doc_id, pos)). The struct spelling
    // planned as SortAggregate (struct minima have no mutable agg
    // buffer), paying TWO full sorts of the gram frame per pass; the
    // packed min is a plain HashAggregate (r21, plan receipt in
    // plans/r21/d48_span_dedup_{before,after}.txt)
    def pk(doc: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column) =
      doc.cast("decimal(38,0)") * lit(2147483648L) + pos
    val dupFirsts = grams.groupBy($"g")
      .agg(min(pk($"doc_id", $"pos")).as("first"),
        count(lit(1)).as("n"))
      .filter($"n" > 1)
      .select($"g", $"first")
    val covered = grams
      .join(dupFirsts, Seq("g"))
      .filter(pk($"doc_id", $"pos") =!= $"first")
      .select($"doc_id",
        sequence($"pos", $"pos" + lit(d48K - 1)).as("span"))
      .groupBy($"doc_id")
      .agg(array_distinct(flatten(collect_list($"span"))).as("cov"))
    docs.join(covered, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        size($"w").cast("bigint").as("n_words"),
        coalesce(size($"cov"), lit(0)).cast("bigint").as("n_removed"),
        array_join(
          filter($"w", (_, i) => not(array_contains(
            coalesce($"cov", typedLit(Seq.empty[Int])), i + 1))),
          " ").as("cleaned"))
      .orderBy($"doc_id")
  }
  // def, not val: defined after `all` in initialization order
  private def d48Sql = {
    val k = d48K
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |grams AS (
       |  SELECT doc_id, pos, array_to_string(w[pos:pos+${k - 1}], ' ') AS g
       |  FROM (SELECT doc_id, w,
       |          unnest(range(1, len(w) - ${k - 2})) AS pos FROM toks) u),
       |ranked AS (
       |  SELECT doc_id, pos,
       |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
       |  FROM grams),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos + j AS p
       |  FROM ranked, range(0, $k) r(j) WHERE rn > 1),
       |words AS (
       |  SELECT doc_id, w[p] AS word, p
       |  FROM (SELECT doc_id, w,
       |          unnest(range(1, len(w) + 1)) AS p FROM toks) u),
       |clean AS (
       |  SELECT wo.doc_id,
       |    COALESCE(string_agg(CASE WHEN c.p IS NULL THEN wo.word END,
       |                        ' ' ORDER BY wo.p), '') AS cleaned
       |  FROM words wo LEFT JOIN cov c
       |    ON c.doc_id = wo.doc_id AND c.p = wo.p
       |  GROUP BY wo.doc_id),
       |covn AS (
       |  SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.w) AS BIGINT) AS n_words,
       |  CAST(COALESCE(v.n_removed, 0) AS BIGINT) AS n_removed,
       |  c.cleaned
       |FROM toks t
       |LEFT JOIN covn v ON v.doc_id = t.doc_id
       |JOIN clean c ON c.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d49
  /** INCREMENTAL duplicate-span removal — d48's substring dedup in the
    * d47 ingest shape, closing d48's one scale concession (its shingle
    * frame only localCheckpoints): the corpus's sliding 8-gram shingle
    * KEYS persist as a `bucket(16, h)` graft table, and each arriving
    * batch (1) probes it for spans already seen in ANY earlier batch —
    * the shared [[probePersisted]] contract: broadcast or
    * storage-co-partitioned, ZERO shuffles of the persisted side,
    * literal-key file pruning for small batches (REQUIREd by the
    * registered query on its tiny third ingest), (2) resolves in-batch
    * keep-first as the min-agg (no window), (3) appends the batch's
    * CLEANED text to the corpus table — committed files are never
    * rewritten (REQUIREd) — and (4) appends its ORIGINAL shingle keys
    * for future ingests, making span dedup a per-batch O(batch) step
    * instead of a corpus-wide recompute.
    *
    * Batches arrive in doc_id order, so incremental keep-first equals
    * the GLOBAL d48 rule exactly: a shingle's corpus-first occurrence
    * lives in the earliest batch containing it, where it is also the
    * in-batch min — which is why one DuckDB query over the whole
    * corpus (the d48 oracle with md5 keys) checks the entire
    * incremental pipeline. Shingles are keyed by md5(text) — 32 hex
    * chars, stats/bloom-friendly, identical in DuckDB, and collision
    * behavior (astronomically unlikely) matches the oracle bit-exactly
    * because BOTH sides rank on the hash. */
  private def d49(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.TxnTable
    val zone = java.nio.file.Files
      .createTempDirectory("graft_d49_inc").toFile.getAbsolutePath
    try {
      val corpus = s"$zone/clean_txn"
      val grams = s"$zone/grams_txn"
      val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
      val maxId = docs.agg(max($"doc_id")).head().getLong(0)
      val cut = maxId / 2L
      // a TINY third increment — the daily shape; clamped so batch 2
      // stays non-empty on a small or sparse-id corpus (cut < cut2 < maxId
      // must hold or the scanned<total pruning REQUIRE fails spuriously)
      val cut2 = math.max(cut + 1L, maxId - 5L)
      // the later batches' shingle hashing is batch-pure — pipelined
      // under the earlier ingests' commit phases (Par.defer, §2.6)
      val g2 = graft.ops.Par.defer(spark)(d49Grams(spark,
        docs.filter($"doc_id" > cut && $"doc_id" <= cut2)))
      val g3 = graft.ops.Par.defer(spark)(d49Grams(spark,
        docs.filter($"doc_id" > cut2)))
      d49Ingest(spark, corpus, grams,
        docs.filter($"doc_id" <= cut), first = true)
      val before = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get).files.toSet
      d49Ingest(spark, corpus, grams,
        docs.filter($"doc_id" > cut && $"doc_id" <= cut2), first = false,
        pre = Some(g2))
      val (scanned, total) = d49Ingest(spark, corpus, grams,
        docs.filter($"doc_id" > cut2), first = false, pre = Some(g3))
      require(scanned < total,
        s"small-increment gram probe must prune persisted shingle " +
          s"files: read $scanned of $total")
      val after = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get).files
      require(before.subsetOf(after.toSet),
        "incremental span dedup must never rewrite a committed corpus file")
      val result = spark.read.format("graft").load(corpus)
        .select($"doc_id", $"n_words", $"n_removed", $"cleaned")
        .orderBy($"doc_id")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }

  /** One d49 ingest (reusable by specs): clean `batch` against the
    * persisted shingle table + its own earlier occurrences, append the
    * cleaned rows to `corpus` and the ORIGINAL shingle keys to `grams`.
    * Returns the probe's (scanned, total) persisted-file counts. */
  /** The batch's hashed sliding k-gram occurrences, materialized — the
    * batch-PURE prefix of a d49 ingest, extractable so callers can
    * pipeline the next batch's shingling under the current ingest's
    * commits (Par.defer, §2.6). Native sliding windows with the md5
    * fused in (SlidingGram hashed): each window streams straight into
    * one reused MessageDigest — byte-identical keys to
    * `md5(array_join(slice(w, i, k), ' '))` with no per-window slice
    * copy or joined-string materialization. */
  private def d49Grams(spark: SparkSession, batch: DataFrame): DataFrame = {
    import spark.implicits._
    val k = d48K
    batch.select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", posexplode(when(size($"w") >= k,
          org.apache.spark.sql.GraftBridge.column(
            graft.functions.SlidingGram(
              org.apache.spark.sql.GraftBridge.expression($"w"),
              k, hashed = true)))
          .otherwise(typedLit(Seq.empty[String]))).as(Seq("off", "h")))
      .select($"doc_id", ($"off" + 1).as("pos"), $"h")
      .localCheckpoint()
  }

  private[graft] def d49Ingest(spark: SparkSession, corpus: String,
      grams: String, batch: DataFrame, first: Boolean,
      pre: Option[() => DataFrame] = None): (Int, Int) = {
    import spark.implicits._
    val k = d48K
    val docs = batch.select($"doc_id", split($"text", " ").as("w"))
    val g = pre.map(_()).getOrElse(d49Grams(spark, batch))
    // CONCURRENT-INGEST RECOVERY, part 1 (the d47 move): pin the
    // version the probe judges against; over-reading is idempotent
    val vProbe: Long =
      if (first) -1L
      else graft.io.TxnTable.latestVersion(spark, grams).get
    val (cross, pruneCounts) =
      if (first)
        (spark.emptyDataset[(Long, Int)].toDF("doc_id", "pos"), (0, 0))
      else {
        val r = probePersisted(spark, grams, g,
          joinCols = Seq("h"), out = Seq("doc_id", "pos"),
          keyCol = "h", cat = "gd49spj")
        r
      }
    // in-batch keep-first: the min-agg + dup-tail join (no window —
    // a boilerplate shingle partial-aggregates, same as d48), with
    // (doc_id, pos) packed into one decimal so the min is a
    // HashAggregate instead of a double-sort SortAggregate (injective,
    // order-preserving: pos is a 1-based array index < 2^31 — the d48
    // spelling, see spanDedup)
    def pk(doc: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column) =
      doc.cast("decimal(38,0)") * lit(2147483648L) + pos
    val dupFirsts = g.groupBy($"h")
      .agg(min(pk($"doc_id", $"pos")).as("first"),
        count(lit(1)).as("n"))
      .filter($"n" > 1)
      .select($"h", $"first")
    val inBatch = g.join(dupFirsts, Seq("h"))
      .filter(pk($"doc_id", $"pos") =!= $"first")
      .select($"doc_id", $"pos")
    def coveredOf(occ: DataFrame): DataFrame = occ.distinct()
      .select($"doc_id", sequence($"pos", $"pos" + lit(k - 1)).as("span"))
      .groupBy($"doc_id")
      .agg(array_distinct(flatten(collect_list($"span"))).as("cov"))
    def cleanedOf(base: DataFrame, cov: DataFrame): DataFrame =
      base.join(cov, Seq("doc_id"), "left")
        .select(
          $"doc_id",
          size($"w").cast("bigint").as("n_words"),
          coalesce(size($"cov"), lit(0)).cast("bigint").as("n_removed"),
          array_join(
            filter($"w", (_, i) => not(array_contains(
              coalesce($"cov", typedLit(Seq.empty[Int])), i + 1))),
            " ").as("cleaned"))
    val cleaned = cleanedOf(docs, coveredOf(cross.union(inBatch)))
    def cleanedLeg(): Unit = {
      cleaned.write.format("graft").option("statsCols", "doc_id")
        .mode(if (first) "overwrite" else "append").save(corpus)
      ()
    }
    // ALL original shingles persist (the keep-first rule judges against
    // the corpus as WRITTEN, not as cleaned); layout is the point:
    // bucket(16, h) + per-file h stats and blooms make later ingests'
    // probes prunable, optimizedWrite keeps it one file per bucket.
    // The cleaned-corpus commit and the shingle commit land on
    // DIFFERENT tables with no dependency, so they overlap (guide
    // §2.6); the re-probe recovery — which replaces corpus rows —
    // runs only after BOTH have landed.
    if (first) {
      graft.ops.Par.both(spark)(
        cleanedLeg(),
        g.write.format("graft")
          .option("statsCols", "h").option("bloomCols", "h")
          .option("optimizedWrite", "true")
          .option("partitionBy", "bucket(16, h)").mode("overwrite")
          .save(grams))
    } else {
      val (_, vLanded) = graft.ops.Par.both(spark)(
        cleanedLeg(),
        graft.io.TxnTable.commitAppend(g, grams,
          statsCols = Seq("h"), bloomCols = Seq("h"),
          optimizedWrite = true))
      // CONCURRENT-INGEST RECOVERY, part 2 — the d47 re-probe, with
      // the d49 twist: a stale probe doesn't just admit a row, it
      // writes WRONG CLEANED TEXT (the foreign batch's shingles came
      // first in the landed order, so this batch's occurrences of
      // them are duplicate spans the cleaning missed). Re-judge the
      // batch against exactly the foreign window and REPLACE the
      // affected docs' corpus rows in one commit (replacePositions —
      // positional delete + append, no rewrite of unaffected files).
      // One pass suffices for the same reason as d47: later landers
      // see THESE shingles in their own window.
      reprobeWindow(spark, grams, vProbe, vLanded) { foreign =>
        g.join(broadcast(foreign.select($"h").distinct()),
            Seq("h"), "left_semi")
          .select($"doc_id", $"pos")
      } { lateOcc =>
        val affected = lateOcc.select($"doc_id").distinct()
        // the affected docs' FULL verdict: original cross ∪ in-batch
        // ∪ the late foreign hits (union is idempotent where the
        // probe over-read a post-pin commit)
        val covAll = coveredOf(
          cross.union(inBatch).union(lateOcc)
            .join(broadcast(affected), Seq("doc_id"), "left_semi"))
        val relCleaned = cleanedOf(
          docs.join(broadcast(affected), Seq("doc_id"), "left_semi"),
          covAll)
        // prune the replace's identity read to the batch's own
        // doc_id range (its files, via stats) before the semi-join —
        // the affected docs are batch-local by construction
        val bnd = docs.agg(min($"doc_id"), max($"doc_id")).head()
        val (blo, bhi) = (bnd.getLong(0), bnd.getLong(1))
        graft.io.TxnTable.replacePositions(spark, corpus,
          snap => snap
            .filter(col("doc_id") >= blo && col("doc_id") <= bhi)
            .join(broadcast(affected), Seq("doc_id"), "left_semi"),
          relCleaned)
      }
    }
    pruneCounts
  }

  // def, not val: defined after `all` in initialization order
  private def d49Sql = {
    val k = d48K
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |grams AS (
       |  SELECT doc_id, pos, md5(array_to_string(w[pos:pos+${k - 1}], ' ')) AS h
       |  FROM (SELECT doc_id, w,
       |          unnest(range(1, len(w) - ${k - 2})) AS pos FROM toks) u),
       |ranked AS (
       |  SELECT doc_id, pos,
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |  FROM grams),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos + j AS p
       |  FROM ranked, range(0, $k) r(j) WHERE rn > 1),
       |words AS (
       |  SELECT doc_id, w[p] AS word, p
       |  FROM (SELECT doc_id, w,
       |          unnest(range(1, len(w) + 1)) AS p FROM toks) u),
       |clean AS (
       |  SELECT wo.doc_id,
       |    COALESCE(string_agg(CASE WHEN c.p IS NULL THEN wo.word END,
       |                        ' ' ORDER BY wo.p), '') AS cleaned
       |  FROM words wo LEFT JOIN cov c
       |    ON c.doc_id = wo.doc_id AND c.p = wo.p
       |  GROUP BY wo.doc_id),
       |covn AS (
       |  SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.w) AS BIGINT) AS n_words,
       |  CAST(COALESCE(v.n_removed, 0) AS BIGINT) AS n_removed,
       |  c.cleaned
       |FROM toks t
       |LEFT JOIN covn v ON v.doc_id = t.doc_id
       |JOIN clean c ON c.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d50
  /** INCREMENTAL boilerplate purge — d45's C4 rule (a passage in >= 3
    * DISTINCT documents is template text; EVERY occurrence drops,
    * including the first) in the d47/d49 ingest shape, with the twist
    * neither has: hotness is RETROACTIVE. A passage can cross the
    * 3-document threshold in any later batch, at which point documents
    * committed BEFORE the crossing must lose their occurrences too —
    * so each ingest (1) appends the batch's stride-3 passage
    * occurrences (md5 keys) to a `bucket(16, h)` occurrence table,
    * (2) probes it for every corpus-wide occurrence of the batch's
    * passages ([[probePersisted]]: broadcast or SPJ, zero shuffles of
    * the persisted side, literal-key file pruning on small batches —
    * REQUIREd by the registered query's tiny third ingest), (3) cleans
    * and appends the batch against the passages hot AS OF this ingest,
    * and (4) for passages that CROSSED the threshold here, re-cleans
    * the (≤ 2 per crossing) prior documents from their stored ORIGINAL
    * text via a positional UPDATE — kilobyte vectors, zero file
    * rewrites. Hotness is monotone, and every crossing touches exactly
    * its passage's documents, so the final state equals the GLOBAL d45
    * rule — which is why one DuckDB query over the whole corpus
    * oracle-checks the entire multi-ingest, retroactively-updated
    * pipeline. */
  private def d50(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.TxnTable
    val zone = java.nio.file.Files
      .createTempDirectory("graft_d50_inc").toFile.getAbsolutePath
    try {
      val corpus = s"$zone/clean_txn"
      val occs = s"$zone/occs_txn"
      val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
      val maxId = docs.agg(max($"doc_id")).head().getLong(0)
      val cut = maxId / 2L
      // a TINY third increment — the daily shape; clamped so batch 2
      // stays non-empty on a small or sparse-id corpus (cut < cut2 < maxId
      // must hold or the scanned<total pruning REQUIRE fails spuriously)
      val cut2 = math.max(cut + 1L, maxId - 5L)
      d50Ingest(spark, corpus, occs,
        docs.filter($"doc_id" <= cut), first = true)
      val before = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get).files.toSet
      d50Ingest(spark, corpus, occs,
        docs.filter($"doc_id" > cut && $"doc_id" <= cut2), first = false)
      val (scanned, total) = d50Ingest(spark, corpus, occs,
        docs.filter($"doc_id" > cut2), first = false)
      require(scanned < total,
        s"small-increment occurrence probe must prune persisted files: " +
          s"read $scanned of $total")
      val after = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get).files
      require(before.subsetOf(after.toSet),
        "retroactive re-cleaning must be positional updates, never a " +
          "committed-file rewrite")
      val result = spark.read.format("graft").load(corpus)
        .select($"doc_id", $"n_passages", $"n_kept", $"cleaned")
        .orderBy($"doc_id")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }

  /** d45's stride-3 passages of `text`, as a SQL-expr column. */
  private def d50Passages: String =
    """transform(
      |  sequence(0, cast(ceil(size(split(text, ' ')) / 3.0) as int) - 1),
      |  i -> array_join(slice(split(text, ' '), i * 3 + 1, 3), ' '))"""
      .stripMargin

  /** One d50 ingest (reusable by specs): append the batch's occurrence
    * keys, clean + append the batch against passages hot as of NOW, and
    * retroactively re-clean prior docs whose passages just crossed the
    * threshold. Returns the probe's (scanned, total) file counts. */
  private[graft] def d50Ingest(spark: SparkSession, corpus: String,
      occs: String, batch: DataFrame, first: Boolean): (Int, Int) = {
    import spark.implicits._
    val pass = batch
      .select($"doc_id", posexplode(expr(d50Passages)).as(Seq("pos", "p")))
      .select($"doc_id", $"pos", md5($"p").as("h"))
      .localCheckpoint()
    // occurrences append FIRST: the per-ingest hot rule is "count
    // INCLUDING this batch", so one post-append probe serves both the
    // batch clean and the crossing detection
    val ow = pass.write.format("graft")
      .option("statsCols", "h").option("bloomCols", "h")
      .option("optimizedWrite", "true")
    (if (first) ow.option("partitionBy", "bucket(16, h)").mode("overwrite")
     else ow.mode("append")).save(occs)
    val keys = pass.select($"h").distinct().localCheckpoint()
    val (matches, pruneCounts) =
      if (first) (pass.select($"h", $"doc_id"), (0, 0))
      else probePersisted(spark, occs, keys,
        joinCols = Seq("h"), out = Seq("h", "doc_id"),
        keyCol = "h", cat = "gd50spj", scanPayload = Seq("doc_id"))
    // per batch-passage totals (corpus-wide, batch included) and the
    // batch's own contribution — a passage CROSSED iff total >= 3 while
    // total-minus-contribution was still below
    val counts = matches.groupBy($"h")
      .agg(countDistinct($"doc_id").as("n")).localCheckpoint()
    val hot = counts.filter($"n" >= 3).select($"h".as("hh"))
    val pb = batch
      .select($"doc_id", $"text",
        posexplode(expr(d50Passages)).as(Seq("pos", "p")))
      .withColumn("h", md5($"p"))
    val cleanedBatch = pb
      .join(broadcast(hot), $"h" === $"hh", "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_passages"),
        sum(when($"hh".isNull, 1L).otherwise(0L)).cast("bigint")
          .as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when($"hh".isNull, struct($"pos", $"p")))),
            s => s.getField("p")),
          " ").as("cleaned"))
      .join(batch, Seq("doc_id"))
      .select($"doc_id", $"text", $"n_passages", $"n_kept", $"cleaned")
    cleanedBatch.write.format("graft")
      .option("statsCols", "doc_id").option("mergeOnRead", "true")
      .mode(if (first) "overwrite" else "append").save(corpus)
    // retroactive leg: passages that crossed the threshold THIS ingest.
    // Everything stays a FRAME end to end — the affected doc ids, their
    // re-derived passages, and the now-hot set semi/left-join instead
    // of driver-collected isin/typedLit literals, so an ingest whose
    // batch crosses 10^4 passages plans exactly like one that crosses
    // 3 (no giant In-list through the optimizer, no literal array in
    // every row's rebuild expression; IncrementalBoilerplateSpec pins
    // this on an engineered many-crossings batch)
    if (!first) {
      val contrib = pass.select($"h", $"doc_id").distinct()
        .groupBy($"h").agg(count(lit(1)).as("bn"))
      val newlyHot = counts.join(contrib, Seq("h"))
        .filter($"n" >= 3 && $"n" - $"bn" < 3).select($"h")
      val batchIds = batch.select($"doc_id")
      // bounded by construction: each crossing has at most 2 prior
      // documents, so |affected| <= 2 × crossings-this-ingest — small
      // enough to localCheckpoint (size-known => the joins broadcast)
      val affected = matches.join(broadcast(newlyHot), Seq("h"))
        .select($"doc_id").distinct()
        .join(batchIds, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      if (affected.limit(1).count() > 0L) {
        // re-derive the affected docs' passages from their stored
        // ORIGINAL text (the corpus keeps `text` for exactly this);
        // the semi-join's build side is tiny, so the corpus scan can
        // prune by runtime filter on its doc_id stats
        val affPass = spark.read.format("graft").load(corpus)
          .join(affected, Seq("doc_id"), "left_semi")
          .select($"doc_id",
            posexplode(expr(d50Passages)).as(Seq("pos", "p")))
          .select($"doc_id", $"pos", $"p", md5($"p").as("h"))
          .localCheckpoint()
        // checkpointed: the distinct's exchange must not land inside
        // the probe plan (its zero-shuffle REQUIRE covers both sides)
        val affKeys = affPass.select($"h").distinct().localCheckpoint()
        val (affOcc, _) = probePersisted(spark, occs, affKeys,
          joinCols = Seq("h"), out = Seq("h", "doc_id"),
          keyCol = "h", cat = "gd50spj", scanPayload = Seq("doc_id"))
        val hotNow = affOcc.groupBy($"h")
          .agg(countDistinct($"doc_id").as("n"))
          .filter($"n" >= 3).select($"h".as("hh"))
        // rebuild each affected doc from its own passages minus the
        // hot set — same agg spelling as the batch-clean leg
        val rebuilt = affPass
          .join(hotNow, $"h" === $"hh", "left")
          .groupBy($"doc_id")
          .agg(
            sum(when($"hh".isNull, 1L).otherwise(0L)).cast("bigint")
              .as("n_kept"),
            array_join(
              transform(
                array_sort(collect_list(
                  when($"hh".isNull, struct($"pos", $"p")))),
                s => s.getField("p")),
              " ").as("cleaned"))
          .localCheckpoint()
        graft.io.TxnTable.updateFromPos(spark, corpus, rebuilt,
          Seq("doc_id"))
        ()
      }
    }
    pruneCounts
  }

  // def, not val: defined after `all` in initialization order
  private def d50Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |passages AS (
      |  SELECT doc_id, i AS pos,
      |    md5(array_to_string(w[(i*3+1):(i*3+3)], ' ')) AS h,
      |    array_to_string(w[(i*3+1):(i*3+3)], ' ') AS passage
      |  FROM (SELECT doc_id, w,
      |          unnest(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT))) AS i
      |        FROM toks) u),
      |hot AS (
      |  SELECT h AS hh FROM passages
      |  GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 3)
      |SELECT doc_id,
      | CAST(COUNT(*) AS BIGINT) AS n_passages,
      | CAST(SUM(CASE WHEN hh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | COALESCE(string_agg(CASE WHEN hh IS NULL THEN passage END, ' ' ORDER BY pos), '') AS cleaned
      |FROM passages LEFT JOIN hot ON h = hh
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d51
  /** INCREMENTAL keep-best dedup with cross-batch champion DISPLACEMENT
    * — d41's canonical-pick policy (one representative per normalized
    * fingerprint: longest raw text, then lowest id) in the d47/d49/d50
    * ingest shape. The new wrinkle vs d47's keep-first: a LATER batch
    * can carry a BETTER copy, which must displace the already-committed
    * champion — a positional delete of the old row plus an ordinary
    * append of the new one, zero file rewrites.
    *
    * Per ingest: (1) reduce the batch to its own per-fingerprint
    * champions (a map-side-combinable MIN over (-n_chars, doc_id) — no
    * window, so a mass-duplicated fingerprint never pins a reducer);
    * (2) probe the corpus — itself the persisted `bucket(16, fp)`
    * table — for committed champions sharing the batch's fingerprints
    * ([[probePersisted]]: broadcast or storage-co-partitioned, ZERO
    * shuffles of the corpus side, literal-key file pruning on small
    * batches, REQUIREd by the registered query's tiny third ingest);
    * (3) positional-delete the DISPLACED committed champions (their
    * coordinates found by one identity read semi-joined to the small
    * displaced-id frame — runtime-filterable on the corpus's doc_id
    * stats, never an isin literal); (4) append the batch champions
    * that won or arrived new.
    *
    * The champion per fingerprint is an argmax over all docs seen —
    * associative and commutative — so unlike keep-FIRST (d47/d49,
    * which need id-ordered batches) the final state equals the GLOBAL
    * d41 rule under ANY batch split or arrival order: one DuckDB query
    * over the whole corpus oracle-checks the entire displacing,
    * multi-ingest pipeline. */
  private def d51(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.TxnTable
    val zone = java.nio.file.Files
      .createTempDirectory("graft_d51_inc").toFile.getAbsolutePath
    try {
      val corpus = s"$zone/champs_txn"
      // the documents table has no natural fingerprint collisions at
      // test SFs, so the workload derives LATE-ARRIVING VARIANTS (every
      // 7th doc re-appears upper-cased with trailing whitespace — same
      // normalized fingerprint, LONGER raw text, id past the original
      // range): each variant lands in a later batch and must DISPLACE
      // its batch-1 original. The oracle derives the identical corpus.
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      // offset by max+1: ids can start at 0, and a colliding variant id
      // would duplicate a doc_id — two rows tying on the final ORDER BY.
      // Both maxima in ONE pass: the derived corpus's max id is the
      // largest %7 variant's shifted id (or the base max if none), so
      // re-scanning the union for it was a second full-scan job.
      val bnd = base.agg(max($"doc_id"),
        max(when($"doc_id" % 7 === 0, $"doc_id"))).head()
      val mx = bnd.getLong(0) + 1L
      val docs = base.unionByName(
        base.filter($"doc_id" % 7 === 0)
          .select(($"doc_id" + mx).as("doc_id"),
            concat(upper($"text"), lit("  ")).as("text")))
      val maxId = if (bnd.isNullAt(1)) mx - 1L else bnd.getLong(1) + mx
      val cut = maxId / 2L
      // a TINY third increment — the daily shape; clamped like d47's
      val cut2 = math.max(cut + 1L, maxId - 5L)
      // the later batches' fingerprint+argmin is batch-pure — pipelined
      // under the earlier ingests' commit phases (Par.defer, §2.6)
      val ch2 = graft.ops.Par.defer(spark)(d51Champs(spark,
        docs.filter($"doc_id" > cut && $"doc_id" <= cut2)))
      val ch3 = graft.ops.Par.defer(spark)(d51Champs(spark,
        docs.filter($"doc_id" > cut2)))
      d51Ingest(spark, corpus, docs.filter($"doc_id" <= cut), first = true)
      val before = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get).files.toSet
      d51Ingest(spark, corpus,
        docs.filter($"doc_id" > cut && $"doc_id" <= cut2), first = false,
        pre = Some(ch2))
      val (scanned, total) = d51Ingest(spark, corpus,
        docs.filter($"doc_id" > cut2), first = false, pre = Some(ch3))
      require(scanned < total,
        s"small-increment champion probe must prune corpus files: " +
          s"read $scanned of $total")
      val after = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get)
      require(before.subsetOf(after.files.toSet),
        "champion displacement must be positional deletes, never a " +
          "committed-file rewrite")
      require(after.dels.exists(_.keyCols == TxnTable.PosDelKeyCols),
        "the derived variants must have displaced batch-1 champions " +
          "through positional vectors — none landed")
      val result = spark.read.format("graft").load(corpus)
        .select($"doc_id", $"fp", $"n_chars")
        .orderBy($"doc_id")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }

  /** One d51 ingest (reusable by specs): reduce `batch` to its own
    * champions, displace committed champions it beats, append winners.
    * Returns the probe's (scanned, total) corpus file counts. */
  /** The batch's in-batch champions, materialized — the batch-PURE
    * prefix of a d51 ingest, extractable so callers can pipeline the
    * next batch's fingerprint+argmin under the current ingest's
    * commits (Par.defer, §2.6). Min over (-n_chars, doc_id) per
    * fingerprint, then one join back for the text (the agg carries
    * only the rank key, not the payload — a mass-dup fingerprint
    * partial-aggregates). The pair is decimal-PACKED (see d41) so the
    * min is a HashAggregate, not a double-sort SortAggregate. */
  private def d51Champs(spark: SparkSession, batch: DataFrame): DataFrame = {
    import spark.implicits._
    val keyed = batch.select($"doc_id", $"text",
      graft.text.TextFunctions.fingerprint($"text").as("fp"),
      length($"text").cast("bigint").as("n_chars")).localCheckpoint()
    val two63 = lit(new java.math.BigDecimal(
      java.math.BigInteger.ONE.shiftLeft(63)))
    keyed
      .groupBy($"fp")
      .agg(min((-$"n_chars").cast("decimal(38,0)") * two63 + $"doc_id")
        .as("b"))
      .select($"fp", pmod($"b", two63).cast("bigint").as("doc_id"))
      .join(keyed, Seq("fp", "doc_id"))
      .localCheckpoint()
  }

  private[graft] def d51Ingest(spark: SparkSession, corpus: String,
      batch: DataFrame, first: Boolean,
      pre: Option[() => DataFrame] = None): (Int, Int) = {
    import spark.implicits._
    import graft.io.TxnTable
    val champs = pre.map(_()).getOrElse(d51Champs(spark, batch))
    if (first) {
      champs.write.format("graft")
        .option("partitionBy", "bucket(16, fp)")
        .option("statsCols", "fp,doc_id").option("bloomCols", "fp")
        .option("optimizedWrite", "true").option("mergeOnRead", "true")
        .mode("overwrite").save(corpus)
      return (0, 0)
    }
    // champs carries EXACTLY one row per fingerprint (the agg's group
    // key, joined back 1:1 on the unique (fp, doc_id)), so its fp
    // projection is already distinct AND already checkpointed — the old
    // distinct().localCheckpoint() here paid a shuffle plus a
    // materialization action per ingest for a no-op
    val keys = champs.select($"fp")
    val (existing, pruneCounts) = probePersisted(spark, corpus, keys,
      joinCols = Seq("fp"), out = Seq("fp", "doc_id", "n_chars"),
      keyCol = "fp", cat = "gd51spj",
      scanPayload = Seq("doc_id", "n_chars"))
    // the general argmax comparison (not "later loses ties"): keeps the
    // incremental state == global rule under ANY arrival order
    val faced = champs.join(
      existing.select($"fp", $"doc_id".as("_odoc"), $"n_chars".as("_on")),
      Seq("fp"), "left")
    val batchWins = $"_odoc".isNull || $"n_chars" > $"_on" ||
      ($"n_chars" === $"_on" && $"doc_id" < $"_odoc")
    // ONE materialization of the verdict join: winners and displaced
    // are both filters over the winning rows, so checkpointing them
    // separately executed `faced` twice for nothing
    val judged = faced.filter(batchWins)
      .select($"fp", $"doc_id", $"text", $"n_chars", $"_odoc")
      .localCheckpoint()
    val winners = judged.select($"fp", $"doc_id", $"text", $"n_chars")
    val displaced = judged.filter($"_odoc".isNotNull)
      .select($"_odoc".as("doc_id"))
    if (displaced.limit(1).count() > 0L) {
      // displacement + replacement in ONE MoR commit: a reader between
      // a separate delete and append would see no champion at all for
      // the displaced fingerprints, and a crash between them would drop
      // them permanently. Coordinates come from the identity read
      // semi-joined to the SMALL displaced-id frame (broadcast +
      // runtime-filterable on doc_id stats) — never an isin literal —
      // and the selector re-derives them on every CAS retry.
      // optimizedWrite on the appended leg: the corpus is bucket(16,fp)
      // partitioned, so without it each merge commit landed one file
      // per TASK per bucket (the d52-§6 small-files leak, here on every
      // displacement) — and the one-file-per-value layout additionally
      // qualifies the commit for writeData's overlapped stats/bloom
      // pass (winners is a checkpoint projection), deleting the serial
      // read-back job per commit
      TxnTable.replacePositions(spark, corpus,
        snap => snap.join(broadcast(displaced), Seq("doc_id"), "left_semi"),
        winners, optimizedWrite = true)
      ()
    } else if (winners.limit(1).count() > 0L)
      // the first write's layout options, re-stated (per-write, not
      // sticky — the d52-§6 lesson): without them a no-displacement
      // append landed fp/doc_id-statless, bloomless, one-file-per-task
      // files later probes cannot prune
      winners.write.format("graft")
        .option("statsCols", "fp,doc_id").option("bloomCols", "fp")
        .option("optimizedWrite", "true")
        .mode("append").save(corpus)
    pruneCounts
  }

  // def, not val: defined after `all` in initialization order
  private def d51Sql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
      |    UPPER(text) || '  ' AS text
      |  FROM documents WHERE doc_id % 7 = 0)
      |SELECT doc_id, fp, n_chars FROM (
      |  SELECT doc_id, md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp,
      |    CAST(LENGTH(text) AS BIGINT) AS n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))))
      |                       ORDER BY LENGTH(text) DESC, doc_id) AS rn
      |  FROM corpus) t
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** INCREMENTAL cross-batch dedup — the production shape of MinHash
    * dedup at 100 TB: band signatures PERSIST as a graft table, and
    * each incoming batch dedups against them with a band-key join
    * sized to the BATCH, then positional-deletes its in-batch losers
    * and appends its own signatures — no corpus rescan, ever. The
    * corpus here ingests as two id-ordered batches; each ingest:
    *
    *   1. appends the batch to the merge-on-read corpus table;
    *   2. computes the batch's band signatures (native one-pass
    *      `minhash_sig`, the same bands d36 persists);
    *   3. marks a doc a DUP iff some band key matches the signature
    *      table (a strictly earlier doc — cross-batch) or an
    *      earlier-id doc of the same batch (per-band min-id window);
    *   4. removes the dups by POSITIONAL delete (kilobyte vector, no
    *      data-file rewrite — REQUIREd);
    *   5. appends ALL the batch's signatures (survivors AND dups, so
    *      the pairwise earlier-id rule stays exactly recomputable).
    *
    * Per-increment cost: one batch signature pass + one SHUFFLE-FREE
    * probe of the signature table + one metadata commit. The batch
    * side BROADCASTS into the band join, so the corpus-sized sigs
    * side streams straight out of its scan with zero Exchange
    * (REQUIREd in-query); the sigs table is written `bucket(16, h)`-
    * partitioned with (b,h) stats and an h bloom per file, so the
    * scan itself prunes signature files the batch's key set cannot
    * match (runtime filtering, k137 machinery) — nothing ever
    * shuffles the corpus, and the scan narrows with key locality.
    * The oracle recomputes the SAME pairwise rule from scratch in
    * DuckDB over the full corpus: incremental and batch answers must
    * agree exactly. */
  private def d47(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.TxnTable
    val zone = java.nio.file.Files
      .createTempDirectory("graft_d47_inc").toFile.getAbsolutePath
    try {
      val corpus = s"$zone/corpus_txn"
      val sigs = s"$zone/sigs_txn"
      val docs = Tables.documents(spark, dir).select($"doc_id", $"lang", $"text")
      val maxId = docs.agg(max($"doc_id")).head().getLong(0)
      val cut = maxId / 2L
      // a TINY third increment — the daily shape; clamped so batch 2
      // stays non-empty on a small or sparse-id corpus (cut < cut2 < maxId
      // must hold or the scanned<total pruning REQUIRE fails spuriously)
      val cut2 = math.max(cut + 1L, maxId - 5L)
      // the later batches' band hashing is batch-pure — pipeline it
      // under the earlier ingests' commit phases (Par.defer, §2.6);
      // commits land in the identical order
      val sig2 = graft.ops.Par.defer(spark)(d47Sig(spark,
        docs.filter($"doc_id" > cut && $"doc_id" <= cut2)))
      val sig3 = graft.ops.Par.defer(spark)(d47Sig(spark,
        docs.filter($"doc_id" > cut2)))
      val before = {
        d47Ingest(spark, corpus, sigs, docs.filter($"doc_id" <= cut),
          first = true, $"doc_id" <= cut)
        TxnTable.morState(spark, corpus,
          TxnTable.latestVersion(spark, corpus).get).files.toSet
      }
      d47Ingest(spark, corpus, sigs,
        docs.filter($"doc_id" > cut && $"doc_id" <= cut2),
        first = false, $"doc_id" > cut && $"doc_id" <= cut2,
        pre = Some(sig2))
      // the tiny increment's probe must ACTUALLY skip signature files —
      // its literal key set reaches the scan, so bucket pruning, (b,h)
      // stats and the per-file h blooms prune at plan time (this is
      // the machine check on the layout claim, not just plan shape)
      val (scanned, total) = d47Ingest(spark, corpus, sigs,
        docs.filter($"doc_id" > cut2), first = false, $"doc_id" > cut2,
        pre = Some(sig3))
      require(scanned < total,
        s"small-increment probe must prune signature files: read " +
          s"$scanned of $total")
      val after = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get).files
      require(before.subsetOf(after.toSet),
        "incremental dedup must not rewrite any ingested data file")
      val result = spark.read.format("graft").load(corpus)
        .groupBy($"lang")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum($"doc_id").cast("bigint").as("id_sum"))
        .orderBy($"lang")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  // def, not val: defined after `all` in initialization order
  private[graft] def d47Sql = {
    def mh(i: Int) =
      s"list_aggregate(list_transform(sh, s -> md5('$i:' || s)), 'min')"
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
       |     for i in range(1, len(string_split(text,' ')) - 1)] AS sh
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |   md5(${mh(1)} || ${mh(2)}) AS band1,
       |   md5(${mh(3)} || ${mh(4)}) AS band2,
       |   md5(${mh(5)} || ${mh(6)}) AS band3,
       |   md5(${mh(7)} || ${mh(8)}) AS band4
       |  FROM sh),
       |dups AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM sig a JOIN sig b ON a.doc_id > b.doc_id AND
       |    (a.band1 = b.band1 OR a.band2 = b.band2 OR
       |     a.band3 = b.band3 OR a.band4 = b.band4))
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM dups)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  private def d46Sql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM documents
      |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- d52
  /** INCREMENTAL CONNECTED COMPONENTS — d40's near-dup cluster map as
    * a MAINTAINED artifact, the missing incremental family member:
    * keep-first (d47), spans (d49), boilerplate (d50), and keep-best
    * (d51) all maintain row-level state, but the CLUSTER map (which
    * docs are the same document) was whole-corpus-only. Two persisted
    * graft tables: `sigs` — exploded `<band>:<hash>` keys, bucketed —
    * and `labels` — (doc_id, label) with label = the component's MIN
    * doc id (d40's convention). Each ingest:
    *
    *   1. band-keys the batch (the same native one-pass `minhash_sig`)
    *   2. probes `sigs` for collisions ([[probePersisted]]: broadcast
    *      or storage-co-partitioned, batch-sized, literal-key file
    *      pruning REQUIREd on the handful-of-docs fourth ingest)
    *   3. contracts the merge graph: in-batch edges + cross edges with
    *      the corpus endpoint REPLACED by its component label — so
    *      [[connectedComponents]] runs on a graph sized by the BATCH
    *      and the components it touches, never the corpus
    *   4. RETROACTIVE MERGE: when a batch doc bridges two existing
    *      components, every row of the losing component relabels AND
    *      the batch's new label rows land in ONE MoR commit
    *      ([[TxnTable.replacePositions]] — kilobyte vectors, zero
    *      rewrites, no literals; one commit because a merged
    *      component's new min can BE a batch doc, so a reader between
    *      separate relabel and append commits would see labels
    *      pointing at an unlabeled doc)
    *
    * Label = component min is the invariant that makes step 3 sound:
    * contracting a component to its label loses nothing because the
    * label IS its min, and the merged min is the min over batch ids
    * and touched labels. The registered workload derives exact-dup
    * variants (batch 2 attaches to batch-1 docs) and CONCAT BRIDGES
    * (batch 3 docs whose text is two distinct batch-1 components'
    * texts concatenated — their band keys collide with both sides
    * often enough that several merges fire, REQUIREd > 0), and the
    * oracle recomputes d40's recursive-CTE components over the whole
    * derived corpus: the incremental map must equal it exactly. */
  private def d52(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.TxnTable
    val zone = java.nio.file.Files
      .createTempDirectory("graft_d52_inc").toFile.getAbsolutePath
    try {
      val labels = s"$zone/labels_txn"
      val sigsT = s"$zone/sigs_txn"
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      val o = base.agg(max($"doc_id")).head().getLong(0) + 1L
      val dups = base.filter($"doc_id" % 40 === 0)
        .select(($"doc_id" + o).as("doc_id"), $"text")
      val bridges = base.as("a").filter($"doc_id" % 80 === 0)
        .join(base.as("b"), col("b.doc_id") === col("a.doc_id") + 40L)
        .select((col("a.doc_id") + 2L * o).as("doc_id"),
          concat(col("a.text"), lit(" "), col("b.text")).as("text"))
      // the DAILY-shaped fourth ingest: a handful of docs, so its
      // literal key set reaches the signature scan and file pruning is
      // machine-checkable (the bridge batch is deliberately NOT the
      // pruning probe — its key count grows with the corpus)
      val daily = base.filter($"doc_id" % 1200 === 0)
        .select(($"doc_id" + 3L * o).as("doc_id"), $"text")
      // the band-key hashing of each batch is batch-PURE (a function of
      // the batch text only), so the three later batches' hashing
      // pipelines under the earlier ingests' contract/commit phases
      // (guide §2.6) — the serial chain then pays only probe + contract
      // + commit per ingest, with identical commits in identical order
      val bexDups = graft.ops.Par.defer(spark)(d52Bex(spark, dups))
      val bexBridges = graft.ops.Par.defer(spark)(d52Bex(spark, bridges))
      val bexDaily = graft.ops.Par.defer(spark)(d52Bex(spark, daily))
      d52Ingest(spark, labels, sigsT, base, first = true)
      val before = TxnTable.morState(spark, labels,
        TxnTable.latestVersion(spark, labels).get).files.toSet
      d52Ingest(spark, labels, sigsT, dups, first = false,
        pre = Some(bexDups()))
      val (_, _, merged) =
        d52Ingest(spark, labels, sigsT, bridges, first = false,
          pre = Some(bexBridges()))
      require(merged > 0L,
        "the bridge ingest must retroactively merge existing components")
      val (scanned, total, _) =
        d52Ingest(spark, labels, sigsT, daily, first = false,
          pre = Some(bexDaily()))
      require(scanned < total,
        s"small-increment band probe must prune signature files: " +
          s"read $scanned of $total")
      val after = TxnTable.morState(spark, labels,
        TxnTable.latestVersion(spark, labels).get)
      require(before.subsetOf(after.files.toSet),
        "retroactive relabeling must be positional, never a rewrite")
      require(after.dels.exists(_.keyCols == TxnTable.PosDelKeyCols),
        "the merges must have landed as positional vectors")
      val result = spark.read.format("graft").load(labels)
        .select($"doc_id", $"label".cast("bigint").as("cluster_id"))
        .orderBy($"doc_id")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }

  /** The batch's exploded `<band>:<hash>` keys, materialized — the
    * batch-PURE prefix of a d52 ingest (depends only on the batch
    * text, never on table state), so d52 pipelines it: each later
    * ingest's hashing runs under the earlier ingests' commits
    * (Par.defer, guide §2.6). Folding the band index into the key
    * string keeps the probe a SINGLE-column equi-join the bucketed
    * layout, stats, and blooms all work on. */
  private def d52Bex(spark: SparkSession, batch: DataFrame): DataFrame = {
    import spark.implicits._
    sigOf(spark, batch).select($"doc_id".as("bdoc"),
        posexplode(array((1 to 4).map(k => col(s"band$k")): _*))
          .as(Seq("k", "b")))
      .select($"bdoc",
        concat(($"k" + 1).cast("string"), lit(":"), $"b").as("bk"))
      .localCheckpoint()
  }

  /** One d52 ingest (reusable by specs). Returns the probe's (scanned,
    * total) file counts and how many EXISTING component labels merged
    * away (the retroactive leg's activity count). `pre`: the batch's
    * [[d52Bex]] frame when the caller pipelined it ahead of time. */
  private[graft] def d52Ingest(spark: SparkSession, labels: String,
      sigsT: String, batch: DataFrame, first: Boolean,
      pre: Option[DataFrame] = None): (Int, Int, Long) = {
    import spark.implicits._
    import graft.io.TxnTable
    val bex = pre.getOrElse(d52Bex(spark, batch))
    val inPairs = bex.as("a")
      .join(bex.as("b"),
        $"a.bk" === $"b.bk" && $"a.bdoc" < $"b.bdoc")
      .select($"a.bdoc".as("u"), $"b.bdoc".as("v")).distinct()
    if (first) {
      val lab0 = connectedComponents(inPairs)
      lab0.select($"id".as("doc_id"), $"label")
        .write.format("graft").option("statsCols", "doc_id,label")
        .option("mergeOnRead", "true").mode("overwrite").save(labels)
      bex.select($"bk", $"bdoc".as("doc_id"))
        .write.format("graft").option("partitionBy", "bucket(16, bk)")
        .option("statsCols", "bk").option("bloomCols", "bk")
        .option("optimizedWrite", "true").option("mergeOnRead", "true")
        .mode("overwrite").save(sigsT)
      return (0, 0, 0L)
    }
    val (hits, pruneCounts) = probePersisted(spark, sigsT, bex,
      joinCols = Seq("bk"), out = Seq("bdoc", "doc_id"),
      keyCol = "bk", cat = "gd52spj", scanPayload = Seq("doc_id"))
    val cur = spark.read.format("graft").load(labels)
    // cross edges with the corpus endpoint contracted to its label
    // (an unlabeled corpus doc — isolated until now — enters as
    // itself and gets its first label row below)
    val cross = hits.select($"bdoc", $"doc_id").distinct()
      .join(cur, Seq("doc_id"), "left")
      .select($"bdoc".as("u"), coalesce($"label", $"doc_id").as("v"),
        $"label".isNull.as("_fresh"), $"doc_id")
      .localCheckpoint()
    val graph = inPairs.unionByName(cross.select($"u", $"v"))
    val lab2 = connectedComponents(graph)
      .select($"id", $"label").localCheckpoint()
    // existing components whose min changed (to relabel), and first
    // label rows for batch docs + freshly-connected corpus isolates —
    // the two frames depend only on lab2/cross/bex (all checkpointed)
    // and not on each other, so their materializations overlap
    // (guide §2.6)
    val newIds = bex.select($"bdoc".as("id")).distinct()
      .unionByName(cross.filter($"_fresh").select($"doc_id".as("id")))
      .distinct()
    val (changed, newRows) = graft.ops.Par.both(spark)(
      lab2.filter($"label" =!= $"id")
        .join(cur.select($"label".as("id")).distinct(), Seq("id"), "left_semi")
        .select($"id".as("_old"), $"label".as("_new")).localCheckpoint(),
      lab2.join(newIds, Seq("id"), "left_semi")
        .select($"id".as("doc_id"), $"label").localCheckpoint())
    val nChanged = changed.count()
    // (newRows checkpointed above: the emptiness decision AND the write
    // both read the materialized rows — one pipeline execution, not a
    // probe job plus a recompute inside the commit)
    // the label-map commit and the signature append land on DIFFERENT
    // tables with no dependency — overlapped per guide §2.6
    def labelsLeg(): Unit =
      if (nChanged > 0L) {
        // relabel + new rows in ONE MoR commit: a merged component's new
        // min can BE a batch doc — two commits would expose a snapshot
        // whose labels point at a doc with no label row yet (the d51
        // displacement atomicity argument, applied to the cluster map),
        // and a crash between them would strand it permanently
        val toFix = cur.join(broadcast(changed), $"label" === $"_old")
          .select($"doc_id", $"_new".as("label"))
        TxnTable.replacePositions(spark, labels,
          snap => snap.join(broadcast(changed),
            snap("label") === changed("_old"), "left_semi"),
          toFix.unionByName(newRows))
        ()
      } else if (!newRows.isEmpty)
        // statsCols as on the first write: plain appends record only
        // the passed stats, so omitting them here would leave the new
        // label files unprunable by the delete leg's doc_id stats
        newRows.write.format("graft").option("statsCols", "doc_id,label")
          .mode("append").save(labels)
    graft.ops.Par.both(spark)(
      labelsLeg(),
      // the first write's layout options, re-stated (they are per-write,
      // not sticky): optimizedWrite keeps each append at ONE file per
      // bucket instead of one per task per bucket — later probes then
      // prune over O(ingests) files, not O(tasks × ingests) — and the
      // bk stats + blooms keep every appended file prunable, matching
      // d47/d49's commitAppend spelling
      bex.select($"bk", $"bdoc".as("doc_id"))
        .write.format("graft").option("statsCols", "bk")
        .option("bloomCols", "bk").option("optimizedWrite", "true")
        .mode("append").save(sigsT))
    (pruneCounts._1, pruneCounts._2, nChanged)
  }

  /** DELETION LEG of the maintained cluster map — relabel-on-delete:
    * erase `docIds` from the d52 tables while preserving the
    * label-is-the-component-min invariant, in ONE MoR commit on
    * `labels`. Because label == min, a component needs relabeling
    * exactly when its LABEL id is among the deleted docs; the commit
    * retires (positionally — kilobyte vectors, zero rewrites) every
    * deleted row plus every row of a min-died component, and re-lands
    * the min-died components' survivors under their new min. A fully
    * erased component simply vanishes. The band-signature rows of the
    * deleted docs erase positionally too — otherwise a later ingest's
    * probe would hit a dead doc and resurrect it as a label row.
    *
    * Contract note (spec-pinned): connectivity is MONOTONE — two docs
    * merged through a now-deleted bridge doc stay merged (the standard
    * union-find-under-deletions compromise; exact decremental
    * connectivity would need per-component edge recomputation, a
    * corpus-sized job the incremental family exists to avoid). The
    * erasure-request id set is driver-side by design: it is the
    * right-to-be-forgotten batch, not a data-sized frame. */
  private[graft] def d52Delete(spark: SparkSession, labels: String,
      sigsT: String, docIds: Seq[Long]): Unit = {
    import spark.implicits._
    import graft.io.TxnTable
    require(docIds.nonEmpty, "d52Delete needs a non-empty erasure batch")
    val del = docIds.toDF("_d").localCheckpoint()
    val cur = spark.read.format("graft").load(labels)
    // min-died components: their label id is itself a deleted doc
    val surv = cur
      .join(broadcast(del), cur("label") === $"_d", "left_semi")
      .join(broadcast(del), cur("doc_id") === $"_d", "left_anti")
    val newMin = surv.groupBy($"label").agg(min($"doc_id").as("_new"))
    val replacement = surv.join(newMin, "label")
      .select($"doc_id", $"_new".as("label"))
    TxnTable.replacePositions(spark, labels,
      snap => snap.join(broadcast(del),
        snap("doc_id") === $"_d" || snap("label") === $"_d", "left_semi"),
      replacement)
    // the signature leg erases through the same frame as the relabel
    // leg (the d50 no-literal rule): semi-join → positional delete,
    // never an isin literal list sized to the erasure batch
    TxnTable.deleteFromPos(spark, sigsT,
      del.select($"_d".as("doc_id")), Seq("doc_id"))
    ()
  }

  // def, not val: defined after `all` in initialization order
  private def d52Sql = {
    def mh(i: Int) =
      s"list_aggregate(list_transform(sh, s -> md5('$i:' || s)), 'min')"
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text
       |  FROM documents WHERE doc_id % 40 = 0
       |  UNION ALL
       |  SELECT a.doc_id + 2 * (SELECT MAX(doc_id) + 1 FROM documents),
       |    a.text || ' ' || b.text
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 40
       |  WHERE a.doc_id % 80 = 0
       |  UNION ALL
       |  SELECT doc_id + 3 * (SELECT MAX(doc_id) + 1 FROM documents), text
       |  FROM documents WHERE doc_id % 1200 = 0),
       |sh AS (
       |  SELECT doc_id,
       |    [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
       |     for i in range(1, len(string_split(text,' ')) - 1)] AS sh
       |  FROM corpus),
       |sig AS (
       |  SELECT doc_id,
       |   md5(${mh(1)} || ${mh(2)}) AS band1,
       |   md5(${mh(3)} || ${mh(4)}) AS band2,
       |   md5(${mh(5)} || ${mh(6)}) AS band3,
       |   md5(${mh(7)} || ${mh(8)}) AS band4
       |  FROM sh),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b
       |    ON a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3 OR a.band4 = b.band4
       |  WHERE a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |reach(node, root) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
       |SELECT CAST(node AS BIGINT) AS doc_id, CAST(MIN(root) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d54
  /** CLUSTER MAP UNDER DELETIONS — the d52 maintained component map
    * composed with [[d52Delete]]'s relabel-on-delete, ORACLED: the
    * spec pins the contract on engineered corpora, this query pins it
    * against DuckDB on the real documents table. Workload:
    *
    *   1. build the map over base + exact-dup attachments (d52's
    *      first two ingests, no concat bridges);
    *   2. erase a mixed batch — component MINS (doc_id % 80 = 0),
    *      mostly-unclustered docs (% 90 = 0), and some dup partners
    *      (base % 200 = 0 → the +o attachment) — one positional
    *      commit, zero rewrites (REQUIREd);
    *   3. a third ingest attaches new exact dups to SURVIVORS
    *      (% 160 = 0) and to texts whose only carrier may have been
    *      deleted (% 90 = 0): the former must join the RELABELED
    *      components, the latter must not resurrect erased docs
    *      (their signature rows are gone).
    *
    * The oracle replays the exact incremental semantics in SQL:
    * components over the initial corpus (the full minhash chain),
    * relabel-on-delete (survivors of min-died components take the new
    * min; connectivity stays MONOTONE — membership edges carry, the
    * union-find-under-deletions compromise), then components over the
    * third-ingest graph: membership edges ∪ in-batch collisions ∪
    * batch-vs-surviving-signature collisions with the corpus endpoint
    * contracted to its post-delete label. */
  private def d54(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.TxnTable
    val zone = java.nio.file.Files
      .createTempDirectory("graft_d54_del").toFile.getAbsolutePath
    try {
      val labels = s"$zone/labels_txn"
      val sigsT = s"$zone/sigs_txn"
      val base = Tables.documents(spark, dir).select($"doc_id", $"text")
      val o = base.agg(max($"doc_id")).head().getLong(0) + 1L
      val dups = base.filter($"doc_id" % 40 === 0)
        .select(($"doc_id" + o).as("doc_id"), $"text")
      d52Ingest(spark, labels, sigsT, base, first = true)
      d52Ingest(spark, labels, sigsT, dups, first = false)
      val delIds = (base.filter($"doc_id" % 80 === 0 ||
            $"doc_id" % 90 === 0)
          .select($"doc_id").as[Long].collect() ++
        base.filter($"doc_id" % 200 === 0)
          .select(($"doc_id" + o).as("d")).as[Long].collect()).toSeq.distinct
      val v0 = TxnTable.latestVersion(spark, labels).get
      val before = TxnTable.morState(spark, labels, v0).files.toSet
      d52Delete(spark, labels, sigsT, delIds)
      val v1 = TxnTable.latestVersion(spark, labels).get
      require(v1 == v0 + 1L,
        "the erasure must cost exactly one version on the label map")
      require(before.subsetOf(
          TxnTable.morState(spark, labels, v1).files.toSet),
        "relabel-on-delete must be positional, never a rewrite")
      val batch3 = base.filter($"doc_id" % 160 === 0 ||
          $"doc_id" % 90 === 0)
        .select(($"doc_id" + 2L * o).as("doc_id"), $"text")
      d52Ingest(spark, labels, sigsT, batch3, first = false)
      val res = spark.read.format("graft").load(labels)
        .select($"doc_id", $"label".cast("bigint").as("cluster_id"))
        .orderBy($"doc_id")
      val rows = res.collect()
      val delSet = delIds.toSet
      require(rows.forall(r => !delSet.contains(r.getLong(0))),
        "an erased doc surfaced in the maintained cluster map")
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), res.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  // def, not val: defined after `all` in initialization order
  private def d54Sql = {
    def mh(i: Int) =
      s"list_aggregate(list_transform(sh, s -> md5('$i:' || s)), 'min')"
    def sigOver(src: String, out: String) =
      s"""sh_$out AS (
         |  SELECT doc_id,
         |    [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
         |     for i in range(1, len(string_split(text,' ')) - 1)] AS sh
         |  FROM $src),
         |$out AS (
         |  SELECT doc_id,
         |   md5(${mh(1)} || ${mh(2)}) AS band1,
         |   md5(${mh(3)} || ${mh(4)}) AS band2,
         |   md5(${mh(5)} || ${mh(6)}) AS band3,
         |   md5(${mh(7)} || ${mh(8)}) AS band4
         |  FROM sh_$out)""".stripMargin
    s"""WITH RECURSIVE o AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT o FROM o), text
       |  FROM documents WHERE doc_id % 40 = 0),
       |del AS (
       |  SELECT doc_id AS d FROM documents
       |  WHERE doc_id % 80 = 0 OR doc_id % 90 = 0
       |  UNION
       |  SELECT doc_id + (SELECT o FROM o) FROM documents
       |  WHERE doc_id % 200 = 0),
       |batch3 AS (
       |  SELECT doc_id + 2 * (SELECT o FROM o) AS doc_id, text
       |  FROM documents WHERE doc_id % 160 = 0 OR doc_id % 90 = 0),
       |${sigOver("corpus", "sig")},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b
       |    ON a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3 OR a.band4 = b.band4
       |  WHERE a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, root) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
       |lab0 AS (
       |  SELECT node AS doc_id, MIN(root) AS label FROM reach GROUP BY node),
       |surv AS (
       |  SELECT doc_id, label FROM lab0 WHERE doc_id NOT IN (SELECT d FROM del)),
       |lab1 AS (
       |  SELECT s.doc_id,
       |    CASE WHEN s.label IN (SELECT d FROM del)
       |      THEN (SELECT MIN(s2.doc_id) FROM surv s2 WHERE s2.label = s.label)
       |      ELSE s.label END AS label
       |  FROM surv s),
       |${sigOver("batch3", "sig3")},
       |sigs_live AS (
       |  SELECT * FROM sig WHERE doc_id NOT IN (SELECT d FROM del)),
       |cross3 AS (
       |  SELECT DISTINCT b.doc_id AS src, COALESCE(l.label, s.doc_id) AS dst
       |  FROM sig3 b JOIN sigs_live s
       |    ON b.band1 = s.band1 OR b.band2 = s.band2 OR b.band3 = s.band3 OR b.band4 = s.band4
       |  LEFT JOIN lab1 l ON l.doc_id = s.doc_id),
       |in3 AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM sig3 a JOIN sig3 b
       |    ON a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3 OR a.band4 = b.band4
       |  WHERE a.doc_id < b.doc_id),
       |g0 AS (
       |  SELECT doc_id AS src, label AS dst FROM lab1
       |  UNION SELECT src, dst FROM cross3
       |  UNION SELECT src, dst FROM in3),
       |g AS (
       |  SELECT src, dst FROM g0 UNION SELECT dst, src FROM g0),
       |reach2(node, root) AS (
       |  SELECT src, src FROM g
       |  UNION
       |  SELECT e.dst, r.root FROM reach2 r JOIN g e ON e.src = r.node)
       |SELECT CAST(node AS BIGINT) AS doc_id,
       |  CAST(MIN(root) AS BIGINT) AS cluster_id
       |FROM reach2 GROUP BY node ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d53
  /** INCREMENTAL DECONTAMINATION — d44's eval-overlap purge
    * (word-5-gram sharing, GPT-3 appendix C) as a MAINTAINED clean
    * corpus under BOTH kinds of arrival: new training batches AND new
    * eval suites.
    *
    *   - corpus batch arrives → derive its 5-grams, broadcast-semi-join
    *     against the persisted eval-gram table (eval suites are
    *     megabytes; the broadcast is free), append only clean docs.
    *     Cost scales with the BATCH, never the corpus.
    *   - eval suite arrives → append only its DELTA grams (anti-join
    *     against the persisted set), then retroactively purge: one
    *     corpus scan re-derives grams from stored text and positional-
    *     deletes docs hitting a DELTA gram. The delta is the increment
    *     insight — grams already indexed purged their hits at THEIR
    *     arrival, so the rescan joins against only the new suite's new
    *     grams; and the purge is a deletion vector (one sidecar,
    *     zero data-file rewrites — `before ⊆ after` is REQUIREd).
    *
    * Order-independence (the oracle's premise): contamination is
    * per-doc monotone in the eval-gram SET, so any batch/suite arrival
    * interleaving converges to "train docs sharing no gram with the
    * union of suites" — the one-shot rule DuckDB checks. D53Spec pins
    * the multi-arrival equivalence on engineered overlaps. */
  private def d53(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.TxnTable
    val zone = java.nio.file.Files
      .createTempDirectory("graft_d53_inc").toFile.getAbsolutePath
    try {
      val corpus = s"$zone/clean_txn"
      val evalT = s"$zone/evalg_txn"
      val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
      val train = docs.filter($"doc_id" % 17 =!= 3 && $"doc_id" % 17 =!= 10)
      val maxId = train.agg(max($"doc_id")).head().getLong(0)
      val cut = maxId / 2L
      val cut2 = math.max(cut + 1L, maxId - 5L)
      // suite A + two corpus batches
      d53EvalIngest(spark, evalT, None,
        docs.filter($"doc_id" % 17 === 3), first = true)
      d53Ingest(spark, corpus, evalT, train.filter($"doc_id" <= cut),
        first = true)
      d53Ingest(spark, corpus, evalT,
        train.filter($"doc_id" > cut && $"doc_id" <= cut2), first = false)
      val before = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get).files.toSet
      // suite B arrives late: delta-gram append + retroactive purge
      val purged = d53EvalIngest(spark, evalT, Some(corpus),
        docs.filter($"doc_id" % 17 === 10), first = false)
      // daily batch, decontaminated against A ∪ B
      d53Ingest(spark, corpus, evalT, train.filter($"doc_id" > cut2),
        first = false)
      val after = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get)
      require(before.subsetOf(after.files.toSet),
        "the retroactive purge must be positional, never a rewrite")
      require(purged == 0L ||
          after.dels.exists(_.keyCols == TxnTable.PosDelKeyCols),
        "a non-empty purge must land as a positional vector")
      val result = spark.read.format("graft").load(corpus)
        .select($"doc_id", $"n_grams").orderBy($"doc_id")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }

  /** One corpus-batch ingest (reusable by specs): decontaminate the
    * batch against the eval-gram table AS OF NOW and append the
    * survivors (with their distinct-gram counts). */
  private[graft] def d53Ingest(spark: SparkSession, corpus: String,
      evalT: String, batch: DataFrame, first: Boolean): Unit = {
    import spark.implicits._
    import graft.text.TextFunctions.{tokens, tokenNgrams}
    val evalg = spark.read.format("graft").load(evalT).select($"gram")
    val g = batch.withColumn("toks", tokens($"text"))
      .select($"doc_id", explode(tokenNgrams("toks", 5)).as("gram"))
    val contaminated = g.join(broadcast(evalg), Seq("gram"), "left_semi")
      .select($"doc_id").distinct()
    val clean = batch.join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("toks", tokens($"text"))
      .select($"doc_id", $"text",
        size(array_distinct(tokenNgrams("toks", 5))).cast("bigint")
          .as("n_grams"))
    clean.write.format("graft")
      .option("statsCols", "doc_id").option("mergeOnRead", "true")
      .mode(if (first) "overwrite" else "append").save(corpus)
    ()
  }

  /** One eval-suite ingest (reusable by specs): append the suite's
    * DELTA grams; when `corpus` is given (non-first), retroactively
    * positional-delete corpus docs hitting a delta gram. Returns the
    * number of docs purged. */
  private[graft] def d53EvalIngest(spark: SparkSession, evalT: String,
      corpus: Option[String], evalDocs: DataFrame,
      first: Boolean): Long = {
    import spark.implicits._
    import graft.io.TxnTable
    import graft.text.TextFunctions.{tokens, tokenNgrams}
    val grams = evalDocs.withColumn("toks", tokens($"text"))
      .select(explode(tokenNgrams("toks", 5)).as("gram")).distinct()
    if (first) {
      grams.write.format("graft").mode("overwrite").save(evalT)
      return 0L
    }
    val prior = spark.read.format("graft").load(evalT).select($"gram")
    val delta = grams.join(prior, Seq("gram"), "left_anti").localCheckpoint()
    delta.write.format("graft").mode("append").save(evalT)
    corpus.fold(0L) { c =>
      // frames end to end (the d50 de-literalization rule): the delta
      // grams and the hit coordinates never collapse to driver literals
      val snap = TxnTable.readWithRowIdentity(spark, c)
        .withColumn("toks", tokens($"text"))
      val hits = snap.select(
          col(TxnTable.PosFileCol), col(TxnTable.PosOrdCol),
          explode(tokenNgrams("toks", 5)).as("gram"))
        .join(broadcast(delta), Seq("gram"), "left_semi")
        .select(col(TxnTable.PosFileCol), col(TxnTable.PosOrdCol))
        .distinct().localCheckpoint()
      val n = hits.count()
      if (n > 0L) TxnTable.deletePositions(spark, c, hits)
      n
    }
  }

  // def, not val: defined after `all` in initialization order
  private def d53Sql =
    """WITH g AS (
      |  SELECT doc_id,
      |    [array_to_string(string_split(text,' ')[i:i+4], ' ')
      |     for i in range(1, len(string_split(text,' ')) - 3)] AS grams
      |  FROM documents),
      |evalg AS (
      |  SELECT DISTINCT UNNEST(grams) AS gram FROM g
      |  WHERE doc_id % 17 = 3 OR doc_id % 17 = 10),
      |train AS (
      |  SELECT doc_id, grams FROM g
      |  WHERE doc_id % 17 <> 3 AND doc_id % 17 <> 10),
      |traing AS (SELECT doc_id, UNNEST(grams) AS gram FROM train),
      |hit AS (SELECT DISTINCT doc_id FROM traing JOIN evalg USING (gram))
      |SELECT doc_id,
      |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_grams
      |FROM train
      |WHERE doc_id NOT IN (SELECT doc_id FROM hit)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d55
  /** LONG-HORIZON CHURN + ONE MAINTENANCE PASS — does the maintained
    * index survive a quarter of operation? Every incremental family
    * member proves its per-ingest contract in isolation; this query
    * runs the d47 protocol through TEN ingest + takedown cycles and
    * REQUIREs the file-economy claims hold over TIME, then that one
    * maintenance pass restores the layout without touching a row:
    *
    *   - churn accumulates positional vectors on the corpus (one
    *     takedown per cycle, plus the ingests' own loser deletes) —
    *     REQUIREd: more vectors were committed than the auto-coalesce
    *     threshold yet the LIVE sidecar count stays ≤ it, so
    *     `maybeCoalescePosVectors` (pinned by PosCoalesceSpec)
    *     provably ENGAGED mid-churn, and a reader never pays more
    *     than `posCoalesceAt` sidecar GETs;
    *   - the tiny-increment probe still PRUNES after ten appends per
    *     bucket (the t56 REQUIRE, aged ten cycles);
    *   - maintenance = REORG PURGE (k144's blast-radius contract:
    *     rewrite ONLY vector-gated files) + layout-preserving
    *     compactSmall on both tables — REQUIREd: the probe's total
    *     file count DROPS, its scanned count does not grow, zero live
    *     vectors remain, and corpus AND signature contents are
    *     multiset-identical to the pre-maintenance snapshots.
    *
    * The oracle replays the semantics closed-form: d47's minhash
    * keep-first over the whole corpus (contiguous ascending cycles ⇒
    * the global earlier-id rule) minus the per-cycle takedowns
    * (doc_id % 17 — corpus-only deletes in the dedup-loser class, so
    * signatures persist and later cycles keep their witnesses). */
  private def d55(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.TxnTable
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"text")
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    val cycles = 10
    val step = maxId / cycles + 1L
    // DRY count of the takedown-bearing cycles, before any churn: the
    // cycles whose id window holds a doc_id % 17 == 0 document
    val dry = docs.filter($"doc_id" >= 0L && $"doc_id" % 17 === 0)
      .select(($"doc_id" / step).cast("long").as("c")).distinct().count().toInt
    require(dry >= 2,
      s"d55 needs takedowns in at least 2 of its $cycles cycles to prove " +
        s"auto-coalesce engagement; the input has doc_id % 17 == 0 " +
        s"documents in only $dry (too few documents in $dir)")
    // pin the auto-coalesce threshold BELOW the takedown-bearing cycle
    // count so the engagement proof is conf- and data-independent (a
    // threshold >= the takedown count would fail the tdVectors guard by
    // construction); restored in the finally
    val zone = java.nio.file.Files
      .createTempDirectory("graft_d55_churn").toFile.getAbsolutePath
    val prevAt = spark.conf.getOption("graft.txn.posCoalesceAt")
    spark.conf.set("graft.txn.posCoalesceAt", math.min(8, dry - 1).toString)
    try {
      val corpus = s"$zone/corpus_txn"
      val sigs = s"$zone/sigs_txn"
      var tdVectors = 0
      (0 until cycles).foreach { c =>
        val lo = c * step
        val hi = math.min((c + 1) * step, maxId + 1L)
        d47Ingest(spark, corpus, sigs,
          docs.filter($"doc_id" >= lo && $"doc_id" < hi),
          first = c == 0, col("doc_id") >= lo && col("doc_id") < hi)
        val td = spark.read.format("graft").load(corpus)
          .filter($"doc_id" >= lo && $"doc_id" < hi &&
            $"doc_id" % 17 === 0)
          .select($"doc_id").localCheckpoint()
        if (td.limit(1).count() > 0) {
          TxnTable.deleteFromPos(spark, corpus, td, Seq("doc_id"))
          tdVectors += 1
        }
      }
      // auto-coalesce engagement, non-vacuous: more vectors committed
      // than the threshold, yet the live count is bounded by it
      val at = spark.conf.get("graft.txn.posCoalesceAt", "8").toInt
      val stC = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get)
      val live = stC.dels.count(d =>
        d.keyCols == TxnTable.PosDelKeyCols &&
          stC.files.exists(f => d.gates(f, stC.addv.getOrElse(f, 0L))))
      require(tdVectors > at,
        s"churn must commit more vectors than the threshold to prove " +
          s"engagement: $tdVectors takedowns vs posCoalesceAt=$at")
      require(live <= at,
        s"ten cycles of churn must keep live positional sidecars " +
          s"bounded by posCoalesceAt: $live > $at")
      // the tiny-increment probe must still prune, ten cycles deep
      val probeDocs = docs.filter($"doc_id" > maxId - 4).localCheckpoint()
      def probeCounts(): (Int, Int) = {
        val psig = sigOf(spark, probeDocs).select($"doc_id",
          posexplode(array($"band1", $"band2", $"band3", $"band4"))
            .as(Seq("b", "h"))).localCheckpoint()
        probePersisted(spark, sigs, psig, joinCols = Seq("b", "h"),
          out = Seq("doc_id"), keyCol = "h", cat = "gd55spj")._2
      }
      val (s1, t1) = probeCounts()
      require(s1 < t1,
        s"the probe must prune a ten-cycle-churned index: $s1/$t1")
      val corpusBefore =
        spark.read.format("graft").load(corpus).localCheckpoint()
      val sigsBefore =
        spark.read.format("graft").load(sigs).localCheckpoint()
      // ONE maintenance pass: purge the vectors (rewrites ONLY gated
      // files — k144's blast-radius contract), then layout-preserving
      // compaction of ten cycles of small files on both tables
      TxnTable.reorgPurge(spark, corpus)
      TxnTable.compactSmall(spark, corpus, smallBytes = 1L << 40)
      TxnTable.compactSmall(spark, sigs, smallBytes = 1L << 40)
      val (s2, t2) = probeCounts()
      require(t2 < t1,
        s"maintenance must restore the index file count: $t1 -> $t2")
      require(s2 <= s1,
        s"maintenance must not hurt probe pruning: scanned $s1 -> $s2")
      val stA = TxnTable.morState(spark, corpus,
        TxnTable.latestVersion(spark, corpus).get)
      require(!stA.dels.exists(d =>
          d.keyCols == TxnTable.PosDelKeyCols &&
            stA.files.exists(f => d.gates(f, stA.addv.getOrElse(f, 0L)))),
        "REORG PURGE must leave zero live positional vectors")
      def same(l: DataFrame, r: DataFrame, what: String): Unit =
        require(l.count() == r.count() &&
          l.except(r).isEmpty && r.except(l).isEmpty,
          s"maintenance changed the $what contents")
      same(spark.read.format("graft").load(corpus), corpusBefore,
        "corpus")
      same(spark.read.format("graft").load(sigs), sigsBefore,
        "signature index")
      val result = spark.read.format("graft").load(corpus)
        .groupBy($"lang")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum($"doc_id").cast("bigint").as("id_sum"))
        .orderBy($"lang")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      prevAt match {
        case Some(v) => spark.conf.set("graft.txn.posCoalesceAt", v)
        case None => spark.conf.unset("graft.txn.posCoalesceAt")
      }
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  // def, not val: defined after `all` (init order)
  private def d55Sql = {
    def mh(i: Int) =
      s"list_aggregate(list_transform(sh, s -> md5('$i:' || s)), 'min')"
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]
       |     for i in range(1, len(string_split(text,' ')) - 1)] AS sh
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |   md5(${mh(1)} || ${mh(2)}) AS band1,
       |   md5(${mh(3)} || ${mh(4)}) AS band2,
       |   md5(${mh(5)} || ${mh(6)}) AS band3,
       |   md5(${mh(7)} || ${mh(8)}) AS band4
       |  FROM sh),
       |dups AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM sig a JOIN sig b ON a.doc_id > b.doc_id AND
       |    (a.band1 = b.band1 OR a.band2 = b.band2 OR
       |     a.band3 = b.band3 OR a.band4 = b.band4))
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM dups)
       |  AND doc_id % 17 <> 0
       |GROUP BY lang ORDER BY lang""".stripMargin
  }
}
