package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q => RQ}
import graft.io.Tables

/** Analytic batch 3 (round 2): the window-function family, exact
  * percentiles by rank selection, fixed-width histograms, batch
  * sessionization (gaps-and-islands), UNPIVOT/melt, ordered string
  * aggregation, and date-spine gap filling.
  *
  * The reference itself has no window/percentile surface (SURVEY.md §2.7:
  * "None in the reference") — this is the §2.7 built-in breadth plus the
  * time-series shapes a telemetry/training pipeline runs daily.
  *
  * Scale notes: every window here is keyed (PARTITION BY user/customer) —
  * no global-order windows; sessionization is one hash shuffle + one
  * per-key sort, identical at 100 TB; the date spine explodes bounded
  * per-user ranges (days), never a cross join.
  */
object Analytic2 {

  // ---------------------------------------------------------------- a43
  /** The ranking/navigation window family over one keyed window: LAG /
    * LEAD / DENSE_RANK / NTILE / FIRST_VALUE / PERCENT_RANK / CUME_DIST.
    * percent_rank and cume_dist are ratios of identical integers, so the
    * doubles are bit-equal across engines. Composable DataFrame operator
    * (one keyed Window spec, one pass); the oracle states the SQL twin. */
  private def a43(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .withColumn("drank", dense_rank().over(w).cast("bigint"))
      .withColumn("quartile", ntile(4).over(w).cast("bigint"))
      .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
      .withColumn("next_price", lead($"o_totalprice", 1).over(w))
      .withColumn("top_price", first($"o_totalprice").over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
  }
  private val a43Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      | CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
      | CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
      | LAG(o_totalprice, 1) OVER w AS prev_price,
      | LEAD(o_totalprice, 1) OVER w AS next_price,
      | FIRST_VALUE(o_totalprice) OVER w AS top_price,
      | PERCENT_RANK() OVER w AS pct_rank,
      | CUME_DIST() OVER w AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- a44
  /** Exact per-group quartiles by RANK SELECTION (percentile_disc
    * semantics: the value at row ceil(p·n) of the group's total order).
    * Interpolating percentile_cont differs across engines in its float
    * arithmetic; row selection is pure comparison — oracle-exact
    * (same rationale as a38's exact median).
    *
    * Scale shape: the value at rank k is the SMALLEST value whose
    * cumulative count reaches k, so the heavy pass is ONE map-side-
    * combinable groupBy over (group, value) — fully parallel at any
    * data size — and the window runs over the tiny counts frame
    * (≤ distinct-values rows per group), not the fact table. A window
    * partitioned by the 3-value group key alone would serialize the
    * corpus through 3 tasks — the t47 lesson, applied here. */
  private def a44(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_quantity")
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
    val wall = Window.partitionBy($"l_returnflag")
    def pick(p: Double): Column =
      min(when($"cum" >= ceil(lit(p) * $"n"), $"l_quantity"))
    counts
      .withColumn("cum", sum($"c").over(wcum))
      .withColumn("n", sum($"c").over(wall))
      .groupBy($"l_returnflag")
      .agg(
        max($"n").cast("bigint").as("n"),
        pick(0.25).as("p25"), pick(0.50).as("p50"), pick(0.75).as("p75"))
      .orderBy($"l_returnflag")
  }
  private val a44Sql =
    """WITH ranked AS (
      |  SELECT l_returnflag, l_quantity,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |                       ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag,
      | CAST(MAX(n) AS BIGINT) AS n,
      | MIN(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN l_quantity END) AS p25,
      | MIN(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN l_quantity END) AS p50,
      | MIN(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN l_quantity END) AS p75
      |FROM ranked
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- a45
  /** Fixed-width histogram: bucket index by FLOOR division, count + range
    * per bucket — the one-pass distribution profile (vs a41's min/max). */
  private def a45(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy(floor($"o_totalprice" / 50000.0).cast("bigint").as("bucket"))
      .agg(
        count(lit(1)).cast("bigint").as("n"),
        min($"o_totalprice").as("lo"),
        max($"o_totalprice").as("hi"))
      .orderBy($"bucket")
  }
  private val a45Sql =
    """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
      | CAST(COUNT(*) AS BIGINT) AS n,
      | MIN(o_totalprice) AS lo,
      | MAX(o_totalprice) AS hi
      |FROM orders
      |GROUP BY CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT)
      |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- a46
  /** Batch sessionization (gaps-and-islands): a new session starts when a
    * user is idle > 30 minutes; session id = running count of breaks.
    * One keyed window pass — the batch twin of s51's streaming
    * session_window (which breaks at gap >= threshold; this breaks at >,
    * both pinned by their own oracles). */
  private def a46(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val lagTs = lag($"ts", 1).over(w)
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"ts")
      .withColumn("brk",
        when(lagTs.isNull ||
          ($"ts" - lagTs) > expr("INTERVAL '30' MINUTE"), 1).otherwise(0))
      .withColumn("session_no", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_no")
      .agg(
        count(lit(1)).cast("bigint").as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"))
      .select($"user_id", $"session_no".cast("bigint").as("session_no"),
        $"n_events", $"session_start", $"session_end")
      .orderBy($"user_id", $"session_no")
  }
  private val a46Sql =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL '30' MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |sess AS (
      |  SELECT user_id, event_id, ts,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM marked)
      |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
      | CAST(COUNT(*) AS BIGINT) AS n_events,
      | MIN(ts) AS session_start,
      | MAX(ts) AS session_end
      |FROM sess
      |GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin

  // ---------------------------------------------------------------- a47
  /** UNPIVOT / melt: wide numeric columns to long (metric, value) rows —
    * Dataset.unpivot on the Spark side, stated as UNION ALL in the oracle
    * (the ANSI-portable spelling). */
  private def a47(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, dir)
      .select($"p_partkey",
        $"p_size".cast("double").as("p_size"),
        $"p_retailprice".cast("double").as("p_retailprice"))
      .unpivot(Array($"p_partkey"), Array($"p_size", $"p_retailprice"),
        "metric", "value")
      .orderBy($"p_partkey", $"metric")
  }
  private val a47Sql =
    """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
      |ORDER BY p_partkey, metric""".stripMargin

  // ---------------------------------------------------------------- a48
  /** Ordered string aggregation (LISTAGG): suppliers per nation as one
    * sorted CSV string. Spark's collect_list is unordered by contract, so
    * the deterministic spelling is array_sort AFTER collection — which is
    * exactly what makes it partition-order independent (and therefore
    * stable from local[32] to a 1000-executor cluster). */
  private def a48(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.supplier(spark, dir)
      .groupBy($"s_nationkey")
      .agg(
        count(lit(1)).cast("bigint").as("n_suppliers"),
        array_join(array_sort(collect_list($"s_name")), ",").as("names"))
      .orderBy($"s_nationkey")
  }
  private val a48Sql =
    """SELECT s_nationkey,
      | CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      | STRING_AGG(s_name, ',' ORDER BY s_name) AS names
      |FROM supplier
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin

  // ---------------------------------------------------------------- a49
  /** Date-spine gap filling: one row per user per calendar day between
    * the user's first and last event, zero-filled on idle days — the
    * resample/asfreq shape every time-series feature pipeline needs.
    * The spine is sequence()/generate_series per user (bounded by the
    * user's own span), not a global calendar cross join. */
  private def a49(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"user_id", $"ts".cast("date").as("d"))
    val bounds = ev.groupBy($"user_id").agg(min($"d").as("d0"), max($"d").as("d1"))
    val spine = bounds.select($"user_id",
      explode(sequence($"d0", $"d1", expr("INTERVAL '1' DAY"))).as("d"))
    val daily = ev.groupBy($"user_id", $"d").agg(count(lit(1)).as("n"))
    spine.join(daily, Seq("user_id", "d"), "left")
      // DATE surfaces differently in the two engines' clients; a midnight
      // NTZ timestamp is the portable spelling (same as the raw tables).
      .select($"user_id", $"d".cast("timestamp_ntz").as("d"),
        coalesce($"n", lit(0)).cast("bigint").as("n_events"))
      .orderBy($"user_id", $"d")
  }
  private val a49Sql =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |bounds AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM ev GROUP BY user_id),
      |spine AS (
      |  SELECT user_id, CAST(UNNEST(generate_series(d0, d1, INTERVAL '1' DAY)) AS DATE) AS d
      |  FROM bounds),
      |daily AS (SELECT user_id, d, COUNT(*) AS n FROM ev GROUP BY user_id, d)
      |SELECT s.user_id, CAST(s.d AS TIMESTAMP) AS d, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
      |FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
      |ORDER BY s.user_id, s.d""".stripMargin

  // ---------------------------------------------------------------- a50
  /** BUCKETED join under the oracle gate: both sides are first written as
    * bucketed+sorted tables on the join key (graft.io.Bucketing), then
    * joined — Spark plans SortMergeJoin with NO Exchange on either side
    * (BucketingSpec asserts the plan; this query proves the VALUES).
    * This is the 100 TB pattern for a recurring fact⋈fact join: pay the
    * partitioning once at write time, never at query time. */
  private val bucketSeq = new java.util.concurrent.atomic.AtomicLong()
  private def a50(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.{Bucketing, Tables}
    val run = s"${System.nanoTime()}_${bucketSeq.incrementAndGet()}"
    val zone = java.nio.file.Files.createTempDirectory("graft_a50").toFile.getAbsolutePath
    def save(df: DataFrame, name: String, key: String): String = {
      val table = s"graft_a50_${name}_$run"
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet")
        .option("path", s"$zone/$name")
        .bucketBy(8, key).sortBy(key)
        .saveAsTable(table)
      table
    }
    // two independent bucketed setup writes (different tables) —
    // overlapped per guide §2.6
    val (o, c) = graft.ops.Par.both(spark)(
      save(Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice"),
        "orders", "o_custkey"),
      save(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment"), "customer", "c_custkey"))
    try {
      val result = spark.table(o).join(spark.table(c), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).cast("bigint").as("n_orders"),
          graft.ops.Num.dsum($"o_totalprice").as("sum_price"))
        .orderBy($"c_mktsegment")
      // materialize eagerly (per-segment rows: tiny) so the catalog
      // tables and temp zone can be dropped before returning — repeated
      // verify/bench runs used to accumulate both
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      Seq(o, c).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val a50Sql =
    """SELECT c_mktsegment,
      | CAST(COUNT(*) AS BIGINT) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- a51
  /** SALTED skew join under the oracle gate: the fact side's hot keys are
    * split into 8 sub-keys and the dimension replicated across them
    * (graft.ops.Skew.saltedJoin), so one pathological key spreads over 8
    * tasks instead of stalling one. The oracle is the PLAIN join — a hash
    * match proves salting is row-identical to the unsalted semantics. */
  private def a51(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.io.Tables
    val fact = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val dim = Tables.customer(spark, dir)
      .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
    graft.ops.Skew.saltedJoin(fact, dim, "o_custkey", salts = 8)
      .groupBy($"c_mktsegment")
      .agg(
        count(lit(1)).cast("bigint").as("n_orders"),
        graft.ops.Num.dsum($"o_totalprice").as("sum_price"))
      .orderBy($"c_mktsegment")
  }

  // ---------------------------------------------------------------- a52
  /** STRATIFIED train/test split report: a37's deterministic md5-nibble
    * assignment, grouped per class label — the check a training pipeline
    * runs to confirm every class keeps ≈ the global 75/25 ratio (hash
    * splits stratify in expectation; this measures the realized counts).
    * Same engine-portable determinism contract as a37: the same row lands
    * in the same split on every engine, run, and partitioning. */
  private def a52(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val split = when(
      instr(lit("0123456789abcdef"),
        substring(md5($"vec_id".cast("string")), 1, 1)) <= 12, "train")
      .otherwise("test")
    Tables.embeddings(spark, dir)
      .select($"label".cast("bigint").as("label"), split.as("split"))
      .groupBy($"label", $"split")
      .agg(count(lit(1)).cast("bigint").as("n"))
      .orderBy($"label", $"split")
  }
  private val a52Sql =
    """SELECT CAST(label AS BIGINT) AS label,
      | CASE WHEN STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 1)) <= 12
      |      THEN 'train' ELSE 'test' END AS split,
      | CAST(COUNT(*) AS BIGINT) AS n
      |FROM embeddings
      |GROUP BY 1, 2
      |ORDER BY label, split""".stripMargin

  // ---------------------------------------------------------------- a53
  /** TARGET-MIX RESAMPLING (training-data mixing): downsample every class
    * to the smallest class's size with a deterministic per-row keep rule —
    * the op that turns a skewed corpus into a target distribution without
    * RNG (same row kept on every engine/run/partitioning). Keep rule:
    * the row's first two md5 nibbles (uniform 0..255) must fall below
    * floor(rate·256), rate = min_class_n / class_n. Shape: one tiny
    * class-count aggregate broadcast back onto the corpus + a scalar
    * filter — one shuffle of COUNTS, zero shuffles of data. */
  private def a53(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label".cast("bigint").as("label"))
    val counts = emb.groupBy($"label").agg(count(lit(1)).as("n"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min($"n").as("mn"))))
      .select($"label", $"n", ($"mn".cast("double") / $"n").as("rate"))
    def nib(i: Int): Column =
      instr(lit("0123456789abcdef"),
        substring(md5($"vec_id".cast("string")), i, 1)) - 1
    val kept = emb.join(broadcast(rates), "label")
      .filter(nib(1) * 16 + nib(2) < floor($"rate" * 256))
      .groupBy($"label").agg(count(lit(1)).as("n_after"))
    rates.join(kept, Seq("label"), "left")
      .select($"label", $"n".cast("bigint").as("n_before"), $"rate",
        coalesce($"n_after", lit(0L)).cast("bigint").as("n_after"))
      .orderBy($"label")
  }
  private val a53Sql =
    """WITH c AS (SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n
      |           FROM embeddings GROUP BY 1),
      |m AS (SELECT MIN(n) AS mn FROM c),
      |r AS (SELECT label, n, CAST(mn AS DOUBLE) / n AS rate FROM c, m),
      |k AS (
      |  SELECT CAST(e.label AS BIGINT) AS label, COUNT(*) AS n_after
      |  FROM embeddings e JOIN r ON CAST(e.label AS BIGINT) = r.label
      |  WHERE (STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(e.vec_id AS VARCHAR)), 1, 1)) - 1) * 16
      |      + (STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(e.vec_id AS VARCHAR)), 2, 1)) - 1)
      |      < FLOOR(r.rate * 256)
      |  GROUP BY 1)
      |SELECT r.label, CAST(r.n AS BIGINT) AS n_before, r.rate,
      | CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after
      |FROM r LEFT JOIN k USING (label)
      |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- a54
  /** Z-ORDER curve values (graft.ops.ZOrder): the Morton interleave of
    * (o_custkey, o_orderkey) that zorderWrite clusters files by — pure
    * codegen'd bit arithmetic, restated mask-for-mask in the oracle.
    * ZOrderSpec measures the actual locality win (per-file min/max
    * spans shrink in BOTH dimensions vs a single-column sort); this
    * query hash-gates the curve math that win rests on. */
  private def a54(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(
        $"o_orderkey",
        ($"o_custkey" % 65536).cast("bigint").as("x"),
        ($"o_orderkey" % 65536).cast("bigint").as("y"),
        ZOrder.zvalue($"o_custkey", $"o_orderkey").cast("bigint").as("zval"))
      .orderBy($"o_orderkey")
  }
  private val a54Sql =
    s"""SELECT o_orderkey,
       | CAST(o_custkey % 65536 AS BIGINT) AS x,
       | CAST(o_orderkey % 65536 AS BIGINT) AS y,
       | CAST(${ZOrder.zvalueSql("o_custkey", "o_orderkey")} AS BIGINT) AS zval
       |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- a55
  /** RANGE window frames: per-customer moving aggregate over a VALUE
    * range of the ordering key, not a row count — `RANGE BETWEEN 100
    * PRECEDING AND CURRENT ROW`, the time-windowed running metric
    * (rows at equal/near keys share a frame regardless of row order,
    * which a ROWS frame cannot express). Keyed window: one hash
    * shuffle + per-key sort, same at 100 TB. Integer aggregates only —
    * a RANGE frame's internal accumulation strategy differs across
    * engines (segment trees vs frame rescans), so order-free bigint
    * sums are what hash-compares exactly. */
  private def a55(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.registerViews(spark, dir)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rangeBetween(-100L, Window.currentRow)
    spark.table("orders").select(
      col("o_custkey"), col("o_orderkey"),
      count(lit(1)).over(w).cast("bigint").as("n_in_range"),
      sum(col("o_orderkey")).over(w).cast("bigint").as("sum_keys_in_range"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }
  private val a55Sql =
    """SELECT o_custkey, o_orderkey,
      | CAST(COUNT(*) OVER w AS BIGINT) AS n_in_range,
      | CAST(SUM(o_orderkey) OVER w AS BIGINT) AS sum_keys_in_range
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
      |             RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- a56
  /** RETENTION COHORTS — the product-analytics staple over the events
    * stream: bucket every user into the week of their FIRST event
    * (cohort), then count how many distinct users of each cohort were
    * still active 0, 1, 2, … weeks later. Shape: one map-side-
    * combinable first-event aggregate per user, one KEYED join back on
    * user_id (no broadcast assumption — the user dimension can be
    * arbitrarily large; AQE broadcasts when it happens to be small),
    * one small distinct-count aggregate. No window over the corpus, no
    * per-user serialization beyond the keyed groupBy. */
  private def a56(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val epoch = lit("2024-01-01")
    def weekOf(c: Column): Column =
      floor(datediff(to_date(c), to_date(epoch)) / 7).cast("bigint")
    val ev = Tables.events(spark, dir).select($"user_id", $"ts")
    val cohorts = ev.groupBy($"user_id")
      .agg(min($"ts").as("first_ts"))
      .select($"user_id", weekOf($"first_ts").as("cohort_week"))
    ev.join(cohorts, "user_id")
      .select($"user_id", $"cohort_week",
        (weekOf($"ts") - $"cohort_week").as("week_offset"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").cast("bigint").as("n_users"))
      .orderBy($"cohort_week", $"week_offset")
  }
  private val a56Sql =
    """WITH f AS (
      |  SELECT user_id,
      |    CAST(FLOOR(DATE_DIFF('day', DATE '2024-01-01', CAST(MIN(ts) AS DATE)) / 7) AS BIGINT)
      |      AS cohort_week
      |  FROM events GROUP BY user_id),
      |j AS (
      |  SELECT e.user_id, f.cohort_week,
      |    CAST(FLOOR(DATE_DIFF('day', DATE '2024-01-01', CAST(e.ts AS DATE)) / 7) AS BIGINT)
      |      - f.cohort_week AS week_offset
      |  FROM events e JOIN f ON e.user_id = f.user_id)
      |SELECT cohort_week, week_offset,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- a57
  /** FUNNEL ANALYSIS — view → click → purchase step conversion, the
    * other product-analytics staple (a56 is its retention sibling).
    * Computed with the scalable funnel trick: ONE conditional-min
    * aggregate per user per step (first view, first click, first
    * purchase), then ordering comparisons between the three
    * timestamps — no per-user event sorting, no window over the event
    * stream, no sequence-matching UDF. Shape: one map-side-combinable
    * user_id shuffle + a singleton aggregate. A NULL step (user never
    * did it) makes the comparison NULL → counted as not converted,
    * identical in both engines. */
  private def a57(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def firstOf(t: String): Column =
      min(when($"event_type" === t, $"ts"))
    val perUser = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(
        firstOf("view").as("t_view"),
        firstOf("click").as("t_click"),
        firstOf("purchase").as("t_purchase"))
    perUser.agg(
      count(lit(1)).cast("bigint").as("n_users"),
      sum(when($"t_view".isNotNull, 1L).otherwise(0L))
        .cast("bigint").as("n_view"),
      sum(when($"t_view" < $"t_click", 1L).otherwise(0L))
        .cast("bigint").as("n_view_click"),
      sum(when($"t_view" < $"t_click" && $"t_click" < $"t_purchase", 1L)
        .otherwise(0L)).cast("bigint").as("n_full_funnel"))
  }
  private val a57Sql =
    """WITH u AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
      |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      |  FROM events GROUP BY user_id)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(SUM(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
      |  CAST(SUM(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
      |FROM u""".stripMargin

  // ---------------------------------------------------------------- a58
  /** SEMI-STRUCTURED SHREDDING via Spark 4's VARIANT type: JSON is
    * parsed ONCE into the binary variant encoding (`parse_json`), then
    * typed fields shred out with `variant_get` path extraction — at
    * 100 TB this is the difference between re-parsing a JSON string per
    * field access and one decode into a navigable binary form (the
    * Parquet/Spark answer to semi-structured columns; Delta writes
    * shredded variant subcolumns the same way). The query round-trips
    * the events table's typed columns through to_json → parse_json →
    * variant_get (gating the full encode/decode path bit-exactly, since
    * the oracle restates the extraction straight from the typed
    * columns), pulls a nested path, extracts the props field typed,
    * and exercises the two miss semantics: a missing path yields NULL,
    * and `try_variant_get` on a type-mismatched cast yields NULL
    * instead of an error. */
  private def a58(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.io.Tables.events(spark, dir)
      .select(
        $"event_id",
        to_json(struct(
          $"event_type".as("t"),
          $"value".as("v"),
          struct($"user_id".as("u")).as("nest"))).as("js"),
        $"props")
      .select(
        $"event_id",
        expr("variant_get(parse_json(js), '$.t', 'string')").as("t"),
        expr("variant_get(parse_json(js), '$.v', 'double')").as("v"),
        expr("variant_get(parse_json(js), '$.nest.u', 'bigint')").as("u"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
        expr("variant_get(parse_json(js), '$.absent', 'bigint')")
          .as("missing_path"),
        expr("try_variant_get(parse_json(js), '$.t', 'bigint')")
          .as("bad_cast"))
      .orderBy($"event_id")
  }
  private val a58Sql =
    """SELECT event_id, event_type AS t, value AS v, user_id AS u,
      | CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k,
      | CAST(NULL AS BIGINT) AS missing_path,
      | CAST(NULL AS BIGINT) AS bad_cast
      |FROM events ORDER BY event_id""".stripMargin

  val all: Seq[RQ] = Seq(
    RQ("a43_window_family", a43, Some(a43Sql)),
    RQ("a55_range_frame", a55, Some(a55Sql)),
    RQ("a54_zorder_curve", a54, Some(a54Sql)),
    RQ("a44_exact_quartiles", a44, Some(a44Sql)),
    RQ("a45_histogram", a45, Some(a45Sql)),
    RQ("a46_sessionize_batch", a46, Some(a46Sql), bench = true),
    RQ("a47_unpivot", a47, Some(a47Sql)),
    RQ("a48_string_agg", a48, Some(a48Sql)),
    RQ("a49_date_spine", a49, Some(a49Sql)),
    RQ("a50_bucketed_join", a50, Some(a50Sql), bench = true),
    RQ("a51_salted_skew_join", a51, Some(a50Sql), bench = true),
    RQ("a52_stratified_split", a52, Some(a52Sql)),
    RQ("a53_target_mix_resample", a53, Some(a53Sql)),
    RQ("a56_retention_cohorts", a56, Some(a56Sql)),
    RQ("a57_funnel_steps", a57, Some(a57Sql)),
    RQ("a58_variant_shred", a58, Some(a58Sql)))
}
