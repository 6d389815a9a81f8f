package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxnTable
import graft.plans.ParamLiteral

/** The codegen parameter rule (`graft.plans.ParamLiterals`): a second
  * call of a point op with new values compiles no class, results stay
  * exact against interpreted evaluation, exchanges that differ only in
  * a value are not reused, and scans and `explain` see the literals. */
class ParamLiteralSpec extends AnyFunSuite {
  private lazy val spark = Spec.spark

  private def withZone(body: String => Unit): Unit = {
    val zone = java.nio.file.Files.createTempDirectory("graft_param").toFile
    try body(zone.getAbsolutePath)
    finally graft.io.Tables.deleteTree(zone)
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every plan node of `p`, through adaptive and query-stage leaves. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  private def params(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan).map(_.expressions.map(_.collect {
      case _: ParamLiteral => 1 }.size).sum).sum

  /** An 8000-row table of 8 files keyed by `k`, stats and bloom on `k`. */
  private def table(zone: String): String = {
    val t = s"$zone/t"
    TxnTable.commitOverwrite(
      spark.range(0L, 8000L).select(col("id").as("k"), (col("id") * 3L).as("v"))
        .repartitionByRange(8, col("k")),
      t, statsCols = Seq("k"), bloomCols = Seq("k"))
    t
  }

  test("a second point op with new values compiles no class") {
    withZone { zone =>
      val t = table(zone)
      def eq(k: Long) = TxnTable.readEquals(spark, t, "k", k)._1.collect()
      def range(lo: Long, hi: Long) =
        TxnTable.readRangeOn(spark, t, "k", lo, hi)._1.collect()
      eq(11L)
      val (rows, Spec.Counts(_, eqCompiles)) = Spec.counted(eq(4242L))
      assert(rows.map(_.getLong(1)).toSeq == Seq(4242L * 3L))
      assert(eqCompiles == 0L, "readEquals")
      range(100L, 120L)
      val (span, Spec.Counts(_, rangeCompiles)) = Spec.counted(range(5000L, 5009L))
      assert(span.map(_.getLong(0)).sorted.toSeq == (5000L to 5009L))
      assert(rangeCompiles == 0L, "readRange")
      TxnTable.deleteEquals(spark, t, "k", 12L)
      val deleteCompiles =
        Spec.counted(TxnTable.deleteEquals(spark, t, "k", 6012L))._2.compiles
      assert(deleteCompiles == 0L, "deleteEquals")
      assert(TxnTable.read(spark, t).count() == 7998L)
    }
  }

  test("a second 400-key merge from a local source compiles no class") {
    import spark.implicits._
    withZone { zone =>
      val t = table(zone)
      def merge(first: Long, bump: Long): Unit = {
        TxnTable.merge((first until first + 400L).map(k => (k, k * 3L + bump))
          .toDF("k", "v"), t, "k")
        ()
      }
      merge(1000L, 1L)
      val compiles = Spec.counted(merge(3000L, 7L))._2.compiles
      assert(compiles == 0L)
      val got = TxnTable.read(spark, t)
      assert(got.count() == 8000L)
      assert(got.filter(col("k") === 3100L).head().getLong(1) == 3100L * 3L + 7L)
    }
  }

  test("filters and projections over edge values match interpreted evaluation") {
    withZone { zone =>
      val path = s"$zone/edge.parquet"
      spark.sql("""SELECT * FROM VALUES
          (CAST('NaN' AS DOUBLE), CAST('NaN' AS FLOAT), 9223372036854775807L,
            CAST(127 AS TINYINT), CAST(32767 AS SMALLINT), 2147483647,
            DATE'1969-12-31', TIMESTAMP'1969-12-31 23:59:59.999999',
            TIMESTAMP_NTZ'9999-12-31 23:59:59.999999'),
          (-0.0D, CAST(-0.0 AS FLOAT), -9223372036854775808L,
            CAST(-128 AS TINYINT), CAST(-32768 AS SMALLINT), -2147483648,
            DATE'0001-01-01', TIMESTAMP'1970-01-01 00:00:00',
            TIMESTAMP_NTZ'0001-01-01 00:00:00'),
          (0.0D, CAST(0.0 AS FLOAT), 0L, CAST(0 AS TINYINT),
            CAST(0 AS SMALLINT), 0, DATE'1970-01-01',
            TIMESTAMP'2024-02-29 12:00:00', TIMESTAMP_NTZ'1970-01-01 00:00:00'),
          (CAST('Infinity' AS DOUBLE), CAST('-Infinity' AS FLOAT), 1L,
            CAST(1 AS TINYINT), CAST(1 AS SMALLINT), 1, DATE'2024-02-29',
            TIMESTAMP'2262-04-11 23:47:16.854775', TIMESTAMP_NTZ'2024-02-29 12:00:00'),
          (CAST('-Infinity' AS DOUBLE), CAST('Infinity' AS FLOAT), -1L,
            CAST(-1 AS TINYINT), CAST(-1 AS SMALLINT), -1, DATE'9999-12-31',
            TIMESTAMP'0001-01-01 00:00:00', TIMESTAMP_NTZ'1969-12-31 23:59:59.999999'),
          (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
          AS t(d, f, l, b, s, i, dt, ts, tsn)""")
        .coalesce(1).write.parquet(path)
      val queries: Seq[DataFrame => DataFrame] = Seq(
        _.filter("d = CAST('NaN' AS DOUBLE)"),
        _.filter("d = -0.0D"),
        _.filter("d > 0.0D OR d < -1.0E308"),
        _.filter("d = CAST('Infinity' AS DOUBLE)"),
        _.filter("f <= CAST('-Infinity' AS FLOAT) OR f = CAST('NaN' AS FLOAT)"),
        _.filter("l = 9223372036854775807L OR l = -9223372036854775808L"),
        _.filter("l IN (-1L, 0L, 9223372036854775807L)"),
        _.filter("b = CAST(-128 AS TINYINT) OR s = CAST(32767 AS SMALLINT)"),
        _.filter("i < -2147483647 OR i >= 2147483647"),
        _.filter("dt = DATE'1969-12-31' OR dt > DATE'9999-12-30'"),
        _.filter("ts <= TIMESTAMP'1969-12-31 23:59:59.999999'"),
        _.filter("tsn >= TIMESTAMP_NTZ'2024-02-29 12:00:00'"),
        _.selectExpr("d * -0.0D", "d + 0.0D", "d - CAST('Infinity' AS DOUBLE)",
          "f * 2.0F", "l % 1000L", "l DIV 3L", "b + 1", "s - 1", "i % 7",
          "round(d * 1.5D, 2)", "d = 0.0D", "dt < DATE'2000-01-01'",
          "ts > TIMESTAMP'2000-01-01 00:00:00'", "tsn = TIMESTAMP_NTZ'1970-01-01 00:00:00'"),
        _.filter("l > 0L").selectExpr("l - 1L", "i * 2L", "d / 2.0D"))
      def run(q: DataFrame => DataFrame): Seq[String] =
        q(spark.read.parquet(path)).collect().map(_.toString).toSeq.sorted
      val compiled = queries.map(run)
      val fired = queries.map(q => params(q(spark.read.parquet(path))))
      assert(fired.forall(_ > 0), s"parameters per query: $fired")
      val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(queries.map(run))
      assert(compiled == interpreted)
      assert(compiled(1).size == 2, "-0.0 equals 0.0")
      assert(compiled(12).exists(_.startsWith("[-0.0,")), "-0.0 * -0.0 sign")
      // ANSI overflow still raises through a parameter
      for (conf <- Seq(Nil, Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")))
        withConf(conf: _*) {
          val e = intercept[Exception](spark.read.parquet(path)
            .filter("l > 0L").selectExpr("l + 9223372036854775807L").collect())
          assert(e.toString.contains("ARITHMETIC_OVERFLOW") ||
            Option(e.getCause).exists(_.toString.contains("ARITHMETIC_OVERFLOW")), e)
        }
    }
  }

  test("exchanges that differ only in a literal are not reused") {
    withZone { zone =>
      val path = s"$zone/kg.parquet"
      spark.range(0L, 300L).select((col("id") % 3L).as("k"), (col("id") % 4L).as("g"))
        .write.parquet(path)
      for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
        val src = spark.read.parquet(path)
        def counts(k: Long) = src.filter(col("k") === k).groupBy("g").count()
          .withColumn("k", lit(k))
        val both = counts(1L).union(counts(2L))
        val got = both.collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
          .toSeq.sorted
        val want = (0L until 300L).filter(i => i % 3L == 1L || i % 3L == 2L)
          .groupBy(i => (i % 3L, i % 4L)).map { case ((k, g), v) => (k, g, v.size.toLong) }
          .toSeq.sorted
        assert(got == want, s"aqe=$aqe")
        val plan = nodes(both.queryExecution.executedPlan)
        assert(!plan.exists(_.isInstanceOf[ReusedExchangeExec]), s"aqe=$aqe")
        assert(params(both) >= 2, s"aqe=$aqe")
      }
    }
  }

  test("scans push the same filters and explain prints the same text") {
    withZone { zone =>
      val path = s"$zone/k.parquet"
      spark.range(0L, 100L).select(col("id").as("k"), (col("id") * 0.5).as("d"))
        .write.parquet(path)
      val df = spark.read.parquet(path).filter(col("k") === 42L && col("d") > 1.5)
        .select((col("k") + 1L).as("k1"))
      val qe = df.queryExecution
      def pushed(p: SparkPlan): Seq[String] = p.collect {
        case s: FileSourceScanExec => s.metadata("PushedFilters") }
      assert(pushed(qe.executedPlan) == pushed(qe.sparkPlan))
      assert(pushed(qe.executedPlan).mkString.contains("EqualTo(k,42)"))
      assert(params(df) == 3)
      val restored = qe.executedPlan.transformAllExpressions {
        case p: ParamLiteral => Literal(p.value, p.dataType)
      }
      assert(qe.executedPlan.treeString == restored.treeString)
      assert(qe.explainString(org.apache.spark.sql.execution.SimpleMode)
        .contains(restored.treeString(verbose = false)))
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(43L))
    }
  }
}
