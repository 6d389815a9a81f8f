package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.{Q => RQ}

/** Source/sink format coverage as VERIFIED queries (SURVEY.md §2.1 S1 /
  * §2.2 K1): each query writes a table through a text format into a temp
  * zone, reads it back with an explicit schema (never inferred — inference
  * is a second full scan at 100 TB), and aggregates the round-tripped
  * rows. The oracle runs the same aggregate on the ORIGINAL parquet, so a
  * hash match proves byte-faithful write→read fidelity: CSV quoting and
  * escaping (p_type holds spaces), JSON double round-tripping
  * (shortest-representation print → exact re-parse), and column order.
  *
  * FormatsSpec covers the unit-level cases; these entries put the formats
  * under the driver's oracle gate too. */
object FormatOps {

  private def tmpZone(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Materialize a 1-row aggregate eagerly and delete its temp zone — the
    * round-trip queries stage through disk, and a lazily-returned frame
    * would pin the zone forever (repeated verify/bench runs used to
    * accumulate temp dirs). */
  private def collected(df: DataFrame, zone: String): DataFrame =
    try {
      val spark = df.sparkSession
      spark.createDataFrame(
        java.util.List.of(df.head()), df.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }

  // ---------------------------------------------------------------- k80
  /** CSV sink → CSV scan round-trip on part (strings with spaces, ints,
    * doubles), aggregated for comparison against the parquet original. */
  private def k80(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orig = Tables.part(spark, dir)
    val zone = tmpZone("graft_k80_csv")
    Tables.writeCsv(orig, zone)
    collected(Tables.csv(spark, zone, orig.schema)
      .agg(
        count(lit(1)).cast("bigint").as("n"),
        sum($"p_size").cast("bigint").as("sum_size"),
        graft.ops.Num.dsum($"p_retailprice").as("sum_price"),
        md5(array_join(array_sort(collect_list($"p_name")), "|")).as("names_md5"),
        md5(array_join(array_sort(collect_list($"p_type")), "|")).as("types_md5")),
      zone)
  }
  private val k80Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(p_size) AS BIGINT) AS sum_size,
      | CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
      | MD5(STRING_AGG(p_name, '|' ORDER BY p_name)) AS names_md5,
      | MD5(STRING_AGG(p_type, '|' ORDER BY p_type)) AS types_md5
      |FROM part""".stripMargin

  // ---------------------------------------------------------------- k81
  /** JSON-lines sink → JSON scan round-trip on supplier (bigint keys,
    * double balances), same oracle principle as k80. */
  private def k81(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orig = Tables.supplier(spark, dir)
    val zone = tmpZone("graft_k81_json")
    orig.write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(zone)
    collected(spark.read.schema(orig.schema).json(zone)
      .agg(
        count(lit(1)).cast("bigint").as("n"),
        sum($"s_suppkey").cast("bigint").as("sum_key"),
        graft.ops.Num.dsum($"s_acctbal").as("sum_bal"),
        md5(array_join(array_sort(collect_list($"s_name")), "|")).as("names_md5")),
      zone)
  }
  private val k81Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(s_suppkey) AS BIGINT) AS sum_key,
      | CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal,
      | MD5(STRING_AGG(s_name, '|' ORDER BY s_name)) AS names_md5
      |FROM supplier""".stripMargin

  // ---------------------------------------------------------------- k82
  /** Per-file LINEAGE over a multi-file landing zone — operator O2, the
    * reference's `S3ListOperator` + XCom hop (ref
    * `dags/s3-etl-wallet-csv.py:152-158`, consumed at `:60-74`): list the
    * zone's objects AND carry each row's source file as a column.
    * Spark-native spelling: `FileSystem.globStatus` for the listing (the
    * operator half) and `input_file_name()` for the per-row provenance
    * column (the XCom half — no side channel, lineage rides the rows).
    * The two views must agree: the query cross-checks the glob listing
    * against the lineage groups and fails loudly on drift. The oracle
    * restates each file's expected content from the split predicate. */
  private def k82(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k82_zone")
    try {
      val docs = Tables.documents(spark, dir).select($"doc_id")
      (0 until 3).foreach { i =>
        Tables.writeSingleFile(
          docs.filter($"doc_id" % 3 === i), s"$zone/f$i.parquet")
      }
      // O2a: the zone listing (what S3ListOperator returned). Resolve the
      // filesystem FROM the zone path — FileSystem.get(conf) returns the
      // default FS, which silently lists nothing when fs.defaultFS is not
      // the scheme that owns the zone (e.g. hdfs default, file:// zone).
      val zonePath = new org.apache.hadoop.fs.Path(zone)
      val fs = zonePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val listed = fs
        .globStatus(new org.apache.hadoop.fs.Path(s"$zone/*.parquet"))
        .map(_.getPath.getName).sorted
      // O2b: per-row provenance via input_file_name(), grouped per file
      val perFile = spark.read.parquet(zone)
        .withColumn("file", regexp_extract(input_file_name(), "[^/]+$", 0))
        .groupBy($"file")
        .agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          min($"doc_id").cast("bigint").as("min_doc"),
          max($"doc_id").cast("bigint").as("max_doc"))
        .orderBy($"file")
        .collect()
      require(perFile.map(_.getString(0)).sameElements(listed),
        s"lineage groups ${perFile.map(_.getString(0)).toSeq} != listing ${listed.toSeq}")
      spark.createDataFrame(
        java.util.Arrays.asList(perFile: _*),
        StructType(Seq(
          StructField("file", StringType),
          StructField("n_rows", LongType),
          StructField("min_doc", LongType),
          StructField("max_doc", LongType))))
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private def k82Part(i: Int): String =
    s"""SELECT 'f$i.parquet' AS file, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       | CAST(MAX(doc_id) AS BIGINT) AS max_doc
       |FROM documents WHERE doc_id % 3 = $i""".stripMargin
  private val k82Sql =
    s"${k82Part(0)}\nUNION ALL\n${k82Part(1)}\nUNION ALL\n${k82Part(2)}\nORDER BY file"

  // ---------------------------------------------------------------- k83
  /** TRANSACTIONAL sink (graft.io.TxnTable) under the oracle gate: commit
    * snapshot v1 (even customer keys), commit v2 (all customers), then
    * verify BOTH reads — `latest` resolves the current pointer, `v1` time
    * travels to the superseded snapshot. A hash match proves the commit
    * flip is clean (latest sees exactly v2) and superseded data stays
    * intact (v1 unchanged after v2's commit). TxnSinkSpec covers the
    * atomicity story (dying writer leaves readers on the old version). */
  private def k83(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k83_txn")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(cust.filter($"c_custkey" % 2 === 0), table)
      TxnTable.commitOverwrite(cust, table)
      def snap(name: String, df: DataFrame): DataFrame =
        df.agg(
          lit(name).as("snapshot"),
          count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
          .select($"snapshot", $"n", $"sum_bal")
      val result = snap("latest", TxnTable.read(spark, table))
        .unionAll(snap("v1", TxnTable.readVersion(spark, table, 1)))
        .orderBy($"snapshot")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k83Sql =
    """SELECT 'latest' AS snapshot, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer
      |UNION ALL
      |SELECT 'v1', CAST(COUNT(*) AS BIGINT),
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
      |FROM customer WHERE c_custkey % 2 = 0
      |ORDER BY snapshot""".stripMargin

  // ---------------------------------------------------------------- k84
  /** SCHEMA EVOLUTION on read: a zone holding files written before and
    * after a column was added (the routine lakehouse migration), read as
    * one frame with `mergeSchema` — old files' missing column surfaces as
    * NULL, new files' values survive. The oracle restates the union
    * arithmetic: every supplier appears twice, the evolved column is
    * non-null exactly once per supplier, and its sum is unchanged. */
  private def k84(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k84_evo")
    try {
      val s = Tables.supplier(spark, dir)
      Tables.writeSingleFile(
        s.select($"s_suppkey", $"s_name"), s"$zone/epoch1.parquet")
      Tables.writeSingleFile(
        s.select($"s_suppkey", $"s_name", $"s_acctbal"), s"$zone/epoch2.parquet")
      val merged = spark.read.option("mergeSchema", "true").parquet(zone)
      val result = merged.agg(
        count(lit(1)).cast("bigint").as("n"),
        count($"s_acctbal").cast("bigint").as("n_bal"),
        graft.ops.Num.dsum($"s_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k84Sql =
    """SELECT CAST(2 * COUNT(*) AS BIGINT) AS n,
      | CAST(COUNT(*) AS BIGINT) AS n_bal,
      | CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM supplier""".stripMargin

  // ---------------------------------------------------------------- k85
  /** CONCURRENT COMMITTERS + IDEMPOTENT REPLAY under the oracle gate —
    * the multi-job deployment scenario the reference's copy-then-delete
    * zone hops break on (ref `dags/s3-etl-wallet-csv.py:161-176`):
    *
    *   1. two writers append DISJOINT halves of customer SIMULTANEOUSLY —
    *      the manifest CAS serializes them; the loser retries against the
    *      winner's snapshot, so both appends survive (no lost update);
    *   2. a third append carries an (appId, batchId) txn marker and is
    *      then REPLAYED — the replay must be a no-op (no third copy of
    *      the rows, no extra version).
    *
    * The verified row folds all invariants into hashable values: total
    * row count (= full customer + the replayed slice ONCE), balance sum,
    * and the commit count (2 racing appends + 1 marked append = 3 —
    * a lost update would drop it to 2 + missing rows, a replayed
    * double-append would raise it to 4 + doubled slice). */
  private def k85(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val zone = tmpZone("graft_k85_txn")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      val gate = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      val racers = Seq(0, 1).map { parity =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await(10, TimeUnit.SECONDS)
            TxnTable.commitAppend(
              cust.filter($"c_custkey" % 2 === parity), table)
          }
        })
      }
      gate.countDown()
      val won = racers.map(_.get(300, TimeUnit.SECONDS)).sorted
      pool.shutdown()
      require(won == Seq(1L, 2L), s"concurrent appends landed $won, want [1,2]")
      val slice = cust.filter($"c_custkey" <= 100)
      TxnTable.commitAppendIdempotent(slice, table, "k85-sink", 0L)
      // the foreachBatch-restart replay: same app, same batch → no-op
      TxnTable.commitAppendIdempotent(slice, table, "k85-sink", 0L)
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"),
        lit(TxnTable.latestVersion(spark, table).getOrElse(0L))
          .cast("bigint").as("n_commits"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k85Sql =
    """SELECT
      | CAST((SELECT COUNT(*) FROM customer)
      |     + (SELECT COUNT(*) FROM customer WHERE c_custkey <= 100)
      |   AS BIGINT) AS n,
      | CAST((SELECT SUM(CAST(c_acctbal AS DECIMAL(38,6))) FROM customer)
      |     + (SELECT SUM(CAST(c_acctbal AS DECIMAL(38,6)))
      |        FROM customer WHERE c_custkey <= 100)
      |   AS DOUBLE) AS sum_bal,
      | CAST(3 AS BIGINT) AS n_commits""".stripMargin

  // ---------------------------------------------------------------- k86
  /** PARTITION-PRUNED SCAN under the oracle gate — the single most common
    * 100 TB scan optimization: write orders hive-partitioned by
    * o_orderpriority (`Tables.writeParquet(partitionBy)`), read back with
    * a partition predicate, and REQUIRE inside the query that the scan
    * selected exactly the two matching partition directories
    * (`FileSourceScanExec.selectedPartitions` — the planning-time pruned
    * listing; `df.inputFiles` can't show this, it lists the pre-pruning
    * index. At cluster scale this is the difference between scanning 2/5
    * of the table and all of it). The verified rows are the
    * per-partition aggregates of the pruned read. */
  private def k86(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k86_prune")
    try {
      val orders = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      Tables.writeParquet(orders, s"$zone/orders_part",
        partitionBy = Seq("o_orderpriority"))
      val wanted = Seq("1-URGENT", "3-MEDIUM")
      val pruned = spark.read.parquet(s"$zone/orders_part")
        .filter($"o_orderpriority".isin(wanted: _*))
      val selected = org.apache.spark.sql.GraftBridge.prunedPartitionCount(pruned)
      require(selected.contains(wanted.size),
        s"partition pruning failed: scan selected $selected partitions, " +
          s"want ${wanted.size} of 5")
      val result = pruned
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"o_totalprice").as("sum_price"))
        .orderBy($"o_orderpriority")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k86Sql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- k87
  /** INCREMENTAL READ off the transactional table (TxnTable.readChanges —
    * change-data-feed for append-only history): three appends land
    * customer thirds as v1..v3; a consumer that already processed v1
    * reads changes since v1 and must see EXACTLY the rows of v2+v3 —
    * no re-read of v1's data (the reference's daily DAG re-reads whole
    * zones every run; this is the cursor-based replacement). The
    * returned cursor and the version count land in the verified row. */
  private def k87(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k87_cdf")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      (0 until 3).foreach { third =>
        TxnTable.commitAppend(cust.filter($"c_custkey" % 3 === third), table)
      }
      val (changes, cursor) = TxnTable.readChanges(spark, table, sinceVersion = 1L)
      val result = changes.agg(
        count(lit(1)).cast("bigint").as("n_changes"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_changes"),
        lit(cursor).cast("bigint").as("cursor"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k87Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_changes,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_changes,
      | CAST(3 AS BIGINT) AS cursor
      |FROM customer WHERE c_custkey % 3 IN (1, 2)""".stripMargin

  // ---------------------------------------------------------------- k88
  /** INCREMENTAL MATERIALIZED VIEW (graft.io.IncrementalView): an
    * aggregate maintained by cursor-based delta refreshes off an
    * append-only TxnTable — refresh cost ∝ new rows, not table size.
    * Two refreshes at different cadences (one third, then two thirds)
    * must land state BIT-IDENTICAL to one full recompute: the view
    * stores DECIMAL(38,6) sums, whose merge is exact and associative,
    * and the oracle IS the full recompute — a hash match proves the
    * incremental path introduces zero drift. */
  private def k88(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k88_mv")
    try {
      val src = s"$zone/src"
      val view = s"$zone/view"
      def appendThird(t: Int): Unit = {
        TxnTable.commitAppend(
          Tables.customer(spark, dir)
            .filter($"c_custkey" % 3 === t)
            .select(($"c_custkey" % 10).as("seg"), $"c_acctbal"),
          src); ()
      }
      var cursor = 0L
      appendThird(0)
      cursor = IncrementalView.refresh(spark, src, view, "seg", "c_acctbal", cursor)
      appendThird(1); appendThird(2)
      cursor = IncrementalView.refresh(spark, src, view, "seg", "c_acctbal", cursor)
      require(cursor == 3L, s"cursor $cursor after consuming 3 appends")
      val result = IncrementalView.read(spark, view)
        .select($"k".cast("bigint").as("k"), $"n", $"sum_val")
        .orderBy($"k")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k88Sql =
    """SELECT CAST(c_custkey % 10 AS BIGINT) AS k,
      | CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_val
      |FROM customer GROUP BY 1 ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- k89
  /** DATA-SKIPPING off manifest file stats (TxnTable.readRange): commit
    * customer range-clustered on c_custkey into 8 files with per-file
    * min/max recorded in the manifest, then read a key range — the plan
    * must touch a strict subset of files (REQUIREd in-query: the
    * manifest-stats analog of k86's hive-partition pruning, and the
    * mechanism k90's surgical merge stands on). The verified row is the
    * range aggregate. */
  private def k89(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k89_skip")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(8, $"c_custkey")
          .sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      val (rows, scanned, total) =
        TxnTable.readRange(spark, table, "c_custkey", lo = 100, hi = 400)
      require(scanned < total && scanned > 0,
        s"data skipping failed: scanned $scanned of $total files for a " +
          "narrow key range over a range-clustered table")
      val result = rows.agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k89Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_custkey BETWEEN 100 AND 400""".stripMargin

  // ---------------------------------------------------------------- k90
  /** FILE-SURGICAL MERGE (upsert) on the transactional table: update a
    * narrow key slice (bal + 1000 for keys 100-300) plus insert brand-new
    * keys; only stats-overlapping files are rewritten — the untouched
    * files carry forward BY REFERENCE (REQUIREd in-query by path
    * identity). The oracle restates the upsert over raw customer. */
  private def k90(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k90_merge")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(8, $"c_custkey")
          .sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      val before = TxnTable.snapshotFiles(spark, table, 1L).toSet
      val updates = cust
        .filter($"c_custkey".between(100, 300))
        .select($"c_custkey", ($"c_acctbal" + 1000.0).as("c_acctbal"))
        .unionByName(Seq((900001L, 11.5), (900002L, -3.25))
          .toDF("c_custkey", "c_acctbal"))
      val v = TxnTable.merge(updates, table, "c_custkey")
      val after = TxnTable.snapshotFiles(spark, table, v).toSet
      val carried = before.intersect(after)
      require(carried.nonEmpty && !before.subsetOf(after),
        s"surgical merge failed: carried ${carried.size} of ${before.size} " +
          "files; expected most files untouched and a few rewritten")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"),
        max($"c_custkey").cast("bigint").as("max_key"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k90Sql =
    """WITH merged AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey BETWEEN 100 AND 300
      |      THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal
      |  FROM customer
      |  UNION ALL SELECT 900001, 11.5
      |  UNION ALL SELECT 900002, -3.25)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal,
      | CAST(MAX(c_custkey) AS BIGINT) AS max_key
      |FROM merged""".stripMargin

  // ---------------------------------------------------------------- k91
  /** RANGE DELETE on the transactional table (TxnTable.deleteRange —
    * GDPR/retention): keys 100-400 vanish from a range-clustered
    * 8-file table. Files fully inside the range are dropped as PURE
    * METADATA (never read); disjoint files carry forward by reference;
    * only boundary files are rewritten. Both properties REQUIREd
    * in-query via manifest diffing; the oracle is the complement
    * aggregate over raw customer. */
  private def k91(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k91_del")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(8, $"c_custkey")
          .sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      val before = TxnTable.snapshotFiles(spark, table, 1L).toSet
      val v = TxnTable.deleteRange(spark, table, "c_custkey", lo = 100, hi = 400)
      val after = TxnTable.snapshotFiles(spark, table, v).toSet
      val carried = before.intersect(after)
      val gone = before -- after
      require(carried.nonEmpty && gone.nonEmpty,
        s"surgical delete failed: carried ${carried.size}, removed ${gone.size} of ${before.size}")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k91Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_custkey NOT BETWEEN 100 AND 400""".stripMargin

  // ---------------------------------------------------------------- k92
  /** Z-ORDER × TXN-STATS synergy: commit customer CLUSTERED ALONG THE
    * MORTON CURVE of (c_custkey, c_acctbal) with manifest stats on BOTH
    * dimensions — a range read on EITHER column must then skip files
    * (REQUIREd in-query for both), which no single-column sort layout
    * can do (k89 skips only on its sort key). This is the 100 TB
    * two-predicate table: layout from graft.ops.ZOrder, skipping from
    * the TxnTable manifest, and the verified rows are the two pruned
    * range aggregates stacked. */
  private def k92(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k92_ztxn")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        graft.ops.ZOrder.cluster(cust, "c_custkey", "c_acctbal", 16),
        table, statsCols = Seq("c_custkey", "c_acctbal"))
      def pruned(colName: String, lo: Double, hi: Double, label: String): DataFrame = {
        val (rows, scanned, total) = TxnTable.readRange(spark, table, colName, lo, hi)
        require(scanned < total && scanned > 0,
          s"z-order skipping failed on $colName: $scanned of $total files")
        rows.agg(
          lit(label).as("dim"),
          count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
          .select($"dim", $"n", $"sum_bal")
      }
      val result = pruned("c_custkey", 100, 400, "custkey_100_400")
        .unionAll(pruned("c_acctbal", 0, 2000, "acctbal_0_2000"))
        .orderBy($"dim")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k92Sql =
    """SELECT 'acctbal_0_2000' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_acctbal BETWEEN 0 AND 2000
      |UNION ALL
      |SELECT 'custkey_100_400', CAST(COUNT(*) AS BIGINT),
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
      |FROM customer WHERE c_custkey BETWEEN 100 AND 400
      |ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------- k93
  /** RANGE DELETE with NULLs in the predicate column — the NON-VACUOUS
    * variant of k91. SQL DELETE semantics: `DELETE WHERE k BETWEEN lo
    * AND hi` retains NULL-keyed rows (the predicate is NULL, not true).
    * Two traps this fixture springs, both former wrong-answer paths:
    *
    *   1. boundary rewrite — NULLs are spread through every base file
    *      (clustered by acctbal, deleted on k), so the complement
    *      filter runs over NULL keys; a bare `!between` is NULL under
    *      three-valued logic and silently DROPS them
    *   2. metadata-only drop — the appended file's min/max (200..300)
    *      sit fully inside the delete range, but min/max ignore NULLs;
    *      dropping it unread would delete its NULL-keyed rows too. The
    *      manifest's per-file null count forces it down the rewrite
    *      path instead.
    *
    * The oracle reproduces the fixture in SQL, so a single lost NULL
    * row breaks the hash. */
  private def k93(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k93_delnull")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
      // base: non-multiple-of-10 keys, clustered by ACCTBAL so every
      // file's k-range is wide (all boundary) and NULL-free
      val base = cust.filter($"c_custkey" % 10 =!= 0)
        .select($"c_custkey".cast("long").as("k"), $"c_acctbal")
        .repartitionByRange(6, $"c_acctbal")
      // extra: multiples of 10 — keys 200..300 keep their key, the rest
      // go NULL; one file whose stats scream "fully covered"
      val extra = cust.filter($"c_custkey" % 10 === 0)
        .select(
          when($"c_custkey".between(200, 300), $"c_custkey")
            .otherwise(lit(null)).cast("long").as("k"),
          $"c_acctbal")
        .coalesce(1)
      TxnTable.commitOverwrite(base, table, statsCols = Seq("k"))
      TxnTable.commitAppend(extra, table, statsCols = Seq("k"))
      val nullsBefore = TxnTable.read(spark, table)
        .filter($"k".isNull).count()
      TxnTable.deleteRange(spark, table, "k", lo = 100, hi = 400)
      val nullsAfter = TxnTable.read(spark, table)
        .filter($"k".isNull).count()
      require(nullsBefore > 0 && nullsAfter == nullsBefore,
        s"DELETE must retain NULL-keyed rows: $nullsBefore before, $nullsAfter after")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        count($"k").cast("bigint").as("n_keyed"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k93Sql =
    """WITH fixture AS (
      |  SELECT CASE WHEN c_custkey % 10 = 0
      |           THEN CASE WHEN c_custkey BETWEEN 200 AND 300
      |                  THEN c_custkey END
      |           ELSE c_custkey END AS k,
      |         c_acctbal
      |  FROM customer)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(COUNT(k) AS BIGINT) AS n_keyed,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM fixture
      |WHERE k IS NULL OR k NOT BETWEEN 100 AND 400""".stripMargin

  // ---------------------------------------------------------------- k94
  /** MERGE WITH SCHEMA EVOLUTION: the updates frame carries a column the
    * table has never seen (`c_tier`). The merge must (a) land the new
    * column in the committed snapshot's log schema, (b) surface it as
    * NULL on every row the merge didn't touch — including rows in files
    * carried forward by reference — and (c) still be file-surgical
    * (untouched files carried by path identity, REQUIREd in-query).
    * Previously the manifest advertised the merged schema but the data
    * path's strict unionByName threw on the extra column, so the
    * evolution could never actually happen. */
  private def k94(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k94_evolve")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(8, $"c_custkey")
          .sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      val before = TxnTable.snapshotFiles(spark, table, 1L).toSet
      val updates = cust
        .filter($"c_custkey".between(100, 300))
        .select($"c_custkey", ($"c_acctbal" + 1000.0).as("c_acctbal"),
          lit("gold").as("c_tier"))
      val v = TxnTable.merge(updates, table, "c_custkey")
      val after = TxnTable.snapshotFiles(spark, table, v).toSet
      require(before.intersect(after).nonEmpty && !before.subsetOf(after),
        "evolving merge must stay file-surgical")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        count($"c_tier").cast("bigint").as("n_tier"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k94Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CASE WHEN c_custkey BETWEEN 100 AND 300
      |               THEN 1 ELSE 0 END) AS BIGINT) AS n_tier,
      | CAST(SUM(CAST(CASE WHEN c_custkey BETWEEN 100 AND 300
      |                    THEN c_acctbal + 1000.0 ELSE c_acctbal END
      |               AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer""".stripMargin

  // ---------------------------------------------------------------- k95
  /** DSv2 read path: `spark.read.format("graft")` over the TxnTable —
    * file skipping comes from the PLANNER now, not a blessed API. The
    * filter is a plain DataFrame `.between`; the scan builder extracts
    * its bounds via pushdown, prunes the file list against manifest
    * stats (REQUIREd in-query via the executed plan's DSv2 scan), and
    * Spark's own ParquetScan reads the survivors. Also proves snapshot
    * pinning + time travel: `versionAsOf 1` ignores a later append. */
  private def k95(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k95_dsv2")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(8, $"c_custkey")
          .sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      // later noise the pinned version must not see
      TxnTable.commitAppend(
        Seq((990001L, 123.45)).toDF("c_custkey", "c_acctbal"), table,
        statsCols = Seq("c_custkey"))
      val pruned = spark.read.format("graft")
        .option("versionAsOf", "1").load(table)
        .filter($"c_custkey".between(100, 400))
      val scanned = org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(pruned)
        .getOrElse(sys.error("no DSv2 scan in plan — format(\"graft\") fell through"))
      require(scanned > 0 && scanned < 8,
        s"DSv2 stats skipping failed: scanned $scanned of 8 files")
      val result = pruned.agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k95Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_custkey BETWEEN 100 AND 400""".stripMargin

  // ---------------------------------------------------------------- k96
  /** TYPED file stats: data skipping expressed directly on a TIMESTAMP
    * column (min/max in the column's own type — the retention predicate k91
    * could not serve when stats were numeric-only) and on a STRING
    * column (lexicographic min/max; Spark's UTF8 binary order equals
    * DuckDB's default collation, so the oracle agrees). Two tables,
    * each clustered along its stats column; both reads REQUIRE a
    * strict file-subset scan in-query. */
  private def k96(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k96_typed")
    try {
      val orders = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderdate", $"o_orderpriority", $"o_totalprice")
      val byDate = s"$zone/orders_by_date"
      TxnTable.commitOverwrite(
        orders.repartitionByRange(12, $"o_orderdate")
          .sortWithinPartitions($"o_orderdate"),
        byDate, statsCols = Seq("o_orderdate"))
      val (dRows, dScan, dTotal) = TxnTable.readRangeOn(spark, byDate,
        "o_orderdate", "1995-01-01", "1996-12-31 23:59:59")
      require(dScan > 0 && dScan < dTotal,
        s"timestamp skipping failed: $dScan of $dTotal files")
      val byPrio = s"$zone/orders_by_prio"
      TxnTable.commitOverwrite(
        orders.repartitionByRange(4, $"o_orderpriority")
          .sortWithinPartitions($"o_orderpriority"),
        byPrio, statsCols = Seq("o_orderpriority"))
      val (pRows, pScan, pTotal) = TxnTable.readRangeOn(spark, byPrio,
        "o_orderpriority", "1-URGENT", "2-HIGH")
      require(pScan > 0 && pScan < pTotal,
        s"string skipping failed: $pScan of $pTotal files")
      def summarize(df: DataFrame, label: String): DataFrame =
        df.agg(
          lit(label).as("dim"),
          count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"o_totalprice").as("sum_price"))
          .select($"dim", $"n", $"sum_price")
      val result = summarize(dRows, "date_1995_1996")
        .unionAll(summarize(pRows, "prio_urgent_high"))
        .orderBy($"dim")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k96Sql =
    """SELECT 'date_1995_1996' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
      |                      AND TIMESTAMP '1996-12-31 23:59:59'
      |UNION ALL
      |SELECT 'prio_urgent_high', CAST(COUNT(*) AS BIGINT),
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
      |FROM orders
      |WHERE o_orderpriority BETWEEN '1-URGENT' AND '2-HIGH'
      |ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------- k97
  /** BLOOM POINT LOOKUP: `doc_id` is hash-partitioned, so every file
    * spans ~the whole key range and min/max stats prune NOTHING — the
    * per-file bloom sidecar is what turns the point query into a
    * one-file read (REQUIREd in-query, on both the blessed readEquals
    * path and the DSv2 `===` pushdown path, which must also agree with
    * each other). The probed key is the midpoint of the key range so
    * the fixture works at every scale factor; the oracle recomputes it
    * as a scalar subquery. */
  private def k97(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k97_bloom")
    try {
      val table = s"$zone/docs_txn"
      val docs = Tables.documents(spark, dir).select($"doc_id", $"n_chars")
      TxnTable.commitOverwrite(docs.repartition(8, $"doc_id"), table,
        statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
      val target = math.floorDiv(
        docs.agg(max($"doc_id")).head().getLong(0), 2L)
      val (rows, scanned, total) = TxnTable.readEquals(spark, table, "doc_id", target)
      require(scanned < total,
        s"bloom point lookup pruned nothing: $scanned of $total files")
      val dsv2 = spark.read.format("graft").load(table)
        .filter($"doc_id" === target)
      val dsScanned = org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(dsv2)
        .getOrElse(sys.error("no DSv2 scan in plan"))
      require(dsScanned < total,
        s"DSv2 bloom skipping failed: scanned $dsScanned of $total files")
      require(dsv2.count() == rows.count(),
        "DSv2 and readEquals disagree on the point lookup")
      val result = rows.agg(
        count(lit(1)).cast("bigint").as("n"),
        sum($"n_chars").cast("bigint").as("sum_chars"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k97Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE doc_id = (SELECT CAST(FLOOR(MAX(doc_id) / 2.0) AS BIGINT)
      |                FROM documents)""".stripMargin

  // ---------------------------------------------------------------- k98
  /** BLOOM POINT DELETE — GDPR erasure by key: delete one user's rows
    * from a table whose key column is NOT clustered (stats can't prune)
    * and contains NULLs (SQL DELETE must retain them). The bloom
    * sidecars confine the rewrite to the files that might hold the key;
    * everything else carries by reference (REQUIREd in-query). The
    * oracle reproduces the NULL-laced fixture in SQL, so one lost NULL
    * row or one over-deleted file breaks the hash. */
  private def k98(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k98_gdpr")
    try {
      val table = s"$zone/docs_txn"
      val docs = Tables.documents(spark, dir)
        .select(
          when($"doc_id" % 10 === 0, lit(null)).otherwise($"doc_id")
            .cast("long").as("k"),
          $"n_chars")
      TxnTable.commitOverwrite(docs.repartition(6, $"n_chars"), table,
        statsCols = Seq("k"), bloomCols = Seq("k"))
      // largest key ≡ 1 (mod 10): never NULLed, present at every SF
      val target = Tables.documents(spark, dir)
        .filter($"doc_id" % 10 === 1)
        .agg(max($"doc_id")).head().getLong(0)
      val before = TxnTable.snapshotFiles(spark, table, 1L).toSet
      val nullsBefore = TxnTable.read(spark, table).filter($"k".isNull).count()
      val v = TxnTable.deleteEquals(spark, table, "k", target)
      val after = TxnTable.snapshotFiles(spark, table, v).toSet
      require(nullsBefore > 0 &&
        TxnTable.read(spark, table).filter($"k".isNull).count() == nullsBefore,
        "GDPR delete must retain NULL-keyed rows")
      require(before.intersect(after).size >= before.size - 2,
        s"point delete rewrote ${before.size - before.intersect(after).size} " +
          s"of ${before.size} files — bloom confinement failed")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        count($"k").cast("bigint").as("n_keyed"),
        sum($"n_chars").cast("bigint").as("sum_chars"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k98Sql =
    """WITH fixture AS (
      |  SELECT CASE WHEN doc_id % 10 = 0 THEN NULL ELSE doc_id END AS k,
      |         n_chars
      |  FROM documents)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(COUNT(k) AS BIGINT) AS n_keyed,
      | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM fixture
      |WHERE k IS NULL
      |   OR k <> (SELECT MAX(doc_id) FROM documents WHERE doc_id % 10 = 1)""".stripMargin

  // ---------------------------------------------------------------- k99
  /** RESTORE — metadata-only rollback: a bad load appends garbage, the
    * operator restores the table to the pre-load snapshot. The restore
    * commit re-references the old files (REQUIREd in-query: file list
    * identical to v1's, so zero data bytes moved at any table size),
    * history stays linear (the bad version remains time-travelable),
    * and the verified rows prove the visible content is exactly the
    * pre-load data — the oracle never sees the garbage. */
  private def k99(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k99_restore")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(4, $"c_custkey"), table,
        statsCols = Seq("c_custkey"))
      TxnTable.commitAppend( // the bad load: impossible keys
        Seq((-1L, 1e9), (-2L, -1e9)).toDF("c_custkey", "c_acctbal"), table)
      val v = TxnTable.restore(spark, table, 1L)
      require(TxnTable.snapshotFiles(spark, table, v) ==
        TxnTable.snapshotFiles(spark, table, 1L),
        "restore must re-reference the old snapshot's files verbatim")
      require(TxnTable.readVersion(spark, table, 2L).count() == cust.count() + 2,
        "the rolled-back version must stay time-travelable")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k99Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer""".stripMargin

  // --------------------------------------------------------------- k100
  /** DSv2 WRITE path: the table is created, appended, and replay-guarded
    * entirely through `df.write.format("graft")` — no blessed API. The
    * append carries (txnAppId, txnVersion) and is REPLAYED verbatim; the
    * idempotent-commit machinery must make the second save a no-op
    * (REQUIREd on both version and row count — a double-append would
    * also break the oracle hash). Stats still land in the manifest:
    * the final read REQUIREs file skipping on a range filter. */
  private def k100(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k100_dsv2w")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      cust.repartitionByRange(6, $"c_custkey")
        .sortWithinPartitions($"c_custkey")
        .write.format("graft").mode("overwrite")
        .option("statsCols", "c_custkey").save(table)
      val extra = cust.filter($"c_custkey".between(1, 200))
        .select($"c_custkey", ($"c_acctbal" + 100.0).as("c_acctbal"))
      def appendOnce(): Unit =
        extra.write.format("graft").mode("append")
          .option("statsCols", "c_custkey")
          .option("txnAppId", "k100").option("txnVersion", "1")
          .save(table)
      appendOnce()
      val vAfter = TxnTable.latestVersion(spark, table).get
      val nAfter = TxnTable.read(spark, table).count()
      appendOnce() // replay: must be a no-op
      require(TxnTable.latestVersion(spark, table).contains(vAfter) &&
        TxnTable.read(spark, table).count() == nAfter,
        "replayed txn-marked DSv2 append must not re-apply")
      val back = spark.read.format("graft").load(table)
      val narrow = back.filter($"c_custkey".between(100, 150))
      val scanned = org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(narrow)
        .getOrElse(sys.error("no DSv2 scan in plan"))
      require(scanned > 0 && scanned < TxnTable.snapshotFiles(
        spark, table, vAfter).size,
        s"DSv2-written stats must skip files: scanned $scanned")
      val result = back.agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k100Sql =
    """WITH t AS (
      |  SELECT c_acctbal FROM customer
      |  UNION ALL
      |  SELECT c_acctbal + 100.0 FROM customer WHERE c_custkey BETWEEN 1 AND 200)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM t""".stripMargin

  // --------------------------------------------------------------- k101
  /** METADATA-ONLY AGGREGATES: COUNT(*)/COUNT(col)/MIN/MAX over the
    * whole table are answered from the manifest (per-file row counts +
    * typed min/max stats) through DSv2 aggregate pushdown — the plan is
    * REQUIREd in-query to contain graft's zero-file agg scan and NO
    * parquet scan. At 100 TB this query costs one manifest read. The
    * oracle computes the same aggregates from the raw parquet, so a
    * hash match proves the metadata path returns EXACTLY what a full
    * scan would: long keys, lexicographic string min/max, and
    * microsecond-exact timestamps from the typed stats all
    * round-trip. */
  private def k101(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k101_aggpush")
    try {
      val table = s"$zone/orders_txn"
      val orders = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      TxnTable.commitOverwrite(
        orders.repartitionByRange(8, $"o_orderkey")
          .sortWithinPartitions($"o_orderkey"),
        table,
        statsCols = Seq("o_orderkey", "o_orderdate", "o_orderpriority"))
      val agg = spark.read.format("graft").load(table).agg(
        count(lit(1)).cast("bigint").as("n"),
        count($"o_orderdate").cast("bigint").as("n_dated"),
        min($"o_orderkey").as("min_key"),
        max($"o_orderkey").as("max_key"),
        min($"o_orderpriority").as("min_pri"),
        max($"o_orderpriority").as("max_pri"),
        min($"o_orderdate").as("min_date"),
        max($"o_orderdate").as("max_date"))
      val scan = agg.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }
      require(scan.exists {
        case g: GraftScanFiles => g.scannedFileCount == 0
        case _ => false
      }, s"aggregate must plan metadata-only (zero files); got $scan")
      require(agg.queryExecution.executedPlan.collectLeaves().forall {
        case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => false
        case _: org.apache.spark.sql.execution.FileSourceScanExec => false
        case _ => true
      }, "metadata-only aggregate must not read any data file")
      spark.createDataFrame(
        java.util.Arrays.asList(agg.collect(): _*), agg.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k101Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(COUNT(o_orderdate) AS BIGINT) AS n_dated,
      | MIN(o_orderkey) AS min_key,
      | MAX(o_orderkey) AS max_key,
      | MIN(o_orderpriority) AS min_pri,
      | MAX(o_orderpriority) AS max_pri,
      | MIN(o_orderdate) AS min_date,
      | MAX(o_orderdate) AS max_date
      |FROM orders""".stripMargin

  // --------------------------------------------------------------- k102
  /** GROUP-BY METADATA AGGREGATES over a partitioned ingest: each order
    * priority lands as its own append commit (the per-partition load
    * pattern), so every file is single-valued on the group column —
    * and `GROUP BY o_orderpriority` with COUNT/MIN/MAX folds per-group
    * from manifest stats alone through DSv2 aggregate pushdown. The
    * plan is REQUIREd in-query to be graft's zero-file agg scan; the
    * oracle recomputes the same grouped aggregates from raw parquet.
    * This is `SELECT dt, count(*) FROM logs GROUP BY dt` on a
    * date-partitioned 100 TB table costing one manifest read. */
  private def k102(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k102_groupagg")
    try {
      val table = s"$zone/orders_by_pri"
      val orders = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      val priorities = orders.select($"o_orderpriority").distinct()
        .as[String].collect().sorted
      priorities.foreach { p =>
        orders.filter($"o_orderpriority" === p)
          .write.format("graft").mode("append")
          .option("statsCols", "o_orderkey,o_orderpriority").save(table)
      }
      val agg = spark.read.format("graft").load(table)
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).cast("bigint").as("n"),
          min($"o_orderkey").as("min_key"),
          max($"o_orderkey").as("max_key"))
        .orderBy($"o_orderpriority")
      val scan = agg.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }
      require(scan.exists {
        case g: GraftScanFiles => g.scannedFileCount == 0
        case _ => false
      }, s"grouped aggregate must plan metadata-only (zero files); got $scan")
      spark.createDataFrame(
        java.util.Arrays.asList(agg.collect(): _*), agg.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k102Sql =
    """SELECT o_orderpriority,
      | CAST(COUNT(*) AS BIGINT) AS n,
      | MIN(o_orderkey) AS min_key,
      | MAX(o_orderkey) AS max_key
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- k103
  /** TABLE HISTORY under the oracle gate: a scripted commit sequence
    * (overwrite → append → idempotent append) and the audit view a
    * user reads back — version, file count, txn-marker count, and the
    * per-version ROW TOTAL summed from the manifest's per-file counts
    * (metadata only — no version's data is re-scanned). The oracle
    * derives the same rows from the source data, so the history is
    * checked against ground truth, not against itself: a wrong file
    * count, a lost txn marker, or a drifted row count all break the
    * hash. Time travel feeds the row totals per version. */
  private def k103(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k103_history")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(cust.coalesce(1), table,
        statsCols = Seq("c_custkey"))
      TxnTable.commitAppend(
        cust.filter($"c_custkey" < 100).coalesce(1), table,
        statsCols = Seq("c_custkey"))
      TxnTable.commitAppendIdempotent(
        Seq((9000001L, 1.0)).toDF("c_custkey", "c_acctbal").coalesce(1),
        table, appId = "k103", batchId = 7L)
      val hist = TxnTable.history(spark, table)
        .select($"version", $"n_files", $"n_txn_markers")
      val totals = TxnTable.versions(spark, table).map { v =>
        val rows = TxnTable.fileRows(spark, table, v)
        val files = TxnTable.snapshotFiles(spark, table, v)
        require(files.forall(rows.contains), s"v$v missing row counts")
        (v, files.map(rows).sum)
      }.toDF("version", "rows_total")
      val result = hist.join(totals, "version")
        .select($"version", $"n_files", $"n_txn_markers", $"rows_total")
        .orderBy($"version")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k103Sql =
    """SELECT CAST(1 AS BIGINT) AS version, CAST(1 AS BIGINT) AS n_files,
      |  CAST(0 AS BIGINT) AS n_txn_markers,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS rows_total
      |UNION ALL
      |SELECT 2, 2, 0,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)
      |   + (SELECT CAST(COUNT(*) AS BIGINT) FROM customer WHERE c_custkey < 100)
      |UNION ALL
      |SELECT 3, 3, 1,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)
      |   + (SELECT CAST(COUNT(*) AS BIGINT) FROM customer WHERE c_custkey < 100)
      |   + 1
      |ORDER BY version""".stripMargin

  // --------------------------------------------------------------- k104
  /** PARTIAL COMPACTION (OPTIMIZE for streaming tables): a settled base
    * file plus a trickle of single-row streaming commits — compactSmall
    * bin-packs ONLY the small files and must carry the base file
    * forward BY PATH IDENTITY (REQUIREd in-query: rewriting settled
    * data at 100 TB is the failure mode this op exists to avoid). Row
    * counts, content, and data skipping all survive; the oracle checks
    * the final content against the source data. */
  private def k104(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k104_optimize")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(cust.coalesce(1), table,
        statsCols = Seq("c_custkey"))
      val base = TxnTable.snapshotFiles(spark, table, 1L)
      (1 to 5).foreach { i =>
        TxnTable.commitAppend(
          Seq((9000000L + i, i.toDouble)).toDF("c_custkey", "c_acctbal")
            .coalesce(1),
          table, statsCols = Seq("c_custkey"))
      }
      require(TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get).size == 6)
      // threshold = the settled file's own size: strictly-smaller files
      // (the single-row commits) pack, the base never does — scale-
      // factor-independent
      val baseSize = new java.io.File(s"$table/${base.head}").length()
      val v = TxnTable.compactSmall(spark, table, smallBytes = baseSize)
      val after = TxnTable.snapshotFiles(spark, table, v)
      require(after.size == 2,
        s"expected base + one packed file, got ${after.size}")
      require(base.forall(after.contains),
        "settled base file must carry forward by reference, not rewrite")
      require(after.forall(
        TxnTable.fileRows(spark, table, v).contains),
        "packed replacements must keep row counts")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k104Sql =
    """WITH t AS (
      |  SELECT c_acctbal FROM customer
      |  UNION ALL
      |  SELECT CAST(v AS DOUBLE) FROM range(1, 6) r(v))
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM t""".stripMargin

  // --------------------------------------------------------------- k105
  /** METADATA-ONLY COLUMN PROFILE (ANALYZE without the scan): commit
    * customers with stats on a numeric column carrying injected NULLs
    * and a string column, then read the profile — min/max per kind,
    * null counts, row totals — purely from the manifest. The oracle
    * computes the same numbers from the RAW DATA, so the metadata
    * profile is checked against ground truth: a drifted stat, a lost
    * null count, or a wrong row total all break the hash. */
  private def k105(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k105_profile")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey",
          when($"c_custkey" % 7 === 0, lit(null).cast("double"))
            .otherwise($"c_acctbal").as("bal"),
          $"c_mktsegment")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(4, $"c_custkey"), table,
        statsCols = Seq("bal", "c_mktsegment"))
      // profile reads the manifest eagerly and returns driver-built rows
      // (a LocalRelation) — safe to delete the zone right after
      TxnTable.profile(spark, table).orderBy($"col")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k105Sql =
    """WITH fixture AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal,
      |    c_mktsegment
      |  FROM customer)
      |SELECT 'bal' AS col,
      | CAST(MIN(bal) AS DOUBLE) AS min_num, CAST(MAX(bal) AS DOUBLE) AS max_num,
      | CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
      | CAST(SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      | CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM fixture
      |UNION ALL
      |SELECT 'c_mktsegment',
      | NULL, NULL,
      | MIN(c_mktsegment), MAX(c_mktsegment),
      | CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      | CAST(COUNT(*) AS BIGINT)
      |FROM fixture
      |ORDER BY col""".stripMargin

  // --------------------------------------------------------------- k106
  /** SQL `UPDATE ... WHERE` on a graft catalog table — the warehouse DML
    * spelling (ref `dags/s3-etl-wallet-csv.py:204-236` makes Postgres
    * SQL the user's idiom), lowered by GraftDmlRewrite onto TxnTable's
    * copy-on-write commit. Scale shape REQUIREd in-query: the WHERE
    * prunes through manifest stats, so only the key-overlapping files
    * of the 8-file range-clustered table are rewritten — the rest carry
    * forward BY REFERENCE. Oracle restates the update as a CASE
    * projection over raw customer. */
  private def k106(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k106_update")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(8, $"c_custkey")
          .sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      val before = TxnTable.snapshotFiles(spark, table, 1L).toSet
      spark.sql(s"CREATE TABLE graft_k106_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """UPDATE graft_k106_t SET c_acctbal = c_acctbal + 1000.0
            |WHERE c_custkey BETWEEN 100 AND 300""".stripMargin)
      } finally spark.sql("DROP TABLE graft_k106_t")
      val v = TxnTable.latestVersion(spark, table).get
      val after = TxnTable.snapshotFiles(spark, table, v).toSet
      val carried = before.intersect(after)
      require(carried.nonEmpty && carried != before,
        s"SQL UPDATE must be file-surgical: carried ${carried.size} of " +
          s"${before.size} files; expected most untouched, a few rewritten")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k106Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(CASE WHEN c_custkey BETWEEN 100 AND 300
      |   THEN c_acctbal + 1000.0 ELSE c_acctbal END AS DECIMAL(38,6)))
      |   AS DOUBLE) AS sum_bal
      |FROM customer""".stripMargin

  // --------------------------------------------------------------- k107
  /** SQL `MERGE INTO` on a graft catalog table: conditional matched
    * UPDATE, matched DELETE, and NOT MATCHED INSERT in one statement,
    * lowered onto the same copy-on-write commit as k106. The oracle
    * restates all three action classes over raw customer. */
  private def k107(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k107_merge")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(8, $"c_custkey")
          .sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      // source: negate bal for keys 100-300, kill keys 301-350, add two
      cust.filter($"c_custkey".between(100, 350))
        .select($"c_custkey", (-$"c_acctbal").as("new_bal"))
        .unionByName(Seq((900001L, 11.5), (900002L, -3.25))
          .toDF("c_custkey", "new_bal"))
        .createOrReplaceTempView("graft_k107_src")
      spark.sql(s"CREATE TABLE graft_k107_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """MERGE INTO graft_k107_t t USING graft_k107_src s
            |ON t.c_custkey = s.c_custkey
            |WHEN MATCHED AND t.c_custkey > 300 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET c_acctbal = s.new_bal
            |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal)
            |  VALUES (s.c_custkey, s.new_bal)""".stripMargin)
      } finally spark.sql("DROP TABLE graft_k107_t")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"),
        max($"c_custkey").cast("bigint").as("max_key"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k107Sql =
    """WITH merged AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey BETWEEN 100 AND 300 THEN -c_acctbal
      |         ELSE c_acctbal END AS c_acctbal
      |  FROM customer WHERE c_custkey NOT BETWEEN 301 AND 350
      |  UNION ALL SELECT 900001, 11.5
      |  UNION ALL SELECT 900002, -3.25)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal,
      | CAST(MAX(c_custkey) AS BIGINT) AS max_key
      |FROM merged""".stripMargin

  // --------------------------------------------------------------- k108
  /** PARTITIONED GRAFT WRITES — `partitionBy("o_orderpriority")` on
    * `format("graft")`: the commit lands hive-style partition-value
    * file groups (each file single-valued on the partition column,
    * which the manifest records as stats with min == max), so
    * partition pruning IS the existing stats pruning and partitions
    * double as metadata GROUP BY groups. REQUIREd in-query: a
    * partition-filtered DSv2 read scans ONLY that partition's files
    * (zero non-matching files — the k102 GraftScanFiles pattern), a
    * GROUP BY over the partition column is answered from the manifest
    * with ZERO files scanned, and an append without partitionBy
    * conforms to the recorded partitioning (sticky). Oracle: the
    * group counts over raw orders. */
  private def k108(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k108_part")
    try {
      val table = s"$zone/orders_part"
      val ord = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      // optimizedWrite: one file per partition VALUE per commit instead
      // of one per task per value — the guide §6 small-files fix (a
      // 32-task input into 5 priorities otherwise lands ~160 tiny
      // files per commit, and the stats read-back then rescans every
      // one of them); the pruning/metadata REQUIREs below count files
      // dynamically, so the layout change is contract-neutral
      ord.filter($"o_orderkey" % 2 === 0)
        .write.format("graft").mode("overwrite")
        .option("optimizedWrite", "true")
        .partitionBy("o_orderpriority").save(table)
      // sticky: the second half appends WITHOUT partitionBy and must
      // still land in partition-value file groups
      ord.filter($"o_orderkey" % 2 === 1)
        .write.format("graft").option("optimizedWrite", "true")
        .mode("append").save(table)
      require(TxnTable.partitionColumns(spark, table) == Seq("o_orderpriority"),
        "partitionBy must be recorded in the manifest")
      val v = TxnTable.latestVersion(spark, table).get
      val stats = TxnTable.fileStats(spark, table, v)
      val files = TxnTable.snapshotFiles(spark, table, v)
      require(files.nonEmpty && files.forall(f =>
        stats.getOrElse(f, Nil).exists(s =>
          s.col == "o_orderpriority" && s.minV == s.maxV && s.nulls == 0L)),
        "every partitioned file must be single-valued on the partition column")
      // partition-filtered read scans ONLY the matching partition
      val urgent = files.filter(f => stats(f)
        .exists(s => s.col == "o_orderpriority" && s.minV == "1-URGENT"))
      val pruned = spark.read.format("graft").load(table)
        .filter($"o_orderpriority" === "1-URGENT")
      val scanned = org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(pruned).get
      require(scanned == urgent.size && scanned < files.size,
        s"partition pruning read $scanned files, want exactly ${urgent.size} " +
          s"of ${files.size}")
      // GROUP BY the partition column: answered from the manifest alone
      val grouped = spark.read.format("graft").load(table)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val groupedScan = grouped.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }
      require(groupedScan.exists {
        case g: GraftScanFiles => g.scannedFileCount == 0
        case _ => false
      }, s"partition GROUP BY must be metadata-only; got $groupedScan")
      val result = grouped
        .select($"o_orderpriority", $"n".cast("bigint").as("n"))
        .orderBy($"o_orderpriority")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k108Sql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- k109
  /** FILTERED METADATA-ONLY AGGREGATE — exact filter handling: on a
    * partitioned table every file is single-valued on the partition
    * column, so `WHERE o_orderpriority = '1-URGENT'` selects exactly
    * that partition's files AND provably matches every row in them —
    * the scan claims the filter (no residual), Spark pushes the
    * aggregate, and `COUNT(*) / MIN / MAX ... WHERE p = x` is answered
    * from the manifest with ZERO files opened (REQUIREd in-plan). A
    * predicate the stats can NOT prove exact (the key range splits
    * files) must keep the ordinary scan — REQUIREd too. */
  private def k109(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k109_fagg")
    try {
      val table = s"$zone/orders_part"
      val ord = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      ord.write.format("graft").mode("overwrite")
        .partitionBy("o_orderpriority")
        .option("statsCols", "o_orderkey").save(table)
      val agg = spark.read.format("graft").load(table)
        .filter($"o_orderpriority" === "1-URGENT")
        .agg(
          count(lit(1)).cast("bigint").as("n"),
          min($"o_orderkey").as("min_key"),
          max($"o_orderkey").as("max_key"))
      val aggScan = agg.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }
      require(aggScan.exists {
        case g: GraftScanFiles => g.scannedFileCount == 0
        case _ => false
      }, s"partition-filtered aggregate must be metadata-only; got $aggScan")
      // a filter the stats cannot prove exact must NOT be claimed:
      // the range splits files, so the plan keeps a real scan and the
      // residual re-filter — correctness over convenience
      val split = spark.read.format("graft").load(table)
        .filter($"o_orderkey" <= 1000)
        .agg(count(lit(1)).cast("bigint").as("n"))
      val splitMeta = split.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.exists(_.isInstanceOf[GraftAggScan])
      require(!splitMeta, "a file-splitting predicate must not push the aggregate")
      require(split.head().getLong(0) ==
        ord.filter($"o_orderkey" <= 1000).count(),
        "residual re-filter must keep the split-range count exact")
      spark.createDataFrame(
        java.util.Arrays.asList(agg.collect(): _*), agg.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k109Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  // --------------------------------------------------------------- k110
  /** SQL DELETE with an ARBITRARY predicate (multi-column AND) — not
    * expressible by the metadata-gated SupportsDelete shapes, so the
    * analyzer lowers it to the copy-on-write rewrite: phase 1 locates
    * the touched files through the pruned DSv2 scan, phase 2 rewrites
    * only those with the complement (NULL predicate retains the row);
    * key-disjoint files carry forward BY REFERENCE (REQUIREd). The
    * oracle restates the complement over raw customer. */
  private def k110(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k110_delany")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(8, $"c_custkey")
          .sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      val before = TxnTable.snapshotFiles(spark, table, 1L).toSet
      val hi = cust.agg(max($"c_custkey")).head().getLong(0)
      val cut = hi / 4 // predicate confined to the low quarter of keys
      spark.sql(s"CREATE TABLE graft_k110_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          s"""DELETE FROM graft_k110_t
             |WHERE c_mktsegment = 'BUILDING' AND c_custkey < $cut""".stripMargin)
      } finally spark.sql("DROP TABLE graft_k110_t")
      val v = TxnTable.latestVersion(spark, table).get
      val after = TxnTable.snapshotFiles(spark, table, v).toSet
      require((before & after).nonEmpty && before != after,
        s"copy-on-write DELETE must be file-surgical: carried " +
          s"${(before & after).size} of ${before.size}")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k110Sql =
    """WITH cut AS (SELECT MAX(c_custkey) // 4 AS c FROM customer)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer, cut
      |WHERE NOT (c_mktsegment = 'BUILDING' AND c_custkey < cut.c)""".stripMargin

  // --------------------------------------------------------------- k111
  /** VACUUM under the oracle — the retention sweep's operational
    * contract: after overwrite + append + delete history, `vacuum
    * (keep=1)` drops the superseded manifests AND the data files no
    * retained snapshot references, while the latest snapshot stays
    * byte-identical (hash-gated against the oracle) and time travel to
    * a reclaimed version fails loudly instead of half-reading. REQUIREd
    * in-query: versions() shrinks to the retained suffix, orphaned
    * parquet bytes are actually gone from disk, the dropped version
    * throws. */
  private def k111(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k111_vacuum")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(cust.filter($"c_custkey" % 2 === 0), table,
        statsCols = Seq("c_custkey"))
      TxnTable.commitAppend(cust.filter($"c_custkey" % 2 === 1), table,
        statsCols = Seq("c_custkey"))
      TxnTable.deleteRangeOn(spark, table, "c_custkey", 1, 100)
      // a delta chain pins its checkpoint base (vacuum refuses to strand
      // retained deltas); compaction writes a FULL manifest, so the
      // whole prior history becomes reclaimable
      TxnTable.compact(spark, table, targetFiles = 2)
      val latest = TxnTable.latestVersion(spark, table).get
      def parquetOnDisk(): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1L else 0L
        walk(new java.io.File(table))
      }
      val before = parquetOnDisk()
      TxnTable.vacuum(spark, table, keep = 0)
      require(TxnTable.versions(spark, table) == Seq(latest),
        s"vacuum must retain only the latest full snapshot, got " +
          s"${TxnTable.versions(spark, table)}")
      require(parquetOnDisk() < before,
        "vacuum must reclaim unreferenced data files from disk")
      val gone = intercept3(TxnTable.readVersion(spark, table, 1L).count())
      require(gone, "time travel to a vacuumed version must fail loudly")
      val result = TxnTable.read(spark, table).agg(
        count(lit(1)).cast("bigint").as("n"),
        graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private def intercept3(body: => Any): Boolean =
    try { body; false } catch { case scala.util.control.NonFatal(_) => true }
  private val k111Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_custkey NOT BETWEEN 1 AND 100""".stripMargin

  // --------------------------------------------------------------- k112
  /** SQL TIME TRAVEL — `SELECT ... FROM t VERSION AS OF n` /
    * `TIMESTAMP AS OF ts` through `spark.sql`, the Delta spelling
    * (plans/GraftTimeTravel.scala lowers it onto the reader-option
    * snapshot pinning before ResolveRelations can refuse). History:
    * overwrite (v1) → append (v2) → SQL DELETE (v3). All three
    * versions read back through SQL; TIMESTAMP AS OF an instant
    * between v1 and v2 must pin v1 (REQUIREd in-query, as is SQL ≡
    * reader-option agreement). Oracle: DuckDB replays each stage from
    * raw customer. */
  private def k112(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k112_tt")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(cust.filter($"c_custkey" % 2 === 0), table,
        statsCols = Seq("c_custkey"))
      Thread.sleep(30)
      val betweenV1V2 = System.currentTimeMillis()
      Thread.sleep(30)
      TxnTable.commitAppend(cust.filter($"c_custkey" % 2 === 1), table,
        statsCols = Seq("c_custkey"))
      spark.sql(s"CREATE TABLE graft_k112_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql("DELETE FROM graft_k112_t WHERE c_custkey % 3 = 1")
        def agg(df: DataFrame, stage: String): DataFrame =
          df.agg(
            count(lit(1)).cast("bigint").as("n"),
            graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
            .select(lit(stage).as("stage"), $"n", $"sum_bal")
        val ts = agg(
          spark.sql(s"SELECT * FROM graft_k112_t TIMESTAMP AS OF '$betweenV1V2'"),
          "v1")
        val v1 = agg(
          spark.sql("SELECT * FROM graft_k112_t VERSION AS OF 1"), "v1")
        require(ts.collect().toSeq == v1.collect().toSeq,
          "TIMESTAMP AS OF between v1 and v2 must pin v1")
        val v2sql = spark.sql("SELECT * FROM graft_k112_t VERSION AS OF 2")
        val v2opt = spark.read.format("graft")
          .option("versionAsOf", "2").load(table)
        require(agg(v2sql, "x").collect().toSeq ==
          agg(v2opt, "x").collect().toSeq,
          "SQL VERSION AS OF must agree with the reader-option path")
        val result = v1
          .unionAll(agg(v2sql, "v2"))
          .unionAll(agg(
            spark.sql("SELECT * FROM graft_k112_t VERSION AS OF 3"), "v3"))
          .orderBy($"stage")
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k112_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k112Sql =
    """WITH stages AS (
      |  SELECT 'v1' AS stage, c_acctbal FROM customer WHERE c_custkey % 2 = 0
      |  UNION ALL SELECT 'v2', c_acctbal FROM customer
      |  UNION ALL SELECT 'v3', c_acctbal FROM customer
      |    WHERE NOT (c_custkey % 3 = 1))
      |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM stages GROUP BY stage ORDER BY stage""".stripMargin

  // --------------------------------------------------------------- k113
  /** `MERGE ... WITH SCHEMA EVOLUTION` through SQL — the source carries
    * a column the target lacks (c_mktsegment); star actions assign it,
    * the rewrite evolves the recorded schema, and untouched rows +
    * carried files read the new column back as NULL (Delta-parity; the
    * API path k94 already evolves via unionByName). REQUIREd in-query:
    * the evolved column appears in the read schema; pre-merge rows are
    * NULL there. Oracle: DuckDB replays the merge with a full outer
    * join shape over raw customer. */
  private def k113(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k113_evo")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(8, $"c_custkey")
          .sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"))
      val hi = cust.agg(max($"c_custkey")).head().getLong(0)
      val full = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal", $"c_mktsegment")
      full.filter($"c_custkey" % 3 === 0)
        .select($"c_custkey", ($"c_acctbal" * 0.5).as("c_acctbal"),
          $"c_mktsegment")
        .unionByName(full.filter($"c_custkey" % 7 === 0)
          .select(($"c_custkey" + hi + 1).as("c_custkey"), $"c_acctbal",
            $"c_mktsegment"))
        .createOrReplaceTempView("graft_k113_src")
      spark.sql(s"CREATE TABLE graft_k113_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """MERGE WITH SCHEMA EVOLUTION INTO graft_k113_t t
            |USING graft_k113_src s ON t.c_custkey = s.c_custkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |""".stripMargin)
      } finally spark.sql("DROP TABLE graft_k113_t")
      val got = TxnTable.read(spark, table)
      require(got.schema.fieldNames.contains("c_mktsegment"),
        "MERGE WITH SCHEMA EVOLUTION must add the source-only column")
      require(got.filter($"c_custkey" % 3 =!= 0 && $"c_custkey" <= hi &&
          $"c_mktsegment".isNotNull).isEmpty,
        "rows the merge never touched must read the evolved column as NULL")
      val result = got
        .groupBy(coalesce($"c_mktsegment", lit("__none")).as("seg"))
        .agg(
          count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
        .orderBy($"seg")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k113Sql =
    """WITH hi AS (SELECT MAX(c_custkey) AS h FROM customer),
      |src AS (
      |  SELECT c_custkey, c_acctbal * 0.5 AS bal, c_mktsegment AS seg
      |  FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey + h + 1, c_acctbal, c_mktsegment
      |  FROM customer, hi WHERE c_custkey % 7 = 0),
      |merged AS (
      |  SELECT t.c_custkey,
      |    CASE WHEN s.c_custkey IS NOT NULL THEN s.bal
      |         ELSE t.c_acctbal END AS bal,
      |    s.seg
      |  FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
      |  UNION ALL
      |  SELECT s.c_custkey, s.bal, s.seg
      |  FROM src s LEFT JOIN customer t ON s.c_custkey = t.c_custkey
      |  WHERE t.c_custkey IS NULL)
      |SELECT COALESCE(seg, '__none') AS seg, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(bal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k114
  /** `days(ts)` PARTITION TRANSFORM — the daily-ingest layout (Delta
    * `PARTITIONED BY (days(ts))`, Iceberg day transform): files group
    * by the UTC day of the timestamp, each file's ts stats are
    * day-tight, and a date-range filter prunes to exactly the matching
    * days' files through the ORDINARY stats machinery (no separate
    * partition-pruning path). REQUIREd in-query: the transform is
    * recorded and sticky across a plain append, every file is
    * day-tight, and the range read scans exactly the two matching
    * days' files. Oracle: daily rollup over raw events. */
  private def k114(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k114_days")
    try {
      val table = s"$zone/events_txn"
      val ev = Tables.events(spark, dir)
        .select($"event_id", $"ts", $"event_type", $"value")
      ev.filter($"event_id" % 2 === 0)
        .write.format("graft").mode("overwrite")
        .option("partitionBy", "days(ts)")
        .option("statsCols", "event_id").save(table)
      require(TxnTable.partitionColumns(spark, table) == Seq("days(ts)"),
        "days(ts) must be recorded as the table partitioning")
      // append WITHOUT the option conforms to the recorded transform
      ev.filter($"event_id" % 2 === 1)
        .write.format("graft").mode("append").save(table)
      val v = TxnTable.latestVersion(spark, table).get
      val stats = TxnTable.fileStats(spark, table, v)
      val files = TxnTable.snapshotFiles(spark, table, v)
      def day(us: String): Long = math.floorDiv(us.toLong, 86400000000L)
      require(files.nonEmpty && files.forall(f =>
        stats.getOrElse(f, Nil).exists(s =>
          s.col == "ts" && s.nulls == 0L && day(s.minV) == day(s.maxV))),
        "every day-partitioned file must be day-tight on ts")
      // ts is TIMESTAMP_NTZ: its stats are local micros
      val d10 = java.time.LocalDate.parse("2024-01-10").toEpochDay * 86400000000L
      val d12 = java.time.LocalDate.parse("2024-01-12").toEpochDay * 86400000000L
      val expected = files.count(f => stats(f).exists(s =>
        s.col == "ts" && s.minV.toLong >= d10 && s.maxV.toLong < d12))
      val ranged = spark.read.format("graft").load(table)
        .filter($"ts" >= lit("2024-01-10 00:00:00").cast("timestamp_ntz") &&
          $"ts" < lit("2024-01-12 00:00:00").cast("timestamp_ntz"))
      val scanned = org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(ranged).get
      require(scanned == expected && scanned < files.size,
        s"date-range read scanned $scanned files, want exactly $expected " +
          s"of ${files.size}")
      val result = ranged
        .groupBy(date_format($"ts", "yyyy-MM-dd").as("d"))
        .agg(
          count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"value").as("sum_value"))
        .orderBy($"d")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k114Sql =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k115
  /** THE SQL CDC SURFACE — `graft_changes(path, since)` (Delta's
    * `table_changes` spelling, plans/GraftTableFunctions.scala) over a
    * history of SQL UPDATE then SQL DELETE on a CDF table: one SQL
    * query reads every typed change and aggregates it; the DuckDB
    * oracle replays the sequenced changes from raw customer (the
    * DELETE sees post-UPDATE values). `graft_history` is REQUIREd
    * in-query to report the exact op sequence. */
  private def k115(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k115_tvf")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(
        cust.repartitionByRange(8, $"c_custkey")
          .sortWithinPartitions($"c_custkey"),
        table, statsCols = Seq("c_custkey"), cdf = Some(true))
      spark.sql(s"CREATE TABLE graft_k115_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """UPDATE graft_k115_t SET c_acctbal = c_acctbal + 500.0
            |WHERE c_custkey BETWEEN 200 AND 400""".stripMargin)
        spark.sql("DELETE FROM graft_k115_t WHERE c_custkey % 5 = 2")
      } finally spark.sql("DROP TABLE graft_k115_t")
      val ops = spark.sql(s"SELECT op FROM graft_history('$table')")
        .collect().map(_.getString(0)).toSeq
      // a zero-row UPDATE commits nothing (tiny scale factors have no
      // custkey in [200, 400]) — the expected op sequence tracks whether
      // the predicate actually matched
      val updMatched = cust.filter($"c_custkey".between(200, 400)).count() > 0
      val expected =
        if (updMatched) Seq("delete", "update", "overwrite")
        else Seq("delete", "overwrite")
      require(ops == expected,
        s"graft_history must report the exact op sequence, got $ops")
      val result = spark.sql(
        s"""SELECT _change_type, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys,
           |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
           |FROM graft_changes('$table', 1)
           |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k115Sql =
    """WITH upd AS (
      |  SELECT c_custkey, c_acctbal FROM customer
      |  WHERE c_custkey BETWEEN 200 AND 400),
      |post AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey BETWEEN 200 AND 400
      |         THEN c_acctbal + 500.0 ELSE c_acctbal END AS c_acctbal
      |  FROM customer),
      |changes AS (
      |  SELECT 'update_preimage' AS _change_type, c_custkey, c_acctbal
      |  FROM upd
      |  UNION ALL
      |  SELECT 'update_postimage', c_custkey, c_acctbal + 500.0 FROM upd
      |  UNION ALL
      |  SELECT 'delete', c_custkey, c_acctbal FROM post
      |  WHERE c_custkey % 5 = 2)
      |SELECT _change_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM changes GROUP BY _change_type ORDER BY _change_type""".stripMargin

  /** MERGE-ON-READ DELETE, oracle-gated end to end: on a `mergeOnRead`
    * table a SQL DELETE commits a small equality-delete tuple file —
    * the plan REQUIREs the snapshot's data files are byte-identical
    * afterwards — and every subsequent read subtracts the tuples via a
    * broadcast anti-join (graft.plans.GraftApplyDeletes). The
    * deletion-vector shape of Delta / Iceberg v2 equality deletes: a
    * point delete on a 100 TB table writes kilobytes and rewrites
    * nothing. */
  private def k116(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k116_mor")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .repartitionByRange(8, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val before = TxnTable.morState(spark, table, v1).files.toSet
      spark.sql(s"CREATE TABLE graft_k116_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql("DELETE FROM graft_k116_t WHERE c_mktsegment = 'BUILDING'")
        spark.sql("DELETE FROM graft_k116_t WHERE c_custkey = 1")
        val v3 = TxnTable.latestVersion(spark, table).get
        val st = TxnTable.morState(spark, table, v3)
        require(st.files.toSet == before,
          "merge-on-read DELETE must leave every data file untouched")
        require(st.dels.size == 2,
          s"expected two live equality-delete files, got ${st.dels.size}")
        val result = spark.sql(
          """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k116_t
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k116_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k116Sql =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM customer
      |WHERE c_mktsegment <> 'BUILDING' AND c_custkey <> 1
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** OPTIMIZE materializes merge-on-read deletes: after the SQL
    * OPTIMIZE statement packs the table, the delete entries are gone
    * from the log (REQUIREd), the tuples' rows are physically absent
    * from the rewritten files, and the same aggregate still matches the
    * oracle — the read-time anti-join and the materialized layout are
    * observationally identical. */
  private def k117(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k117_opt")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .repartitionByRange(8, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      spark.sql(s"CREATE TABLE graft_k117_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql("DELETE FROM graft_k117_t WHERE c_acctbal < 0")
        require(TxnTable.morState(spark, table,
          TxnTable.latestVersion(spark, table).get).dels.nonEmpty,
          "the DELETE must have committed an equality-delete file")
        spark.sql(s"OPTIMIZE '$table'")
        val st = TxnTable.morState(spark, table,
          TxnTable.latestVersion(spark, table).get)
        require(st.dels.isEmpty,
          "OPTIMIZE must materialize and drop the delete entries")
        // raw file contents now equal the logical table: read the
        // packed parquet directly, bypassing the delete-applying rule
        val raw = spark.read.format("graft").option("ignoreDeletes", "true")
          .load(table)
        require(raw.filter($"c_acctbal" < 0).count() == 0L,
          "materialized files must not contain the deleted rows")
        val result = spark.sql(
          """SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k117_t""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k117_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k117Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM customer WHERE c_acctbal >= 0""".stripMargin

  /** MERGE-ON-READ UPDATE, oracle-gated: on a `mergeOnRead` table a
    * SQL UPDATE appends ONLY the updated rows plus an equality-delete
    * file of the originals' key tuples — the plan REQUIREs every
    * pre-update data file survives byte-identical and the delete entry
    * is live. Write I/O proportional to the changed rows, not the
    * touched files: a one-row update on a 1 GB file writes one row. */
  private def k118(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k118_morupd")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .repartitionByRange(8, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      val before = TxnTable.morState(spark, table,
        TxnTable.latestVersion(spark, table).get).files.toSet
      spark.sql(s"CREATE TABLE graft_k118_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          "UPDATE graft_k118_t SET c_acctbal = c_acctbal + 100 " +
            "WHERE c_mktsegment = 'BUILDING'")
        val st = TxnTable.morState(spark, table,
          TxnTable.latestVersion(spark, table).get)
        require(before.subsetOf(st.files.toSet),
          "merge-on-read UPDATE must leave every pre-update data file in place")
        require(st.files.toSet != before,
          "the updated rows must land in appended files")
        require(st.dels.nonEmpty, "the update must commit an equality-delete file")
        val result = spark.sql(
          """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k118_t
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k118_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k118Sql =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CASE WHEN c_mktsegment = 'BUILDING'
      |    THEN c_acctbal + 100 ELSE c_acctbal END AS DECIMAL(38,6)))
      |    AS DOUBLE) AS bal
      |FROM customer
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** MERGE-ON-READ MERGE (the canonical upsert), oracle-gated: matched
    * keys are tuple-deleted, updated + inserted rows are appended, no
    * data file is rewritten (REQUIREd). The 100 TB CDC-apply shape:
    * applying a day's upserts writes the day's rows, not the table. */
  private def k119(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k119_mormrg")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .repartitionByRange(8, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      val before = TxnTable.morState(spark, table,
        TxnTable.latestVersion(spark, table).get).files.toSet
      val cust = Tables.customer(spark, dir)
      cust.filter($"c_custkey" <= 50)
        .select($"c_custkey".as("mk"), ($"c_custkey" * 1.5d).as("mb"))
        .unionByName(cust.filter($"c_custkey" <= 20)
          .select(($"c_custkey" + 1000000L).as("mk"),
            ($"c_custkey" * 2.0d).as("mb")))
        .createOrReplaceTempView("graft_k119_src")
      spark.sql(s"CREATE TABLE graft_k119_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """MERGE INTO graft_k119_t t USING graft_k119_src src
            |ON t.c_custkey = src.mk
            |WHEN MATCHED THEN UPDATE SET c_acctbal = src.mb
            |WHEN NOT MATCHED THEN INSERT (c_custkey, c_mktsegment, c_acctbal)
            |  VALUES (src.mk, 'NEW', src.mb)""".stripMargin)
        val st = TxnTable.morState(spark, table,
          TxnTable.latestVersion(spark, table).get)
        require(before.subsetOf(st.files.toSet),
          "merge-on-read MERGE must leave every pre-merge data file in place")
        require(st.dels.nonEmpty, "the merge must commit an equality-delete file")
        val result = spark.sql(
          """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k119_t
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k119_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k119Sql =
    """WITH src AS (
      |  SELECT c_custkey AS mk, c_custkey * 1.5 AS mb
      |  FROM customer WHERE c_custkey <= 50
      |  UNION ALL
      |  SELECT c_custkey + 1000000 AS mk, c_custkey * 2.0 AS mb
      |  FROM customer WHERE c_custkey <= 20
      |), merged AS (
      |  SELECT c.c_mktsegment,
      |    CASE WHEN s.mk IS NOT NULL THEN s.mb ELSE c.c_acctbal END AS bal
      |  FROM customer c LEFT JOIN src s ON c.c_custkey = s.mk
      |  UNION ALL
      |  SELECT 'NEW' AS c_mktsegment, s.mb AS bal
      |  FROM src s LEFT JOIN customer c ON s.mk = c.c_custkey
      |  WHERE c.c_custkey IS NULL
      |)
      |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(bal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM merged
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- k120
  /** ALTER TABLE SCHEMA EVOLUTION, the full statement family on one
    * table: ADD COLUMNS is a METADATA-ONLY commit (REQUIREd: identical
    * file set before/after — zero data I/O however large the table),
    * pre-evolution files surface the new columns as NULL through the
    * schema-driven read; an append lands rows that HAVE them; DROP
    * COLUMN removes a column from every read, again metadata-only; a
    * re-add of the dropped name is REQUIREd to be refused (old files
    * still contain it — without field-ID column mapping a re-add would
    * resurrect stale values); RENAME COLUMN rewrites (the Delta-0.7-era
    * trade-off, documented at TxnTable.renameColumn) and data survives
    * under the new name. Oracle: DuckDB replays the same evolution from
    * raw customer. */
  private def k120(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k120_alter")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
        .repartitionByRange(4, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .mode("overwrite").save(table)
      spark.sql(s"CREATE TABLE graft_k120_t USING graft OPTIONS (path '$table')")
      try {
        val v1 = TxnTable.latestVersion(spark, table).get
        val filesBefore = TxnTable.snapshotFiles(spark, table, v1)
        spark.sql(
          "ALTER TABLE graft_k120_t ADD COLUMNS (tier STRING, bonus DOUBLE)")
        val v2 = TxnTable.latestVersion(spark, table).get
        require(TxnTable.snapshotFiles(spark, table, v2) == filesBefore,
          "ALTER TABLE ADD COLUMNS must be metadata-only: same file set")
        require(spark.table("graft_k120_t").columns.toSeq ==
            Seq("c_custkey", "c_acctbal", "tier", "bonus"),
          "added columns must surface in the read schema")
        // pre-evolution rows read the new columns as NULL
        require(spark.table("graft_k120_t")
            .filter($"tier".isNotNull || $"bonus".isNotNull).isEmpty,
          "pre-evolution files must surface added columns as NULL")
        // append rows that carry the evolved columns
        TxnTable.commitAppend(
          Tables.customer(spark, dir).filter($"c_custkey" <= 100)
            .select(($"c_custkey" + 1000000L).as("c_custkey"),
              ($"c_acctbal" * 0.5d).as("c_acctbal"),
              lit("NEW").as("tier"), ($"c_custkey" * 1.0d).as("bonus")),
          table, statsCols = Seq("c_custkey"))
        spark.sql("ALTER TABLE graft_k120_t DROP COLUMN bonus")
        require(!spark.table("graft_k120_t").columns.contains("bonus"),
          "dropped column must leave the read schema")
        // the resurrection guard: re-adding a dropped name is refused
        val refused =
          try { spark.sql("ALTER TABLE graft_k120_t ADD COLUMNS (bonus DOUBLE)")
                false }
          catch { case e: Throwable =>
            e.getMessage != null && e.getMessage.contains("previously dropped") }
        require(refused, "re-adding a dropped column name must be refused")
        spark.sql("ALTER TABLE graft_k120_t RENAME COLUMN tier TO segment_tier")
        val result = spark.sql(
          """SELECT coalesce(segment_tier, 'OLD') AS tier,
            |  CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k120_t
            |GROUP BY coalesce(segment_tier, 'OLD') ORDER BY tier""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k120_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k120Sql =
    """WITH evolved AS (
      |  SELECT c_custkey, c_acctbal, NULL AS segment_tier FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_acctbal * 0.5, 'NEW'
      |  FROM customer WHERE c_custkey <= 100
      |)
      |SELECT coalesce(segment_tier, 'OLD') AS tier,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM evolved
      |GROUP BY coalesce(segment_tier, 'OLD') ORDER BY tier""".stripMargin

  // --------------------------------------------------------------- k121
  /** CHECK CONSTRAINTS AND NOT NULL INVARIANTS enforced at the table
    * boundary — the warehouse-DDL guarantee the reference delegated to
    * Postgres (ref `dags/s3-etl-wallet-csv.py:208-234`), moved into the
    * lakehouse commit path. REQUIREd in-query: a violating append
    * throws and lands NOTHING (row count unchanged); a violating NULL
    * append throws; constraints SURVIVE both OPTIMIZE and RESTORE (they
    * are snapshot state, re-enforced after each); a valid append
    * passes; DROP CONSTRAINT lifts the gate. Oracle replays the valid
    * writes only. */
  private def k121(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k121_chk")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
        .repartitionByRange(4, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .mode("overwrite").save(table)
      spark.sql(s"CREATE TABLE graft_k121_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          "ALTER TABLE graft_k121_t ADD CONSTRAINT bal_floor CHECK (c_acctbal > -100000.0)")
        spark.sql(
          "ALTER TABLE graft_k121_t ALTER COLUMN c_custkey SET NOT NULL")
        require(TxnTable.checkConstraints(spark, table).keySet ==
            Set("bal_floor", "c_custkey_not_null"),
          "both constraints must be recorded in the manifest")
        val n0 = spark.table("graft_k121_t").count()
        def violates(df: DataFrame): Boolean =
          try { TxnTable.commitAppend(df, table); false }
          catch { case e: Throwable =>
            e.getMessage != null && e.getMessage.contains("CHECK constraint") }
        require(violates(Seq((9000001L, -500000.0d))
            .toDF("c_custkey", "c_acctbal")),
          "a write violating the CHECK constraint must throw")
        require(violates(Seq((Option.empty[Long], 10.0d))
            .toDF("c_custkey", "c_acctbal")),
          "a write violating NOT NULL must throw")
        require(spark.table("graft_k121_t").count() == n0,
          "violating writes must land NOTHING")
        // constraints survive maintenance and restore: OPTIMIZE, then
        // roll BACK over it to the pre-optimize snapshot — the restored
        // manifest must still carry (and enforce) the constraint set
        val vPre = TxnTable.latestVersion(spark, table).get
        spark.sql(s"OPTIMIZE graft_k121_t")
        spark.sql(s"RESTORE graft_k121_t TO VERSION AS OF $vPre")
        require(TxnTable.checkConstraints(spark, table).size == 2,
          "constraints must survive OPTIMIZE and RESTORE")
        require(violates(Seq((9000002L, -500000.0d))
            .toDF("c_custkey", "c_acctbal")),
          "constraints must still ENFORCE after OPTIMIZE + RESTORE")
        // a valid append passes the gate
        TxnTable.commitAppend(
          Tables.customer(spark, dir).filter($"c_custkey" <= 50)
            .select(($"c_custkey" + 2000000L).as("c_custkey"),
              ($"c_acctbal" + 1000.0d).as("c_acctbal")),
          table, statsCols = Seq("c_custkey"))
        spark.sql("ALTER TABLE graft_k121_t DROP CONSTRAINT bal_floor")
        require(TxnTable.checkConstraints(spark, table).keySet ==
            Set("c_custkey_not_null"), "DROP CONSTRAINT must remove the check")
        val result = spark.sql(
          """SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k121_t""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k121_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k121Sql =
    """WITH final AS (
      |  SELECT c_custkey, c_acctbal FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 2000000, c_acctbal + 1000.0
      |  FROM customer WHERE c_custkey <= 50
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM final""".stripMargin

  // --------------------------------------------------------------- k122
  /** COPY INTO — batch, exactly-once file ingestion (the lakehouse
    * spelling of the reference's landing→curated hop, ref
    * `dags/s3-etl-wallet-csv.py:161-176`, which got exactly-once only by
    * DELETING the landing file after the copy). Three landing files are
    * ingested; the SAME statement re-runs and is REQUIREd to ingest
    * NOTHING (no new version, same row count) — the crash-between-
    * copy-and-cleanup case the reference's design could double-load. A
    * late-arriving fourth file is picked up by a third run without
    * re-ingesting the first three. Oracle: each source row exactly
    * once. */
  private def k122(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k122_copy")
    try {
      val landing = s"$zone/landing"
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_acctbal")
      def drop(name: String, lo: Long, hi: Long): Unit =
        Tables.writeSingleFile(
          cust.filter($"c_custkey".between(lo, hi)), s"$landing/$name")
      drop("batch_a.parquet", 1L, 500L)
      drop("batch_b.parquet", 501L, 1000L)
      drop("batch_c.parquet", 1001L, 1500L)
      spark.sql(s"CREATE TABLE graft_k122_t USING graft OPTIONS (path '$table')")
      try {
        val copy =
          s"COPY INTO graft_k122_t FROM '$landing' " +
            "FILEFORMAT = parquet PATTERN = '*.parquet'"
        spark.sql(copy)
        val v1 = TxnTable.latestVersion(spark, table).get
        val n1 = spark.table("graft_k122_t").count()
        spark.sql(copy) // re-run: the crash-replay case
        require(TxnTable.latestVersion(spark, table).get == v1 &&
            spark.table("graft_k122_t").count() == n1,
          "re-running COPY INTO over the same files must ingest NOTHING")
        drop("batch_d.parquet", 1501L, 2000L) // late arrival
        spark.sql(copy)
        require(spark.table("graft_k122_t").count() ==
            cust.filter($"c_custkey".between(1L, 2000L)).count(),
          "the third run must ingest exactly the late file")
        val result = spark.sql(
          """SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k122_t""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k122_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k122Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM customer WHERE c_custkey BETWEEN 1 AND 2000""".stripMargin

  // --------------------------------------------------------------- k123
  /** MERGE-ON-READ READ-PATH BENCHMARK — a lineitem-sized table carrying
    * LIVE equality-delete files, read and aggregated WITHOUT
    * materializing the deletes: the cost being tracked is the
    * broadcast-anti-join subtraction (plans/GraftApplyDeletes) layered
    * on the scan, i.e. the read amplification a table accumulates
    * between OPTIMIZE runs. Benched so a regression in the MoR read
    * path (e.g. a shuffle sneaking into the per-gate-group anti-join)
    * shows up in BENCH before someone ships a 100-delete-file table.
    * Oracle replays the two deletes as filters. */
  private def k123(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k123_morread")
    try {
      val table = s"$zone/lineitem_txn"
      // hash-repartitioned, not range: the scenario needs "8 files with
      // live deletes spread across all of them", which hash placement
      // gives without repartitionByRange's extra range-SAMPLING job
      // (a full pass over the input before the write even starts)
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity",
          $"l_extendedprice", $"l_returnflag")
        .repartition(8, $"l_orderkey")
        .write.format("graft").option("statsCols", "l_orderkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      val before = TxnTable.morState(spark, table,
        TxnTable.latestVersion(spark, table).get).files.toSet
      spark.sql(s"CREATE TABLE graft_k123_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql("DELETE FROM graft_k123_t WHERE l_returnflag = 'R'")
        spark.sql("DELETE FROM graft_k123_t WHERE l_linenumber = 7")
        val st = TxnTable.morState(spark, table,
          TxnTable.latestVersion(spark, table).get)
        require(st.files.toSet == before && st.dels.size == 2,
          "the deletes must stay merge-on-read (files untouched, 2 live " +
            "delete files) — otherwise this benches the wrong path")
        val result = spark.sql(
          """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty,
            |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS price
            |FROM graft_k123_t
            |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k123_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k123Sql =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS price
      |FROM lineitem
      |WHERE l_returnflag <> 'R' AND l_linenumber <> 7
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- k124
  /** SHALLOW CLONE — the zero-copy dev/test fork: `CREATE TABLE …
    * SHALLOW CLONE` writes ONE manifest (REQUIREd: no parquet lands
    * under the clone), the clone diverges via its own UPDATE + append
    * while the SOURCE is REQUIREd byte-identical (same version, same
    * file set), and a full OPTIMIZE then VACUUM on the clone REQUIREs
    * every source data file still on disk — the clone's maintenance
    * can never reclaim source bytes. Oracle replays the divergence
    * from raw customer. */
  private def k124(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k124_clone")
    try {
      val source = s"$zone/src_txn"
      val clone = s"$zone/fork_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
        .repartitionByRange(4, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .mode("overwrite").save(source)
      val srcV = TxnTable.latestVersion(spark, source).get
      val srcFiles = TxnTable.snapshotFiles(spark, source, srcV)
      spark.sql(s"CREATE TABLE '$clone' SHALLOW CLONE '$source'")
      def parquetUnder(p: String): Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
        walk(new java.io.File(p))
      }
      require(parquetUnder(clone).isEmpty,
        "SHALLOW CLONE must be zero-copy: no data files under the clone")
      spark.sql(s"CREATE TABLE graft_k124_t USING graft OPTIONS (path '$clone')")
      try {
        // the clone diverges…
        spark.sql(
          """UPDATE graft_k124_t SET c_acctbal = c_acctbal + 1000.0
            |WHERE c_custkey <= 100""".stripMargin)
        TxnTable.commitAppend(
          Tables.customer(spark, dir).filter($"c_custkey" <= 20)
            .select(($"c_custkey" + 5000000L).as("c_custkey"),
              lit(42.0d).as("c_acctbal")),
          clone, statsCols = Seq("c_custkey"))
        // …and the source is untouched: same version, same files
        require(TxnTable.latestVersion(spark, source).get == srcV &&
            TxnTable.snapshotFiles(spark, source, srcV) == srcFiles,
          "clone divergence must leave the source version and files alone")
        // full materialization + vacuum on the CLONE must not reclaim
        // a single SOURCE byte
        TxnTable.compact(spark, clone, targetFiles = 2)
        TxnTable.vacuum(spark, clone, keep = 0)
        require(srcFiles.forall(f =>
            new java.io.File(s"$source/$f").isFile),
          "clone OPTIMIZE+VACUUM must never delete source data files")
        val result = spark.sql(
          """SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k124_t""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k124_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k124Sql =
    """WITH forked AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey <= 100 THEN c_acctbal + 1000.0
      |         ELSE c_acctbal END AS c_acctbal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 5000000, 42.0 FROM customer WHERE c_custkey <= 20
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM forked""".stripMargin

  // --------------------------------------------------------------- k125
  /** replaceWhere — THE daily-re-ingest primitive (Delta's scoped
    * overwrite): atomically swap exactly one partition's rows for a
    * recomputed frame. On the identity-partitioned layout the replace
    * is REQUIREd file-surgical: every file of every OTHER partition
    * carries by path identity (zero read, zero write amplification —
    * re-ingesting one day of a 100 TB table touches one day), and the
    * replacement is a true replace, not an update — the new frame has
    * FEWER rows (odd custkeys dropped) and the oracle replays exactly
    * that. Incoming rows outside the predicate are REQUIREd to refuse.
    * Exercised through the writer-option spelling
    * (`.option("replaceWhere", "c_mktsegment = 'BUILDING'")`). */
  private def k125(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k125_rw")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .write.format("graft").option("statsCols", "c_custkey")
        .partitionBy("c_mktsegment")
        .mode("overwrite").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val before = TxnTable.snapshotFiles(spark, table, v1)
      val stats1 = TxnTable.fileStats(spark, table, v1)
      val buildingFiles = before.filter(f =>
        stats1.getOrElse(f, Nil).exists(s =>
          s.col == "c_mktsegment" && s.minV == "BUILDING" && s.maxV == "BUILDING"))
      require(buildingFiles.nonEmpty && buildingFiles.size < before.size,
        "layout precondition: BUILDING must own some but not all files")
      // rows OUTSIDE the predicate refuse before anything lands
      val refused =
        try {
          Tables.customer(spark, dir).limit(10)
            .select($"c_custkey", lit("MACHINERY").as("c_mktsegment"),
              $"c_acctbal")
            .write.format("graft").mode("overwrite")
            .option("replaceWhere", "c_mktsegment = 'BUILDING'").save(table)
          false
        } catch { case e: Throwable =>
          e.getMessage != null && e.getMessage.contains("replaceWhere") }
      require(refused && TxnTable.latestVersion(spark, table).get == v1,
        "out-of-predicate rows must refuse and land nothing")
      // the real replace: BUILDING recomputed with fewer rows + new bals
      Tables.customer(spark, dir)
        .filter($"c_mktsegment" === "BUILDING" && $"c_custkey" % 2 === 0)
        .select($"c_custkey", $"c_mktsegment",
          ($"c_acctbal" + 500.0d).as("c_acctbal"))
        .write.format("graft").mode("overwrite")
        .option("replaceWhere", "c_mktsegment = 'BUILDING'").save(table)
      val v2 = TxnTable.latestVersion(spark, table).get
      val after = TxnTable.snapshotFiles(spark, table, v2)
      require(before.filterNot(buildingFiles.toSet)
          .forall(after.contains),
        "replaceWhere must carry every other partition's file by identity")
      require(buildingFiles.forall(f => !after.contains(f)),
        "replaceWhere must drop every replaced partition file")
      val result = spark.read.format("graft").load(table)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"c_acctbal").as("bal"))
        .orderBy($"c_mktsegment")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k125Sql =
    """WITH replaced AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      |  WHERE c_mktsegment <> 'BUILDING'
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, c_acctbal + 500.0 FROM customer
      |  WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
      |)
      |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM replaced
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- k126
  /** `OPTIMIZE … ZORDER BY (x, y)` — k92's two-dimensional skipping
    * layout as ONE SQL statement over an EXISTING badly-laid-out table:
    * the seed is range-partitioned on custkey alone (acctbal reads scan
    * everything — REQUIREd), the statement re-clusters along the Morton
    * curve with stats on both columns, and afterwards range reads on
    * EITHER dimension are REQUIREd to skip files. DESCRIBE HISTORY must
    * report the `zorder` op; the feed classifies it as no logical
    * change. Oracle: the same two filtered aggregates off raw
    * customer. */
  private def k126(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k126_zorder")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
        .repartitionByRange(16, $"c_custkey")
        .sortWithinPartitions($"c_custkey")
        .write.format("graft")
        .option("statsCols", "c_custkey,c_acctbal")
        .mode("overwrite").save(table)
      // the single-column layout cannot skip on the OTHER dimension.
      // Scale-adaptive: with tiny files (sf0.001 ~9 rows/file) a file can
      // land entirely outside [0,2000] by chance and the full-scan
      // precondition fails probabilistically — only REQUIRE it when files
      // are dense enough that every file almost surely straddles the range
      val (_, scanned0, total0) =
        TxnTable.readRange(spark, table, "c_acctbal", 0, 2000)
      val seedRows = Tables.customer(spark, dir).count()
      if (seedRows / 16 >= 50)
        require(scanned0 == total0,
          s"seed layout precondition: acctbal reads must scan everything, " +
            s"got $scanned0 of $total0")
      spark.sql(s"CREATE TABLE graft_k126_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          "OPTIMIZE graft_k126_t ZORDER BY (c_custkey, c_acctbal) INTO 16 FILES")
        val ops = spark.sql(s"SELECT op FROM graft_history('$table')")
          .collect().map(_.getString(0)).toSeq
        require(ops.headOption.contains("zorder"),
          s"history must record the zorder op, got $ops")
        def prunedAgg(colName: String, lo: Double, hi: Double,
                      label: String): DataFrame = {
          val (rows, scanned, total) =
            TxnTable.readRange(spark, table, colName, lo, hi)
          require(scanned < total && scanned > 0,
            s"z-order skipping failed on $colName: $scanned of $total files")
          rows.agg(
            lit(label).as("dim"),
            count(lit(1)).cast("bigint").as("n"),
            graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
            .select($"dim", $"n", $"sum_bal")
        }
        val result = prunedAgg("c_custkey", 100, 400, "custkey_100_400")
          .unionAll(prunedAgg("c_acctbal", 0, 2000, "acctbal_0_2000"))
          .orderBy($"dim")
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k126_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k126Sql =
    """SELECT 'acctbal_0_2000' AS dim, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_acctbal BETWEEN 0 AND 2000
      |UNION ALL
      |SELECT 'custkey_100_400', CAST(COUNT(*) AS BIGINT),
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
      |FROM customer WHERE c_custkey BETWEEN 100 AND 400
      |ORDER BY dim""".stripMargin

  // --------------------------------------------------------------- k127
  /** CONVERT TO GRAFT — in-place adoption of an existing hive-layout
    * parquet lake (Delta 0.7's `CONVERT TO DELTA`, the bar the
    * reference declares by shipping delta-core 0.7; ref
    * `spark/jars/delta-core_2.12-0.7.0.jar`): seed a PLAIN partitioned
    * parquet dir with no graft involvement, run the SQL statement,
    * REQUIRE the adoption wrote ZERO new parquet files, then drive the
    * full table lifecycle over the adopted files — partition-pruned
    * reads (path-derived partition values), SQL UPDATE, time travel
    * back to the adopted snapshot, and OPTIMIZE materializing into
    * graft-written files. Oracle replays the UPDATE + aggregate off
    * raw orders. */
  private def k127(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k127_convert")
    try {
      val lake = s"$zone/lake"
      val seed = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
      seed.write.partitionBy("o_orderstatus").parquet(lake)
      def parquetUnder(p: String): Set[String] = {
        def walk(f: java.io.File): Seq[String] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else if (f.getName.endsWith(".parquet")) Seq(f.getAbsolutePath) else Nil
        walk(new java.io.File(p)).toSet
      }
      val before = parquetUnder(lake)
      val seedCount = seed.count()
      spark.sql(s"CONVERT TO GRAFT '$lake' STATS (o_orderkey)")
      require(parquetUnder(lake) == before,
        "CONVERT must adopt in place: zero data files written or moved")
      spark.sql(s"CREATE TABLE graft_k127_t USING graft OPTIONS (path '$lake')")
      try {
        // partition-pruned read over adopted files: the hive dirs became
        // single-valued stats, so ordinary skipping IS partition pruning
        val (fRows, scanned, total) =
          TxnTable.readEquals(spark, lake, "o_orderstatus", "F")
        require(fRows.count() ==
            seed.filter($"o_orderstatus" === "F").count(),
          "adopted partition read must match the raw dir")
        require(scanned < total,
          s"partition pruning must skip files: $scanned of $total")
        // SQL SELECT through the DSv2 split scan (no graft files yet)
        val viaSql = spark.sql(
          "SELECT count(*) FROM graft_k127_t WHERE o_orderstatus = 'O'")
          .head().getLong(0)
        require(viaSql == seed.filter($"o_orderstatus" === "O").count(),
          "SQL read over adopted files must fill partition values")
        // DML over the adopted files (copy-on-write rewrite)
        spark.sql(
          "UPDATE graft_k127_t SET o_totalprice = 0.0 WHERE o_orderstatus = 'P'")
        // time travel: v1 is the adopted snapshot, bit-for-bit
        require(TxnTable.readVersion(spark, lake, 1L).count() == seedCount,
          "time travel to the adopted snapshot must survive DML")
        // OPTIMIZE materializes adopted files into graft-written ones
        spark.sql("OPTIMIZE graft_k127_t")
        val result = spark.sql(
          """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS price
            |FROM graft_k127_t GROUP BY o_orderstatus
            |ORDER BY o_orderstatus""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k127_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k127Sql =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'P' THEN 0.0
      |                     ELSE o_totalprice END AS DECIMAL(38,6)))
      |    AS DOUBLE) AS price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------- k128
  /** Partition-scoped OPTIMIZE — `OPTIMIZE t WHERE p = x`: compacting
    * one hot partition of a partitioned table considers ONLY the files
    * whose stats prove containment in the predicate (the replaceWhere
    * containment test), so the cost is O(hot partition), not O(table).
    * Seed a partitioned table, fragment ONE partition with three small
    * appends, OPTIMIZE WHERE that partition, then REQUIRE the untouched
    * partitions' files carry BY PATH IDENTITY while the hot partition's
    * file count drops. Oracle replays seed+appends off raw orders. */
  private def k128(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k128_optwhere")
    try {
      val table = s"$zone/orders_part"
      val ord = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      ord.write.format("graft").mode("overwrite")
        .partitionBy("o_orderpriority").save(table)
      // fragment the hot partition: three deterministic small appends
      val hotSeed = ord.filter($"o_orderpriority" === "1-URGENT")
        .orderBy($"o_orderkey").limit(10)
      (1 to 3).foreach { i =>
        hotSeed.withColumn("o_orderkey", $"o_orderkey" + lit(1000000L * i))
          .write.format("graft").mode("append").save(table)
      }
      val v0 = TxnTable.latestVersion(spark, table).get
      val files0 = TxnTable.snapshotFiles(spark, table, v0)
      def partsOf(v: Long): Map[String, String] = {
        val stats = TxnTable.fileStats(spark, table, v)
        TxnTable.snapshotFiles(spark, table, v).flatMap(f =>
          stats.getOrElse(f, Nil).find(_.col == "o_orderpriority")
            .map(s => f -> s.minV)).toMap
      }
      val part0 = partsOf(v0)
      val hot0 = files0.filter(f => part0.get(f).contains("1-URGENT"))
      val cold0 = files0.filterNot(f => part0.get(f).contains("1-URGENT"))
      require(hot0.size >= 4 && cold0.nonEmpty,
        s"seed must fragment the hot partition: ${hot0.size} hot, " +
          s"${cold0.size} cold")
      spark.sql(s"OPTIMIZE '$table' WHERE o_orderpriority = '1-URGENT'")
      val v1 = TxnTable.latestVersion(spark, table).get
      val files1 = TxnTable.snapshotFiles(spark, table, v1)
      val part1 = partsOf(v1)
      val hot1 = files1.filter(f => part1.get(f).contains("1-URGENT"))
      // the predicate's complement carries by PATH IDENTITY — cold
      // partitions were never read, rewritten, or even size-probed
      require(cold0.forall(files1.contains),
        "OPTIMIZE WHERE must carry untouched partitions' files by identity")
      require(hot1.size < hot0.size,
        s"hot partition must compact: ${hot0.size} -> ${hot1.size} files")
      require(hot1.forall(f => !files0.contains(f)),
        "hot partition files must be fresh replacements")
      val result = spark.read.format("graft").load(table)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"o_totalprice").as("price"))
        .orderBy($"o_orderpriority")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k128Sql =
    """WITH hot AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |  WHERE o_orderpriority = '1-URGENT' ORDER BY o_orderkey LIMIT 10),
      |augmented AS (
      |  SELECT o_orderpriority, o_totalprice FROM orders
      |  UNION ALL SELECT o_orderpriority, o_totalprice FROM hot
      |  UNION ALL SELECT o_orderpriority, o_totalprice FROM hot
      |  UNION ALL SELECT o_orderpriority, o_totalprice FROM hot)
      |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS price
      |FROM augmented GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- k129
  /** MULTI-CLAUSE CONDITIONAL MERGE — one statement carrying
    * `WHEN MATCHED AND cond THEN DELETE`, an unconditional
    * `WHEN MATCHED THEN UPDATE`, and `WHEN NOT MATCHED AND cond THEN
    * INSERT`, pinning the FIRST-MATCH-WINS clause ordering (Delta
    * semantics: a matched row with a negative source balance hits the
    * DELETE clause and never reaches the UPDATE). Oracle replays the
    * same three-way split off raw customer. */
  private def k129(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k129_merge")
    try {
      val table = s"$zone/cust_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
        .repartitionByRange(4, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .mode("overwrite").save(table)
      // source: every existing key (matched) plus shifted new keys
      // (not matched; only the high-balance ones may insert)
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
        .unionByName(Tables.customer(spark, dir)
          .select(($"c_custkey" + 1000000L).as("c_custkey"), $"c_acctbal"))
        .createOrReplaceTempView("graft_k129_src")
      spark.sql(s"CREATE TABLE graft_k129_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          """MERGE INTO graft_k129_t t USING graft_k129_src s
            |ON t.c_custkey = s.c_custkey
            |WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.c_acctbal
            |WHEN NOT MATCHED AND s.c_acctbal > 5000 THEN
            |  INSERT (c_custkey, c_acctbal) VALUES (s.c_custkey, s.c_acctbal)
            |""".stripMargin)
        val result = spark.sql(
          """SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal,
            |  CAST(MIN(c_custkey) AS BIGINT) AS min_key,
            |  CAST(MAX(c_custkey) AS BIGINT) AS max_key
            |FROM graft_k129_t""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally {
        spark.sql("DROP TABLE graft_k129_t")
        spark.catalog.dropTempView("graft_k129_src"); ()
      }
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k129Sql =
    """WITH src AS (
      |  SELECT c_custkey, c_acctbal FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_acctbal FROM customer),
      |merged AS (
      |  SELECT t.c_custkey, t.c_acctbal + s.c_acctbal AS c_acctbal
      |  FROM customer t JOIN src s ON t.c_custkey = s.c_custkey
      |  WHERE NOT (s.c_acctbal < 0)
      |  UNION ALL
      |  SELECT s.c_custkey, s.c_acctbal FROM src s
      |  WHERE s.c_custkey NOT IN (SELECT c_custkey FROM customer)
      |    AND s.c_acctbal > 5000)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal,
      |  CAST(MIN(c_custkey) AS BIGINT) AS min_key,
      |  CAST(MAX(c_custkey) AS BIGINT) AS max_key
      |FROM merged""".stripMargin

  // --------------------------------------------------------------- k130
  /** VACUUM DRY RUN — the safety spelling before the destructive sweep:
    * fragment a table's history (three appends + a full OPTIMIZE), run
    * `VACUUM … DRY RUN`, REQUIRE it deleted NOTHING while listing a
    * non-empty reclaim set, then run the real VACUUM and REQUIRE it
    * deleted EXACTLY the listed paths (file-for-file) with table
    * content untouched. Oracle: the same aggregate off raw supplier —
    * vacuum must never change query results. */
  private def k130(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k130_vacdry")
    try {
      val table = s"$zone/supp_txn"
      val supp = Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_acctbal", $"s_nationkey")
      (0 until 3).foreach { i =>
        supp.filter($"s_suppkey" % 3 === i)
          .write.format("graft").option("statsCols", "s_suppkey")
          .mode(if (i == 0) "overwrite" else "append").save(table)
      }
      spark.sql(s"OPTIMIZE '$table'") // supersede the fragments
      def visible(): Set[String] = {
        def walk(f: java.io.File, rel: String): Seq[String] =
          if (f.isDirectory)
            f.listFiles().toSeq.flatMap(c => walk(c,
              if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
          else if (f.getName.startsWith(".")) Nil // local-FS crc shadows
          else Seq(rel)
        walk(new java.io.File(table), "").toSet
      }
      val before = visible()
      val dry = spark.sql(s"VACUUM '$table' KEEP 0 VERSIONS DRY RUN")
        .collect().map(_.getString(0)).toSet
      require(dry.nonEmpty, "superseded fragments must be reclaimable")
      require(visible() == before, "DRY RUN must delete nothing")
      spark.sql(s"VACUUM '$table' KEEP 0 VERSIONS")
      val deleted = before -- visible()
      require(deleted == dry,
        s"real vacuum must delete exactly the dry list; dry-only=" +
          s"${(dry -- deleted).mkString(",")} real-only=${(deleted -- dry).mkString(",")}")
      val result = spark.read.format("graft").load(table)
        .agg(count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"s_acctbal").as("bal"))
        .select($"n", $"bal")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k130Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM supplier""".stripMargin

  // --------------------------------------------------------------- k131
  /** Scoped ZORDER — `OPTIMIZE t WHERE p = x ZORDER BY (a, b)`:
    * re-cluster ONE hot partition along the Morton curve while every
    * other partition's files carry by PATH IDENTITY (the same
    * containment scoping as k128, now with a clustering rewrite).
    * REQUIREs: cold files identical, hot files replaced, the commit
    * records a `zorder` op, and the replacements carry skipping stats
    * on BOTH curve dimensions. Oracle: content unchanged — the same
    * aggregate off raw orders. */
  private def k131(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k131_zorderwhere")
    try {
      val table = s"$zone/orders_part"
      val ord = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      // three slices = several files per partition, content == orders
      (0 until 3).foreach { i =>
        ord.filter($"o_orderkey" % 3 === i)
          .write.format("graft").option("statsCols", "o_orderkey")
          .mode(if (i == 0) "overwrite" else "append")
          .partitionBy("o_orderpriority").save(table)
      }
      def partsOf(v: Long): Map[String, String] = {
        val stats = TxnTable.fileStats(spark, table, v)
        TxnTable.snapshotFiles(spark, table, v).flatMap(f =>
          stats.getOrElse(f, Nil).find(_.col == "o_orderpriority")
            .map(s => f -> s.minV)).toMap
      }
      val v0 = TxnTable.latestVersion(spark, table).get
      val files0 = TxnTable.snapshotFiles(spark, table, v0)
      val part0 = partsOf(v0)
      val hot0 = files0.filter(f => part0.get(f).contains("1-URGENT"))
      val cold0 = files0.filterNot(f => part0.get(f).contains("1-URGENT"))
      require(hot0.size >= 2 && cold0.nonEmpty,
        s"seed must fragment the hot partition: ${hot0.size} hot")
      spark.sql(s"OPTIMIZE '$table' WHERE o_orderpriority = '1-URGENT' " +
        "ZORDER BY (o_orderkey, o_totalprice) INTO 2 FILES")
      val v1 = TxnTable.latestVersion(spark, table).get
      val files1 = TxnTable.snapshotFiles(spark, table, v1)
      val part1 = partsOf(v1)
      val hot1 = files1.filter(f => part1.get(f).contains("1-URGENT"))
      require(cold0.forall(files1.contains),
        "scoped ZORDER must carry untouched partitions by identity")
      require(hot1.forall(f => !files0.contains(f)),
        "hot partition files must be fresh clustered replacements")
      val ops = spark.sql(s"SELECT op FROM graft_history('$table')")
        .collect().map(_.getString(0)).toSeq
      require(ops.headOption.contains("zorder"),
        s"history must record the scoped zorder, got ${ops.take(3)}")
      // replacements keep skipping on BOTH curve dimensions
      val stats1 = TxnTable.fileStats(spark, table, v1)
      require(hot1.forall(f => Seq("o_orderkey", "o_totalprice").forall(c =>
          stats1.getOrElse(f, Nil).exists(_.col == c))),
        "clustered replacements must carry stats on both curve dims")
      val result = spark.read.format("graft").load(table)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"o_totalprice").as("price"))
        .orderBy($"o_orderpriority")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k131Sql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- k132
  /** GENERATED COLUMNS (Delta's `GENERATED ALWAYS AS`, via
    * [[TxnTable.withGeneratedColumn]]): `p_date GENERATED ALWAYS AS
    * (CAST(ts AS DATE))` + `PARTITIONED BY (p_date)` — the canonical
    * daily-layout pattern. The definition lives as field metadata in
    * the snapshot schema (rides the existing `#schema=` header through
    * every commit), so an append that OMITS the column gets it computed
    * at commit, and one that contradicts it refuses. Derived partition
    * pruning: the generation SOURCE column (ts) auto-joins the stats
    * set at write, so a raw-ts range predicate prunes the generated
    * date partitioning's files through ordinary stats skipping — no
    * filter-rewrite rule, which is the architecture-appropriate
    * realization of Delta's generated-column partition filters in a
    * stats-planned table. REQUIREd in-query: the definition is
    * recorded and survives the append, the appended half was
    * auto-filled (no NULLs, values equal the expression), and the
    * ts-range read scans exactly the matching days' files. Differs
    * from k114's days(ts) transform: the generated column is a REAL
    * queryable column with an arbitrary SQL definition, not a hidden
    * layout transform. Oracle: the same daily rollup off raw events. */
  private def k132(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k132_gen")
    try {
      val table = s"$zone/events_gen"
      val ev = Tables.events(spark, dir)
        .select($"event_id", $"ts", $"event_type", $"value")
      TxnTable.commitOverwrite(
        TxnTable.withGeneratedColumn(
          ev.filter($"event_id" % 2 === 0), "p_date", "CAST(ts AS DATE)"),
        table, partitionCols = Seq("p_date"))
      // append WITHOUT p_date: the commit must compute it
      TxnTable.commitAppend(ev.filter($"event_id" % 2 === 1), table)
      val v = TxnTable.latestVersion(spark, table).get
      require(TxnTable.generatedColumns(
          TxnTable.snapshotSchema(spark, table, v).get)
        == Map("p_date" -> "CAST(ts AS DATE)"),
        "generation expression must be recorded in the snapshot schema " +
          "and survive the append's schema merge")
      val full = spark.read.format("graft").load(table)
      require(full.filter($"p_date".isNull ||
          $"p_date" =!= expr("CAST(ts AS DATE)")).limit(1).count() == 0L,
        "every row (incl. the auto-filled append) must satisfy the definition")
      // contradicting value refuses, leaving the version untouched
      val bad = ev.filter($"event_id" === 2).limit(1)
        .withColumn("p_date", expr("DATE'1999-01-01'"))
      val refused =
        try { TxnTable.commitAppend(bad, table); false }
        catch { case _: IllegalArgumentException => true }
      require(refused && TxnTable.latestVersion(spark, table).get == v,
        "a frame contradicting the generated column must refuse")
      // derived partition pruning: a raw-ts range scans only its days
      val stats = TxnTable.fileStats(spark, table, v)
      val files = TxnTable.snapshotFiles(spark, table, v)
      require(files.forall(f => stats.getOrElse(f, Nil).exists(_.col == "ts")),
        "the generation source column must carry per-file stats")
      // ts is TIMESTAMP_NTZ: its stats are local micros
      val d10 = java.time.LocalDate.parse("2024-01-10").toEpochDay * 86400000000L
      val d12 = java.time.LocalDate.parse("2024-01-12").toEpochDay * 86400000000L
      val expected = files.count(f => stats(f).exists(s =>
        s.col == "ts" && s.maxV.toLong >= d10 && s.minV.toLong < d12))
      val ranged = full
        .filter($"ts" >= lit("2024-01-10 00:00:00").cast("timestamp_ntz") &&
          $"ts" < lit("2024-01-12 00:00:00").cast("timestamp_ntz"))
      val scanned = org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(ranged).get
      require(scanned == expected && scanned < files.size,
        s"ts-range read scanned $scanned files, want exactly $expected " +
          s"of ${files.size} (derived partition pruning)")
      // the generated column is a REAL column: group by it directly
      val result = ranged
        .groupBy($"p_date")
        .agg(
          count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"value").as("sum_value"))
        .select($"p_date".cast("string").as("d"), $"n", $"sum_value")
        .orderBy($"d")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k132Sql =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k133
  /** IDENTITY COLUMNS (Delta's `GENERATED ALWAYS AS IDENTITY`, via
    * [[TxnTable.withIdentityColumn]]): the surrogate-key generator of a
    * warehouse load — declaration AND high-water mark live as field
    * metadata in the snapshot schema (Delta's
    * delta.identity.highWaterMark design), so the hwm commits
    * atomically with the rows that consumed it. Assignment is
    * cluster-parallel (per-partition offsets, one O(partitions) driver
    * sync — the GlobalOrder pattern, no global sort, no
    * single-partition window). REQUIREd in-query: creation assigns
    * start..n, an append WITHOUT the column continues above the hwm,
    * an append SUPPLYING it refuses (ALWAYS), and the recorded hwm
    * equals the max assigned value. Oracle: the id span is fully
    * determined by the row count (sequential, no races here), so the
    * summary row is computable from raw customer. */
  private def k133(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k133_ident")
    try {
      val table = s"$zone/customer_ids"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      TxnTable.commitOverwrite(
        TxnTable.withIdentityColumn(
          cust.filter($"c_custkey" % 2 === 0), "row_id"),
        table)
      // append WITHOUT row_id: commit assigns above the hwm
      TxnTable.commitAppend(cust.filter($"c_custkey" % 2 === 1), table)
      val v = TxnTable.latestVersion(spark, table).get
      val d = TxnTable.identityColumn(
        TxnTable.snapshotSchema(spark, table, v).get).get
      // an append SUPPLYING the column refuses, leaving no new version
      val refused =
        try {
          TxnTable.commitAppend(
            cust.limit(1).withColumn("row_id", lit(-1L)), table)
          false
        } catch { case _: IllegalArgumentException => true }
      require(refused && TxnTable.latestVersion(spark, table).get == v,
        "a frame supplying the IDENTITY column must refuse (ALWAYS)")
      val out = spark.read.format("graft").load(table)
      val summary = out.agg(
        count(lit(1)).cast("bigint").as("n_rows"),
        countDistinct($"row_id").cast("bigint").as("n_ids"),
        min($"row_id").cast("bigint").as("min_id"),
        max($"row_id").cast("bigint").as("max_id"))
      val row = summary.collect()(0)
      require(d.hwm.contains(row.getLong(3)),
        s"recorded hwm ${d.hwm} must equal the max assigned id ${row.getLong(3)}")
      require(row.getLong(0) == row.getLong(1),
        "identity values must be unique")
      spark.createDataFrame(
        java.util.Arrays.asList(summary.collect(): _*), summary.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k133Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_ids,
      |  CAST(1 AS BIGINT) AS min_id,
      |  CAST(COUNT(*) AS BIGINT) AS max_id
      |FROM customer""".stripMargin

  // --------------------------------------------------------------- k134
  /** PARTITION-SPEC EVOLUTION (Iceberg's flagship metadata operation):
    * change a table's partitioning for FUTURE appends without touching
    * a single existing file. The old vintage keeps its layout and its
    * per-file stats; the new vintage lands under the new spec; reads
    * plan from per-file stats, so pruning works on BOTH vintages — a
    * filter on the OLD partition column prunes old files (single-
    * valued stats), a filter on the NEW one prunes new files, and
    * neither needs the other's layout. In Hive/Spark static
    * partitioning this operation is a full-table rewrite; in graft it
    * is one manifest header change, because the reader never assumes a
    * uniform directory layout — the stats ARE the partitioning.
    * REQUIREd in-query: the evolved spec is recorded, every old file
    * carries by path identity across the evolution commit, an
    * old-partition-column read scans a strict subset, and a
    * new-partition-column (day range) read scans a strict subset.
    * Oracle: a type×window rollup off raw events. */
  private def k134(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k134_evo")
    try {
      val table = s"$zone/events_evo"
      val ev = Tables.events(spark, dir)
        .select($"event_id", $"ts", $"event_type", $"value")
      // vintage 1: identity-partitioned by event_type
      ev.filter($"event_id" % 2 === 0)
        .write.format("graft").mode("overwrite")
        .option("partitionBy", "event_type")
        .option("statsCols", "event_id").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val oldFiles = TxnTable.snapshotFiles(spark, table, v1).toSet
      require(TxnTable.partitionColumns(spark, table) == Seq("event_type"),
        "vintage-1 partitioning must be recorded")
      // EVOLVE: future appends partition by days(ts) — one metadata
      // change, zero rewrite
      ev.filter($"event_id" % 2 === 1)
        .write.format("graft").mode("append")
        .option("partitionBy", "days(ts)").save(table)
      val v2 = TxnTable.latestVersion(spark, table).get
      require(TxnTable.partitionColumns(spark, table) == Seq("days(ts)"),
        "the evolved spec must be recorded for future appends")
      val files = TxnTable.snapshotFiles(spark, table, v2)
      require(oldFiles.subsetOf(files.toSet),
        "evolution must carry every old file by path identity")
      val newFiles = files.filterNot(oldFiles).toSet
      require(newFiles.nonEmpty, "the evolved append must land new files")
      val full = spark.read.format("graft").load(table)
      // OLD-spec pruning: event_type = 'click' skips old files of other
      // types (single-valued stats); new day-files all scan
      val byType = full.filter($"event_type" === "click")
      val scannedT = org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(byType).get
      require(scannedT < files.size,
        s"event_type read scanned $scannedT of ${files.size} — old-vintage " +
          "pruning must survive the evolution")
      // NEW-spec pruning: a one-day ts range skips other days' new files
      val byDay = full
        .filter($"ts" >= lit("2024-01-10 00:00:00").cast("timestamp_ntz") &&
          $"ts" < lit("2024-01-11 00:00:00").cast("timestamp_ntz"))
      val scannedD = org.apache.spark.sql.GraftBridge.dsv2ScannedFiles(byDay).get
      require(scannedD < files.size,
        s"ts read scanned $scannedD of ${files.size} — new-vintage " +
          "pruning must work under the evolved spec")
      val result = byDay
        .groupBy($"event_type")
        .agg(
          count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"value").as("sum_value"))
        .orderBy($"event_type")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k134Sql =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-11 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k135
  /** THE DSv2 CATALOG FRONT DOOR ([[GraftTableCatalog]]): multi-part
    * names and the full SQL spelling for managed columns —
    *
    *   CREATE TABLE gk.db.cust (
    *     row_id     BIGINT GENERATED ALWAYS AS IDENTITY,
    *     ...,
    *     bal_bucket BIGINT GENERATED ALWAYS AS (...))
    *   USING graft
    *
    * flowing through Spark 4's connector Column API
    * (generationExpression / identityColumnSpec, gated by the
    * SUPPORTS_CREATE_TABLE_WITH_* catalog capabilities) into the SAME
    * schema-metadata keys the programmatic API writes. REQUIREd
    * in-query: both declarations land in the snapshot schema, an
    * INSERT INTO ... SELECT that omits both managed columns gets them
    * filled (identity gapless for a single insert, hwm == row count;
    * generated values satisfy the definition), and the result is read
    * back through the catalog name. Oracle: the same segment rollup
    * (including the generated bucket column's sum) off raw customer. */
  private def k135(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k135_cat")
    try {
      spark.conf.set("spark.sql.catalog.gk135", "graft.io.GraftTableCatalog")
      spark.conf.set("spark.sql.catalog.gk135.warehouse", zone)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gk135.db")
      spark.sql(
        """CREATE TABLE gk135.db.cust (
          |  row_id       BIGINT GENERATED ALWAYS AS IDENTITY,
          |  c_custkey    BIGINT,
          |  c_mktsegment STRING,
          |  c_acctbal    DOUBLE,
          |  bal_bucket   BIGINT GENERATED ALWAYS AS
          |    (CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)))
          |USING graft""".stripMargin)
      try {
        val table = s"$zone/db/cust"
        val schema = TxnTable.snapshotSchema(spark, table,
          TxnTable.latestVersion(spark, table).get).get
        require(TxnTable.generatedColumns(schema).keySet == Set("bal_bucket"),
          "the generation expression must land in the snapshot schema")
        require(TxnTable.identityColumn(schema).exists(_.col == "row_id"),
          "the identity declaration must land in the snapshot schema")
        Tables.customer(spark, dir)
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
          .createOrReplaceTempView("k135_src")
        spark.sql(
          """INSERT INTO gk135.db.cust (c_custkey, c_mktsegment, c_acctbal)
            |SELECT c_custkey, c_mktsegment, c_acctbal FROM k135_src""".stripMargin)
        val n = Tables.customer(spark, dir).count()
        val full = spark.sql("SELECT * FROM gk135.db.cust")
        require(full.select(countDistinct($"row_id")).head().getLong(0) == n &&
            full.agg(max($"row_id")).head().getLong(0) == n,
          "a single catalog INSERT must assign gapless 1..n identity values")
        require(full.filter($"bal_bucket" =!=
            expr("CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)")).limit(1)
            .count() == 0L,
          "every inserted row must satisfy the generated definition")
        val d = TxnTable.identityColumn(TxnTable.snapshotSchema(spark, table,
          TxnTable.latestVersion(spark, table).get).get).get
        require(d.hwm.contains(n), s"hwm must equal the rows consumed: $d")
        val result = spark.sql(
          """SELECT c_mktsegment,
            |  CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal,
            |  CAST(SUM(bal_bucket) AS BIGINT) AS sum_bucket
            |FROM gk135.db.cust GROUP BY c_mktsegment
            |ORDER BY c_mktsegment""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally {
        spark.sql("DROP TABLE IF EXISTS gk135.db.cust")
        spark.catalog.dropTempView("k135_src")
      }
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k135Sql =
    """SELECT c_mktsegment,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal,
      |  CAST(SUM(CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT) AS sum_bucket
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k136
  /** STORAGE-PARTITIONED JOIN: two graft tables identity-partitioned on
    * the same key join with ZERO shuffles on either side — the DSv2
    * scan reports `KeyGroupedPartitioning` from the manifest's
    * single-valued partition stats (GraftScan.outputPartitioning), its
    * splits carry `HasPartitionKey` tuples, and Spark's planner matches
    * the clustering against the join keys and elides both Exchanges.
    * At 100 TB this is THE fact-to-fact join plan: co-partitioned
    * tables stream partition-aligned file groups straight into the
    * merge join, and the partition-key aggregate above it reuses the
    * same partitioning — the whole pipeline runs shuffle-free where the
    * naive plan shuffles both inputs twice. Join keys are a SUPERSET of
    * the partition key (the common shape: equi-join on partition + row
    * key), which needs the relaxed co-partition requirement — the same
    * three confs Iceberg's SPJ documents. The REQUIREs pin the plan
    * (zero shuffles, a real merge join); the oracle restates the 1:1
    * join arithmetic from the raw events table. */
  private def spjShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
    p.collect {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        spjShuffles(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        spjShuffles(r.child)
    }.sum

  private def k136(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k136_spj")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = s"$zone/facts"
      val right = s"$zone/enrich"
      val ev = Tables.events(spark, dir)
        .select($"event_id", $"event_type", $"value")
      // two independent setup commits (different tables) — overlapped
      graft.ops.Par.both(spark)(
        ev.write.format("graft").mode("overwrite")
          .partitionBy("event_type").save(left),
        ev.select($"event_id", $"event_type", ($"value" * 2).as("value2"))
          .write.format("graft").mode("overwrite")
          .partitionBy("event_type").save(right))
      val l = spark.read.format("graft").load(left)
      val r = spark.read.format("graft").load(right)
      // count(value), not count(*): keep a data column in the aggregate
      // so the metadata-only pushdown can't answer it — the join runs
      val agg = l.join(r, Seq("event_type", "event_id"))
        .groupBy($"event_type")
        .agg(count($"value").cast("bigint").as("n"),
          graft.ops.Num.dsum($"value" + $"value2").as("sum_v3"))
      // ONE execution: these rows are both the audit subject and the
      // result — the previous orderBy-then-collect re-ran the whole
      // join a second time for nothing but the 5-row sort, which now
      // happens on a local relation
      val rows = agg.collect()
      val fin = agg.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      require(spjShuffles(fin) == 0,
        s"storage-partitioned join must plan zero shuffles, got:\n$fin")
      require(fin.toString.contains("SortMergeJoin"),
        s"expected a real merge join in the SPJ plan:\n$fin")
      val result = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), agg.schema).orderBy($"event_type")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k136Sql =
    """SELECT event_type,
      |  CAST(COUNT(value) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value + 2 * value AS DECIMAL(38,6))) AS DOUBLE) AS sum_v3
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k137
  /** RUNTIME FILE PRUNING (dynamic partition pruning for the graft
    * DSv2 source): the classic star-join shape — a big fact table
    * partitioned on a key, a small dim whose FILTER decides which
    * partitions matter. Spark turns the broadcast build side's values
    * into a runtime In-filter and hands it to the scan
    * (SupportsRuntimeFiltering) BEFORE any fact bytes are read; the
    * scan re-prunes its chosen files against manifest stats + blooms.
    * At 100 TB the dim filter is only known at run time (it's data),
    * so static pruning can't help — this is the mechanism that makes
    * `fact JOIN dim WHERE dim.selective` read one partition instead of
    * the table. The REQUIRE pins the behavior: the executed scan must
    * report FEWER files than the snapshot holds. Oracle restates the
    * join from the raw tables. */
  private def k137Scans(df: DataFrame): Seq[GraftScanFiles] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[GraftScanFiles] =
      p.flatMap {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case g: GraftScanFiles => Seq(g)
            case _ => Nil
          }
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _ => Nil
      }
    walk(df.queryExecution.executedPlan)
  }

  private def k137(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k137_rtf")
    try {
      val fact = s"$zone/orders"
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
        .write.format("graft").mode("overwrite")
        .partitionBy("o_orderpriority").save(fact)
      val total = TxnTable.snapshotFiles(
        spark, fact, TxnTable.latestVersion(spark, fact).get).size
      // dim staged as parquet: a LocalRelation's filter constant-folds
      // away and DPP then sees no selective predicate to derive from
      val dimPath = s"$zone/dim"
      Seq(("1-URGENT", "rush"), ("5-LOW", "rush"), ("2-HIGH", "bulk"),
        ("3-MEDIUM", "bulk"), ("4-NOT SPECIFIED", "bulk"))
        .toDF("prio", "class").write.parquet(dimPath)
      val dim = spark.read.parquet(dimPath).filter($"class" === "rush")
      val agg = spark.read.format("graft").load(fact)
        .join(broadcast(dim), $"o_orderpriority" === $"prio")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("bigint").as("n"),
          graft.ops.Num.dsum($"o_totalprice").as("sum_price"))
      agg.collect() // runtime filters fire at execution
      val scans = k137Scans(agg)
      require(scans.nonEmpty, "expected a graft BatchScan in the k137 plan")
      val scanned = scans.map(_.scannedFileCount).min
      require(scanned < total,
        s"runtime filter must prune fact files: scanned $scanned of $total")
      val result = agg.orderBy($"o_orderpriority")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k137Sql =
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k138
  /** BUCKETED STORAGE-PARTITIONED JOIN — the high-cardinality answer
    * identity partitioning can't give: `bucket(16, user_id)` hash-
    * buckets both tables at write time (partition value =
    * pmod(murmur3, n), Iceberg's bucket transform), and the catalog's
    * FunctionCatalog serves the `bucket` function so Spark resolves
    * both sides' clustering to the same canonical transform and elides
    * every Exchange: a fact-to-fact join on a billion-key column reads
    * co-bucketed file groups straight into the merge join. The GROUP
    * BY on the join key above it reuses the same partitioning — the
    * whole query plans ZERO shuffles (REQUIREd). The oracle replays
    * the self-join verbatim on the raw events table. */
  private def k138(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k138_bspj")
    val cat = "gk138"
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.io.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", zone)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(
        s"""CREATE TABLE $cat.db.l (user_id BIGINT, v DOUBLE)
           |USING graft PARTITIONED BY (bucket(16, user_id))""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $cat.db.r (user_id BIGINT, w DOUBLE)
           |USING graft PARTITIONED BY (bucket(16, user_id))""".stripMargin)
      Tables.events(spark, dir).select($"user_id", $"value".as("v"))
        .createOrReplaceTempView("k138_src")
      spark.sql(s"INSERT INTO $cat.db.l SELECT user_id, v FROM k138_src")
      spark.sql(
        s"INSERT INTO $cat.db.r SELECT user_id, v * 2 AS w FROM k138_src")
      val agg = spark.sql(
        s"""SELECT l.user_id, COUNT(*) AS n,
           |  CAST(SUM(CAST(l.v + r.w AS DECIMAL(38,6))) AS DOUBLE) AS sum_vw
           |FROM $cat.db.l l JOIN $cat.db.r r ON l.user_id = r.user_id
           |GROUP BY l.user_id""".stripMargin)
      agg.collect()
      val fin = agg.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      require(spjShuffles(fin) == 0,
        s"bucketed SPJ must plan zero shuffles, got:\n$fin")
      val result = agg
        .select($"user_id", $"n".cast("bigint").as("n"), $"sum_vw")
        .orderBy($"user_id")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      try {
        spark.sql(s"DROP TABLE IF EXISTS $cat.db.l")
        spark.sql(s"DROP TABLE IF EXISTS $cat.db.r")
      } catch { case _: Throwable => () }
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k138Sql =
    """SELECT e1.user_id, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(e1.value + 2 * e2.value AS DECIMAL(38,6))) AS DOUBLE)
      |    AS sum_vw
      |FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
      |GROUP BY e1.user_id ORDER BY e1.user_id""".stripMargin

  // --------------------------------------------------------------- k139
  /** STORAGE-PARTITIONED JOIN over a GENERATED daily partition — the
    * canonical lakehouse fact layout, composed end to end: `p_date
    * DATE GENERATED ALWAYS AS (CAST(ts AS DATE))` auto-fills at
    * insert (k132's machinery), identity-partitions both tables by
    * day, and the scan's KeyGroupedPartitioning report (k136's
    * machinery) lets the day-plus-key equi-join of the two fact
    * tables plan ZERO shuffles — the everyday "join today's events to
    * today's enrichment" query reads partition-aligned file groups
    * straight into the merge join. Oracle restates the 1:1 join from
    * raw events with the same date derivation. */
  private def k139(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k139_genspj")
    val cat = "gk139"
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.io.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", zone)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      for (t <- Seq("l", "r"))
        spark.sql(
          s"""CREATE TABLE $cat.db.$t (
             |  event_id BIGINT, ts TIMESTAMP_NTZ, v DOUBLE,
             |  p_date DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))
             |USING graft PARTITIONED BY (p_date)""".stripMargin)
      Tables.events(spark, dir)
        .select($"event_id", $"ts", $"value".as("v"))
        .createOrReplaceTempView("k139_src")
      spark.sql(
        s"INSERT INTO $cat.db.l (event_id, ts, v) " +
          "SELECT event_id, ts, v FROM k139_src")
      spark.sql(
        s"INSERT INTO $cat.db.r (event_id, ts, v) " +
          "SELECT event_id, ts, v * 2 AS v FROM k139_src")
      val agg = spark.sql(
        s"""SELECT l.p_date, COUNT(*) AS n,
           |  CAST(SUM(CAST(l.v + r.v AS DECIMAL(38,6))) AS DOUBLE) AS sum_v3
           |FROM $cat.db.l l JOIN $cat.db.r r
           |  ON l.p_date = r.p_date AND l.event_id = r.event_id
           |GROUP BY l.p_date""".stripMargin)
      agg.collect()
      val fin = agg.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      require(spjShuffles(fin) == 0,
        s"generated-partition SPJ must plan zero shuffles, got:\n$fin")
      // dates cross engines as ISO strings (pandas maps DuckDB DATE to
      // datetime64, Spark DATE to date objects — dtype mismatch)
      val result = agg
        .select($"p_date".cast("string").as("p_date"),
          $"n".cast("bigint").as("n"), $"sum_v3")
        .orderBy($"p_date")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      try {
        spark.sql(s"DROP TABLE IF EXISTS $cat.db.l")
        spark.sql(s"DROP TABLE IF EXISTS $cat.db.r")
      } catch { case _: Throwable => () }
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k139Sql =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS p_date,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value + 2 * value AS DECIMAL(38,6))) AS DOUBLE)
      |    AS sum_v3
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k140
  /** POSITIONAL deletion vectors — the DV flavor proper (Delta DVs /
    * Iceberg v2 position deletes; the equality flavor is k116): a
    * multi-column predicate delete commits exact (file, row ordinal)
    * coordinates in one kilobyte-scale sidecar. REQUIREs prove zero
    * data files were rewritten and the live delete entry is positional;
    * the aggregate over the surviving rows matches the oracle's
    * complement predicate. At 100 TB this is the delete whose write
    * cost is independent of both table size and predicate shape — and
    * whose read-time subtraction OPTIMIZE (k117) materializes away. */
  private def k140(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k140_pos")
    try {
      val table = s"$zone/orders_txn"
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          $"o_orderpriority")
        .repartitionByRange(8, $"o_orderkey")
        .write.format("graft").option("statsCols", "o_orderkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val before = TxnTable.morState(spark, table, v1).files.toSet
      TxnTable.deleteWherePos(spark, table,
        df => df("o_orderstatus") === "F" && df("o_totalprice") > 150000.0)
      val st = TxnTable.morState(spark, table,
        TxnTable.latestVersion(spark, table).get)
      require(st.files.toSet == before,
        "positional delete must leave every data file untouched")
      require(st.dels.nonEmpty &&
        st.dels.forall(_.keyCols == Seq(TxnTable.PosDelKey)),
        "expected a live positional delete entry")
      val result = spark.read.format("graft").load(table)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum($"o_totalprice".cast("decimal(38,6)")).cast("double")
            .as("total"))
        .orderBy($"o_orderpriority")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k140Sql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 150000)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- k141
  /** `SHOW PARTITIONS` as manifest arithmetic (`graft_partitions` table
    * function): partition value-tuples with file/row/byte counts read
    * from the commit log's per-file row counts — zero data-dir listing,
    * zero data reads. The triage surface before a scoped OPTIMIZE /
    * replaceWhere on a 100 TB partitioned table. Row counts are
    * oracle-gated against a plain GROUP BY over the raw data. */
  private def k141(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k141_parts")
    try {
      val table = s"$zone/li_txn"
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity", $"l_returnflag")
        .write.format("graft").option("partitionBy", "l_returnflag")
        .mode("overwrite").save(table)
      val parts = spark.sql(
        s"SELECT partition, n_files, n_rows, bytes " +
          s"FROM graft_partitions('$table')").collect()
      require(parts.forall(r => !r.isNullAt(2) && r.getLong(3) > 0),
        "graft-written files must carry row counts and bytes")
      val result = spark.sql(
        s"SELECT partition, n_rows FROM graft_partitions('$table') " +
          "ORDER BY partition")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k141Sql =
    """SELECT 'l_returnflag=' || l_returnflag AS partition,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY partition""".stripMargin

  // --------------------------------------------------------------- k142
  /** ANALYZE TABLE → cost-based optimizer: one aggregate pass computes
    * approx column NDV (HLL++, Spark's own ANALYZE sketch) into the
    * advisory `_ndv` sidecar; the DSv2 scan reports it (with null
    * counts from skipping stats) as V2 column statistics, which land in
    * the CBO's attribute stats — the inputs join-order and join-size
    * estimation need. REQUIREs pin: NDV within HLL tolerance of exact,
    * and the optimizer actually SEEING distinctCount under
    * spark.sql.cbo.enabled. The returned aggregate oracle-gates the
    * post-ANALYZE read path. */
  private def k142(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k142_cbo")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_nationkey")
        .repartitionByRange(4, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .mode("overwrite").save(table)
      val ndv = TxnTable.analyzeTable(spark, table)
      val exact = spark.read.format("graft").load(table)
        .agg(countDistinct($"c_custkey")).head().getLong(0)
      require(math.abs(ndv("c_custkey") - exact) <= exact / 10 + 5,
        s"NDV ${ndv("c_custkey")} too far from exact $exact")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try {
        val stats = spark.read.format("graft").load(table)
          .queryExecution.optimizedPlan.collectFirst {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.stats
          }.getOrElse(throw new IllegalStateException("no DSv2 scan"))
        require(stats.attributeStats.exists { case (a, s) =>
          a.name == "c_custkey" && s.distinctCount.isDefined },
          "optimizer must see the analyzed distinct count")
      } finally spark.conf.set("spark.sql.cbo.enabled", "false")
      val result = spark.read.format("graft").load(table)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).cast("bigint").as("n"),
          countDistinct($"c_nationkey").cast("bigint").as("nations"))
        .orderBy($"c_mktsegment")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k142Sql =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS nations
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- k143
  /** POSITIONAL UPDATE (k140's DV flavor on the write-amplification
    * path k118 covers with equality tuples): one commit appends ONLY
    * the changed rows and supersedes the originals by exact (file, row
    * ordinal) coordinates — original data files carry untouched
    * (REQUIREd), and the post-update aggregate matches the oracle's
    * CASE-rewritten view of the raw data. */
  private def k143(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k143_posupd")
    try {
      val table = s"$zone/orders_txn"
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          $"o_orderpriority")
        .repartitionByRange(8, $"o_orderkey")
        .write.format("graft").option("statsCols", "o_orderkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val before = TxnTable.morState(spark, table, v1).files.toSet
      TxnTable.updateWherePos(spark, table,
        df => df("o_orderstatus") === "P",
        Map("o_totalprice" -> ($"o_totalprice" + 1000.0)))
      val st = TxnTable.morState(spark, table,
        TxnTable.latestVersion(spark, table).get)
      require(before.subsetOf(st.files.toSet),
        "positional update must carry every original data file")
      require(st.dels.exists(_.keyCols == Seq(TxnTable.PosDelKey)),
        "expected a live positional delete entry")
      val result = spark.read.format("graft").load(table)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum($"o_totalprice".cast("decimal(38,6)")).cast("double")
            .as("total"))
        .orderBy($"o_orderpriority")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k143Sql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'P'
      |    THEN o_totalprice + 1000.0 ELSE o_totalprice END
      |    AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
      .stripMargin

  // --------------------------------------------------------------- k144
  /** `REORG TABLE … APPLY (PURGE)` — the bounded-I/O DV materialization
    * (vs k117's full OPTIMIZE): rewrite ONLY the files a live delete
    * touches. The positional vector here names rows in a strict subset
    * of the range-partitioned files, and the REQUIREs prove every
    * unaffected file carried BY PATH IDENTITY while the vector left
    * the log — at 100 TB, purge cost tracks the delete's blast radius,
    * not the table. */
  private def k144(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k144_reorg")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .repartitionByRange(8, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val before = TxnTable.morState(spark, table, v1).files
      val cut = spark.read.format("graft").load(table)
        .agg(max($"c_custkey")).head().getLong(0) / 10L
      TxnTable.deleteWherePos(spark, table, df => df("c_custkey") <= cut)
      spark.sql(s"CREATE TABLE graft_k144_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql("REORG TABLE graft_k144_t APPLY (PURGE)")
        val st = TxnTable.morState(spark, table,
          TxnTable.latestVersion(spark, table).get)
        require(st.dels.isEmpty, "purge must materialize the vector away")
        val carried = before.toSet.intersect(st.files.toSet)
        require(carried.nonEmpty && carried.size < before.size,
          s"purge must rewrite a strict subset: carried ${carried.size} " +
            s"of ${before.size}")
        val result = spark.sql(
          """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k144_t
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k144_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k144Sql =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM customer
      |WHERE c_custkey > (SELECT CAST(FLOOR(MAX(c_custkey) / 10.0) AS BIGINT)
      |                   FROM customer)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- k145
  /** `ALTER TABLE … ADD COLUMN … DEFAULT v` — SQL-standard column
    * defaults as PURE metadata, on Spark's own CURRENT_DEFAULT /
    * EXISTS_DEFAULT field-metadata contract: the ALTER touches no data
    * file (REQUIREd), rows written BEFORE the column surface the
    * folded default through Spark's parquet reader itself, and later
    * INSERTs that omit the column fill it at write. At 100 TB the
    * alternative spelling is a full-table rewrite. */
  private def k145(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k145_dflt")
    try {
      val table = s"$zone/customer_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
      val cut = cust.agg(max($"c_custkey")).head().getLong(0) / 2L
      cust.filter($"c_custkey" <= cut)
        .write.format("graft").option("statsCols", "c_custkey")
        .mode("overwrite").save(table)
      val filesBefore = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get)
      spark.sql(s"CREATE TABLE graft_k145_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          "ALTER TABLE graft_k145_t ADD COLUMN tier STRING DEFAULT 'std'")
        spark.sql(
          "ALTER TABLE graft_k145_t ADD COLUMN score DOUBLE DEFAULT 2.5")
        require(TxnTable.snapshotFiles(spark, table,
          TxnTable.latestVersion(spark, table).get) == filesBefore,
          "ADD COLUMN ... DEFAULT must be metadata-only: no data file " +
            "read or written")
        cust.filter($"c_custkey" > cut).createOrReplaceTempView("k145_src")
        // the upper half inserts with an explicit tier and NO score —
        // the omitted column fills from its declared default
        spark.sql(
          """INSERT INTO graft_k145_t (c_custkey, c_mktsegment, c_acctbal, tier)
            |SELECT c_custkey, c_mktsegment, c_acctbal, 'prm' FROM k145_src
            |""".stripMargin)
        val result = spark.sql(
          """SELECT tier, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(score) AS DOUBLE) AS score_sum,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k145_t
            |GROUP BY tier ORDER BY tier""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k145_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k145Sql =
    """SELECT CASE WHEN c_custkey <=
      |    (SELECT CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) FROM customer)
      |  THEN 'std' ELSE 'prm' END AS tier,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(2.5) AS DOUBLE) AS score_sum,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM customer
      |GROUP BY 1 ORDER BY tier""".stripMargin

  // --------------------------------------------------------------- k146
  /** `CREATE OR REPLACE TABLE … AS SELECT` — the daily full re-publish
    * of a dim table (the reference's own `mode('overwrite')` refresh,
    * `spark/jobs/pr-wallet-data-tf.py:129`, lifted to the catalog
    * layer) as ONE atomic manifest swap via StagingTableCatalog: the
    * lineage continues under the same name (REQUIREd), readers pinned
    * below the replace keep their snapshot, and time travel spans it.
    * Never drop+create: between those two commits the table does not
    * exist, and a concurrent reader fails. */
  private def k146(spark: SparkSession, dir: String): DataFrame = {
    val zone = tmpZone("graft_k146_cor")
    try {
      spark.conf.set("spark.sql.catalog.gk146", "graft.io.GraftTableCatalog")
      spark.conf.set("spark.sql.catalog.gk146.warehouse", zone)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gk146.db")
      Tables.nation(spark, dir).createOrReplaceTempView("k146_nation")
      try {
        // day-1 publish (partial load), day-2 full re-publish with an
        // extra column — a schema-evolving replace
        spark.sql(
          """CREATE OR REPLACE TABLE gk146.db.dim USING graft AS
            |SELECT n_nationkey, n_name FROM k146_nation
            |WHERE n_nationkey < 10""".stripMargin)
        val table = s"$zone/db/dim"
        val v1 = TxnTable.latestVersion(spark, table).get
        spark.sql(
          """CREATE OR REPLACE TABLE gk146.db.dim USING graft AS
            |SELECT n_nationkey, n_name, n_regionkey FROM k146_nation
            |""".stripMargin)
        val v2 = TxnTable.latestVersion(spark, table).get
        require(v2 > v1,
          "replace must extend the manifest lineage, not restart it")
        require(spark.sql(
            s"SELECT count(*) FROM gk146.db.dim VERSION AS OF $v1")
            .head().getLong(0) <
            spark.table("gk146.db.dim").count(),
          "the pre-replace snapshot must stay readable after the swap")
        val result = spark.sql(
          """SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n,
            |  MIN(n_name) AS first_name
            |FROM gk146.db.dim
            |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE IF EXISTS gk146.db.dim")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k146Sql =
    """SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(n_name) AS first_name
      |FROM nation
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // --------------------------------------------------------------- k147
  /** Table properties + DESCRIBE DETAIL: `ALTER TABLE … SET
    * TBLPROPERTIES` is a metadata-only CAS commit (REQUIREd — no data
    * file touched), `SHOW TBLPROPERTIES` serves the manifest's
    * property lines as rows, and DESCRIBE DETAIL's exact manifest row
    * count ties the metadata surface back to the data: the oracle
    * recomputes it with COUNT(*). */
  private def k147(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k147_props")
    try {
      val table = s"$zone/nation_txn"
      Tables.nation(spark, dir)
        .write.format("graft").mode("overwrite").save(table)
      val filesBefore = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get)
      spark.sql(s"CREATE TABLE graft_k147_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          "ALTER TABLE graft_k147_t SET TBLPROPERTIES " +
            "('owner' = 'etl', 'ttl.days' = '30')")
        require(TxnTable.snapshotFiles(spark, table,
          TxnTable.latestVersion(spark, table).get) == filesBefore,
          "SET TBLPROPERTIES must be metadata-only")
        val props = spark.sql("SHOW TBLPROPERTIES graft_k147_t")
        val detail = spark.sql("DESCRIBE DETAIL graft_k147_t")
        val result = props
          .unionByName(detail.select(lit("num_rows").as("key"),
            col("num_rows").cast("string").as("value")))
          .orderBy($"key")
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k147_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k147Sql =
    """SELECT key, value FROM (
      |  SELECT 'num_rows' AS key, CAST(COUNT(*) AS VARCHAR) AS value
      |  FROM nation
      |  UNION ALL SELECT 'owner', 'etl'
      |  UNION ALL SELECT 'ttl.days', '30')
      |ORDER BY key""".stripMargin

  // --------------------------------------------------------------- k148
  /** `ALTER COLUMN … TYPE` widening (int→bigint, float→double) as PURE
    * metadata: no data file is read or written by the ALTER (REQUIREd)
    * — existing int32/float pages promote inside Spark's parquet scan
    * — and appends may then exceed the old type's range. The oracle
    * recomputes the post-widening aggregate over the raw table plus
    * the out-of-range row. */
  private def k148(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k148_widen")
    try {
      val table = s"$zone/cust_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey".cast("int").as("k"),
          $"c_acctbal".cast("float").as("bal"))
        .write.format("graft").option("statsCols", "k")
        .mode("overwrite").save(table)
      val filesBefore = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get)
      spark.sql(s"CREATE TABLE graft_k148_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql("ALTER TABLE graft_k148_t ALTER COLUMN k TYPE BIGINT")
        spark.sql("ALTER TABLE graft_k148_t ALTER COLUMN bal TYPE DOUBLE")
        require(TxnTable.snapshotFiles(spark, table,
          TxnTable.latestVersion(spark, table).get) == filesBefore,
          "type widening must be metadata-only: no data file rewritten")
        // a value no INT could hold lands through the widened column
        spark.sql("INSERT INTO graft_k148_t VALUES (2147483657, 10.5)")
        val result = spark.sql(
          """SELECT CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(k) AS BIGINT) AS key_sum,
            |  CAST(MAX(k) AS BIGINT) AS max_k
            |FROM graft_k148_t""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k148_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k148Sql =
    """SELECT CAST(COUNT(*) + 1 AS BIGINT) AS n,
      |  CAST(SUM(c_custkey) + 2147483657 AS BIGINT) AS key_sum,
      |  CAST(2147483657 AS BIGINT) AS max_k
      |FROM customer""".stripMargin

  // --------------------------------------------------------------- k149
  /** `TBLPROPERTIES ('graft.deleteMode' = 'positional')` — SQL DELETE
    * commits deletion vectors for EVERY predicate shape, including the
    * subquery the equality flavor must refuse and copy-on-write would
    * rewrite files for. REQUIREd: zero data-file rewrite, and the
    * recorded delete entries are positional. */
  private def k149(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k149_posmode")
    try {
      val table = s"$zone/customer_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .repartitionByRange(4, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .mode("overwrite").save(table)
      val before = TxnTable.morState(spark, table,
        TxnTable.latestVersion(spark, table).get).files.toSet
      spark.sql(s"CREATE TABLE graft_k149_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql("ALTER TABLE graft_k149_t SET TBLPROPERTIES " +
          "('graft.deleteMode' = 'positional')")
        Tables.customer(spark, dir).filter($"c_acctbal" < 0)
          .select($"c_custkey").createOrReplaceTempView("k149_bad_keys")
        spark.sql(
          """DELETE FROM graft_k149_t
            |WHERE c_custkey IN (SELECT c_custkey FROM k149_bad_keys)
            |""".stripMargin)
        val st = TxnTable.morState(spark, table,
          TxnTable.latestVersion(spark, table).get)
        require(st.files.toSet == before,
          "positional delete mode must not rewrite any data file")
        require(st.dels.nonEmpty &&
          st.dels.forall(_.keyCols == Seq(TxnTable.PosDelKey)),
          "the delete must commit as a positional vector")
        val result = spark.sql(
          """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
            |FROM graft_k149_t
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k149_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k149Sql =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
      |FROM customer
      |WHERE c_custkey NOT IN (
      |  SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- k150
  /** PARTITION-SPEC EVOLUTION (`ALTER TABLE … SET PARTITIONED BY`) —
    * Iceberg's signature metadata-only re-layout, which Delta can only
    * do by rewriting the table: orders lands identity-partitioned by
    * o_orderpriority, the spec evolves to bucket(8, o_custkey) in ONE
    * kilobyte commit, and the second half of the data arrives under the
    * new layout. REQUIREd: the evolution writes/drops zero data files,
    * and each vintage carries its own layout dirs — on a 100 TB table
    * mis-partitioned in hindsight this is the whole fix; old data
    * migrates lazily through OPTIMIZE churn, never eagerly. Reads plan
    * from per-file stats and path bucket ids, so both vintages prune
    * (PartEvolSpec pins a 1-file point lookup across vintages). The
    * oracle recomputes the cross-vintage aggregate from raw parquet. */
  private def k150(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k150_pevol")
    try {
      val table = s"$zone/orders_txn"
      val orders = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey", $"o_orderpriority",
          $"o_totalprice")
      orders.filter($"o_orderkey" % 2 === 0)
        .write.format("graft").option("statsCols", "o_orderkey")
        .option("partitionBy", "o_orderpriority")
        .mode("overwrite").save(table)
      val v1 = TxnTable.latestVersion(spark, table).get
      val before = TxnTable.snapshotFiles(spark, table, v1).toSet
      require(before.forall(_.contains("__gp_o_orderpriority=")),
        "vintage-1 files must carry the identity layout")
      val v2 = TxnTable.setPartitionSpec(spark, table,
        Seq("bucket(8, o_custkey)"))
      require(TxnTable.snapshotFiles(spark, table, v2).toSet == before,
        "partition-spec evolution must be metadata-only: zero data files")
      orders.filter($"o_orderkey" % 2 === 1)
        .write.format("graft").mode("append").save(table)
      val fresh = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get).filterNot(before)
      require(fresh.nonEmpty &&
        fresh.forall(_.contains("__gp_bucket_8_o_custkey=")),
        "vintage-2 files must carry the evolved bucket layout")
      val result = spark.read.format("graft").load(table)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          graft.ops.Num.dsum($"o_totalprice").as("price_sum"),
          max($"o_custkey").as("max_cust"))
        .orderBy($"o_orderpriority")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k150Sql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS price_sum,
      |  CAST(MAX(o_custkey) AS BIGINT) AS max_cust
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- k151
  /** NESTED schema evolution — `ALTER TABLE … ADD COLUMNS (meta.clerk
    * STRING)` adds a field INSIDE a struct column as pure metadata
    * (REQUIREd: zero data files written). Files from before the change
    * surface the field as NULL through Spark's parquet by-name clipping
    * — no graft read-path code at all — and later appends fill it. The
    * oracle rebuilds the same split from raw orders with a CASE on the
    * append half. */
  private def k151(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k151_nested")
    try {
      val table = s"$zone/orders_txn"
      val orders = Tables.orders(spark, dir)
      orders.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey",
          struct($"o_orderpriority".as("priority")).as("meta"))
        .write.format("graft").option("statsCols", "o_orderkey")
        .mode("overwrite").save(table)
      val before = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get).toSet
      spark.sql(s"CREATE TABLE graft_k151_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql("ALTER TABLE graft_k151_t ADD COLUMNS (meta.status STRING)")
        require(TxnTable.snapshotFiles(spark, table,
          TxnTable.latestVersion(spark, table).get).toSet == before,
          "nested schema evolution must be metadata-only: zero data files")
        orders.filter($"o_orderkey" % 2 === 1)
          .select($"o_orderkey",
            struct($"o_orderpriority".as("priority"),
              $"o_orderstatus".as("status")).as("meta"))
          .write.format("graft").mode("append").save(table)
        val result = spark.sql(
          """SELECT meta.priority AS priority, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(COUNT(meta.status) AS BIGINT) AS n_status,
            |  MAX(meta.status) AS max_status
            |FROM graft_k151_t
            |GROUP BY meta.priority ORDER BY priority""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k151_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k151Sql =
    """SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END) AS BIGINT)
      |    AS n_status,
      |  MAX(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END) AS max_status
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k152
  /** NESTED-FIELD DATA SKIPPING under the driver's gate — `statsCols =
    * "m.ck"` collects per-file min/max for a field INSIDE a struct
    * column, Spark pushes the nested predicate to the DSv2 scan with
    * its dotted name, and the scan prunes files by those stats.
    * REQUIREd in-query: the nested range read plans FEWER files than
    * the table holds (range-clustered on the nested key, so the proof
    * is structural, not lucky). The aggregate itself oracle-checks
    * against DuckDB over raw orders — skipping must never change an
    * answer. The 100 TB shape: struct-payload event logs prune without
    * flattening. */
  private def k152(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k152_nstat")
    try {
      val table = s"$zone/orders_txn"
      Tables.orders(spark, dir)
        .select($"o_orderkey",
          struct($"o_custkey".as("ck"), $"o_totalprice".as("price"))
            .as("m"))
        .repartitionByRange(4, $"o_custkey")
        .write.format("graft").option("statsCols", "m.ck")
        .mode("overwrite").save(table)
      val total = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get).size
      require(total >= 4, s"expected >= 4 range files, got $total")
      val slice = spark.read.format("graft").load(table)
        .filter($"m.ck" >= 100L && $"m.ck" <= 200L)
      val scanned = org.apache.spark.sql.GraftBridge
        .dsv2ScannedFiles(slice).getOrElse(
          throw new IllegalStateException("no DSv2 scan in the plan"))
      require(scanned < total,
        s"nested-stat pruning must skip files: scanned $scanned of $total")
      val result = slice.agg(
        count(lit(1)).cast("bigint").as("n"),
        sum($"o_orderkey").cast("bigint").as("key_sum"),
        graft.ops.Num.dsum($"m.price").as("price_sum"))
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k152Sql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS price_sum
      |FROM orders WHERE o_custkey BETWEEN 100 AND 200""".stripMargin

  // --------------------------------------------------------------- k153
  /** `graft_snapshot_diff` under the driver's gate: a three-commit
    * history (seed, append, range delete) diffs v1→latest as PURE
    * manifest arithmetic — the per-direction file and row totals must
    * equal what the data movement implies. The oracle recomputes the
    * same totals from the raw customer table's arithmetic. */
  private def k153(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k153_sdiff")
    try {
      val table = s"$zone/cust_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      val half = cust.agg(max($"c_custkey")).head().getLong(0) / 2L
      cust.filter($"c_custkey" <= half).coalesce(1)
        .write.format("graft").option("statsCols", "c_custkey")
        .mode("overwrite").save(table)                        // v1
      cust.filter($"c_custkey" > half).coalesce(1)
        .write.format("graft").option("statsCols", "c_custkey")
        .mode("append").save(table)                           // v2
      // v3: drop v1's whole file — its key range is fully covered and
      // stats prove it, so the delete is metadata-only (no new files)
      TxnTable.deleteRange(spark, table, "c_custkey", 0.0, half.toDouble)
      val v = TxnTable.latestVersion(spark, table).get
      val result = spark.sql(
        s"""SELECT change, CAST(COUNT(*) AS BIGINT) AS n_files,
           |  CAST(SUM(n_rows) AS BIGINT) AS n_rows
           |FROM graft_snapshot_diff('$table', 1, $v)
           |GROUP BY change ORDER BY change""".stripMargin)
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k153Sql =
    """WITH h AS (SELECT CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) AS half
      |           FROM customer)
      |SELECT 'added' AS change, CAST(1 AS BIGINT) AS n_files,
      |  CAST((SELECT COUNT(*) FROM customer, h WHERE c_custkey > half)
      |    AS BIGINT) AS n_rows
      |UNION ALL
      |SELECT 'removed', CAST(1 AS BIGINT),
      |  CAST((SELECT COUNT(*) FROM customer, h WHERE c_custkey <= half)
      |    AS BIGINT)
      |ORDER BY change""".stripMargin

  // --------------------------------------------------------------- k154
  /** SQL `MERGE INTO` on a GENERATED ALWAYS AS IDENTITY table — the
    * canonical warehouse ingest: a surrogate-keyed dimension upserted
    * by natural key (the reference's Postgres `SERIAL` surrogate at
    * ref dags/s3-etl-wallet-csv.py:210, done lakehouse-side). The
    * statement can never assign the identity column; matched rows
    * INHERIT their surrogate keys through the update cascade, WHEN NOT
    * MATCHED inserts MINT fresh values above the pinned snapshot's
    * high-water mark (frozen by localCheckpoint so data and CDC agree),
    * and the commit publishes the advanced hwm atomically — CAS losses
    * recompute, never fast-rebase. REQUIREd in-query: seeded rows keep
    * ids 1..n_seed, the merged table is gapless 1..n, the hwm equals n,
    * and assigning the column refuses. The oracle replays the balance
    * arithmetic (matched rows got +100) off raw customer. */
  private def k154(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k154_mrgid")
    val cat = "gk154"
    try {
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.io.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", zone)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(
        s"""CREATE TABLE $cat.db.cust (
           |  row_id       BIGINT GENERATED ALWAYS AS IDENTITY,
           |  c_custkey    BIGINT,
           |  c_mktsegment STRING,
           |  c_acctbal    DOUBLE)
           |USING graft""".stripMargin)
      try {
        Tables.customer(spark, dir)
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
          .createOrReplaceTempView("k154_src")
        spark.sql(
          s"""INSERT INTO $cat.db.cust (c_custkey, c_mktsegment, c_acctbal)
             |SELECT c_custkey, c_mktsegment, c_acctbal FROM k154_src
             |WHERE c_custkey % 2 = 0""".stripMargin)
        val nSeed = spark.table(s"$cat.db.cust").count()
        spark.sql(
          s"""MERGE INTO $cat.db.cust t USING k154_src s
             |ON t.c_custkey = s.c_custkey
             |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal + 100.0
             |WHEN NOT MATCHED THEN
             |  INSERT (c_custkey, c_mktsegment, c_acctbal)
             |  VALUES (s.c_custkey, s.c_mktsegment, s.c_acctbal)""".stripMargin)
        val n = Tables.customer(spark, dir).count()
        val full = spark.table(s"$cat.db.cust")
        require(full.select(countDistinct($"row_id")).head().getLong(0) == n &&
            full.agg(max($"row_id")).head().getLong(0) == n,
          "merge must keep surrogate keys gapless: inherit matched, mint inserts")
        require(full.filter($"c_custkey" % 2 === 0 && $"row_id" > nSeed)
            .limit(1).count() == 0L,
          "matched rows must INHERIT their seeded surrogate keys")
        val table = s"$zone/db/cust"
        val d = TxnTable.identityColumn(TxnTable.snapshotSchema(spark, table,
          TxnTable.latestVersion(spark, table).get).get).get
        require(d.hwm.contains(n), s"the merge must advance the hwm with " +
          s"its commit: $d vs $n")
        val refused = try {
          spark.sql(s"""MERGE INTO $cat.db.cust t USING k154_src s
            |ON t.c_custkey = s.c_custkey
            |WHEN MATCHED THEN UPDATE SET row_id = 0""".stripMargin)
          false
        } catch { case e: Exception => e.getMessage.contains("GENERATED ALWAYS") }
        require(refused, "assigning the IDENTITY column must refuse")
        val result = spark.sql(
          s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
             |FROM $cat.db.cust GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $cat.db.cust")
        spark.catalog.dropTempView("k154_src")
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k154Sql =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 100.0
      |                     ELSE c_acctbal END
      |    AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k155
  /** Parquet FIELD-ID column mapping end to end (Iceberg field ids /
    * Delta `columnMapping.mode = id`, realized on Spark's own public
    * `parquet.field.id` contract — graft.io.FieldIds): a table created
    * with `TBLPROPERTIES ('graft.columnMapping.mode'='id')` renames
    * columns — top-level AND nested — as pure metadata (the id, not
    * the name, resolves old files; no alias/COALESCE legs), and
    * re-adding a DROPPED column's name can never resurrect its stale
    * bytes (the re-add mints a fresh id above the never-reuse floor,
    * so old files serve NULL). REQUIREd in-query: the rename records
    * ZERO aliases, the renamed fields keep their ids, and none of the
    * first batch's dropped-name bytes survive the re-add. The oracle
    * replays the lifecycle off raw customer: every row keeps its
    * balance and segment under the new names; only second-batch (odd
    * custkey) rows carry the re-added name. */
  private def k155(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k155_fid")
    val cat = "gk155"
    try {
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.io.GraftTableCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", zone)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(
        s"""CREATE TABLE $cat.db.cust (
           |  c_custkey BIGINT,
           |  c_name    STRING,
           |  c_acctbal DOUBLE,
           |  meta      STRUCT<seg: STRING, nat: BIGINT>)
           |USING graft
           |TBLPROPERTIES ('graft.columnMapping.mode' = 'id')""".stripMargin)
      try {
        Tables.customer(spark, dir)
          .select($"c_custkey", $"c_name", $"c_acctbal",
            struct($"c_mktsegment".as("seg"), $"c_nationkey".as("nat")).as("meta"))
          .createOrReplaceTempView("k155_src")
        // batch 1: even custkeys, c_name POPULATED (bytes that must
        // never resurrect after the drop + re-add below)
        spark.sql(
          s"""INSERT INTO $cat.db.cust
             |SELECT * FROM k155_src WHERE c_custkey % 2 = 0""".stripMargin)
        val table = s"$zone/db/cust"
        val idBal = FieldIds.idOf(TxnTable.snapshotSchema(spark, table,
          TxnTable.latestVersion(spark, table).get).get("c_acctbal"))
        require(idBal.isDefined, "id-mode table must stamp field ids")
        // zero-rewrite renames: top-level and NESTED — both pure
        // metadata, both served by id from the batch-1 files
        spark.sql(s"ALTER TABLE $cat.db.cust RENAME COLUMN c_acctbal TO balance")
        spark.sql(s"ALTER TABLE $cat.db.cust RENAME COLUMN meta.seg TO segment")
        require(TxnTable.columnAliases(spark, table).isEmpty,
          "field-id rename must not fall back to alias legs")
        val s2 = TxnTable.snapshotSchema(spark, table,
          TxnTable.latestVersion(spark, table).get).get
        require(FieldIds.idOf(s2("balance")) == idBal,
          "rename must keep the field id")
        // drop + re-add the same name: the fresh id makes batch-1's
        // same-named bytes unreachable (NULL), batch 2 carries values
        spark.sql(s"ALTER TABLE $cat.db.cust DROP COLUMN c_name")
        spark.sql(s"ALTER TABLE $cat.db.cust ADD COLUMNS (c_name STRING)")
        spark.sql(
          s"""INSERT INTO $cat.db.cust (c_custkey, balance, meta, c_name)
             |SELECT c_custkey, c_acctbal, meta, c_name FROM k155_src
             |WHERE c_custkey % 2 = 1""".stripMargin)
        require(spark.sql(
            s"""SELECT COUNT(c_name) FROM $cat.db.cust
               |WHERE c_custkey % 2 = 0""".stripMargin).head().getLong(0) == 0L,
          "re-added column must read NULL from pre-drop files — stale " +
            "bytes can never resurrect under a fresh field id")
        val result = spark.sql(
          s"""SELECT meta.segment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(balance AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal,
             |  CAST(COUNT(c_name) AS BIGINT) AS n_named
             |FROM $cat.db.cust GROUP BY meta.segment
             |ORDER BY seg""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $cat.db.cust")
        spark.catalog.dropTempView("k155_src")
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k155Sql =
    """SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal,
      |  CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_named
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k156
  /** DEEP CLONE — the materialized full-copy fork (and the documented
    * escape hatch for the RENAME TABLE refusal): `CREATE TABLE … DEEP
    * CLONE src VERSION AS OF n` copies the pinned snapshot's data
    * files byte-for-byte (distributed raw copy, no decode/re-encode)
    * and starts a FRESH history at v1 carrying schema, stats, blooms,
    * constraints, and properties. REQUIREd in-query: the clone holds
    * its own parquet bytes, pins the pre-append version, starts at v1,
    * and — the deep-vs-shallow contract — survives the source's
    * DELETION outright, then diverges with its own SQL UPDATE. The
    * oracle replays the pinned snapshot + divergence off raw
    * customer. */
  private def k156(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k156_deep")
    try {
      val source = s"$zone/src_txn"
      val clone = s"$zone/fork_txn"
      Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
        .repartitionByRange(4, $"c_custkey")
        .write.format("graft").option("statsCols", "c_custkey")
        .mode("overwrite").save(source)
      val srcV = TxnTable.latestVersion(spark, source).get
      // the source moves on — the pinned clone must not see this
      TxnTable.commitAppend(
        Tables.customer(spark, dir).filter($"c_custkey" <= 10)
          .select(($"c_custkey" + 5000000L).as("c_custkey"),
            lit("GHOST").as("c_mktsegment"), lit(1.0d).as("c_acctbal")),
        source)
      spark.sql(
        s"CREATE TABLE '$clone' DEEP CLONE '$source' VERSION AS OF $srcV")
      def parquetUnder(p: String): Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
        walk(new java.io.File(p))
      }
      require(parquetUnder(clone).nonEmpty,
        "DEEP CLONE must materialize its own data files")
      require(TxnTable.latestVersion(spark, clone).contains(1L),
        "clone history must start fresh at v1")
      // stats traveled verbatim: a point read on the clone prunes files
      val (_, scanned, total) =
        TxnTable.readRange(spark, clone, "c_custkey", 1.0, 1.0)
      require(scanned < total,
        s"cloned skipping stats must prune: $scanned of $total")
      // deep-vs-shallow: DELETE the source — the clone must not notice
      graft.io.Tables.deleteTree(new java.io.File(source))
      spark.sql(s"CREATE TABLE graft_k156_t USING graft OPTIONS (path '$clone')")
      try {
        spark.sql(
          """UPDATE graft_k156_t SET c_acctbal = c_acctbal + 500.0
            |WHERE c_custkey <= 100""".stripMargin)
        val result = spark.sql(
          """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
            |FROM graft_k156_t GROUP BY c_mktsegment
            |ORDER BY c_mktsegment""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k156_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k156Sql =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CASE WHEN c_custkey <= 100 THEN c_acctbal + 500.0
      |                     ELSE c_acctbal END
      |    AS DECIMAL(38,6))) AS DOUBLE) AS bal
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k157
  /** NESTED column DEFAULTs — `ALTER TABLE … ADD COLUMNS (s.f T
    * DEFAULT v)` as pure metadata: rows written BEFORE the declaration
    * surface the default through graft's vintage-gated read-time fill
    * (Spark's own readers only fill missing TOP-LEVEL columns from
    * EXISTS_DEFAULT; a missing nested field they surface as NULL),
    * writes that omit the field fill it at the append gate, and
    * explicit values are respected. REQUIREd in-query: the ALTER moves
    * no data (same file set), and the pre-declaration rows actually
    * read the default through the DSv2 SQL path. The oracle replays
    * the vintage split off raw orders. */
  private def k157(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k157_ndef")
    try {
      val table = s"$zone/ord_txn"
      val ords = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_totalprice",
          struct($"o_orderpriority".as("priority")).as("meta"))
      val half = ords.agg(max($"o_orderkey")).head().getLong(0) / 2L
      ords.filter($"o_orderkey" <= half)
        .write.format("graft").option("statsCols", "o_orderkey")
        .mode("overwrite").save(table)
      val filesBefore = TxnTable.snapshotFiles(spark, table,
        TxnTable.latestVersion(spark, table).get)
      spark.sql(s"CREATE TABLE graft_k157_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(
          "ALTER TABLE graft_k157_t ADD COLUMNS " +
            "(meta.src STRING DEFAULT 'legacy')")
        require(TxnTable.snapshotFiles(spark, table,
            TxnTable.latestVersion(spark, table).get) == filesBefore,
          "nested ADD COLUMNS ... DEFAULT must be pure metadata")
        // post-declaration rows carry their own value
        TxnTable.commitAppend(
          Tables.orders(spark, dir).filter($"o_orderkey" > half)
            .select($"o_orderkey", $"o_totalprice",
              struct($"o_orderpriority".as("priority"),
                lit("fresh").as("src")).as("meta")),
          table)
        require(spark.sql(
            s"""SELECT COUNT(*) FROM graft_k157_t
               |WHERE meta.src = 'legacy' AND o_orderkey > $half""".stripMargin)
            .head().getLong(0) == 0L,
          "post-declaration rows must keep their explicit value")
        val result = spark.sql(
          """SELECT meta.src AS src, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
            |    AS sum_price
            |FROM graft_k157_t GROUP BY meta.src ORDER BY src""".stripMargin)
        spark.createDataFrame(
          java.util.Arrays.asList(result.collect(): _*), result.schema)
      } finally spark.sql("DROP TABLE graft_k157_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k157Sql =
    """WITH h AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 2.0) AS BIGINT) AS half
      |           FROM orders)
      |SELECT CASE WHEN o_orderkey <= half THEN 'legacy' ELSE 'fresh' END
      |    AS src,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
      |    AS sum_price
      |FROM orders, h GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k158
  /** SCAN THROUGHPUT under a live positional deletion vector — the
    * bench evidence for the r14 finding that one vector-named file used
    * to flip the ENTIRE scan row-based (no vectorized parquet, no
    * ColumnarToRow codegen) until OPTIMIZE. The worst case on purpose:
    * lineitem lands in 8 range files, the sparse vector names EVERY one
    * of them (the deleted keys spread across the range), and then a
    * scan-heavy aggregate reads the full table through the subtraction.
    * The plan is REQUIREd columnar (GraftVecRead's ColumnarBatch-level
    * ordinal filter — a remap wrapper on hit batches, pass-through on
    * clean ones); before the fix this query paid a full row-based scan,
    * which at 100 TB is a multiple-of-runtime cost for a kilobyte of
    * deletes. Oracle: DuckDB re-derives the same aggregate minus the
    * deleted keys. */
  private def k158(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k158_vecscan")
    try {
      val table = s"$zone/lineitem_txn"
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity", $"l_extendedprice",
          $"l_discount", $"l_returnflag")
        .repartitionByRange(8, $"l_orderkey")
        .write.format("graft").option("statsCols", "l_orderkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      TxnTable.deleteWherePos(spark, table,
        df => df("l_orderkey") % 997L === 0L)
      val q = spark.read.format("graft").load(table)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum($"l_quantity".cast("decimal(38,6)")).cast("double")
            .as("sum_qty"),
          sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast("decimal(38,6)")).cast("double").as("revenue"))
        .orderBy($"l_returnflag")
      val rows = q.collect()
      // assert on the EXECUTED plan: AQE only materializes the
      // ColumnarToRow/WholeStageCodegen wrappers per query stage, so
      // the initial-plan string cannot show them
      val plan = q.queryExecution.executedPlan.toString
      require(plan.contains("ColumnarToRow"),
        s"vector-gated scan must stay COLUMNAR (vectorized reader); " +
          s"plan:\n$plan")
      require(!plan.contains("Join") && !plan.contains("Union"),
        s"vector subtraction must stay inside the scan; plan:\n$plan")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k158Sql =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE NOT (l_orderkey % 997 = 0)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- k159
  /** SNAPSHOT TAGS end to end — the reproducibility contract a 100 TB
    * training pipeline needs: tag the corpus snapshot a model trained
    * on, keep ingesting/deleting/compacting/vacuuming, and the tagged
    * bytes stay addressable BY NAME. The workload: load a lineitem
    * subset, `SET TAG 'raw'`, append a second batch, positionally
    * delete rows, OPTIMIZE (full rewrite + checkpoint manifest), then
    * `VACUUM KEEP 0` — which reclaims all untagged history but must
    * PIN the tagged chain. Output: the same aggregate computed through
    * `tagAsOf` (must see exactly the first batch, deletes and rewrites
    * notwithstanding) and through the latest snapshot. Oracle re-derives
    * both states from the raw parquet. */
  private def k159(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k159_tags")
    try {
      val table = s"$zone/lineitem_txn"
      val li = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity")
      li.filter($"l_orderkey" % 3 === 0)
        .write.format("graft").option("statsCols", "l_orderkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      spark.sql(s"ALTER TABLE '$table' SET TAG 'raw'")
      li.filter($"l_orderkey" % 3 === 1)
        .write.format("graft").mode("append").save(table)
      TxnTable.deleteWherePos(spark, table, df => df("l_orderkey") % 5 === 0)
      spark.sql(s"OPTIMIZE '$table'")
      spark.sql(s"VACUUM '$table' KEEP 0 VERSIONS")
      def agg(df: DataFrame, state: String) =
        df.agg(count(lit(1)).cast("bigint").as("n"),
            sum($"l_quantity".cast("decimal(38,6)")).cast("double")
              .as("sum_qty"))
          .select(lit(state).as("state"), $"n", $"sum_qty")
      val tagged = spark.read.format("graft")
        .option("tagAsOf", "raw").load(table)
      val q = agg(spark.read.format("graft").load(table), "current")
        .unionByName(agg(tagged, "tagged"))
        .orderBy($"state")
      val rows = q.collect()
      val expect = li.filter($"l_orderkey" % 3 === 0).count()
      require(rows.length == 2 && rows(1).getLong(1) == expect,
        s"the tagged snapshot must still read its FULL first batch " +
          s"($expect rows) after deletes + OPTIMIZE + VACUUM KEEP 0; " +
          s"got ${rows.toSeq}")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k159Sql =
    """SELECT * FROM (
      |  SELECT 'current' AS state, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      |  FROM lineitem
      |  WHERE l_orderkey % 3 IN (0, 1) AND NOT l_orderkey % 5 = 0
      |  UNION ALL
      |  SELECT 'tagged' AS state, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      |  FROM lineitem WHERE l_orderkey % 3 = 0) s
      |ORDER BY state""".stripMargin

  // --------------------------------------------------------------- k160
  /** STORAGE-PARTITIONED JOIN under LIVE DELETION VECTORS — the bench
    * receipt for the r16 composition: k136's shuffle-free fact-to-fact
    * shape, except the left side carries a live positional vector
    * (zero-rewrite in-place delete) when the join plans. Before the
    * fix, ONE kilobyte vector forced the keyed report off and both
    * fact tables back through Exchanges until OPTIMIZE; now the gated
    * group's delegate is a GraftVecBatch (ColumnarBatch-level ordinal
    * subtraction) inside the same keyed splits. The REQUIREs pin all
    * three properties at once: a live vector exists, zero shuffles,
    * real merge join. Oracle restates the join arithmetic minus the
    * deleted keys from the raw events table. */
  private def k160(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k160_spjvec")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = s"$zone/facts"
      val right = s"$zone/enrich"
      val ev = Tables.events(spark, dir)
        .select($"event_id", $"event_type", $"value")
      // left's write+delete and right's write touch different tables —
      // the delete leg is sequential AFTER its own table's write only
      graft.ops.Par.both(spark)(
        {
          ev.write.format("graft").option("mergeOnRead", "true")
            .mode("overwrite").partitionBy("event_type").save(left)
          TxnTable.deleteWherePos(spark, left,
            df => df("event_id") % 101 === 0)
        },
        ev.select($"event_id", $"event_type", ($"value" * 2).as("value2"))
          .write.format("graft").mode("overwrite")
          .partitionBy("event_type").save(right))
      require(TxnTable.morState(spark, left,
          TxnTable.latestVersion(spark, left).get)
          .dels.nonEmpty,
        "setup: the left side must join under a LIVE vector")
      val l = spark.read.format("graft").load(left)
      val r = spark.read.format("graft").load(right)
      val agg = l.join(r, Seq("event_type", "event_id"))
        .groupBy($"event_type")
        .agg(count($"value").cast("bigint").as("n"),
          graft.ops.Num.dsum($"value" + $"value2").as("sum_v3"))
      // ONE execution — audit rows double as the result (k136 pattern)
      val rows = agg.collect()
      val fin = agg.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      require(spjShuffles(fin) == 0,
        s"a live vector must not cost the SPJ its zero-shuffle plan:\n$fin")
      require(fin.toString.contains("SortMergeJoin"),
        s"expected a real merge join in the vector-gated SPJ plan:\n$fin")
      val result = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), agg.schema).orderBy($"event_type")
      spark.createDataFrame(
        java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k160Sql =
    """SELECT event_type,
      |  CAST(COUNT(value) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value + 2 * value AS DECIMAL(38,6))) AS DOUBLE) AS sum_v3
      |FROM events WHERE NOT event_id % 101 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- k161
  /** CREATE TABLE LIKE end to end — the structure-only fork: declare a
    * constrained, partitioned source; `CREATE TABLE dst LIKE src` (one
    * manifest write at ANY source size — no files copied or
    * referenced); load a DIFFERENT slice into the fork under the
    * carried schema/constraints/partition spec; aggregate both. The
    * REQUIREs pin the structural contracts (empty at v1, constraint
    * enforced on the fork); the oracle restates both slices from the
    * raw table. */
  private def k161(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k161_like")
    try {
      val src = s"$zone/facts"
      val dst = s"$zone/fork"
      val li = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      li.filter($"l_orderkey" % 3 === 0)
        .write.format("graft").option("statsCols", "l_orderkey")
        .option("partitionBy", "l_returnflag")
        .mode("overwrite").save(src)
      TxnTable.addCheck(spark, src, "qty_pos", "l_quantity > 0")
      spark.sql(s"CREATE TABLE '$dst' LIKE '$src'")
      require(spark.read.format("graft").load(dst).count() == 0L,
        "LIKE fork must start empty")
      // a violating insert must refuse through the CARRIED constraint
      val bad = try {
        Seq((1L, -1.0, "X")).toDF("l_orderkey", "l_quantity", "l_returnflag")
          .write.format("graft").mode("append").save(dst)
        false
      } catch { case scala.util.control.NonFatal(_) => true }
      require(bad, "the carried CHECK constraint must refuse on the fork")
      li.filter($"l_orderkey" % 3 === 1)
        .write.format("graft").mode("append").save(dst)
      def agg(table: String, state: String) =
        spark.read.format("graft").load(table)
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum($"l_quantity".cast("decimal(38,6)")).cast("double")
              .as("qty"))
          .select(lit(state).as("side"), $"l_returnflag", $"n", $"qty")
      val q = agg(src, "src").unionByName(agg(dst, "fork"))
        .orderBy($"side", $"l_returnflag")
      spark.createDataFrame(
        java.util.Arrays.asList(q.collect(): _*), q.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k161Sql =
    """SELECT * FROM (
      |  SELECT 'src' AS side, l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
      |  FROM lineitem WHERE l_orderkey % 3 = 0 GROUP BY 2
      |  UNION ALL
      |  SELECT 'fork' AS side, l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
      |  FROM lineitem WHERE l_orderkey % 3 = 1 GROUP BY 2) s
      |ORDER BY side, l_returnflag""".stripMargin

  // --------------------------------------------------------------- k164
  /** WRITE-AUDIT-PUBLISH — the staging pattern production lakehouse
    * ingest runs (Iceberg WAP / Delta's staging tables) as ONE
    * machine-checked workload:
    *   1. a GOOD batch stages (invisible to readers — REQUIREd), is
    *      audited over [[TxnTable.readStaged]]'s would-be snapshot,
    *      survives a `VACUUM KEEP 0` while pending (the stage's files
    *      are pinned — REQUIREd), and publishes BY REFERENCE (no data
    *      rewrite — REQUIREd; the publish is O(metadata) at any batch
    *      size);
    *   2. a second batch stages, the auditor then tightens the CHECK
    *      set DURING the audit window, and the publish REFUSES (the
    *      audit gate is enforced at publish, not trusted from stage
    *      time — REQUIREd), so the batch aborts leaving no trace
    *      (version unchanged — REQUIREd).
    * The oracle restates the surviving content (base + published
    * batch, no aborted rows) from raw lineitem. */
  private def k164(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k164_wap")
    try {
      val t = s"$zone/facts"
      val li = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      li.filter($"l_orderkey" % 4 === 0)
        .write.format("graft").option("statsCols", "l_orderkey")
        .mode("overwrite").save(t)
      TxnTable.addCheck(spark, t, "qty_pos", "l_quantity > 0")
      val n0 = spark.read.format("graft").load(t).count()
      // ---- good batch: stage → audit → vacuum → publish
      val good = li.filter($"l_orderkey" % 4 === 1)
      val id1 = TxnTable.stageAppend(good, t, statsCols = Seq("l_orderkey"))
      require(spark.read.format("graft").load(t).count() == n0,
        "a staged batch must be invisible to readers")
      require(TxnTable.readStaged(spark, t, id1).count() ==
        n0 + good.count(), "the audit must see the would-be snapshot")
      TxnTable.vacuum(spark, t, keep = 0)
      val vPre = TxnTable.latestVersion(spark, t).get
      val before = TxnTable.snapshotFiles(spark, t, vPre).toSet
      // the auditor publishes from PURE SQL (parity with SET TAG)
      spark.sql(s"ALTER TABLE '$t' PUBLISH STAGE '$id1'").collect()
      val vPub = TxnTable.latestVersion(spark, t).get
      require(before.subsetOf(
          TxnTable.snapshotFiles(spark, t, vPub).toSet),
        "publish must carry files by reference, never rewrite")
      // ---- second batch: the audit window tightens the constraints
      val risky = li.filter($"l_orderkey" % 4 === 2)
      val id2 = TxnTable.stageAppend(risky, t)
      TxnTable.addCheck(spark, t, "small_qty", "l_quantity < 2",
        validateExisting = false)
      val refused = try { TxnTable.publishStage(spark, t, id2); false }
      catch { case _: IllegalArgumentException => true }
      require(refused,
        "a constraint added during the audit window must gate the publish")
      spark.sql(s"ALTER TABLE '$t' ABORT STAGE '$id2'").collect()
      require(TxnTable.latestVersion(spark, t).contains(vPub + 1L),
        "the refused batch must leave only the constraint commit behind")
      require(TxnTable.stagedIds(spark, t).isEmpty,
        "abort must drop the staged manifest")
      val q = spark.read.format("graft").load(t)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum($"l_quantity".cast("decimal(38,6)")).cast("double").as("qty"))
        .orderBy($"l_returnflag")
      spark.createDataFrame(
        java.util.Arrays.asList(q.collect(): _*), q.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k164Sql =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
      |FROM lineitem WHERE l_orderkey % 4 = 0 OR l_orderkey % 4 = 1
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- k165
  /** ATOMIC MULTI-BATCH PROMOTION — k164's pattern at the day scale: a
    * shift's audited micro-batches accumulate as stages and land as
    * ONE snapshot via [[TxnTable.publishStages]]. REQUIREd: the two
    * batches cost exactly one version (a reader can never observe a
    * subset of the promoted set), the pre-publish snapshot holds only
    * the base, and the files carry by reference. The oracle restates
    * base + both batches from raw lineitem. */
  private def k165(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k165_multi")
    try {
      val t = s"$zone/facts"
      val li = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      li.filter($"l_orderkey" % 4 === 0)
        .write.format("graft").option("statsCols", "l_orderkey")
        .mode("overwrite").save(t)
      val ida = TxnTable.stageAppend(li.filter($"l_orderkey" % 4 === 1),
        t, statsCols = Seq("l_orderkey"))
      val idb = TxnTable.stageAppend(li.filter($"l_orderkey" % 4 === 2),
        t, statsCols = Seq("l_orderkey"))
      val v0 = TxnTable.latestVersion(spark, t).get
      val before = TxnTable.snapshotFiles(spark, t, v0).toSet
      val v = TxnTable.publishStages(spark, t, Seq(ida, idb))
      require(v == v0 + 1L,
        "two promoted batches must cost exactly one version")
      require(before.subsetOf(TxnTable.snapshotFiles(spark, t, v).toSet),
        "atomic promotion must carry files by reference")
      require(TxnTable.stagedIds(spark, t).isEmpty,
        "published stages must drop their staged manifests")
      val q = spark.read.format("graft").load(t)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum($"l_quantity".cast("decimal(38,6)")).cast("double").as("qty"))
        .orderBy($"l_returnflag")
      spark.createDataFrame(
        java.util.Arrays.asList(q.collect(): _*), q.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k165Sql =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
      |FROM lineitem WHERE l_orderkey % 4 <> 3
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- k166
  /** WAP STAGING WITHOUT CODE CHANGE — Iceberg's `wap.id` ergonomics:
    * an ORDINARY graft write stages instead of committing when it
    * carries `.option("stageId", id)`, and pure SQL stages through
    * `INSERT INTO t STAGE 'id' SELECT …` — so an existing pipeline
    * (or a SQL-only ingest job) opts into write-audit-publish by
    * adding one option/clause, no API migration. Machine-checked:
    *   1. a STOCK `df.write.format("graft").mode("append")` with the
    *      option lands as a stage — readers see NOTHING (REQUIREd),
    *      the stage lists in `graft_stages()`;
    *   2. a RETRY of the same write (same stageId — the foreachBatch
    *      restart) re-offers the existing stage, not a duplicate
    *      (REQUIREd: still one staged manifest, and the published
    *      content carries the batch once);
    *   3. a second batch stages from PURE SQL via INSERT … STAGE,
    *      equally invisible (REQUIREd);
    *   4. both promote atomically ([[TxnTable.publishStages]] — one
    *      version, files by reference, REQUIREd).
    * The oracle restates base + both staged batches from raw
    * lineitem. */
  private def k166(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k166_wopt")
    try {
      val t = s"$zone/facts"
      val li = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      li.filter($"l_orderkey" % 4 === 0)
        .write.format("graft").option("statsCols", "l_orderkey")
        .mode("overwrite").save(t)
      val n0 = spark.read.format("graft").load(t).count()
      // 1+2: the stock writer stages, and its retry is idempotent
      val batchA = li.filter($"l_orderkey" % 4 === 1)
      def writeA(): Unit = batchA.write.format("graft")
        .option("stageId", "shift-a").option("statsCols", "l_orderkey")
        .mode("append").save(t)
      writeA()
      writeA() // the crashed-then-restarted writer's retry
      require(spark.read.format("graft").load(t).count() == n0,
        "a stageId write must be invisible until publish")
      require(TxnTable.stagedIds(spark, t) == Seq("shift-a"),
        "the retried write must re-offer ONE stage, not stage twice")
      require(spark.sql(s"SELECT * FROM graft_stages('$t')").count() == 1L,
        "the auditor's SQL listing must see the pending stage")
      // 3: pure-SQL staged ingest
      li.filter($"l_orderkey" % 4 === 2)
        .createOrReplaceTempView("graft_k166_src")
      spark.sql(s"INSERT INTO '$t' STAGE 'shift-b' " +
        "SELECT * FROM graft_k166_src").collect()
      require(spark.read.format("graft").load(t).count() == n0,
        "INSERT ... STAGE must be invisible until publish")
      require(TxnTable.stagedIds(spark, t).sorted ==
        Seq("shift-a", "shift-b"), "both spellings must be pending")
      // 4: atomic promotion
      val v0 = TxnTable.latestVersion(spark, t).get
      val before = TxnTable.snapshotFiles(spark, t, v0).toSet
      val v = TxnTable.publishStages(spark, t, Seq("shift-a", "shift-b"))
      require(v == v0 + 1L,
        "two promoted batches must cost exactly one version")
      require(before.subsetOf(TxnTable.snapshotFiles(spark, t, v).toSet),
        "promotion must carry files by reference")
      val q = spark.read.format("graft").load(t)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum($"l_quantity".cast("decimal(38,6)")).cast("double").as("qty"))
        .orderBy($"l_returnflag")
      spark.createDataFrame(
        java.util.Arrays.asList(q.collect(): _*), q.schema)
    } finally {
      spark.catalog.dropTempView("graft_k166_src")
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k166Sql =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
      |FROM lineitem WHERE l_orderkey % 4 <> 3
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- k167
  /** SHOW TAGS / graft_tags() — the release auditor's tag listing,
    * SQL-parity with SHOW STAGES (k164): tags were settable and
    * readable from SQL (k162) but only listable via SHOW
    * TBLPROPERTIES' raw `graft.tag.*` rows. The workload pins the
    * listing against LIVE reads: three commits, two surviving tags
    * (one pinned explicitly below the head, one at the head), a set-
    * then-dropped tag that must NOT list, and per-tag `tagAsOf` row
    * counts — the oracle restates names, pinned versions, and counts
    * from raw lineitem. */
  private def k167(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k167_tags")
    try {
      val t = s"$zone/facts"
      val li = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity")
      li.filter($"l_orderkey" % 3 === 0)
        .write.format("graft").option("statsCols", "l_orderkey")
        .mode("overwrite").save(t)
      li.filter($"l_orderkey" % 3 === 1)
        .write.format("graft").mode("append").save(t)
      li.filter($"l_orderkey" % 3 === 2)
        .write.format("graft").mode("append").save(t)
      spark.sql(s"ALTER TABLE '$t' SET TAG 'raw' VERSION AS OF 1")
      spark.sql(s"ALTER TABLE '$t' SET TAG 'full' VERSION AS OF 3")
      spark.sql(s"ALTER TABLE '$t' SET TAG 'tmp'")
      spark.sql(s"ALTER TABLE '$t' DROP TAG 'tmp'")
      val shown = spark.sql(s"SHOW TAGS ON '$t'")
        .as[(String, Long)].collect().toSeq.sorted
      val fn = spark.sql(s"SELECT * FROM graft_tags('$t')")
        .as[(String, Long)].collect().toSeq.sorted
      require(shown == fn,
        "SHOW TAGS and graft_tags() must list the same rows")
      require(!shown.exists(_._1 == "tmp"),
        "a dropped tag must not list")
      val rows = shown.map { case (name, v) =>
        (name, v, spark.read.format("graft").option("tagAsOf", name)
          .load(t).count())
      }
      rows.toDF("tag_name", "version", "n_rows")
        .orderBy($"tag_name")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k167Sql =
    """SELECT 'full' AS tag_name, CAST(3 AS BIGINT) AS version,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows
      |UNION ALL
      |SELECT 'raw', CAST(1 AS BIGINT),
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
      |   WHERE l_orderkey % 3 = 0)
      |ORDER BY tag_name""".stripMargin

  // --------------------------------------------------------------- k162
  /** TAGGED TIME TRAVEL FROM PURE SQL — `SELECT ... FROM t VERSION AS
    * OF 'release-tag'`: the k159 reproducibility pin consumable
    * without the DataFrame API (`plans/GraftTimeTravel.scala` and the
    * catalog's `loadTable(ident, version)` both resolve a non-numeric
    * version through the tag map). The adversarial part: after SET
    * TAG, the table takes an append, a SQL DELETE, OPTIMIZE, and
    * `VACUUM KEEP 0` — so the tagged version sits BELOW the contiguous
    * retention floor (REQUIREd: its successor version is gone) and
    * the SQL read must still see exactly the first batch. REQUIREd
    * too: the SQL spelling agrees with `option("tagAsOf", ...)`.
    * Oracle re-derives both states from raw lineitem. */
  private def k162(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k162_tagsql")
    try {
      val table = s"$zone/lineitem_txn"
      val li = Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity")
      li.filter($"l_orderkey" % 3 === 0)
        .write.format("graft").option("statsCols", "l_orderkey")
        .option("mergeOnRead", "true").mode("overwrite").save(table)
      spark.sql(s"CREATE TABLE graft_k162_t USING graft OPTIONS (path '$table')")
      try {
        spark.sql(s"ALTER TABLE '$table' SET TAG 'release-1'")
        li.filter($"l_orderkey" % 3 === 1)
          .write.format("graft").mode("append").save(table)
        spark.sql("DELETE FROM graft_k162_t WHERE l_orderkey % 5 = 0")
        spark.sql(s"OPTIMIZE '$table'")
        spark.sql(s"VACUUM '$table' KEEP 0 VERSIONS")
        val tagV = TxnTable.tags(spark, table)("release-1")
        val retained = TxnTable.versions(spark, table)
        require(retained.contains(tagV) && !retained.contains(tagV + 1L),
          s"the tagged version must survive BELOW the contiguous floor " +
            s"(tag@v$tagV, retained=$retained)")
        def agg(df: DataFrame, state: String) =
          df.agg(count(lit(1)).cast("bigint").as("n"),
              sum($"l_quantity".cast("decimal(38,6)")).cast("double")
                .as("sum_qty"))
            .select(lit(state).as("state"), $"n", $"sum_qty")
        val taggedSql =
          spark.sql("SELECT * FROM graft_k162_t VERSION AS OF 'release-1'")
        val taggedOpt = spark.read.format("graft")
          .option("tagAsOf", "release-1").load(table)
        require(agg(taggedSql, "x").collect().toSeq ==
          agg(taggedOpt, "x").collect().toSeq,
          "SQL VERSION AS OF '<tag>' must agree with option(tagAsOf)")
        val q = agg(spark.sql("SELECT * FROM graft_k162_t"), "current")
          .unionByName(agg(taggedSql, "tagged"))
          .orderBy($"state")
        val rows = q.collect()
        val expect = li.filter($"l_orderkey" % 3 === 0).count()
        require(rows.length == 2 && rows(1).getLong(1) == expect,
          s"SQL tagged read must see its FULL first batch ($expect rows) " +
            s"after delete + OPTIMIZE + VACUUM; got ${rows.toSeq}")
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
      } finally spark.sql("DROP TABLE graft_k162_t")
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private val k162Sql =
    """SELECT * FROM (
      |  SELECT 'current' AS state, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      |  FROM lineitem
      |  WHERE l_orderkey % 3 IN (0, 1) AND NOT l_orderkey % 5 = 0
      |  UNION ALL
      |  SELECT 'tagged' AS state, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      |  FROM lineitem WHERE l_orderkey % 3 = 0) s
      |ORDER BY state""".stripMargin

  // --------------------------------------------------------------- k163
  /** TIME-BASED HISTORY RETENTION — `VACUUM … RETAIN n HOURS` now
    * retains below-floor MANIFESTS committed within the window (plus
    * their chain bases), Delta's logRetentionDuration analogue: time
    * travel over the last n hours is guaranteed no matter how
    * aggressive the KEEP count, and tagging any version younger than
    * the window can never race a vacuum. The workload: overwrite (v1)
    * → append (v2) → positional delete (v3) → OVERWRITE (v4, a full
    * manifest, so v1-v3 sit strictly below the keep-0 floor). `VACUUM
    * RETAIN 1000 HOURS KEEP 0 VERSIONS` must keep v1-v3 readable
    * (REQUIREd: a below-floor read works, and a retain-0 DRY RUN
    * proves age is the ONLY thing pinning them); a final retain-0
    * vacuum must reap them (REQUIREd). Output: the v1/v2/v3 stage
    * aggregates read back BETWEEN the two vacuums, plus the final
    * state — the oracle replays all four stages from raw customer. */
  private def k163(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zone = tmpZone("graft_k163_hist")
    try {
      val table = s"$zone/cust_txn"
      val cust = Tables.customer(spark, dir)
        .select($"c_custkey", $"c_acctbal")
      TxnTable.commitOverwrite(cust.filter($"c_custkey" % 2 === 0), table,
        statsCols = Seq("c_custkey"))
      TxnTable.commitAppend(cust.filter($"c_custkey" % 2 === 1), table,
        statsCols = Seq("c_custkey"))
      TxnTable.deleteWherePos(spark, table, df => df("c_custkey") % 3 === 1)
      TxnTable.commitOverwrite(cust.filter($"c_custkey" <= 100), table,
        statsCols = Seq("c_custkey"))
      spark.sql(s"VACUUM '$table' RETAIN 1000 HOURS KEEP 0 VERSIONS")
      // v1-v3 are BELOW the keep-0 floor (v4 overwrote) — only the
      // retention window keeps them; a retain-0 dry run must list them
      val reclaimable = TxnTable.vacuumDryRun(spark, table, keep = 0)
      require((1L to 3L).forall(v =>
          reclaimable.contains(f"_v$v%05d.manifest")),
        s"v1-v3 must be reclaimable by AGE only; dry run: $reclaimable")
      def agg(df: DataFrame, stage: String): DataFrame =
        df.agg(count(lit(1)).cast("bigint").as("n"),
            graft.ops.Num.dsum($"c_acctbal").as("sum_bal"))
          .select(lit(stage).as("stage"), $"n", $"sum_bal")
      def at(v: Long): DataFrame = spark.read.format("graft")
        .option("versionAsOf", v.toString).load(table)
      val result = agg(at(1L), "v1")
        .unionAll(agg(at(2L), "v2"))
        .unionAll(agg(at(3L), "v3"))
        .unionAll(agg(spark.read.format("graft").load(table), "v4"))
        .orderBy($"stage")
      val rows = result.collect()
      spark.sql(s"VACUUM '$table' KEEP 0 VERSIONS")
      val kept = TxnTable.versions(spark, table)
      require(!kept.exists(_ < 4L),
        s"a retain-0 vacuum must reap the aged history, kept: $kept")
      require(!fcExists(spark, s"$table/_v00001.manifest"),
        "v1's manifest must be reaped once outside the window")
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), result.schema)
    } finally {
      graft.io.Tables.deleteTree(new java.io.File(zone))
    }
  }
  private def fcExists(spark: SparkSession, p: String): Boolean =
    new java.io.File(p).exists()
  private val k163Sql =
    """WITH stages AS (
      |  SELECT 'v1' AS stage, c_acctbal FROM customer WHERE c_custkey % 2 = 0
      |  UNION ALL SELECT 'v2', c_acctbal FROM customer
      |  UNION ALL SELECT 'v3', c_acctbal FROM customer
      |    WHERE NOT (c_custkey % 3 = 1)
      |  UNION ALL SELECT 'v4', c_acctbal FROM customer WHERE c_custkey <= 100)
      |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
      |FROM stages GROUP BY stage ORDER BY stage""".stripMargin

  val all: Seq[RQ] = Seq(
    RQ("k80_csv_roundtrip", k80, Some(k80Sql)),
    RQ("k81_json_roundtrip", k81, Some(k81Sql)),
    RQ("k82_file_lineage", k82, Some(k82Sql)),
    RQ("k83_txn_sink", k83, Some(k83Sql)),
    RQ("k84_schema_evolution", k84, Some(k84Sql)),
    RQ("k85_txn_concurrent", k85, Some(k85Sql)),
    RQ("k86_partition_pruning", k86, Some(k86Sql)),
    RQ("k87_txn_incremental", k87, Some(k87Sql)),
    RQ("k88_incremental_matview", k88, Some(k88Sql)),
    RQ("k89_txn_data_skipping", k89, Some(k89Sql)),
    RQ("k90_txn_merge", k90, Some(k90Sql)),
    RQ("k91_txn_delete", k91, Some(k91Sql)),
    RQ("k92_zorder_skipping", k92, Some(k92Sql)),
    RQ("k93_txn_delete_nulls", k93, Some(k93Sql)),
    RQ("k94_txn_merge_evolve", k94, Some(k94Sql)),
    RQ("k95_dsv2_skipping", k95, Some(k95Sql)),
    RQ("k96_typed_skipping", k96, Some(k96Sql)),
    RQ("k97_bloom_point_lookup", k97, Some(k97Sql)),
    RQ("k98_bloom_point_delete", k98, Some(k98Sql)),
    RQ("k99_txn_restore", k99, Some(k99Sql)),
    RQ("k100_dsv2_write", k100, Some(k100Sql)),
    RQ("k101_agg_pushdown", k101, Some(k101Sql)),
    RQ("k102_group_agg_pushdown", k102, Some(k102Sql)),
    RQ("k103_txn_history", k103, Some(k103Sql)),
    RQ("k104_compact_small", k104, Some(k104Sql)),
    RQ("k105_metadata_profile", k105, Some(k105Sql)),
    // k106/k108 carry the bench flag: the DML path (SQL UPDATE's
    // file-surgical copy-on-write) and the partitioned-write path are
    // timed per round — a perf regression in either is otherwise
    // invisible to the headline set
    RQ("k106_sql_update", k106, Some(k106Sql), bench = true),
    RQ("k107_sql_merge_into", k107, Some(k107Sql)),
    RQ("k108_partitioned_write", k108, Some(k108Sql), bench = true),
    RQ("k109_partition_filter_agg", k109, Some(k109Sql)),
    RQ("k110_sql_delete_any", k110, Some(k110Sql)),
    RQ("k111_vacuum_retention", k111, Some(k111Sql)),
    RQ("k112_sql_time_travel", k112, Some(k112Sql)),
    RQ("k113_sql_merge_evolve", k113, Some(k113Sql)),
    RQ("k114_days_partitioning", k114, Some(k114Sql)),
    RQ("k115_sql_change_feed", k115, Some(k115Sql)),
    RQ("k116_mor_delete", k116, Some(k116Sql)),
    RQ("k117_mor_optimize", k117, Some(k117Sql)),
    RQ("k118_mor_update", k118, Some(k118Sql)),
    RQ("k119_mor_merge", k119, Some(k119Sql)),
    RQ("k120_alter_columns", k120, Some(k120Sql)),
    RQ("k121_check_constraints", k121, Some(k121Sql)),
    RQ("k122_copy_into", k122, Some(k122Sql)),
    RQ("k123_mor_read", k123, Some(k123Sql), bench = true),
    RQ("k124_shallow_clone", k124, Some(k124Sql)),
    RQ("k125_replace_where", k125, Some(k125Sql)),
    RQ("k126_sql_zorder", k126, Some(k126Sql)),
    RQ("k127_convert_in_place", k127, Some(k127Sql)),
    RQ("k128_optimize_where", k128, Some(k128Sql)),
    RQ("k129_merge_multiclause", k129, Some(k129Sql)),
    RQ("k130_vacuum_dry_run", k130, Some(k130Sql)),
    RQ("k131_zorder_where", k131, Some(k131Sql)),
    RQ("k132_generated_columns", k132, Some(k132Sql)),
    RQ("k133_identity_columns", k133, Some(k133Sql)),
    RQ("k134_partition_evolution", k134, Some(k134Sql)),
    RQ("k135_sql_catalog", k135, Some(k135Sql)),
    RQ("k136_storage_partitioned_join", k136, Some(k136Sql), bench = true),
    RQ("k137_runtime_file_pruning", k137, Some(k137Sql)),
    RQ("k138_bucketed_spj", k138, Some(k138Sql)),
    RQ("k139_generated_partition_spj", k139, Some(k139Sql)),
    RQ("k140_pos_delete_vectors", k140, Some(k140Sql)),
    RQ("k141_show_partitions", k141, Some(k141Sql)),
    RQ("k142_analyze_cbo_stats", k142, Some(k142Sql)),
    RQ("k143_pos_update", k143, Some(k143Sql)),
    RQ("k144_reorg_purge", k144, Some(k144Sql)),
    RQ("k145_column_defaults", k145, Some(k145Sql)),
    RQ("k146_create_or_replace", k146, Some(k146Sql)),
    RQ("k147_tblproperties", k147, Some(k147Sql)),
    RQ("k148_type_widening", k148, Some(k148Sql)),
    RQ("k149_positional_delete_mode", k149, Some(k149Sql)),
    RQ("k150_partition_evolution", k150, Some(k150Sql)),
    RQ("k151_nested_evolution", k151, Some(k151Sql)),
    RQ("k152_nested_skipping", k152, Some(k152Sql)),
    RQ("k153_snapshot_diff", k153, Some(k153Sql)),
    RQ("k154_merge_identity", k154, Some(k154Sql)),
    RQ("k155_field_id_mapping", k155, Some(k155Sql)),
    RQ("k156_deep_clone", k156, Some(k156Sql)),
    RQ("k157_nested_defaults", k157, Some(k157Sql)),
    RQ("k158_vector_scan_columnar", k158, Some(k158Sql), bench = true),
    RQ("k159_snapshot_tags", k159, Some(k159Sql)),
    RQ("k160_spj_under_vectors", k160, Some(k160Sql), bench = true),
    RQ("k161_create_like", k161, Some(k161Sql)),
    RQ("k162_sql_tag_travel", k162, Some(k162Sql)),
    RQ("k163_history_retention", k163, Some(k163Sql)),
    RQ("k164_wap_publish", k164, Some(k164Sql)),
    RQ("k165_wap_atomic_multi", k165, Some(k165Sql)),
    RQ("k166_wap_writer_option", k166, Some(k166Sql)),
    RQ("k167_show_tags", k167, Some(k167Sql)))
}
