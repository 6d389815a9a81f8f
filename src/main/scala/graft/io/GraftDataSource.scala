package graft.io

import java.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 surface for [[TxnTable]]: `spark.read.format("graft")
  * .load(tablePath)` — and therefore plain SQL over a temp view — gets
  * manifest-stats FILE SKIPPING automatically, instead of only through
  * the blessed `TxnTable.readRange` API. This is what the reference's
  * shipped-but-unused Delta jar represents (ref
  * `spark/jars/delta-core_2.12-0.7.0.jar`, SURVEY.md §1.3): a table
  * format whose planning consults the commit log, not the filesystem.
  *
  * Division of labour (Spark-first): this class only decides WHICH
  * files a query must read — snapshot pinning at planning time, filter
  * → min/max overlap pruning, column pruning — and then hands the
  * chosen files to Spark's own vectorized `ParquetScan` (via
  * GraftBridge), so execution inherits whole-stage codegen, nested
  * schema pruning, and row-group skipping for free.
  *
  * Filter contract: pushed filters drive file skipping, and stay
  * residual UNLESS the manifest PROVES every surviving file fully
  * matches (StatsPruner.mustMatch — the partition-filter shape), in
  * which case the filter is claimed and metadata-only aggregates stay
  * available under the WHERE. Skipping is sound for NULL-laden files
  * because a range/equality predicate on the stats column can never
  * select a NULL row anyway.
  *
  * Full surface reached through this provider:
  *   - reads: file/bloom skipping, metadata-only aggregates (also
  *     partition-filtered), `versionAsOf`/`timestampAsOf` snapshot
  *     pinning (default pins latest once at planning — a long query
  *     never sees a torn snapshot)
  *   - writes: append/overwrite (+ idempotent via txnAppId/txnVersion),
  *     `partitionBy(...)` partition-value file groups (sticky across
  *     later writes), statsCols/bloomCols skipping metadata
  *   - SQL: SELECT/INSERT [OVERWRITE]/DELETE (metadata shapes via
  *     SupportsDelete, arbitrary predicates via the copy-on-write
  *     lowering)/TRUNCATE, plus UPDATE and MERGE INTO through
  *     GraftDmlRewrite (spark.sql.extensions)
  *   - streaming: source over the commit log (maxVersionsPerTrigger
  *     admission, skipChangeCommits maintenance escape hatch) and the
  *     exactly-once sink (per-microbatch idempotent commits,
  *     partitionBy honored)
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with StreamSinkProvider {
  override def shortName(): String = "graft"

  /** NATIVE STREAMING SINK: `writeStream.format("graft").start(path)` —
    * every microbatch lands as ONE atomic, idempotent append commit
    * (appId defaults to the query's checkpointLocation, so a restarted
    * stream re-offering a batch is a no-op: exactly-once without
    * foreachBatch). DataStreamWriter reaches this V1 seam because the
    * graft Table does not advertise STREAMING_WRITE — the same fallback
    * Delta's sink rides. Append mode only: a transactional log of
    * immutable files has no in-place update to express.
    *
    * The replay identity MUST be explicit: without a `txnAppId` or a
    * per-query `checkpointLocation` OPTION, two distinct queries writing
    * the same table (each checkpointing via the session-conf default
    * location) would share one appId, both start batchId at 0, and the
    * second query's early batches would be silently swallowed as
    * replays. Fail at sink construction, not with data loss later. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft streaming sink supports Append output mode, got $outputMode")
    val table = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft streaming sink requires a table path"))
    require(parameters.contains("txnAppId") || parameters.contains("checkpointLocation"),
      "graft streaming sink needs a stable replay identity: set " +
        ".option(\"txnAppId\", ...) or .option(\"checkpointLocation\", ...) on the " +
        "writer (a session-conf default checkpoint dir is NOT per-query and would " +
        "make two queries writing this table drop each other's batches as replays)")
    // writeStream.partitionBy(...) arrives here: the first microbatch
    // records it, later batches conform via the sticky table partitioning
    new GraftStreamSink(table, parameters, partitionColumns)
  }

  private def tablePath(options: util.Map[String, String]): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft format requires a table path: spark.read.format(\"graft\").load(path)")
    p
  }

  /** Snapshot pinning: `versionAsOf` (a version number),
    * `timestampAsOf` (epoch millis, or "yyyy-MM-dd[ HH:mm:ss]" UTC), or
    * `tagAsOf` (a named tag, resolved through the LATEST snapshot's tag
    * map — see TxnTable.setTag) — mutually exclusive; default latest. */
  private def pinnedVersion(spark: SparkSession, table: String,
                            options: util.Map[String, String]): Option[Long] = {
    val byVersion = Option(options.get("versionAsOf")).map(_.toLong)
    val byTime = Option(options.get("timestampAsOf"))
    val byTag = Option(options.get("tagAsOf"))
    require(Seq(byVersion, byTime, byTag).count(_.isDefined) <= 1,
      "versionAsOf, timestampAsOf and tagAsOf are mutually exclusive")
    byVersion
      .orElse(byTag.map { name =>
        TxnTable.tags(spark, table).getOrElse(name,
          throw new IllegalStateException(
            s"$table has no tag '$name' — see SHOW TBLPROPERTIES " +
              "(tags live under graft.tag.*)"))
      })
      .orElse(byTime.map { raw =>
        TxnTable.versionAt(spark, table, TxnTable.parseUtcMillis(raw))
          .getOrElse(throw new IllegalStateException(
            s"$table has no version committed at or before $raw"))
      })
      .orElse(TxnTable.latestVersion(spark, table))
  }

  /** A table with no committed version yet infers an EMPTY schema (not
    * an error): a WRITE to a fresh path must be able to get a Table
    * handle — the first commit records the real schema. A read of the
    * empty schema fails at scan build with the no-manifest message. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val table = tablePath(options)
    pinnedVersion(spark, table, options) match {
      case None => new StructType()
      case Some(v) =>
        val snap = TxnTable.snapshotSchema(spark, table, v).getOrElse(
          throw new IllegalStateException(
            s"$table@v$v predates the schema log — unreadable through format(\"graft\")"))
        // change-data-feed reads surface the table rows PLUS the feed
        // columns (_change_type, _commit_version)
        if (GraftCdc.isFeed(options)) GraftCdc.feedSchema(snap) else snap
    }
  }

  // TRUE so DataFrameWriter hands `partitionBy(...)` through as identity
  // Transforms in getTable (the provider otherwise never sees them) —
  // and so reads may supply an explicit schema.
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val spark = SparkSession.active
    val table = tablePath(properties)
    val partCols = partitioning.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head
      // days/hours/months/years(ts): time-bucketed files; recorded as a
      // `<transform>(c)` entry (TxnTable.partSource) — the option
      // spelling `.option("partitionBy", "days(ts)")` reaches
      // commitAppend directly, this arm covers real Transform objects
      case t if TxnTable.PartTransformNames.contains(t.name) &&
          t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        s"${t.name}(${t.references.head.fieldNames.head})"
      case other => throw new UnsupportedOperationException(
        "graft tables support identity and days/hours/months/years() " +
          s"partitioning, got $other")
    }
    new GraftTable(table,
      pinnedVersion(spark, table, properties).getOrElse(0L), schema, partCols)
  }
}

/** The microbatch half of the streaming sink: each addBatch is one
  * idempotent CAS commit keyed by (appId, batchId). The incoming frame
  * is the microbatch's incremental execution — it is materialized
  * through toRdd + internalCreateDataFrame (the standard streaming-sink
  * pattern) so the commit path can run fresh batch queries (stats
  * collection, read-back) over it. */
private[io] class GraftStreamSink(table: String, parameters: Map[String, String],
    partitionCols: Seq[String] = Nil)
    extends org.apache.spark.sql.execution.streaming.Sink {
  private def cols(k: String): Seq[String] =
    parameters.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  // stable across restarts: explicit option first, else the query's
  // checkpoint location (the identity Spark itself resumes by);
  // createSink guarantees one of the two is present
  private val appId = parameters.get("txnAppId")
    .orElse(parameters.get("checkpointLocation"))
    .getOrElse(throw new IllegalArgumentException(
      "graft streaming sink requires txnAppId or checkpointLocation"))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val rows = data.queryExecution.toRdd.map(_.copy())
    val batchDf = org.apache.spark.sql.GraftBridge
      .internalCreateDataFrame(spark, rows, data.schema)
    TxnTable.commitAppendIdempotent(batchDf, table, appId, batchId,
      statsCols = cols("statsCols"), bloomCols = cols("bloomCols"),
      partitionCols = partitionCols,
      cdf = parameters.get("enableChangeFeed").map(_.toBoolean))
    ()
  }
  override def toString: String = s"GraftSink[$table]"
}

private[graft] class GraftTable(table: String, version: Long,
    tableSchema: StructType, writePartCols: Seq[String] = Nil)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** The filesystem table path — what the SQL DML rewrite (graft.plans
    * .GraftDmlRewrite) hands to the TxnTable copy-on-write commit. */
  def tablePath: String = table

  /** The snapshot's table properties (`#prop=` manifest lines), served
    * through the connector API so `SHOW TBLPROPERTIES g.db.t` /
    * DESCRIBE EXTENDED surface them. Lazy: one manifest-chain read per
    * Table instance, and only if someone asks. */
  private lazy val props0: java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    try TxnTable.tableProperties(SparkSession.active, table, Some(version))
      .foreach { case (k, v) => m.put(k, v) }
    catch { case scala.util.control.NonFatal(_) => () }
    m
  }
  override def properties(): java.util.Map[String, String] = props0

  /** Declared partitioning: the writer-supplied transforms if any, else
    * the snapshot's recorded partition columns (sticky). */
  override def partitioning(): Array[Transform] = {
    val cols =
      if (writePartCols.nonEmpty) writePartCols
      else TxnTable.partitionColumns(SparkSession.active, table)
    import org.apache.spark.sql.connector.expressions.Expressions
    cols.map {
      case TxnTable.BucketEntry(n, c) => Expressions.bucket(n, c)
      case e if TxnTable.partSource(e) != e => // days(c)/hours(c)/…
        Expressions.apply(e.takeWhile(_ != '('),
          Expressions.column(TxnTable.partSource(e)))
      case c => Expressions.identity(c)
    }.toArray
  }

  /** SQL `DELETE FROM` mapped onto the metadata-gated delete
    * primitives — a point delete (`WHERE k = v`: stats + bloom prune
    * the rewrite set) or a closed-range delete (`WHERE k BETWEEN lo
    * AND hi`: fully-covered files drop as pure metadata). Only shapes
    * those primitives implement EXACTLY are accepted — strict bounds,
    * IS NULL, multi-column predicates make canDeleteWhere false and
    * the statement fails analysis rather than deleting wrong rows.
    * (SQL DELETE semantics on NULL keys — retained — are the
    * primitives' own contract, k91/k93.) */
  private def deletePlan(filters: Array[Filter]): Option[() => Unit] = {
    val spark = SparkSession.active
    filters.toSeq match {
      case Seq(EqualTo(c, v)) if v != null =>
        Some(() => { TxnTable.deleteEquals(spark, table, c, v); () })
      case Seq(GreaterThanOrEqual(c1, lo), LessThanOrEqual(c2, hi))
          if c1 == c2 && lo != null && hi != null =>
        Some(() => { TxnTable.deleteRangeOn(spark, table, c1, lo, hi); () })
      case Seq(LessThanOrEqual(c2, hi), GreaterThanOrEqual(c1, lo))
          if c1 == c2 && lo != null && hi != null =>
        Some(() => { TxnTable.deleteRangeOn(spark, table, c1, lo, hi); () })
      case Seq(And(GreaterThanOrEqual(c1, lo), LessThanOrEqual(c2, hi)))
          if c1 == c2 && lo != null && hi != null =>
        Some(() => { TxnTable.deleteRangeOn(spark, table, c1, lo, hi); () })
      case _ => None
    }
  }
  /** This handle's pinned snapshot version (what the delete-applying
    * read rewrite re-pins its sub-scans to). */
  private[graft] def pinnedVersion: Long = version

  /** Live merge-on-read delete metadata of the pinned snapshot — what
    * graft.plans.GraftApplyDeletes decides and plans the read-time
    * subtraction from. Resolved once per handle. */
  private[graft] lazy val morMeta: TxnTable.MorState =
    if (version == 0L) TxnTable.MorState(Nil, Map.empty, Nil)
    else TxnTable.morState(SparkSession.active, table, version)

  // with live equality deletes the metadata delete path is off: a
  // whole-file drop is still content-correct, but its lazy #cdcdel
  // change records would re-report rows the deletes already removed.
  // The SQL DELETE lowering routes merge-on-read tables before this
  // is consulted; the guard protects direct DSv2 users.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deletePlan(filters).isDefined && morMeta.dels.isEmpty
  override def deleteWhere(filters: Array[Filter]): Unit =
    deletePlan(filters).getOrElse(throw new UnsupportedOperationException(
      s"DELETE shape not expressible as a point or closed-range delete: " +
        filters.mkString(", "))).apply()

  /** SQL `TRUNCATE TABLE`: one empty overwrite commit — the schema and
    * history survive (time travel to the pre-truncate version still
    * works until vacuum), zero data bytes move. */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    val schema = TxnTable.latestVersion(spark, table)
      .flatMap(v => TxnTable.snapshotSchema(spark, table, v))
      .getOrElse(tableSchema)
    TxnTable.commitOverwrite(
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema),
      table)
    true
  }
  override def name(): String = s"graft.`$table`@v$version"
  override def schema(): StructType = tableSchema
  // ACCEPT_ANY_SCHEMA hands write-schema validation to TxnTable.commit's
  // mergeSchemas fail-fast: a COMPATIBLE evolved frame (added column)
  // appends and evolves the schema log — graft-native semantics that
  // Spark's by-name output resolution would reject — while an
  // incompatible one still fails before any data lands.
  // BATCH_WRITE is what DataFrameWriter.save's DSv2 gate checks;
  // V1_BATCH_WRITE is what lets the planner accept the V1Write the
  // builder actually produces — both are required for the save() path.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA,
      TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, table, version, tableSchema, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(table, info, writePartCols, tableSchema)
}

/** DSv2 WRITE path: `df.write.format("graft").mode("append"|"overwrite")
  * .save(path)` commits through the same CAS manifest protocol as the
  * Scala API — V1Write is the bridge (the same fallback Delta rides):
  * planning stays DSv2, the data path hands the fully-analyzed frame to
  * TxnTable, which keeps parquet writing distributed and the commit one
  * atomic manifest publish. Options: `statsCols`/`bloomCols` (comma-
  * separated) designate skipping metadata; `txnAppId`+`txnVersion` make
  * the write idempotent per (appId, batchId) — a replayed save() is a
  * no-op, the foreachBatch restart contract. */
private[io] class GraftWriteBuilder(table: String, info: LogicalWriteInfo,
    tablePartCols: Seq[String] = Nil,
    declaredSchema: StructType = new StructType())
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var overwrite = false
  private var overwriteFilters: Array[Filter] = Array.empty
  override def truncate(): WriteBuilder = { overwrite = true; this }
  /** SQL `INSERT OVERWRITE t PARTITION (p = 'x')` plans an
    * OverwriteByExpression whose filters land here: a single provable
    * equality/range routes to the scoped-overwrite primitive
    * (TxnTable.replaceValues / replaceRange — same machinery as the
    * writer option),
    * AlwaysTrue is the whole-table overwrite, anything else refuses
    * loudly rather than overwriting the wrong rows. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    overwrite = true
    overwriteFilters = filters.filterNot(
      _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwriteIgnored: Boolean): Unit = {
        def cols(key: String): Seq[String] =
          Option(info.options.get(key)).toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val statsCols = cols("statsCols")
        val bloomCols = cols("bloomCols")
        // `.partitionBy(...)` arrives as identity transforms on the
        // Table; `.option("partitionBy", "a,b")` is the spelling for
        // APIs that cannot thread transforms. Either re-partitions on
        // overwrite; absent, the commit keeps the table's recorded
        // partitioning (sticky). Paren-aware split: `bucket(4,k)` is
        // ONE entry whose inner comma must not break it in two.
        val partitionCols =
          if (tablePartCols.nonEmpty) tablePartCols
          else Option(info.options.get("partitionBy")).toSeq
            .flatMap(TxnTable.splitTopLevel)
        // ACCEPT_ANY_SCHEMA suppresses Spark's output resolution, so
        // positional writes (SQL `INSERT INTO t VALUES ...`) must be
        // aligned here. Positional intent is accepted ONLY for Spark's
        // own synthetic inline-table names (col1, col2, ...) — a frame
        // with real-but-renamed columns is ambiguous (rename+cast could
        // silently mis-map a reordered frame), so it FAILS analysis
        // with a by-name instruction instead of guessing. Any name
        // overlap = by-name intent → pass through (an extra column is
        // schema evolution; the commit's mergeSchemas validates it).
        val spark = data.sparkSession
        // target schema: the committed manifest's, or — for the FIRST
        // insert into a catalog table with a declared schema (CREATE
        // TABLE ... USING graft, no data yet) — the declaration; a
        // positional VALUES frame must align to it or the parquet
        // would land col1/col2 names the declared read schema nulls out
        val committed = TxnTable.latestVersion(spark, table)
          .flatMap(v => TxnTable.snapshotSchema(spark, table, v))
          .orElse(if (declaredSchema.nonEmpty) Some(declaredSchema) else None)
        val aligned = committed match {
          case Some(ts) if data.columns.length == ts.length &&
              data.columns.exists(_.matches("col\\d+")) &&
              data.columns.forall(n =>
                n.matches("col\\d+") || ts.fieldNames.contains(n)) =>
            // positional VALUES frame — possibly MIXED with real names
            // (INSERT OVERWRITE ... PARTITION (p='x') VALUES (...) hands
            // back synthetic col1/col2 plus the cast partition column):
            // named columns keep their slot, synthetic colN fill the
            // remaining schema fields in declaration order
            val remaining =
              ts.fields.filterNot(f => data.columns.contains(f.name)).iterator
            val renamed = data.columns.map(n =>
              if (ts.fieldNames.contains(n)) n else remaining.next().name)
            data.toDF(renamed.toIndexedSeq: _*)
              .select(ts.fields.toIndexedSeq.map(f =>
                org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)
          case Some(ts)
              if !data.columns.exists(ts.fieldNames.contains) &&
                data.columns.length == ts.length =>
            // real-but-renamed columns sharing no name: ambiguous —
            // rename+cast could silently mis-map a reordered frame
            throw new IllegalArgumentException(
              s"cannot align write to $table: incoming columns " +
                s"[${data.columns.mkString(", ")}] share no name with the " +
                s"committed schema [${ts.fieldNames.mkString(", ")}]; rename " +
                "the frame's columns to the table's (positional mapping is " +
                "only inferred for synthetic col1/col2/... INSERT names)")
          case _ => data
        }
        // STORE-ASSIGNMENT coercion for by-name frames (ACCEPT_ANY_SCHEMA
        // suppressed Spark's): a column sharing its name with a committed
        // field but carrying a type the schema merge would REFUSE (e.g. a
        // DECIMAL literal into a DOUBLE column — SQL INSERT VALUES) casts
        // to the committed type. Types the merge can promote (int→long)
        // are left alone: that is graft's documented schema evolution.
        val coerced = committed match {
          case Some(ts) =>
            val target = ts.fields.map(f => f.name -> f.dataType).toMap
            def mergeable(from: org.apache.spark.sql.types.DataType,
                          to: org.apache.spark.sql.types.DataType): Boolean =
              try {
                org.apache.spark.sql.GraftBridge.mergeSchemas(
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("x", to))),
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("x", from))))
                true
              } catch { case _: Exception => false }
            val needsCast = aligned.schema.fields.exists(f =>
              target.get(f.name).exists(to => to != f.dataType &&
                !mergeable(f.dataType, to) &&
                org.apache.spark.sql.catalyst.expressions.Cast
                  .canANSIStoreAssign(f.dataType, to)))
            if (!needsCast) aligned
            else aligned.select(aligned.schema.fields.toIndexedSeq.map { f =>
              target.get(f.name) match {
                case Some(to) if to != f.dataType &&
                    !mergeable(f.dataType, to) &&
                    org.apache.spark.sql.catalyst.expressions.Cast
                      .canANSIStoreAssign(f.dataType, to) =>
                  org.apache.spark.sql.functions.col(f.name).cast(to).as(f.name)
                case _ => org.apache.spark.sql.functions.col(f.name)
              }
            }: _*)
          case None => aligned
        }
        // FIELD-ID creation via the catalog: a CTAS into a table
        // declared with columnMapping 'id' has no committed snapshot
        // yet — the DECLARED schema's ids stamp the first write so
        // TxnTable.commit detects the mode (later writes re-stamp from
        // the committed snapshot inside commit/writeData themselves)
        val coerced1 = committed.filter(FieldIds.hasIds)
          .map(FieldIds.stamp(coerced, _)).getOrElse(coerced)
        val txn = (Option(info.options.get("txnAppId")),
          Option(info.options.get("txnVersion"))) match {
          case (Some(a), Some(v)) => Some((a, v.toLong))
          case (None, None) => None
          case _ => throw new IllegalArgumentException(
            "txnAppId and txnVersion must be set together")
        }
        // `.option("enableChangeFeed", "true")` turns the change data
        // feed on (sticky, like partitioning); absent, the table's
        // recorded flag carries forward
        val cdf = Option(info.options.get("enableChangeFeed")).map(_.toBoolean)
        // `.option("mergeOnRead", "true")` turns merge-on-read DELETE
        // on (sticky, like CDF): SQL DELETE then commits equality-
        // delete files instead of rewriting data files
        val mor = Option(info.options.get("mergeOnRead")).map(_.toBoolean)
        // Delta's optimizeWrite: shuffle rows to their partition value
        // before writing so each value lands one file per commit
        val optimizedWrite = Option(info.options.get("optimizedWrite"))
          .exists(_.toBoolean)
        // `.option("stageId", id)`: WRITE-AUDIT-PUBLISH staging as
        // writer ergonomics (Iceberg's wap.id) — the append lands as a
        // staged manifest, invisible to readers until ALTER TABLE ...
        // PUBLISH STAGE, so an existing pipeline stages without code
        // change. Staging is append-shaped by construction; the
        // overwrite/replaceWhere/txn spellings refuse loudly rather
        // than committing what the caller meant to hold back.
        Option(info.options.get("stageId")).foreach { sid =>
          require(!overwrite,
            "stageId stages an APPEND — mode(\"overwrite\") cannot stage")
          require(txn.isEmpty,
            "stageId already carries idempotence (a retried save " +
              "re-offers the existing stage) — drop txnAppId/txnVersion")
          require(Option(info.options.get("replaceWhere")).isEmpty &&
            Option(info.options.get("dynamicPartitionOverwrite")).isEmpty,
            "stageId composes with plain appends, not scoped overwrites")
          // sticky table flags cannot be toggled by a STAGED append
          // (publish carries the stage by reference into whatever the
          // table's flags then are) — refuse rather than silently drop
          require(cdf.isEmpty && mor.isEmpty,
            "mergeOnRead/enableChangeFeed are table flags a staged " +
              "append cannot set — ALTER the table, then stage")
          // a staged append always lands in the table's RECORDED
          // layout; a caller-supplied partitioning that differs would
          // be silently dropped — refuse instead (catalog tables pass
          // their own recorded transforms through here, which match)
          require(partitionCols.isEmpty ||
            partitionCols.map(_.replace(" ", "")) ==
              TxnTable.partitionColumns(spark, table)
                .map(_.replace(" ", "")),
            "a staged append keeps the table's recorded partitioning " +
              s"— drop partitionBy [${partitionCols.mkString(", ")}] " +
              "or repartition with an ordinary commit first")
          TxnTable.stageAppend(coerced1, table, statsCols, bloomCols,
            Some(sid), optimizedWrite = optimizedWrite)
          return
        }
        // `.option("replaceWhere", "c = v" | "c BETWEEN a AND b")` with
        // mode("overwrite"): Delta's scoped overwrite — replace exactly
        // the predicate's rows atomically: an equality through
        // TxnTable.replaceValues' equality scope (exact `===`, the
        // semantics of SQL DELETE … WHERE c = v), a closed range through
        // TxnTable.replaceRange. Only these provable shapes are
        // accepted; anything else refuses rather than overwriting the
        // wrong rows.
        if (overwriteFilters.nonEmpty) {
          // SQL INSERT OVERWRITE ... PARTITION / OverwriteByExpression
          overwriteFilters.toSeq match {
            case Seq(EqualTo(c, v)) if v != null =>
              TxnTable.replaceValues(coerced1, table, c, Seq(v))
            // static partition values arrive null-safe (p <=> 'x')
            case Seq(org.apache.spark.sql.sources.EqualNullSafe(c, v))
                if v != null =>
              TxnTable.replaceValues(coerced1, table, c, Seq(v))
            case Seq(GreaterThanOrEqual(c1, l), LessThanOrEqual(c2, h))
                if c1 == c2 && l != null && h != null =>
              TxnTable.replaceRange(coerced1, table, c1, l, h)
            case Seq(LessThanOrEqual(c2, h), GreaterThanOrEqual(c1, l))
                if c1 == c2 && l != null && h != null =>
              TxnTable.replaceRange(coerced1, table, c1, l, h)
            case other => throw new UnsupportedOperationException(
              "graft INSERT OVERWRITE supports one equality (static " +
                "partition) or one closed-range filter, got " +
                other.mkString(", "))
          }
          return
        }
        // `.option("dynamicPartitionOverwrite", "true")` with
        // mode("overwrite"): replace exactly the partitions present in
        // the incoming frame (partitionOverwriteMode=dynamic semantics)
        // — values discovered from the data, one bounded distinct.
        if (Option(info.options.get("dynamicPartitionOverwrite"))
            .exists(_.toBoolean)) {
          require(overwrite,
            "dynamicPartitionOverwrite requires mode(\"overwrite\")")
          val pc = partitionCols match {
            case Seq(single) => single
            case Nil => TxnTable.partitionColumns(spark, table) match {
              case Seq(single) => single
              case other => throw new UnsupportedOperationException(
                "dynamicPartitionOverwrite needs exactly one identity " +
                  s"partition column, table has [${other.mkString(", ")}]")
            }
            case other => throw new UnsupportedOperationException(
              "dynamicPartitionOverwrite needs exactly one identity " +
                s"partition column, got [${other.mkString(", ")}]")
          }
          val values = coerced1.select(pc).distinct().collect()
            .map(_.get(0)).filter(_ != null).toSeq
          TxnTable.replaceValues(coerced1, table, pc, values)
          return
        }
        Option(info.options.get("replaceWhere")) match {
          case Some(pred) =>
            require(overwrite,
              "replaceWhere requires mode(\"overwrite\")")
            require(txn.isEmpty,
              "replaceWhere does not compose with txnAppId idempotent writes")
            val Eq = """(?is)\s*`?([\w]+)`?\s*=\s*('[^']*'|"[^"]*"|[-\w.:]+)\s*""".r
            val Btw = """(?is)\s*`?([\w]+)`?\s+BETWEEN\s+('[^']*'|"[^"]*"|[-\w.:]+)\s+AND\s+('[^']*'|"[^"]*"|[-\w.:]+)\s*""".r
            def v(s: String): Any = {
              val t = s.trim
              if ((t.startsWith("'") && t.endsWith("'")) ||
                  (t.startsWith("\"") && t.endsWith("\"")))
                t.substring(1, t.length - 1)
              else t.toLongOption.getOrElse(
                t.toDoubleOption.getOrElse(t): Any)
            }
            pred match {
              case Eq(c, value) =>
                TxnTable.replaceValues(coerced1, table, c, Seq(v(value)))
              case Btw(c, l, h) =>
                TxnTable.replaceRange(coerced1, table, c, v(l), v(h))
              case other => throw new IllegalArgumentException(
                s"replaceWhere supports `col = v` and `col BETWEEN a AND " +
                  s"b`, got: $other")
            }
          case None => (overwrite, txn) match {
            case (false, None) =>
              TxnTable.commitAppend(coerced1, table, statsCols, bloomCols,
                partitionCols, cdf, mor, optimizedWrite)
            case (true, None) =>
              TxnTable.commitOverwrite(coerced1, table, statsCols, bloomCols,
                partitionCols, cdf, mor, optimizedWrite)
            case (false, Some((a, v))) =>
              TxnTable.commitAppendIdempotent(coerced1, table, a, v, statsCols,
                bloomCols, partitionCols, cdf)
            case (true, Some((a, v))) =>
              TxnTable.commitOverwriteIdempotent(coerced1, table, a, v, statsCols,
                bloomCols, partitionCols, cdf)
          }
        }
        ()
      }
    }
  }
}

/** Marker the spec bridge (GraftBridge.dsv2ScannedFiles) reads the
  * post-pruning file count through, now that the planner sees the graft
  * wrapper Scan instead of Spark's FileScan directly. */
trait GraftScanFiles { def scannedFileCount: Int }

private[io] class GraftScanBuilder(
    spark: SparkSession, table: String, version: Long,
    dataSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var required: StructType = dataSchema
  private var pushed: Array[Filter] = Array.empty

  // CHANGE DATA FEED read (`readChangeFeed=true`): the scan is a change
  // LOG, not a snapshot — stats pruning/claiming and metadata-only
  // aggregates describe table state and must not apply; every filter
  // stays residual and build() hands off to the CDC planner.
  private val isFeed = GraftCdc.isFeed(options)

  // the shared filter->stats machinery (the streaming source builds the
  // same pruner per batch, so filtered streams skip identically)
  private lazy val pruner = new StatsPruner(dataSchema, meta.stats)

  /** Files surviving stats pruning under ALL pushed filters, files
    * recorded with 0 rows dropped -- the universe both build() and the
    * metadata-only aggregate planner work over. */
  private lazy val statsChosen: Seq[String] =
    universe.filter(TxnTable.statsMayMatch(meta.rows, pruner, pushed.toSeq))

  /** EXACT FILTER HANDLING: a pushed filter that every surviving file
    * PROVABLY fully-matches (StatsPruner.mustMatch) needs no row-level
    * re-evaluation -- it is NOT returned as residual, so Spark drops it
    * above the scan. This is the partition-filter shape (partitioned
    * files are single-valued on the partition column, so `WHERE p =
    * 'x'` selects exactly that partition's files and every row in them
    * matches), and it is what keeps METADATA-ONLY aggregates available
    * under a WHERE: `SELECT count(*) FROM t WHERE p = 'x'` answers from
    * the manifest because no residual filter blocks the agg pushdown.
    * Anything unprovable stays residual -- never wrong, just
    * re-checked row-by-row as before. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (isFeed) return filters // change rows: no file skipping, all residual
    pushed = filters.filter(pruner.prunable)
    filters.filterNot(f =>
      pruner.prunable(f) && statsChosen.forall(pruner.mustMatch(_, f)))
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- METADATA-ONLY AGGREGATES ----------------------------------------
  // COUNT(*)/COUNT(col)/MIN(col)/MAX(col) with no WHERE are answered
  // from the manifest alone: per-file row counts give COUNT(*), counts
  // minus per-file null counts give COUNT(col), and the per-file min/max
  // stats fold into the extremes. GROUP BY pushes down too when every
  // file is SINGLE-VALUED on every group column (stat min == max, zero
  // nulls) — the partitioned-ingest layout, where each file belongs to
  // exactly one group and per-group aggregates fold over its file
  // subset. ZERO data files are opened — on a 100 TB table the query
  // costs one manifest read. Everything is proof-gated: any file whose
  // metadata can't prove the answer (pre-rows manifest, missing stat, a
  // multi-valued group column, a stat that does not decode exactly)
  // rejects the pushdown and the query falls back
  // to the ordinary scan. Spark only offers the pushdown when no
  // post-scan filters remain, and graft keeps every filter residual, so
  // a filtered aggregate can never take this path.

  // ONE manifest-chain read shared by aggregate planning AND file
  // pruning in build() — planning cost must not scale with the number
  // of metadata consumers. Version 0 = a DECLARED table with no commit
  // yet (CREATE TABLE ... USING graft before the first insert): an
  // empty snapshot, not an error — SELECT over it returns zero rows
  // with the declared schema, like any table format.
  private lazy val meta =
    if (version == 0L) TxnTable.SnapshotMeta(Nil, Map.empty, Map.empty)
    else TxnTable.snapshotMeta(spark, table, version)

  // ---- POSITIONAL deletion vectors, applied IN-SCAN -------------------
  // Which vector sidecars gate each universe file (version gate +
  // named-file confinement). Un-gated files keep the untouched fast
  // path; gated files get per-file delegate scans whose readers drop
  // the vectors' ordinals (GraftVecBatch). `ignoreDeletes` is the raw
  // escape hatch for both the analyzer splice and this.
  private lazy val rawRead = options.containsKey("ignoreDeletes")
  private lazy val morMeta =
    if (version == 0L || rawRead) TxnTable.MorState(Nil, Map.empty, Nil)
    else TxnTable.morState(spark, table, version)
  private lazy val posGate: Map[String, Seq[String]] = {
    val pos = morMeta.dels.filter(_.keyCols == TxnTable.PosDelKeyCols)
    if (pos.isEmpty) Map.empty
    else universe.flatMap { f =>
      val scs = pos.filter(_.gates(f, morMeta.addv.getOrElse(f, 0L)))
        .map(_.file)
      if (scs.isEmpty) None else Some(f -> scs)
    }.toMap
  }
  // per-file DISTINCT deleted counts — what metadata-only COUNTs
  // subtract and exact scan statistics deduct. Driver-read from the
  // kilobyte sidecars, bounded by graft.txn.aggVectorRowsLimit; None
  // (vectors too large to tally on the driver) refuses those answers,
  // never mis-counts.
  private lazy val vecCounts: Option[Map[String, Long]] =
    if (posGate.isEmpty) Some(Map.empty)
    else PosVectors.deletedCounts(spark.sessionState.newHadoopConf(), table,
      posGate,
      spark.conf.get("graft.txn.aggVectorRowsLimit", "4194304").toLong)

  // `filesSubset` (internal): the delete-applying read rewrite
  // (graft.plans.GraftApplyDeletes) splits a snapshot into gate groups
  // and re-reads each through its own relation restricted to that
  // group's files. ALL planning — stats pruning, bloom probes, and
  // metadata-only aggregates — works over this universe, so a
  // metadata COUNT pushed into a subset relation counts the subset.
  private lazy val universe: Seq[String] =
    Option(options.get("filesSubset")) match {
      case Some(list) =>
        val sub = list.split(",").toSeq.filter(_.nonEmpty)
        val known = meta.files.toSet
        sub.foreach(f => require(known(f),
          s"filesSubset names a file not in snapshot v$version: $f"))
        sub
      case None => meta.files
    }
  private def aggState = (universe, meta.stats, meta.rows)

  private var plannedAgg: Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = None

  import org.apache.spark.sql.types._

  /** The one value file `f`'s stat on `field` proves every row holds
    * (min equal to max, zero nulls), as a Catalyst value — the
    * single-valued partition a group key or a storage-partitioned join
    * key reads. A zero of either sign is 0.0, as Spark's grouping
    * normalizes it. */
  private def onlyValue(f: String, field: StructField): Option[Any] =
    meta.stats.getOrElse(f, Nil).find(_.col == field.name)
      .filter(_.nulls == 0L).flatMap(_.bounds(field.dataType))
      .collect { case (mn, mx) if PhysicalDataType.ordering(field.dataType)
          .equiv(mn, mx) => mn match {
        case d: Double if d == 0.0 => 0.0
        case x: Float if x == 0.0f => 0.0f
        case x => x
      }}

  private def columnField(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
    e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        dataSchema.find(_.name == nr.fieldNames()(0))
      case _ => None
    }

  /** MIN/MAX of `field` folded from the per-file stats of `files`, as a
    * catalyst value (Some(null) = provably empty). None = not provable. */
  private def foldMinMax(files: Seq[String], field: StructField,
                         wantMin: Boolean): Option[Any] = {
    val (_, stats, rows) = aggState
    def statOf(f: String) = stats.getOrElse(f, Nil).find(_.col == field.name)
    // a file may lack the stat ONLY if it provably holds no rows; a
    // stat-less file with rows (or unknown rows) could be an all-null
    // column OR untracked stats — indistinguishable, so refuse
    if (!files.forall(f => statOf(f).isDefined || rows.get(f).contains(0L)))
      return None
    // a vector-gated file's extreme row may be among the DELETED rows —
    // its recorded min/max no longer proves the live extreme
    if (files.exists(posGate.contains)) return None
    // kind "null" = proven all-null file: contributes nothing to MIN/MAX
    val ss = files.flatMap(statOf)
    if (ss.forall(_.kind == "null")) Some(null) // no non-null rows: NULL
    else TxnTable.foldBounds(ss, field.dataType)
      .map { case (lo, hi) => if (wantMin) lo else hi }
  }

  /** The aggregate cells (schema fields + values) over a file subset —
    * one group's worth. None when any cell is not provable. */
  private def aggCells(files: Seq[String], agg: Aggregation)
      : Option[Seq[(StructField, Any)]] = {
    val (_, stats, rows) = aggState
    // vector-gated files subtract their DISTINCT deleted-row counts;
    // unavailable counts (vectors too large for driver tallying)
    // refuse, never mis-count
    lazy val deleted: Option[Long] =
      if (!files.exists(posGate.contains)) Some(0L)
      else vecCounts.map(vc => files.flatMap(vc.get).sum)
    lazy val total: Option[Long] =
      if (files.forall(rows.contains))
        deleted.map(files.map(rows).sum - _)
      else None
    val cells: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          total.map(t => StructField("count(*)", LongType, nullable = false) -> t)
        case c: Count if !c.isDistinct =>
          for {
            f <- columnField(c.column)
            t <- total
            // every file with rows must carry the stat with a KNOWN null
            // count; rows-free files contribute nothing
            if files.forall(fl =>
              stats.getOrElse(fl, Nil).find(_.col == f.name).exists(_.nulls >= 0L)
                || rows.get(fl).contains(0L))
            // a gated file's deleted rows subtract from COUNT(col) only
            // when the file provably holds NO nulls in the column (then
            // every deleted row was non-null); otherwise unprovable
            if files.forall(fl => !posGate.contains(fl) ||
              stats.getOrElse(fl, Nil).find(_.col == f.name).exists(_.nulls == 0L))
          } yield StructField(s"count(${f.name})", LongType, nullable = false) ->
            (t - files.flatMap(fl =>
              stats.getOrElse(fl, Nil).find(_.col == f.name)).map(_.nulls).sum)
        case m: Min =>
          for {
            f <- columnField(m.column)
            v <- foldMinMax(files, f, wantMin = true)
          } yield StructField(s"min(${f.name})", f.dataType) -> v
        case m: Max =>
          for {
            f <- columnField(m.column)
            v <- foldMinMax(files, f, wantMin = false)
          } yield StructField(s"max(${f.name})", f.dataType) -> v
        case _ => None
      }
    if (cells.exists(_.isEmpty)) None else Some(cells.flatten)
  }

  /** The aggregation's output schema + metadata-computed rows (one per
    * group; one total row when ungrouped), or None when any part is not
    * provable from the manifest. */
  private def planAgg(agg: Aggregation)
      : Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    // Spark only attempts aggregate pushdown when NO residual filter
    // remains above the scan, i.e. every pushed filter was EXACTLY
    // handled (pushFilters proved every surviving file fully matches).
    // The aggregate then folds over the PRUNED file set — the filtered
    // files' rows are exactly the filtered rows, so `SELECT count(*)
    // FROM t WHERE p = 'x'` stays metadata-only.
    val files = statsChosen
    // group columns: single-column references whose stat proves every
    // file single-valued (min == max, zero nulls) — the partitioned-
    // ingest layout where a file belongs to exactly one group
    val groupFields: Seq[Option[StructField]] =
      agg.groupByExpressions().toSeq.map(columnField)
    if (groupFields.exists(_.isEmpty)) return None
    val gFields = groupFields.flatten
    val grouped: Option[Seq[(Seq[Any], Seq[String])]] =
      if (gFields.isEmpty) Some(Seq((Nil, files)))
      else {
        val keyed = files.map { f =>
          // multi-valued / nullable / statless files refuse
          gFields.map(onlyValue(f, _).getOrElse(return None)) -> f
        }
        // grouped by stat text: boxed NaNs are never `==`, their text is
        Some(keyed.groupBy(_._1.map(TxnTable.statText)).toSeq
          .sortBy(_._1.mkString("\u0000"))
          .map { case (_, kfs) => kfs.head._1 -> kfs.map(_._2) })
      }
    grouped.flatMap { gs =>
      // a group whose every row a vector deleted must NOT be emitted
      // (SQL only surfaces groups with at least one live row); a gated
      // group that cannot PROVE its live count refuses the pushdown
      val (_, _, rowsMap) = aggState
      val alive = gs.filter { case (_, fs) =>
        if (!fs.exists(posGate.contains)) true
        else (for {
          vc <- vecCounts
          if fs.forall(rowsMap.contains)
        } yield fs.map(rowsMap).sum - fs.flatMap(vc.get).sum) match {
          case None => return None
          case Some(live) => live > 0L
        }
      }
      val rowsOut = alive.map { case (key, fs) =>
        aggCells(fs, agg).map(cells => (cells.map(_._1), key ++ cells.map(_._2)))
      }
      if (rowsOut.exists(_.isEmpty) || rowsOut.isEmpty && gFields.isEmpty) None
      else {
        val resolved = rowsOut.flatten
        val aggFields = resolved.headOption.map(_._1).getOrElse(
          // grouped aggregation over an empty table: zero rows, but the
          // schema must still line up — derive it from a probe over no files
          aggCells(Nil, agg).map(_.map(_._1)).getOrElse(return None))
        Some((
          StructType(gFields ++ aggFields),
          resolved.map(r =>
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              r._2.toArray))))
      }
    }
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    !isFeed && planAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (isFeed) return false
    plannedAgg = planAgg(agg)
    plannedAgg.isDefined
  }

  override def build(): Scan = {
    if (isFeed)
      return new GraftCdcScan(spark, table, version,
        GraftCdc.baseSchema(dataSchema), options)
    plannedAgg match {
      case Some((schema, rows)) => return new GraftAggScan(table, version, schema, rows)
      case None => ()
    }
    // the one file-skipping decision (TxnTable.chooseFiles): its stats
    // step is statsChosen, shared with aggregate planning; the key step
    // adds bucket ids and bloom sidecars of the equality constraints —
    // what min/max cannot prune on a hash-partitioned point lookup
    val chosen = TxnTable.keyFiles(spark, table, version, pruner, pushed.toSeq,
      statsChosen)
    // field-id tables resolve read columns BY ID — make sure the
    // session-wide reader flag is on before any task plans
    if (FieldIds.hasIds(dataSchema)) FieldIds.enableRead(spark)
    new GraftScan(spark, table, version, dataSchema, required, pushed,
      chosen, options, meta.partCols, meta.pathpart,
      // keyed split planning COMPOSES with vector subtraction (r16): a
      // keyed group holding vector-named files plans a GraftVecBatch
      // delegate, so live deletion vectors no longer cost the
      // storage-partitioned join its zero-shuffle contract
      spjGroups(chosen),
      meta.stats, meta.rows, TxnTable.ndvStats(spark, table, version),
      TxnTable.histStats(spark, table, version), meta.retired,
      posGate, vecCounts)
  }

  /** STORAGE-PARTITIONED JOIN planning: for a graft-written table with
    * IDENTITY partition columns whose every chosen file is provably
    * single-valued on every partition column (stat min == max, zero
    * nulls — the invariant the partitioned writer establishes), group
    * the files by their partition-value tuple. The scan then reports
    * `KeyGroupedPartitioning` and plans one keyed split group per
    * tuple, so a join of two tables partitioned on the same key — or a
    * GROUP BY on the partition key — needs NO shuffle on either side:
    * at 100 TB this is the difference between re-shuffling both fact
    * tables and reading co-located partitions straight into the join.
    * Everything is proof-gated like the aggregate pushdown: a
    * transform partition (days/hours), a converted path-derived
    * layout, a multi-valued or null-carrying file, or a partition
    * column pruned out of the projection (Spark could not resolve the
    * clustering key) all refuse, and the scan degrades to an ordinary
    * unknown-partitioning parquet read. */
  private def spjGroups(chosen: Seq[String])
      : Option[Seq[(Array[Any], Seq[String])]] = {
    // keyed planning only when the session can exploit it — otherwise
    // keep the single coalesced parquet scan (splits may span partition
    // values, which is the better default when no join wants the keys)
    if (!spark.sessionState.conf
        .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
        .toBoolean) return None
    val pcs = meta.partCols
    if (pcs.isEmpty || meta.pathpart || chosen.isEmpty) return None
    // identity entries key off single-valued stats; bucket(n, c)
    // entries key off the bucket id in the file's partition path.
    // days()/hours() transforms refuse — their derived value is not
    // recoverable from the column stats exactly.
    if (!pcs.forall(e => TxnTable.partSource(e) == e ||
        TxnTable.BucketEntry.unapply(e).isDefined)) return None
    if (!pcs.map(TxnTable.partSource).forall(required.fieldNames.contains))
      return None
    val extractors: Seq[String => Option[Any]] = pcs.map {
      case TxnTable.BucketEntry(n, c) =>
        (f: String) => TxnTable.bucketIdOf(f, n, c).map(Integer.valueOf)
      case c =>
        val gf = dataSchema.find(_.name == c).getOrElse(return None)
        (f: String) => onlyValue(f, gf)
    }
    val keyed: Seq[(Seq[Any], String)] = chosen.map { f =>
      val key: Seq[Any] =
        extractors.map(ex => ex(f).getOrElse(return None))
      (key, f)
    }
    Some(keyed.groupBy(_._1).toSeq
      .map { case (k, fs) => (k.toArray, fs.map(_._2)) }
      .sortBy(_._1.map(String.valueOf(_)).mkString("\u0000")))
  }
}

/** The Scan the graft planner hands Spark: batch execution delegates to
  * Spark's own vectorized ParquetScan over the pruned file list (as
  * before — the wrapper adds no execution code), and streaming execution
  * exposes the commit log as a MicroBatchStream. */
private[io] class GraftScan(
    spark: SparkSession, table: String, version: Long,
    dataSchema: StructType, required: StructType,
    pushed: Array[Filter], chosenFiles: Seq[String],
    options: CaseInsensitiveStringMap,
    partCols: Seq[String] = Nil, pathpart: Boolean = false,
    spjGroups: Option[Seq[(Array[Any], Seq[String])]] = None,
    fileStats: Map[String, Seq[TxnTable.FileStat]] = Map.empty,
    fileRows: Map[String, Long] = Map.empty,
    ndv: Map[String, Long] = Map.empty,
    hists: Map[String, TxnTable.ColHist] = Map.empty,
    retired: Seq[String] = Nil,
    posGate: Map[String, Seq[String]] = Map.empty,
    vecCounts: Option[Map[String, Long]] = Some(Map.empty))
    extends Scan with GraftScanFiles
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** EXACT row count from the manifest (post-pruning file set) —
    * without this a DSv2 relation's size estimate is
    * spark.sql.defaultSizeInBytes = Long.MaxValue, so a graft dim
    * table would NEVER be auto-broadcast and every star join would
    * shuffle-sort-merge unless hand-hinted. Spark derives sizeInBytes
    * from numRows × schema row width (transformV2Stats); files
    * predating per-file row tracking report unknown and fall back to
    * the conservative default. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val known: Option[Long] = {
        val fs = currentFiles
        if (!fs.forall(fileRows.contains)) None
        else if (!fs.exists(posGate.contains)) Some(fs.map(fileRows).sum)
        // vector-gated files deduct their deleted counts — exact
        // statistics survive a live deletion vector; unknowable
        // (over-limit) vectors report unknown, never an overcount
        else vecCounts.map(vc =>
          fs.map(fileRows).sum - fs.flatMap(vc.get).sum)
      }
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        known.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      /** COLUMN stats for the CBO (`spark.sql.cbo.enabled`): NDV from
        * the advisory `_ndv` sidecar (ANALYZE TABLE), null counts
        * summed from the post-pruning files' skipping stats when every
        * file tracks them. Distinct counts are what drive join-order
        * and join-size estimation — at 100 TB the difference between
        * building the hash side from the 25-key dimension and the
        * billion-key fact. */
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        // memoized per file set: plan stats are visited repeatedly
        // (CBO, AQE re-planning) and the fold is O(files × columns)
        val fsNow = currentFiles
        colStatsCache match {
          case Some((k, v)) if k eq fsNow => return v
          case _ => ()
        }
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        val fs = fsNow
        dataSchema.fieldNames.foreach { c =>
          val perFile = fs.map(f =>
            fileStats.getOrElse(f, Nil).find(_.col == c))
          val nulls: Option[Long] =
            if (fs.nonEmpty && perFile.forall(_.exists(_.nulls >= 0L)))
              Some(perFile.flatten.map(_.nulls).sum)
            else None
          // global min/max folded from the per-file skipping stats —
          // complete coverage only (a statless file voids the bound),
          // typed to the column's CATALYST value class so the CBO's
          // range-selectivity estimation can consume them directly
          import org.apache.spark.sql.types._
          val minMax: Option[(Any, Any)] = dataSchema(c).dataType match {
            case dt @ (LongType | IntegerType | ShortType | DoubleType | FloatType)
                if fs.nonEmpty && perFile.forall(_.isDefined) =>
              TxnTable.foldBounds(perFile.flatten, dt)
            case _ => None
          }
          val d = ndv.get(c)
          // ANALYZE's equi-height histogram, when present — Spark's
          // transformV2Stats folds it into the catalyst ColumnStat, and
          // FilterEstimation then prices a skewed range predicate by
          // its bins instead of assuming uniformity over [min,max]
          val hist: Option[org.apache.spark.sql.connector.read.colstats
            .Histogram] = hists.get(c).map { ch =>
            new org.apache.spark.sql.connector.read.colstats.Histogram {
              override def height(): Double = ch.height
              override def bins(): Array[
                  org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                ch.bins.map { case (l, h, n) =>
                  new org.apache.spark.sql.connector.read.colstats
                    .HistogramBin {
                    override def lo(): Double = l
                    override def hi(): Double = h
                    override def ndv(): Long = n
                  }
                }.toArray
            }
          }
          if (d.isDefined || nulls.isDefined || minMax.isDefined)
            m.put(org.apache.spark.sql.connector.expressions.Expressions
              .column(c),
              new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  d.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
                override def nullCount(): java.util.OptionalLong =
                  nulls.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
                override def min(): java.util.Optional[Object] =
                  minMax.map(m => java.util.Optional.of(
                    m._1.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def max(): java.util.Optional[Object] =
                  minMax.map(m => java.util.Optional.of(
                    m._2.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def histogram(): java.util.Optional[
                    org.apache.spark.sql.connector.read.colstats.Histogram] =
                  hist.map(java.util.Optional.of(_))
                    .getOrElse(java.util.Optional.empty())
              })
        }
        colStatsCache = Some((fsNow, m))
        m
      }
    }

  @volatile private var colStatsCache: Option[(Seq[String], java.util.Map[
    org.apache.spark.sql.connector.expressions.NamedReference,
    org.apache.spark.sql.connector.read.colstats.ColumnStatistics])] = None

  // ---- RUNTIME FILE PRUNING (dynamic partition pruning for DSv2) ----
  // Spark turns a broadcast join's build-side values into runtime
  // In-filters on the probe side and hands them here BEFORE execution;
  // re-pruning the chosen files against manifest stats + blooms means a
  // star join reads only the fact files the dim filter selects — at
  // 100 TB the difference between scanning the year and scanning the
  // week the dimension matched. The same decision as planning-time
  // skipping (TxnTable.chooseFiles), just fed later.
  @volatile private var runtimeFiles: Seq[String] = chosenFiles
  private def currentFiles: Seq[String] = runtimeFiles
  private lazy val rtPruner = new StatsPruner(dataSchema, fileStats)

  /** Columns runtime filters can prune on: anything carrying per-file
    * stats — intersected with the PRUNED read schema, because Spark
    * resolves these against the relation's (column-pruned) output and
    * an unresolvable name aborts the whole query at planning
    * (PartitionPruning.getFilterableTableScan resolves eagerly). Join
    * keys are always in the output, so nothing prunable is lost. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    fileStats.valuesIterator.flatMap(_.map(_.col)).toSet
      .intersect(required.fieldNames.toSet).toArray.sorted
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    val fs = filters.filter(rtPruner.prunable)
    // a runtime In-list on a bucketed join key keeps only its buckets
    if (fs.nonEmpty)
      runtimeFiles = TxnTable.chooseFiles(spark, table, version, rtPruner,
        fs.toSeq, runtimeFiles)
  }

  /** KeyGroupedPartitioning when the builder proved per-file partition
    * tuples (see spjGroups): Spark's planner matches the clustering
    * keys against join/aggregate keys and elides the Exchange on this
    * side. Requires spark.sql.sources.v2.bucketing.enabled (the
    * planner ignores the report otherwise — never wrong, just
    * unexploited). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjGroups match {
      case Some(gs) if gs.nonEmpty =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          partCols.map {
            case TxnTable.BucketEntry(n, c) =>
              org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
                : org.apache.spark.sql.connector.expressions.Expression
            case c =>
              org.apache.spark.sql.connector.expressions.Expressions.identity(c)
                : org.apache.spark.sql.connector.expressions.Expression
          }.toArray,
          gs.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  // CONVERTED-IN-PLACE partitioned layout: the chosen files' partition
  // values live in their hive `col=value` path segments, not the file
  // bytes — the scan splits the projection into data columns (from the
  // parquet reader) + partition columns (from the file index's
  // discovered partition spec, basePath-anchored at the table root).
  // Spark re-projects above the scan by name, so the reordered
  // readSchema (data cols first, partition cols appended) is safe.
  private def splitLayout: Boolean =
    pathpart && partCols.nonEmpty && chosenFiles.exists(!_.startsWith("w="))
  private def partSet = partCols.toSet
  // FIELD-ID collision mangling (see TxnTable.planFiles for the full
  // story): a live column whose NAME a retired `name#id` entry still
  // claims (drop + re-add) is requested from the parquet layer under a
  // mangled physical name. DSv2 readers hand rows back POSITIONALLY —
  // Spark consumes this scan through readSchema() (logical names), the
  // delegate parquet scan reads the physical spelling, and the two
  // agree field-for-field by position, so the mangling never surfaces.
  private val collide: Set[String] =
    if (FieldIds.hasIds(dataSchema))
      FieldIds.collidePaths(dataSchema, retired)
    else Set.empty
  // requested schemas arrive from Spark's column pruner — re-overlay
  // the snapshot ids in case an intermediate transformation shed the
  // field metadata (id resolution silently degrading to name matching
  // would break renamed columns)
  private def physical(s: StructType): StructType =
    if (!FieldIds.hasIds(dataSchema)) s
    else FieldIds.mangle(FieldIds.overlay(dataSchema, s), collide)
  private lazy val physRequired = physical(required)
  private lazy val physData = physical(dataSchema)
  override def readSchema(): StructType =
    if (!splitLayout) required
    else StructType(required.filterNot(f => partSet(f.name)) ++
      partCols.flatMap(c => required.find(_.name == c)))
  override def description(): String =
    s"GraftScan graft.`$table`@v$version [${currentFiles.size} files]"
  override def scannedFileCount: Int = currentFiles.size
  // Only filters whose columns are IN the clipped read schema may reach
  // the parquet layer: parquet-mr evaluates a predicate on a column
  // absent from the projection as never-matching and drops every row
  // group. Exactly-handled filters (whose columns Spark pruned away
  // because no residual references them) are file-level knowledge —
  // they did their work in manifest pruning, not in the reader.
  // Converted files don't CONTAIN the partition columns, so filters on
  // them never reach the parquet layer in the split branch.
  private def parquetSafe: Array[Filter] = {
    val inFile: String => Boolean =
      if (splitLayout) c => required.fieldNames.contains(c) && !partSet(c)
      else required.fieldNames.contains(_)
    // collide-mangled columns carry a physical name the filter's
    // references don't spell — keep those filters OUT of the parquet
    // layer (they stay residual / did their work in manifest pruning)
    def collides(r: String): Boolean = {
      val rl = r.toLowerCase
      collide.exists(c => rl == c || rl.startsWith(c + ".") ||
        c.startsWith(rl + "."))
    }
    pushed.filter(_.references.forall(r => inFile(r) && !collides(r)))
  }
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    if (!splitLayout) spjGroups match {
      case Some(gs) if gs.nonEmpty =>
        // keyed split planning: one delegate parquet Batch per partition
        // tuple, every split tagged with its key (HasPartitionKey) so
        // Spark can group co-keyed splits into co-located tasks.
        // Runtime filters may have shrunk the file set since planning —
        // re-filter each group (a vanished key becomes an empty group;
        // Spark's push-part-values machinery aligns the missing side).
        // Vector-NAMED files compose: a group holding any gets a
        // GraftVecBatch delegate (its subtraction removes ROWS, never
        // changes a file's partition tuple, so the reported clustering
        // stays sound) — live deletion vectors no longer force both
        // sides of a storage-partitioned join back into a shuffle.
        val live = currentFiles.toSet
        lazy val rif = org.apache.spark.sql.GraftBridge.rowIndexField
        lazy val vecData = StructType(physData.fields :+ rif)
        lazy val vecRequired = StructType(physRequired.fields :+ rif)
        lazy val root = new org.apache.hadoop.fs.Path(table)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .makeQualified(new org.apache.hadoop.fs.Path(table)).toString
        lazy val bcConf = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sessionState.newHadoopConf()))
        new GraftKeyedBatch(gs.flatMap { case (key, fs) =>
          val kept = fs.filter(live)
          if (kept.isEmpty) None
          else {
            def scanOf(files: Seq[String], data: StructType,
                       req: StructType) =
              org.apache.spark.sql.GraftBridge.parquetScan(
                spark, files.map(f => s"$table/$f"), data, req,
                parquetSafe, options).toBatch
            val gated = kept.filter(posGate.contains)
            val batch =
              if (gated.isEmpty) scanOf(kept, physData, physRequired)
              else {
                val clean = kept.filterNot(posGate.contains)
                new GraftVecBatch(
                  if (clean.isEmpty) None
                  else Some(scanOf(clean, physData, physRequired)),
                  gated.map(f => (f, scanOf(Seq(f), vecData, vecRequired),
                    posGate(f))),
                  root, physRequired, bcConf)
              }
            Some(
              (new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(key),
                batch))
          }
        })
      case _ =>
        val gated = currentFiles.filter(posGate.contains)
        if (gated.isEmpty)
          org.apache.spark.sql.GraftBridge.parquetScan(
            spark, currentFiles.map(f => s"$table/$f"), physData, physRequired,
            parquetSafe, options).toBatch
        else {
          // vector-gated files: per-file delegates whose requested
          // schema appends the parquet ROW INDEX; the wrapper reader
          // drops each file's deleted ordinals (GraftVecBatch). Clean
          // files keep the ordinary columnar delegate untouched.
          val clean = currentFiles.filterNot(posGate.contains)
          val rif = org.apache.spark.sql.GraftBridge.rowIndexField
          val vecData = StructType(physData.fields :+ rif)
          val vecRequired = StructType(physRequired.fields :+ rif)
          val root = new org.apache.hadoop.fs.Path(table)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
            .makeQualified(new org.apache.hadoop.fs.Path(table)).toString
          // driver-captured session Hadoop conf, broadcast for the
          // per-task sidecar reads (see GraftVecBatch's bcConf doc)
          val bcConf = spark.sparkContext.broadcast(
            new org.apache.spark.util.SerializableConfiguration(
              spark.sessionState.newHadoopConf()))
          new GraftVecBatch(
            if (clean.isEmpty) None
            else Some(org.apache.spark.sql.GraftBridge.parquetScan(
              spark, clean.map(f => s"$table/$f"), physData, physRequired,
              parquetSafe, options).toBatch),
            gated.map(f => (f,
              org.apache.spark.sql.GraftBridge.parquetScan(
                spark, Seq(s"$table/$f"), vecData, vecRequired,
                parquetSafe, options).toBatch,
              posGate(f))),
            root, physRequired, bcConf)
        }
    }
    else {
      // one homogeneous leg only: after any graft write lands next to
      // adopted files the two layouts would need two reader factories
      // under one Batch — OPTIMIZE materializes instead
      require(chosenFiles.forall(!_.startsWith("w=")),
        s"$table mixes in-place-converted files with graft-written ones — " +
          "OPTIMIZE the table to materialize the converted files, then " +
          "read through SQL again")
      org.apache.spark.sql.GraftBridge.parquetScanPartitioned(
        spark, table, currentFiles.map(f => s"$table/$f"), dataSchema,
        required, partCols, parquetSafe, options).toBatch
    }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!(pathpart && partCols.nonEmpty),
      s"$table was converted in place with path-derived partition values — " +
        "OPTIMIZE it into graft-written files before streaming")
    new GraftMicroBatchStream(spark, table, dataSchema, required, pushed, options)
  }
}

/** A parquet split tagged with the partition-value tuple of the file
  * group it came from — the `HasPartitionKey` contract storage-
  * partitioned joins are built on. Wraps the delegate ParquetScan's
  * own split untouched; `group` indexes the matching delegate reader
  * factory. */
private[io] class GraftKeyedPartition(
    val key: org.apache.spark.sql.catalyst.InternalRow, val group: Int,
    val inner: org.apache.spark.sql.connector.read.InputPartition)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Batch over per-partition-tuple delegate parquet Batches: planning
  * flattens every delegate's splits with their shared key attached;
  * reading dispatches each split back to its delegate's reader factory
  * (columnar included), so execution stays Spark's own vectorized
  * parquet reader end to end — the wrapper adds a key per split and
  * nothing else. */
private[io] class GraftKeyedBatch(
    groups: Seq[(org.apache.spark.sql.catalyst.InternalRow,
      org.apache.spark.sql.connector.read.Batch)])
    extends org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  override def planInputPartitions(): Array[InputPartition] =
    groups.zipWithIndex.flatMap { case ((k, b), gi) =>
      b.planInputPartitions().map(p => new GraftKeyedPartition(k, gi, p))
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftKeyedReaderFactory(
      groups.map(_._2.createReaderFactory()).toIndexedSeq)
}

private[io] class GraftKeyedReaderFactory(
    delegates: IndexedSeq[org.apache.spark.sql.connector.read.PartitionReaderFactory])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.InputPartition
  private def un(p: InputPartition): GraftKeyedPartition =
    p.asInstanceOf[GraftKeyedPartition]
  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] =
    delegates(un(p).group).createReader(un(p).inner)
  override def createColumnarReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegates(un(p).group).createColumnarReader(un(p).inner)
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegates(un(p).group).supportColumnarReads(un(p).inner)
}

/** The Scan a fully-pushed aggregate plans to: driver-built rows (one
  * per group; one total row ungrouped) computed from manifest metadata,
  * surfaced through Spark's LocalScan (→ LocalTableScanExec). No file
  * is opened; `scannedFileCount = 0` is the property specs assert. */
private[io] class GraftAggScan(
    table: String, version: Long, outputSchema: StructType,
    aggRows: Seq[org.apache.spark.sql.catalyst.InternalRow])
    extends LocalScan with GraftScanFiles {
  override def readSchema(): StructType = outputSchema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    aggRows.toArray
  override def description(): String =
    s"GraftAggScan graft.`$table`@v$version metadata-only " +
      s"[${outputSchema.fieldNames.mkString(", ")}]"
  override def scannedFileCount: Int = 0
}

/** Offset = committed table VERSION: the log's linear history is the
  * stream's order, so offsets are exact, replayable, and comparable —
  * the property Spark's checkpointing needs for exactly-once. */
private[io] class GraftOffset(val v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** STREAMING SOURCE over the TxnTable commit log: each microbatch reads
  * the files ADDED between two committed versions (append-only history
  * enforced — an overwrite/delete in range fails loudly rather than
  * misreport as pure addition; compact between streamed batches is a
  * stop-the-stream operation, as for Delta's source). Planning is pure
  * manifest arithmetic — no directory listing, no per-file mtime
  * tracking, cost independent of table history (checkpointed log) —
  * and execution reuses Spark's vectorized parquet readers batch-style.
  * With Trigger.AvailableNow, Spark's own wrapper drains up to the
  * stream-start version and stops — the scheduled-ingest shape. */
private[io] class GraftMicroBatchStream(
    spark: SparkSession, table: String,
    dataSchema: StructType, required: StructType,
    pushed: Array[Filter], options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def ver(o: Offset): Long = o.asInstanceOf[GraftOffset].v

  /** `startingVersion` (exclusive) or `startingTimestamp` (at-or-after)
    * option: where the first microbatch starts (default 0 = consume the
    * whole table). Same resolution as the change-feed source. */
  override def initialOffset(): Offset = new GraftOffset(
    GraftCdc.sinceOf(spark, table, options))
  override def latestOffset(): Offset = new GraftOffset(
    TxnTable.latestVersion(spark, table).getOrElse(0L))
  override def deserializeOffset(json: String): Offset =
    new GraftOffset(json.toLong)

  // ---- BACKLOG ADMISSION CONTROL ---------------------------------------
  // `maxVersionsPerTrigger`: cap each microbatch at N commits' worth of
  // files. Without it the first batch against a long-lived table is the
  // ENTIRE backlog — one microbatch reading a 100 TB history. Commit
  // granularity is the natural unit here (each version = one atomic
  // ingest); Spark's AvailableNow wrapper then drains the backlog as a
  // SEQUENCE of bounded batches through the same checkpointed offsets.
  private val maxVersions: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toLong)

  // Trigger.AvailableNow pins its end-of-stream target HERE (the commit
  // log's tip at preparation time); each capped microbatch then advances
  // toward it, so a pre-existing backlog drains as a SEQUENCE of bounded
  // batches instead of one unbounded one.
  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(TxnTable.latestVersion(spark, table).getOrElse(0L))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val tip = TxnTable.latestVersion(spark, table).getOrElse(0L)
    val target = availableNowTarget.fold(tip)(math.min(_, tip))
    val capped = maxVersions match {
      case Some(n) => math.min(ver(start) + math.max(1L, n), target)
      case None => target
    }
    new GraftOffset(capped)
  }
  override def reportLatestOffset(): Offset = latestOffset()

  // the scan planned for the current batch's file delta; the reader
  // factory is requested right after planning, on the same driver thread
  private var planned: Option[org.apache.spark.sql.connector.read.Scan] = None

  // `skipChangeCommits` (Delta-parity): opt-in escape hatch so a
  // compaction/overwrite commit inside the stream's range is SKIPPED
  // (its files are rewrites of already-delivered rows) instead of
  // permanently wedging the stream. Default stays the loud failure —
  // silently skipping rewrites is only correct when the user asserts
  // the table's changes are append + maintenance, so it must be chosen.
  private val skipChangeCommits: Boolean =
    Option(options.get("skipChangeCommits")).exists(_.toBoolean)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (ver(start), ver(end))
    if (e <= s) return Array.empty
    val delta = TxnTable.changedFiles(spark, table, s, e, skipChangeCommits)
    // NOTE: Spark does not run filter/column pushdown for streaming
    // DSv2 relations (the builder's pushFilters/pruneColumns are never
    // invoked on this path — verified empirically), so `pushed` is
    // always empty here and per-batch stats skipping has nothing to
    // prune on. Batch reads of the same table get the full
    // StatsPruner treatment. Same read-schema guard as GraftScan: the
    // parquet layer must never see a filter on an unread column.
    val safe = pushed.filter(_.references.forall(required.fieldNames.contains))
    val scan = org.apache.spark.sql.GraftBridge.parquetScan(
      spark, delta.map(f => s"$table/$f"), dataSchema, required, safe, options)
    planned = Some(scan)
    scan.toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    planned.getOrElse(org.apache.spark.sql.GraftBridge.parquetScan(
      spark, Nil, dataSchema, required,
      pushed.filter(_.references.forall(required.fieldNames.contains)), options))
      .toBatch.createReaderFactory()

  override def commit(end: Offset): Unit = () // progress lives in Spark's checkpoint
  override def stop(): Unit = ()
}
