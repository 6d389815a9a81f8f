package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal accessor for the private[sql] Dataset factory, so graft's
  * custom logical operators (graft.plans.*) can be turned into public
  * DataFrames. Lives in the org.apache.spark.sql package solely to cross
  * the private[sql] boundary — the standard pattern for third-party
  * Catalyst operator libraries. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → Catalyst Expression (Spark 4 hides the expression behind
    * the ColumnNode API). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Catalyst Expression → Column (the inverse bridge: lets graft's
    * native expressions be used from the DataFrame API without SQL
    * function registration). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The analyzed plan's output attributes — what the SQL DML rewrite
    * substitutes captured target references with when it rebuilds the
    * rewrite over a fresh snapshot read. */
  def analyzedOutput(
      df: DataFrame): Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.output

  /** Schema-evolution merge (the private[sql] StructType.merge):
    * union of fields, numeric-compatible type promotion, error on
    * incompatible types. All fields forced nullable — an evolved
    * column is absent (null) in pre-evolution files. */
  def mergeSchemas(
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    a.merge(b).asNullable

  def nullableSchema(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Partitions actually selected by the frame's parquet scan after
    * partition pruning (planning-time directory pruning — note
    * `df.inputFiles` can NOT show this: it lists the pre-pruning file
    * index). None when the plan has no file scan. */
  /** Release the cached blocks of a `localCheckpoint()`ed frame — its
    * plan is a LogicalRDD over a persisted RDD that Dataset.unpersist
    * cannot reach (no CacheManager entry). A retry loop that
    * checkpoints per attempt must drop the loser's blocks or leak one
    * frame per attempt until the session ends. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  def prunedPartitionCount(df: DataFrame): Option[Int] =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }

  /** A RESOLVED V1 parquet relation over an explicit file list with an
    * explicit schema — the right side of the delete-applying anti-join
    * (graft.plans.GraftApplyDeletes) embeds this directly into the
    * plan it rewrites. Tiny plan, no graft nodes, so the nested
    * analysis is cycle-free. */
  def parquetRelation(spark: SparkSession, paths: Seq[String],
                      schema: org.apache.spark.sql.types.StructType): LogicalPlan =
    spark.read.schema(schema).parquet(paths: _*)
      .asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** V1 parquet DataFrame over an explicit file list whose FileIndex
    * applies GRAFT's manifest skipping at PLANNING time: Spark's
    * FileSourceStrategy hands the pushed data filters to
    * `FileIndex.listFiles(partitionFilters, dataFilters)` — the same
    * hook Delta's TahoeFileIndex rides — and `keep`, built graft-side
    * over the snapshot's stats and bloom sidecars, decides which files
    * survive. This is what lets the LIBRARY read path (delete-applying
    * groups, DML phase sources, the positional-vector splice inside a
    * DSv2 rewrite) skip files a predicate excludes WITHOUT opening
    * their footers. */
  def statsPrunedParquetFrame(
      spark: SparkSession,
      paths: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      keep: Seq[org.apache.spark.sql.sources.Filter] => (String => Boolean))
      : DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val index = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      cs, paths.map(new org.apache.hadoop.fs.Path(_)),
      Map.empty[String, String], Some(schema),
      org.apache.spark.sql.execution.datasources.NoopCache, None, None) {
      override def listFiles(
          partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
          dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] = {
        val base = super.listFiles(partitionFilters, dataFilters)
        val translated = dataFilters.flatMap(
          org.apache.spark.sql.execution.datasources.DataSourceStrategy
            .translateFilter(_, supportNestedPredicatePushdown = true))
        if (translated.isEmpty) base
        else {
          val p = keep(translated)
          base.map(pd => pd.copy(files = pd.files.filter(f =>
            p(f.fileStatus.getPath.toString))))
        }
      }
    }
    // file sources always read nullable (DataFrameReader does the same
    // coercion): a schema-evolved file missing a declared-non-null
    // column must surface NULL, not corrupt the row
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, new org.apache.spark.sql.types.StructType(),
      schema.asNullable, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty[String, String])(cs)
    classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
  }

  /** Spark's own vectorized parquet Scan over an EXPLICIT file list —
    * the execution half of the graft DSv2 source: graft planning picks
    * the files (manifest-stats skipping), Spark's ParquetScan executes
    * them (whole-stage codegen, row-group skipping, nested pruning).
    * Bridged here because InMemoryFileIndex/ParquetScan live behind
    * private[sql]. */
  def parquetScan(
      spark: SparkSession,
      paths: Seq[String],
      dataSchema: org.apache.spark.sql.types.StructType,
      readSchema: org.apache.spark.sql.types.StructType,
      filters: Array[org.apache.spark.sql.sources.Filter],
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.Scan = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val index = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      cs,
      paths.map(new org.apache.hadoop.fs.Path(_)),
      Map.empty[String, String],
      Some(dataSchema),
      org.apache.spark.sql.execution.datasources.NoopCache,
      None, None)
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      cs, cs.sessionState.newHadoopConf(), index,
      dataSchema, readSchema,
      org.apache.spark.sql.types.StructType(Nil), filters, options)
  }

  /** ParquetScan over files whose PARTITION VALUES live in hive
    * `col=value` path segments under `basePath` (a table converted in
    * place — the files do not contain the partition columns). The file
    * index discovers the partition spec from the paths (typed by the
    * user schema); the scan projects data columns from parquet and
    * partition columns from the spec, partition columns appended last
    * (Spark re-projects by name above the scan). */
  def parquetScanPartitioned(
      spark: SparkSession,
      basePath: String,
      paths: Seq[String],
      dataSchema: org.apache.spark.sql.types.StructType,
      readSchema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String],
      filters: Array[org.apache.spark.sql.sources.Filter],
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.Scan = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val partSet = partCols.toSet
    val fileSchema = org.apache.spark.sql.types.StructType(
      dataSchema.filterNot(f => partSet(f.name)))
    val index = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      cs,
      paths.map(new org.apache.hadoop.fs.Path(_)),
      Map("basePath" -> basePath),
      Some(dataSchema),
      org.apache.spark.sql.execution.datasources.NoopCache,
      None, None)
    val readData = org.apache.spark.sql.types.StructType(
      readSchema.filterNot(f => partSet(f.name)))
    val readPart = org.apache.spark.sql.types.StructType(
      partCols.flatMap(c => readSchema.find(_.name == c)))
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      cs, cs.sessionState.newHadoopConf(), index,
      fileSchema, readData, readPart, filters, options)
  }

  /** The parquet readers' per-file ROW INDEX as a requested column —
    * Spark's own temporary-column contract (SPARK-37980): append this
    * field to a read schema and both the vectorized and row-based
    * parquet readers fill each row's ordinal within its file, with
    * row-group and page skipping accounted exactly. */
  def rowIndexField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .ROW_INDEX_TEMPORARY_COLUMN_NAME,
      // NULLABLE so the readers' missing-column check admits it (the
      // file really lacks it); the generator then fills every row
      org.apache.spark.sql.types.LongType, nullable = true)

  /** Files the frame's DSv2 scan will actually read (AFTER graft's
    * manifest-stats pruning) — the skip ratio a spec asserts. None when
    * the plan has no DSv2 file scan. */
  def dsv2ScannedFiles(df: DataFrame): Option[Int] = {
    // AdaptiveSparkPlanExec AND the per-stage QueryStageExec wrappers
    // are LEAF nodes: descend into their inner plans or an adaptive
    // (or merely shuffling) query hides the scan entirely
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.connector.read.Scan] =
      p.flatMap {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          scans(r.child)
        case _ => Nil
      }
    scans(df.queryExecution.executedPlan).headOption.flatMap {
      case g: graft.io.GraftScanFiles => Some(g.scannedFileCount)
      case fs: org.apache.spark.sql.execution.datasources.v2.FileScan =>
        Some(fs.fileIndex.inputFiles.length)
      case _ => None
    }
  }

  /** Driver-side twin of the `xxhash64(col)` SQL function (seed 42):
    * hashes one CONSTANT through the same Catalyst hash Spark applies
    * to column values, so a bloom filter built distributed from
    * `xxhash64(col)` and probed driver-side with a query constant can
    * never disagree. The value must already match the column's
    * declared type (Int vs Long hash differently). */
  def xxhash64Value(v: Any, dt: org.apache.spark.sql.types.DataType): Long = {
    val internal =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dt)(v)
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(internal, dt, 42L)
  }

  /** A registered V2 catalog plugin by name (CatalogManager is
    * private[sql]) — how graft's maintenance-statement parser resolves
    * `gcat.db.t` targets to table directories. None when no such
    * catalog is configured or it fails to instantiate. */
  def catalogPlugin(spark: SparkSession, name: String)
      : Option[org.apache.spark.sql.connector.catalog.CatalogPlugin] =
    try Some(spark.asInstanceOf[classic.SparkSession]
      .sessionState.catalogManager.catalog(name))
    catch { case _: Exception => None }

  /** RDD[InternalRow] → DataFrame without the Row encode/decode round
    * trip (the private[sql] twin of createDataFrame). The rows must
    * already be in catalyst format and safe to buffer (copied). */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Write `df` as parquet under `path`, which must not exist yet, in
    * ONE Spark job whose write tasks also run `trackers` — what
    * `df.write.mode(ErrorIfExists).partitionBy(..).parquet(path)` runs,
    * with the caller's stats trackers in place of the basic one and
    * without the post-write cache refresh (a path no plan has read yet
    * has nothing cached to refresh). `partitionColumns` become
    * hive-style value dirs and leave the file contents. */
  def writeParquet(
      df: DataFrame,
      path: String,
      partitionColumns: Seq[String],
      trackers: Seq[org.apache.spark.sql.execution.datasources.WriteJobStatsTracker])
      : Unit = {
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val hadoopConf = cs.sessionState.newHadoopConf()
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(hadoopConf)
    val qualified = out.makeQualified(fs.getUri, fs.getWorkingDirectory)
    if (fs.exists(qualified))
      throw errors.QueryCompilationErrors.outputPathAlreadyExistsError(qualified)
    util.SchemaUtils.checkColumnNameDuplication(
      df.schema.fieldNames.toSeq, cs.sessionState.conf.caseSensitiveAnalysis)
    // a fresh execution per write, as each DataFrameWriter save plans one
    val qe = cs.sessionState.executePlan(df.queryExecution.analyzed)
    execution.SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      // the parquet writer takes field ids from the column metadata
      val output = plan.output.zip(qe.analyzed.output).map {
        case (a, l) => a.withMetadata(l.metadata)
      }
      val partAttrs = partitionColumns.map(c => output.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(
          s"partition column $c is not a column of the written frame")))
      val committer = org.apache.spark.internal.io.FileCommitProtocol
        .instantiate(cs.sessionState.conf.fileCommitProtocolClass,
          jobId = java.util.UUID.randomUUID().toString,
          outputPath = qualified.toString)
      FileFormatWriter.write(cs, plan,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        committer,
        FileFormatWriter.OutputSpec(qualified.toString, Map.empty, output),
        hadoopConf, partAttrs, None, trackers, Map.empty)
    }
    ()
  }

  /** Drain the shared listener bus — QueryExecutionListener events are
    * delivered asynchronously through it, so a test that registers one
    * to observe executed plans must flush before asserting (the
    * private[spark] twin of the test-utils wait). */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
