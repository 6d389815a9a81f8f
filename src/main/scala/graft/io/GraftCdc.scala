package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** CHANGE DATA FEED read path — `spark.read/readStream.format("graft")
  * .option("readChangeFeed", "true")` surfaces every committed
  * row-level change with Delta-parity `_change_type` (insert /
  * update_preimage / update_postimage / delete) and `_commit_version`
  * columns, planned from [[TxnTable.commitChanges]]'s manifest
  * arithmetic (ref ships `delta-core_2.12-0.7.0.jar`, whose
  * `readChangeFeed` this mirrors; SURVEY.md §1.3).
  *
  * Provenance is mixed per commit — plain data files whose every row is
  * one constant change type (append adds, overwrite/range-delete
  * victims) and eager change files that carry their own `_change_type`
  * column — so each file group is planned as an ordinary vectorized
  * parquet scan and its partitions are WRAPPED with the per-commit
  * constants; a thin row-level reader appends the feed columns. This
  * keeps planning cost at O(commits in range) small manifest reads and
  * data cost at exactly the changed rows: at 100 TB an incremental
  * consumer reads the day's changes, never the table. */
object GraftCdc {
  /** The feed's output schema: table columns + the two feed columns. */
  def feedSchema(table: StructType): StructType =
    StructType(table.fields.toSeq :+
      StructField(TxnTable.ChangeTypeCol, StringType, nullable = false) :+
      StructField(TxnTable.CommitVersionCol, LongType, nullable = false))

  def isFeed(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.toBoolean)

  /** Inverse of [[feedSchema]] — the Table handle of a CDF read carries
    * the extended schema; the planner needs the data files'. */
  def baseSchema(s: StructType): StructType =
    StructType(s.fields.toSeq.filterNot(f =>
      f.name == TxnTable.ChangeTypeCol || f.name == TxnTable.CommitVersionCol))

  /** Feed-window start from `startingVersion` (exclusive, our version
    * convention) or `startingTimestamp` (include every commit AT OR
    * AFTER the instant — resolved to the last strictly-earlier version,
    * Delta-parity). Mutually exclusive; default 0 = full history. */
  def sinceOf(spark: SparkSession, table: String,
              options: CaseInsensitiveStringMap): Long = {
    val byV = Option(options.get("startingVersion"))
    val byT = Option(options.get("startingTimestamp"))
    require(byV.isEmpty || byT.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    byV.map(_.toLong)
      .orElse(byT.map(t =>
        TxnTable.versionAt(spark, table, TxnTable.parseUtcMillis(t) - 1L)
          .getOrElse(0L)))
      .getOrElse(0L)
  }

  /** Feed-window end from `endingVersion` or `endingTimestamp` (include
    * every commit at or before the instant); default = the handle's
    * pinned version. */
  def untilOf(spark: SparkSession, table: String, pinned: Long,
              options: CaseInsensitiveStringMap): Long = {
    val byV = Option(options.get("endingVersion"))
    val byT = Option(options.get("endingTimestamp"))
    require(byV.isEmpty || byT.isEmpty,
      "endingVersion and endingTimestamp are mutually exclusive")
    byV.map(_.toLong)
      .orElse(byT.map(t =>
        TxnTable.versionAt(spark, table, TxnTable.parseUtcMillis(t))
          .getOrElse(0L)))
      .getOrElse(pinned)
  }

  /** Partitions + shared reader factory for the changes committed in
    * versions (`since`, `until`]. */
  def plan(spark: SparkSession, table: String, base: StructType,
           options: CaseInsensitiveStringMap, since: Long, until: Long)
      : (Array[InputPartition], PartitionReaderFactory) = {
    val cdcSchema = StructType(base.fields.toSeq :+
      StructField(TxnTable.ChangeTypeCol, StringType))
    val factories = scala.collection.mutable.ArrayBuffer.empty[PartitionReaderFactory]
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    def add(files: Seq[String], schema: StructType, fill: String, v: Long): Unit =
      if (files.nonEmpty) {
        val scan = org.apache.spark.sql.GraftBridge.parquetScan(
          spark, files.map(f => s"$table/$f"), schema, schema,
          Array.empty, options).toBatch
        val fid = factories.length
        factories += scan.createReaderFactory()
        scan.planInputPartitions().foreach(p =>
          parts += CdcPartition(p, fid, fill, v))
      }
    // SCHEMA-BOUNDARY CONTRACT (pinned by CdcEvolutionSpec): the feed
    // serves rows in the SUBSCRIBER's schema (`base`, captured when its
    // handle was created). Additive evolution is safe in both
    // directions — a running subscriber simply doesn't see a column
    // added after its handle (files carry it, the projection ignores
    // it), and a restarted subscriber sees pre-evolution rows with the
    // added column null-filled (ordinary log-driven evolution). What
    // is NOT safe is NON-additive evolution of a subscribed column:
    // after a DROP/RENAME/retype, files store the data under another
    // name (or not at all) and a raw scan would surface NULLs where
    // values exist — corruption dressed as adaptation. The window
    // REFUSES loudly at that boundary instead; the remedy is a
    // subscriber restart against the current schema.
    val (svOpt, aliases, retired) =
      TxnTable.evolutionMarkers(spark, table, until)
    // the CURRENT schema disambiguates "not yet added in this window"
    // (the column exists now — the handle that captured `base` saw it;
    // pre-addition files null-fill, the documented additive case) from
    // "dropped/renamed since the handle, WITHOUT a vintage marker" (an
    // OVERWRITE records its frame's schema verbatim and clears alias
    // markers) — the latter would null-fill where data exists under
    // another name, so it refuses
    lazy val nowSchema = TxnTable.latestVersion(spark, table)
      .flatMap(v => TxnTable.snapshotSchema(spark, table, v))
    svOpt.foreach { sv =>
      base.fields.foreach { f =>
        // name-mode zero-rewrite RENAME leaves pre-evolution FILES
        // storing the column under its old name — this raw file scan
        // cannot coalesce vintages the way planFiles does, so serving
        // them would be corruption, not adaptation. Both directions
        // refuse: a stale subscriber still holds the OLD name (an
        // alias VALUE), a fresh one requests the NEW name (an alias
        // KEY) over old-name files.
        require(!aliases.exists { case (nw, olds) =>
            nw.equalsIgnoreCase(f.name) ||
              olds.exists(_.equalsIgnoreCase(f.name)) },
          s"$table column '${f.name}' is a zero-rewrite RENAME vintage " +
            "(pre-rename files store the data under another name) — " +
            "the change-feed scan reads files raw; use " +
            "TxnTable.changeFeed (planner path) or OPTIMIZE to " +
            "materialize the rename, then restart the subscriber")
        // a DROPPED column's pre-drop files still hold the dead bytes
        // under the same name — serving them would resurrect them
        require(!retired.exists(_.takeWhile(_ != '#')
            .equalsIgnoreCase(f.name)),
          s"$table column '${f.name}' was dropped (or renamed in " +
            "field-id mode); pre-evolution files hold the DEAD " +
            "column's bytes under that name and a raw feed scan would " +
            "serve them — use TxnTable.changeFeed or OPTIMIZE, then " +
            "restart")
        // RETYPE of a live column cannot null-fill or project away
        sv.fields.find(_.name.equalsIgnoreCase(f.name)).foreach { g =>
          require(g.dataType == f.dataType,
            s"$table retyped column '${f.name}' " +
              s"(${f.dataType.simpleString} -> ${g.dataType.simpleString}) " +
              s"by v$until — the change feed cannot adapt mid-stream; " +
              "restart the subscriber against the current schema")
        }
        // absent from the window-end schema with no vintage marker, and
        // gone from the CURRENT schema too: an OVERWRITE records its
        // frame's schema verbatim and clears alias markers, so a
        // drop/rename via overwrite is otherwise indistinguishable from
        // "not yet added" — and only the latter may null-fill (the
        // column exists NOW, so the handle that captured `base`
        // legitimately saw it). A column PRESENT at the window's end is
        // stored under its subscribed name in every file the window
        // reads, whatever happened after `until`.
        val inWindow = sv.fields.exists(_.name.equalsIgnoreCase(f.name))
        require(inWindow || nowSchema.forall(_.fields.exists(
            _.name.equalsIgnoreCase(f.name))),
          s"$table no longer has column '${f.name}' (dropped or " +
            "renamed since this subscriber's handle — an overwrite " +
            "records no rename vintage, so the feed cannot tell the " +
            "data's new name); restart the subscriber against the " +
            "current schema")
        // a subscriber column ABSENT from the window-end schema with
        // no rename/drop vintage marker is simply NOT YET ADDED in
        // this window — the scan null-fills it, the documented
        // additive semantics (a restarted subscriber reading history
        // that predates its ADD COLUMN must not be refused)
      }
    }
    // FIELD-ID tables rename without aliases: ids, not names, pair a
    // requested column with its bytes — mirror planFiles and turn id
    // resolution on so pre-rename vintages read correctly
    if (FieldIds.hasIds(base)) FieldIds.enableRead(spark)
    ((since + 1L) to until).foreach { v =>
      val cc = TxnTable.commitChanges(spark, table, v)
      // lazy positional replay needs a (prior snapshot ⋈ coordinates)
      // join, which this file-wrapping planner cannot express — refuse
      // LOUDLY rather than silently omitting the commit's deletes (the
      // batch library API, TxnTable.changeFeed, does replay them)
      require(cc.posDels.isEmpty,
        s"$table v$v is a positional-delete commit on a table without " +
          "the change data feed; the DSv2 readChangeFeed path cannot " +
          "replay it — use TxnTable.changeFeed (batch replay) or " +
          "enable CDF (enableChangeFeed=true) before such commits")
      add(cc.inserts, base, "insert", v)
      add(cc.deletes, base, "delete", v)
      add(cc.cdc, cdcSchema, null, v)
    }
    (parts.toArray, new CdcReaderFactory(factories.toArray, base))
  }
}

/** One wrapped file partition: which inner parquet factory reads it,
  * the constant `_change_type` to append (null when the file is an
  * eager change file carrying its own), and the commit version. */
final case class CdcPartition(inner: InputPartition, factoryId: Int,
                              fill: String, version: Long)
    extends InputPartition

/** Appends the feed columns to every inner parquet row: output layout
  * is [table columns..., _change_type, _commit_version]. Row-based on
  * purpose — the feed's volume is the changed rows, not the table, and
  * a row wrapper composes with any inner reader. */
final class CdcReaderFactory(factories: Array[PartitionReaderFactory],
                             base: StructType)
    extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean = false
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[CdcPartition]
    val inner = factories(cp.factoryId).createReader(cp.inner)
    val innerTypes: Array[DataType] =
      if (cp.fill != null) base.fields.map(_.dataType)
      else base.fields.map(_.dataType) :+ StringType
    val width = base.length + 2
    val typeValue = Option(cp.fill).map(UTF8String.fromString).orNull
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        // copy first: the inner reader may reuse its row buffer, and
        // the values we lift out must survive the next() call
        val row = inner.get().copy()
        val out = new GenericInternalRow(width)
        var i = 0
        while (i < innerTypes.length) {
          out.update(i, if (row.isNullAt(i)) null else row.get(i, innerTypes(i)))
          i += 1
        }
        if (typeValue != null) out.update(base.length, typeValue)
        out.setLong(base.length + 1, cp.version)
        out
      }
      override def close(): Unit = inner.close()
    }
  }
}

/** Batch CDF scan: `spark.read.format("graft")
  * .option("readChangeFeed", "true").option("startingVersion", n)
  * [.option("endingVersion", m)].load(path)` — changes in (n, m],
  * ending at the handle's pinned version by default. Filters stay
  * residual and aggregates never push (the feed is a log, not a
  * snapshot — file stats describe table state, not change rows). */
private[io] class GraftCdcScan(
    spark: SparkSession, table: String, version: Long,
    base: StructType, options: CaseInsensitiveStringMap)
    extends Scan with GraftScanFiles {
  private val startV = GraftCdc.sinceOf(spark, table, options)
  private val endV = GraftCdc.untilOf(spark, table, version, options)
  private lazy val planned = GraftCdc.plan(spark, table, base, options, startV, endV)
  override def readSchema(): StructType = GraftCdc.feedSchema(base)
  override def description(): String =
    s"GraftCdcScan graft.`$table` changes ($startV, $endV]"
  override def scannedFileCount: Int = planned._1.length
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = planned._1
    override def createReaderFactory(): PartitionReaderFactory = planned._2
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftCdcMicroBatchStream(spark, table, base, options)
}

/** Streaming CDF source: offsets are committed table versions (same
  * contract as the plain graft source), each microbatch delivers the
  * change rows of the commits in its version window. Routine
  * maintenance (compact, restore) contributes no rows and wedges
  * nothing — the CDF consumer's answer to `skipChangeCommits`, except
  * nothing is lost: UPDATE/DELETE/MERGE commits arrive as their exact
  * pre/post/delete/insert rows. `startingVersion` (exclusive, default
  * 0) or `startingTimestamp` (at-or-after) picks up history;
  * `maxVersionsPerTrigger` bounds backlog drains. */
private[io] class GraftCdcMicroBatchStream(
    spark: SparkSession, table: String, base: StructType,
    options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def ver(o: Offset): Long = o.asInstanceOf[GraftOffset].v

  override def initialOffset(): Offset = new GraftOffset(
    GraftCdc.sinceOf(spark, table, options))
  override def latestOffset(): Offset = new GraftOffset(
    TxnTable.latestVersion(spark, table).getOrElse(0L))
  override def deserializeOffset(json: String): Offset =
    new GraftOffset(json.toLong)

  private val maxVersions: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
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

  private var planned: Option[(Array[InputPartition], PartitionReaderFactory)] = None
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val p = GraftCdc.plan(spark, table, base, options, ver(start), ver(end))
    planned = Some(p)
    p._1
  }
  override def createReaderFactory(): PartitionReaderFactory =
    planned.map(_._2).getOrElse(
      new CdcReaderFactory(Array.empty, base))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
