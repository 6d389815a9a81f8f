package graft.io

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat, count, date_format, hash, input_file_name, lit, max, min, not, pmod, raise_error, trunc, when}
import org.apache.spark.sql.sources.{AlwaysTrue, And, EqualTo, Filter, GreaterThanOrEqual, In, LessThanOrEqual}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal TRANSACTIONAL parquet table: per-version FILE MANIFESTS whose
  * atomic creation IS the commit — the commit-protocol core of the table
  * formats (Delta/Iceberg) whose jar the reference shipped but never used
  * (ref `spark/jars/delta-core_2.12-0.7.0.jar`, SURVEY.md §1.3).
  *
  * Layout:
  *   table/w=ab12cd34/part-*.parquet   immutable data dirs, one per commit
  *   table/w=9f00e1c2/part-*.parquet   attempt, name unique per WRITER
  *   table/_v00001.manifest            commit log entry for snapshot 1
  *   table/_v00002.manifest            commit log entry for snapshot 2
  *
  * Manifest format: `#schema=<json>` (the snapshot's schema — reads plan
  * from the log, never from parquet footers; appends MERGE the incoming
  * frame's schema, so evolution is validated at commit time), `#txn=`
  * marker lines, then one table-relative data-file path per line.
  *
  * Log checkpointing: most append/merge/delete commits write an
  * O(changed files) DELTA manifest (`#delta=` header, `+`/`-` file
  * lines); every `graft.txn.checkpointInterval`-th version — and every
  * overwrite — is a FULL manifest that rolls the chain up, so state
  * resolution reads at most `interval` small objects however long the
  * table's history. A best-effort `_latest` pointer (overwritten after
  * each commit, never part of the CAS) lets discovery probe forward a
  * few versions instead of listing the table directory. Net: commit
  * cost and snapshot-read planning cost are both independent of the
  * number of commits ever made — the property a per-microbatch
  * streaming sink (s60/s62) needs to run for months.
  *
  * Protocol: every commit goes through ONE primitive, `Log.commit`. An
  * op's plan materializes its data files under a fresh unique
  * `w=<token>/` dir (two racing writers can never clobber each other's
  * data) and describes the commit as a typed `Change` — files added and
  * removed, new deletes, and a header update. The primitive renders the
  * next manifest from the base snapshot plus that change (a full
  * manifest or a delta; `computeState` replays a delta through the same
  * `Change.applyTo`) and commits by creating `_v<next>.manifest`
  * EXCLUSIVELY (atomic hard-link publish on local FS, exclusive create
  * on HDFS — see tryCreateAtomic for the per-FS contract). That
  * exclusive create is the FS-level compare-and-swap: exactly one of N
  * racing writers creates the next version's manifest. Every loser
  * backs off, re-reads the NEW latest snapshot and applies its op's
  * rule: REBASE (re-publish the output it already wrote, re-deriving
  * the header against the fresh snapshot — an append always can, a
  * rewrite when the interleaved commits provably cannot touch its rows)
  * or RECOMPUTE (drop its data dirs and plan again from the fresh
  * snapshot) — so concurrent commits serialize and none is lost. One
  * budget of 64 lost CAS tries covers every op. The CAS seam lives in
  * the private `Log` object, so no other code path can publish a
  * manifest. A writer that dies before its manifest rename leaves only
  * an orphan `w=` dir: invisible to readers AND to `versions` (manifest existence
  * is committedness — there is no window where a crashed writer's
  * output is half-visible). This is the concurrency+atomicity fix for
  * the reference's copy-then-delete zone hops
  * (ref `dags/s3-etl-wallet-csv.py:161-176`; SURVEY.md §4.2-5).
  *
  * Idempotent replay: a commit may carry a (txnAppId, batchId) marker,
  * persisted as `#txn=` header lines in the manifest and carried
  * forward by every later commit. `commitAppendIdempotent` is a no-op
  * when the table has already applied a batchId >= the offered one for
  * that appId — exactly Delta's txn-marker scheme — which makes
  * Structured Streaming foreachBatch replay after a sink failure safe
  * (the same microbatch re-offered on restart does not double-append).
  *
  * Scale/portability: the atomicity seam is ONE small-object
  * no-overwrite rename — atomic on HDFS/local via FileContext, mapping
  * to the conditional PUT (If-None-Match) on object stores; data volume
  * never moves through the commit path, and an append commit rewrites
  * NO existing data (manifest concatenation only). Superseded snapshots
  * stay readable (time travel via their manifests) until `vacuum`
  * reclaims unreferenced files; give `vacuum` a `retainMs` covering the
  * longest in-flight commit so it cannot reap a concurrent writer's
  * not-yet-committed data dir. */
object TxnTable {

  private def manifestName(v: Long) = f"_v$v%05d.manifest"
  private val TxnPrefix = "#txn="
  private val SchemaPrefix = "#schema="
  // Declared partition columns (`#partcols=` header, URL-encoded,
  // comma-joined): identity-transform partitioning recorded with the
  // snapshot and carried forward — appends conform to it automatically
  // (sticky, Delta-style), partition-value file grouping happens in
  // writeData, and pruning rides the ordinary stats machinery (each
  // partitioned file is single-valued on the partition column).
  private val PartPrefix = "#partcols="
  // Commit wall-clock, recorded IN the manifest at commit time:
  // `versionAt` (timestampAsOf) binary-searches these instead of
  // listing the directory and trusting filesystem mtimes — O(log
  // versions) small reads, and the timestamp survives a copy/restore
  // of the table directory where mtimes would not. Pre-#ts manifests
  // fall back to their mtime.
  private val TsPrefix = "#ts="
  // What KIND of commit this manifest records (`#op=` header): append,
  // overwrite, update, delete, merge, compact, restore. The change data
  // feed classifies each commit from this label — maintenance commits
  // (compact, restore) rewrite files without changing table CONTENT, so
  // a CDF reader must distinguish them from an UPDATE that rewrote the
  // same files. Commit-scoped: never merged into snapshot state.
  private val OpPrefix = "#op="
  // Change-data-feed enablement (`#cdf=true` header): STICKY table flag
  // (like #partcols) — once a commit records it, every later rewrite
  // commit also writes its row-level change files, and readChangeFeed
  // can serve the full history from that point on. Delta's
  // `delta.enableChangeDataFeed` table property, as a manifest header.
  private val CdfPrefix = "#cdf="
  // EAGER change files (`#cdc=<file>` lines): parquet files holding this
  // commit's row-level changes with their `_change_type` column already
  // materialized (update_preimage/update_postimage/delete/insert) —
  // written by the rewrite paths, which are the only ones that KNOW
  // which rows changed how. Live under the commit's data dir (`w=.../
  // _cdc/...`), so they share its lifecycle. Commit-scoped.
  private val CdcPrefix = "#cdc="
  // LAZY change records (`#cdcdel=<file>` lines): EVERY row of this
  // removed data file is a `delete` of this commit. Zero write cost —
  // the reader reads the superseded file (still on disk until vacuum)
  // and tags its rows. This is what keeps the metadata-only delete
  // (a fully-covered file dropped without being read) metadata-only
  // even with CDF enabled. Commit-scoped.
  private val CdcDelPrefix = "#cdcdel="
  // CONVERTED-IN-PLACE layout (`#pathpart=true` header): STICKY table
  // flag set by `convert` — some of the table's files were adopted from
  // a pre-existing hive-layout parquet directory, where partition
  // values live in `col=value` DIRECTORY NAMES instead of file bytes.
  // Reads split structurally: graft-written files (under `w=<token>/`)
  // carry every column in the file; adopted files (never under `w=`)
  // read with basePath=<table> so Spark's partition discovery fills the
  // partition columns from their paths. No per-file metadata needed.
  private val PathPartPrefix = "#pathpart="
  // COLUMN-MAPPING aliases (`#alias=` lines): logical column name ->
  // prior PHYSICAL names still present in old data files, newest first.
  // Written by the zero-rewrite RENAME COLUMN; the schema-driven read
  // scans logical + alias names and COALESCEs (a column exists under
  // exactly one name per file, so the coalesce picks the one present).
  // Snapshot state, carried by every commit like checks/retired.
  private val AliasPrefix = "#alias="
  // MERGE-ON-READ mode (`#mor=true` header): STICKY table flag (like
  // #cdf) — while on, SQL DELETE writes an equality-delete file (the
  // matched rows' distinct key tuples) instead of rewriting data files,
  // and readers subtract those tuples at query time. The deletion-
  // vector idea of Delta / Iceberg v2, in the equality-delete flavor:
  // a point delete on a 100 TB table writes kilobytes.
  private val MorPrefix = "#mor="
  // Equality-delete files (`#del=<file>|<gateVersion>|<rows>|<keycols>`
  // lines): SNAPSHOT STATE, carried forward like data-file lines until
  // a compaction/overwrite materializes them. The tuples file lives
  // under its commit's data dir (`w=.../_del/...`, invisible to data
  // reads). `gateVersion` pins the delete to its read snapshot: the
  // tuples subtract ONLY from files added at earlier versions, so a
  // row re-inserted after the delete survives (Iceberg's sequence-
  // number rule for equality deletes).
  private val DelPrefix = "#del="
  // Per-file ADD VERSIONS (`#addv=<file>|<version>` lines) back the
  // gate above. Only FULL (checkpoint) manifests write them — a delta
  // manifest's added files carry their own version implicitly (the
  // delta IS that version), so appends stay O(new files). A file with
  // no recorded add version predates merge-on-read entirely and reads
  // as version 0: older than every possible delete, which is exact.
  private val AddvPrefix = "#addv="
  // CHECK constraints (`#check=<name>|<enc sql>` lines): table-level
  // write invariants (ALTER TABLE ADD CONSTRAINT … CHECK, and NOT NULL
  // spelled as a check). SNAPSHOT STATE like the schema: every
  // manifest — full or delta — carries the complete set, so they
  // survive appends, compaction, restore, and DML rewrites. Enforced
  // on every path that introduces or modifies rows (append/overwrite/
  // merge/DML), mirroring the warehouse-DDL boundary the reference
  // delegated to Postgres (ref `dags/s3-etl-wallet-csv.py:208-234`).
  private val ChkPrefix = "#check="
  private val PropPrefix = "#prop="
  // Physical column names EVER dropped from the schema
  // (`#retired=<enc name>,<enc name>…`): old data files still CONTAIN
  // a dropped column, so re-adding the same name would resurrect stale
  // values from pre-drop files instead of reading NULL. Without
  // parquet field-ID column mapping the only sound answer is to refuse
  // that re-add — the retired list is the memory that makes the
  // refusal possible. Carried in every manifest like the schema.
  private val RetiredPrefix = "#retired="
  /** The `_change_type` values the change feed emits (Delta-parity). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  private val StatPrefix = "#stat="   // #stat=<file>|<col>|<min>|<max>[|<nulls>]
  private val StatSep = "|"
  // Per-file ROW COUNTS ride ON the file entry itself — a manifest file
  // line is `<file>` or `<file>|<rows>` (a delta add line `+<file>|<rows>`)
  // — collected by the write tasks together with the column stats
  // and carried forward with the file. They make COUNT(*) (and, with
  // stats, COUNT/MIN/MAX of a column) a pure manifest computation — the
  // metadata-only aggregate a 100 TB table answers without touching a
  // data file. The suffix encoding (vs a separate `#rows=` line) avoids
  // repeating every file path twice in every checkpoint manifest. Files
  // committed before counts existed are bare lines: a missing count is
  // unknown, never zero.
  // Log checkpointing (Delta-style, SNIPPETS.md §checkpointing): a
  // manifest WITHOUT the #delta header is a FULL snapshot (file list =
  // plain lines) — the checkpoint. A manifest WITH it records only the
  // commit's changes: `+<file>` added, `-<file>` removed, plus the full
  // (small) schema/txn headers and #stat lines for the NEW files only.
  // Every `graft.txn.checkpointInterval`-th version (and every
  // overwrite) is full, so state resolution walks back at most
  // interval-1 deltas: commit cost is O(changed files), not O(table).
  private val DeltaPrefix = "#delta="
  private val AddPrefix = "+"
  private val RemovePrefix = "-"
  // Best-effort discovery hint: `_latest` holds a recently committed
  // version number, overwritten after each commit. latestVersion probes
  // FORWARD from it with exists() calls instead of listing the table
  // directory — O(commits since the hint), not O(history). Losing a
  // pointer write (it is not part of the CAS) only costs extra probes.
  private val PointerName = "_latest"
  private def checkpointInterval(spark: SparkSession): Int =
    spark.conf.get("graft.txn.checkpointInterval", "10").toInt
  // Bloom sidecars: `#bloom=<file>|<col>|<bits>|<hashes>` manifest lines
  // record WHICH files carry an equality-skipping bloom for which
  // column; the bitset itself lives in an immutable sidecar object next
  // to the data file (`<file>.bloom.<col>`) — manifests stay O(files)
  // small text lines however large the filters are (Delta keeps its
  // bloom index out of the log for the same reason), and a sidecar is
  // only fetched when an equality query actually probes that file.
  private val BloomPrefix = "#bloom="
  private def bloomBits(spark: SparkSession): Int =
    spark.conf.get("graft.txn.bloomBits", Bloom.DefaultBits.toString).toInt
  private def bloomHashes(spark: SparkSession): Int =
    spark.conf.get("graft.txn.bloomHashes", Bloom.DefaultHashes.toString).toInt

  private def fc(spark: SparkSession): FileContext =
    FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)

  /** Diagnostic: small-object GETs issued by log/metadata reads —
    * specs assert point lookups (versionAt, latestVersion) stay
    * O(log history), not O(history). Monotonic, never reset by the
    * library. */
  val metaReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Diagnostic: data-materializing writes (writeData calls) — specs
    * assert CAS losers REBASE instead of recomputing when the race was
    * with provably-disjoint appends. Monotonic. */
  val dataWrites = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Data writes whose stats, row counts and blooms came from the
    * write tasks themselves (no serial read-back job) — every
    * writeData call since the write tasks collect them, so it tracks
    * [[dataWrites]]; kept as the benchmark's overlap-ratio numerator.
    * Monotonic. */
  val overlapStatsPasses = new java.util.concurrent.atomic.AtomicLong(0L)

  private def readSmall(ctx: FileContext, p: Path): String = {
    metaReads.incrementAndGet()
    val in = ctx.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Highest committed version, if any (manifest existence = committed).
    * With a `_latest` hint: one small GET + a handful of forward
    * exists() probes. Without one (pre-pointer table, lost write):
    * falls back to the directory listing. */
  def latestVersion(spark: SparkSession, table: String): Option[Long] = {
    val ctx = fc(spark)
    val hint: Option[Long] =
      try {
        val p = new Path(table, PointerName)
        if (!ctx.util.exists(p)) None
        else Some(readSmall(ctx, p).trim.toLong)
          .filter(v => ctx.util.exists(new Path(table, manifestName(v))))
      } catch { case scala.util.control.NonFatal(_) => None }
    hint match {
      case Some(k) =>
        var v = k
        while (ctx.util.exists(new Path(table, manifestName(v + 1)))) v += 1
        Some(v)
      case None => listVersions(spark, table).lastOption
    }
  }

  /** Directory-listing fallback for pre-pointer tables (or a lost
    * pointer write): O(directory entries). Every steady-state caller
    * goes through the pointer-bounded `versions`/`latestVersion`. */
  private def listVersions(spark: SparkSession, table: String): Seq[Long] = {
    val ctx = fc(spark)
    val dir = new Path(table)
    if (!ctx.util.exists(dir)) Seq.empty
    else {
      val it = ctx.listStatus(dir)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (it.hasNext) {
        val n = it.next().getPath.getName
        if (n.startsWith("_v") && n.endsWith(".manifest"))
          buf += n.stripPrefix("_v").stripSuffix(".manifest").toLong
      }
      buf.sorted.toSeq
    }
  }

  /** Committed snapshot versions, ascending. Versions are CONTIGUOUS by
    * construction (each commit CASes `latest + 1`; vacuum drops a
    * prefix), so the set is `[floor, latest]`: latest comes from the
    * pointer probe, floor from a binary search for the oldest retained
    * manifest — O(log history) existence probes, no directory listing.
    * Orphan `w=` dirs from dead writers have no manifest and are never
    * reported. */
  def versions(spark: SparkSession, table: String): Seq[Long] =
    latestVersion(spark, table) match {
      case None => Seq.empty
      case Some(latest) =>
        val ctx = fc(spark)
        var lo = 1L
        var hi = latest
        while (lo < hi) {
          val mid = (lo + hi) / 2
          if (ctx.util.exists(new Path(table, manifestName(mid)))) hi = mid
          else lo = mid + 1
        }
        // TAGGED versions survive vacuum BELOW the contiguous floor
        // (non-contiguous retention is exactly what tags buy), so the
        // addressable set is the range UNION live tag targets that
        // still exist — O(tags) extra probes, still no listing
        val pinned = tags(spark, table).values.toSeq.distinct
          .filter(v => v < lo &&
            ctx.util.exists(new Path(table, manifestName(v))))
        (pinned.sorted ++ (lo to latest)).toSeq
    }

  /** The recorded commit wall-clock of one manifest (its `#ts=` header),
    * falling back to the file's mtime for pre-#ts manifests. The Boolean
    * reports which source answered: a binary search over commit times is
    * only sound when every probe came from a recorded header (recorded
    * times are CAS-serialized and nondecreasing up to clock skew;
    * mtimes of copied/restored tables are not), so a `false` anywhere
    * in the probe range sends `versionAt` to the linear scan. */
  private def commitTs(ctx: FileContext, table: String, v: Long): (Long, Boolean) = {
    val p = new Path(table, manifestName(v))
    readSmall(ctx, p).split("\n").find(_.startsWith(TsPrefix))
      .flatMap(_.stripPrefix(TsPrefix).trim.toLongOption) match {
      case Some(ts) => (ts, true)
      case None => (ctx.getFileStatus(p).getModificationTime, false)
    }
  }

  /** Time travel by WALL CLOCK: the latest version committed at or
    * before `tsMillis`. Commit times are recorded in the manifests
    * (`#ts=` header; commits are serialized by the CAS, so they are
    * nondecreasing up to writer clock skew — the same contract Delta's
    * timestampAsOf carries) and binary-searched: O(log history) small
    * reads, never a directory listing, no mtime dependence for any
    * post-#ts table. None when the oldest RETAINED version is later
    * than `tsMillis` (a vacuumed-away prefix is not readable anyway). */
  def versionAt(spark: SparkSession, table: String, tsMillis: Long): Option[Long] = {
    val ctx = fc(spark)
    latestVersion(spark, table).flatMap { latest =>
      var lo = 1L
      var hi = latest
      var best = Option.empty[Long]
      var allRecorded = true
      while (allRecorded && lo <= hi) {
        val mid = (lo + hi) / 2
        if (!ctx.util.exists(new Path(table, manifestName(mid)))) lo = mid + 1
        else {
          val (ts, recorded) = commitTs(ctx, table, mid)
          if (!recorded) allRecorded = false // mixed ts sources: see below
          else if (ts <= tsMillis) { best = Some(mid); lo = mid + 1 }
          else hi = mid - 1
        }
      }
      if (allRecorded) best
      else
        // a probed manifest predates `#ts=`: its mtime may be out of
        // order with recorded times (upgrade boundary, copied/restored
        // table), which could make the binary search skip a version —
        // fall back to the exhaustive scan the pre-#ts code path used
        versions(spark, table)
          .filter(v => commitTs(ctx, table, v)._1 <= tsMillis).lastOption
    }
  }

  private def manifestLines(spark: SparkSession, table: String, version: Long): Seq[String] = {
    val ctx = fc(spark)
    val p = new Path(table, manifestName(version))
    require(ctx.util.exists(p),
      s"no manifest for version $version in $table (never committed, or vacuumed)")
    readSmall(ctx, p).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Table-relative data files of snapshot `version` (public: the
    * file-level lineage view, and what specs assert against). */
  def snapshotFiles(spark: SparkSession, table: String, version: Long): Seq[String] =
    stateOf(spark, table, version).files

  /** Streaming-txn markers of snapshot `version`: appId -> highest
    * applied batchId. Carried forward by every commit. */
  def txnMarkers(spark: SparkSession, table: String, version: Long): Map[String, Long] =
    stateOf(spark, table, version).txns

  /** The snapshot's schema as recorded AT COMMIT TIME in its manifest —
    * reads never touch parquet footers, and time travel returns each
    * version's own schema even after later evolution. */
  def snapshotSchema(spark: SparkSession, table: String,
                     version: Long): Option[org.apache.spark.sql.types.StructType] =
    stateOf(spark, table, version).schema

  /** Highest batchId the table has applied for `appId`, if any. */
  def lastCommittedBatch(spark: SparkSession, table: String, appId: String): Option[Long] =
    latestVersion(spark, table).flatMap(v => txnMarkers(spark, table, v).get(appId))

  /** Table-relative parquet files under `dirName`, RECURSIVE: a
    * partitioned commit nests hive-style value dirs inside its `w=` dir
    * (`w=ab/__gp_k=v/part-*.parquet`); flat commits are the depth-0
    * case. */
  private def listParquet(spark: SparkSession, table: String, dirName: String): Seq[String] = {
    val ctx = fc(spark)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(rel: String): Unit = {
      val it = ctx.listStatus(new Path(s"$table/$rel"))
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        // `_`-prefixed entries are metadata, not data: the `_cdc/`
        // change-file dir a rewrite commit nests inside its data dir
        // must never be read back as table rows. The one exception is
        // `__gp_<col>=<value>` hive-style partition-value dirs, which ARE
        // data layout.
        if (st.isDirectory && (!n.startsWith("_") || n.startsWith("__gp_")))
          walk(s"$rel/$n")
        else if (!st.isDirectory && n.endsWith(".parquet") && !n.startsWith("_"))
          buf += s"$rel/$n"
      }
    }
    walk(dirName)
    buf.sorted.toSeq
  }

  import org.apache.spark.sql.types._

  /** Per-file min/max of one designated stats column — the
    * data-skipping metadata (Delta/Iceberg file stats): collected once
    * at commit over the NEW files only, carried forward with the file.
    * A file may carry stats for several columns (z-ordered layouts
    * record both curve dimensions, so reads skip on either).
    *
    * `kind` says what `minV`/`maxV` hold: "str" raw strings, [[TypedKind]]
    * the column's own Catalyst value as text ([[statText]]), "null" an
    * all-NULL column (no min/max), and legacy "num" a double of the
    * writer's session-zone normalization. Only [[bounds]] reads them;
    * every consumer compares what it returns with the column type's
    * `PhysicalDataType.ordering` — the order Spark's own min/max use,
    * UTF-8 binary for strings (== DuckDB's default collation, so
    * skipping agrees with the oracle). A line that cannot say
    * exactly what its column holds has no bounds: it never prunes.
    *
    * `nulls` counts the column's NULL rows — the rows min/max say
    * NOTHING about (aggregates skip them). It gates metadata-only
    * decisions: a file whose min/max sit inside a delete range may
    * still hide NULL-keyed rows that SQL DELETE semantics must retain,
    * so it is only droppable without being read when `nulls == 0`.
    * `-1` = unknown (pre-nulls manifest): never trust it for a
    * destructive metadata-only action. */
  final case class FileStat(col: String, kind: String,
                            minV: String, maxV: String, nulls: Long = -1L) {
    /** (min, max) as Catalyst values of column type `dt`, or None. A
      * typed line reads as the type it names, so a column widened by
      * ALTER COLUMN reads its narrower stats. A legacy line reads only
      * where its double is exact: integrals within 2^52, whole-day
      * DATEs (a UTC writer), TIMESTAMPs within 2^51 µs, floats and
      * doubles — never TIMESTAMP_NTZ (the writer's zone was not
      * recorded) nor decimals. */
    def bounds(dt: DataType): Option[(Any, Any)] = {
      val exact = 4503599627370496.0 // 2^52
      def whole(d: Double) =
        Option.when(math.abs(d) <= exact && d == math.rint(d))(d.toLong)
      val one: String => Option[Any] = (kind, dt) match {
        case ("str", StringType) => s => Some(UTF8String.fromString(s))
        case (TypedKind, _) => s => scala.util.Try(dt match {
          case BooleanType => s.toBoolean
          case ByteType => s.toByte
          case ShortType => s.toShort
          case IntegerType | DateType => s.toInt
          case LongType | TimestampType | TimestampNTZType => s.toLong
          case FloatType => s.toFloat
          case DoubleType => s.toDouble
          case d: DecimalType => Some(Decimal(new java.math.BigDecimal(s)))
              .filter(_.changePrecision(d.precision, d.scale)).orNull
        }).toOption.filter(_ != null)
        case (LegacyKind, _) => s => s.toDoubleOption.flatMap(d => dt match {
          case ByteType => whole(d).map(_.toByte)
          case ShortType => whole(d).map(_.toShort)
          case IntegerType => whole(d).map(_.toInt)
          case LongType => whole(d)
          case FloatType => Some(d.toFloat)
          case DoubleType => Some(d)
          case BooleanType => Some(d != 0.0)
          case DateType => whole(d / 86400.0).filter(_.isValidInt).map(_.toInt)
          case TimestampType => Option.when(math.abs(d * 1e6) < exact / 2)(
            math.rint(d * 1e6).toLong)
          case _ => None
        })
        case _ => _ => None
      }
      for (mn <- one(minV); mx <- one(maxV)) yield (mn, mx)
    }
    /** Stats PROVE no row's value lies inside `b`: the range misses
      * [min, max], or the column is all NULL. */
    def disjointFrom(b: Bound): Boolean = kind == "null" ||
      bounds(b.dt).exists { case (mn, mx) =>
        b.lo.exists(b.ordering.lt(mx, _)) || b.hi.exists(b.ordering.lt(_, mn))
      }
    def mayOverlap(b: Bound): Boolean = !disjointFrom(b)
  }

  /** A query range on a column of type `dt`: inclusive lo/hi Catalyst
    * values of that type (None = unbounded), ordered like the stats. */
  final case class Bound(dt: DataType, lo: Option[Any] = None,
                         hi: Option[Any] = None) {
    @transient lazy val ordering: Ordering[Any] = PhysicalDataType.ordering(dt)
  }

  /** Partition entries are identity column names (`c`) or a time
    * transform — `days(c)`, `hours(c)`, `months(c)`, `years(c)` (the
    * Delta/Iceberg temporal layouts; days is the events/streaming
    * default). A transform entry groups files by the UTC time bucket of
    * the source column: each file's min/max is bucket-tight, so the
    * EXISTING stats machinery does the partition pruning (range filters
    * skip files, and StatsPruner.mustMatch proves full-match for
    * interior buckets — bucket-aligned COUNT/MIN/MAX stay
    * metadata-only). Timezone-bearing timestamps bucket in the session
    * zone (UTC in this engine's sessions); TIMESTAMP_NTZ buckets on its
    * wall clock. */
  private val DaysEntry = """days\((.+)\)""".r
  private val HoursEntry = """hours\((.+)\)""".r
  private val MonthsEntry = """months\((.+)\)""".r
  private val YearsEntry = """years\((.+)\)""".r
  private[io] val PartTransformNames = Seq("days", "hours", "months", "years")

  /** `bucket(n, c)` — hash-bucket partitioning for HIGH-cardinality
    * keys (Iceberg's bucket transform): partition value =
    * pmod(murmur3(c), n), so two tables bucketed the same way are
    * co-partitioned for storage-partitioned joins on keys identity
    * partitioning could never enumerate. The hash is Spark's own
    * `hash()` (Murmur3, seed 42) — one definition shared by the write
    * path, the V2 bucket function (GraftBucketFunction), and any
    * engine that re-derives bucket ids. */
  private[io] object BucketEntry {
    private val Re = """bucket\((\d+)\s*,\s*(.+)\)""".r
    def unapply(s: String): Option[(Int, String)] = s match {
      case Re(n, c) => Some((n.toInt, c.trim))
      case _ => None
    }
    def apply(n: Int, c: String): String = s"bucket($n,$c)"
  }
  /** Top-level comma split that respects parentheses — partition specs
    * carry transform entries like `bucket(8, k)` whose inner comma must
    * not split the entry. Shared by the writer's `partitionBy` option
    * and the SQL parser's `SET PARTITIONED BY` list. */
  private[graft] def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case ch => cur.append(ch)
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private[io] def partSource(entry: String): String = entry match {
    case DaysEntry(c) => c
    case HoursEntry(c) => c
    case MonthsEntry(c) => c
    case YearsEntry(c) => c
    case BucketEntry(_, c) => c
    case c => c
  }
  private def partDirName(entry: String): String = entry match {
    case DaysEntry(c) => s"__gp_days_$c"
    case HoursEntry(c) => s"__gp_hours_$c"
    case MonthsEntry(c) => s"__gp_months_$c"
    case YearsEntry(c) => s"__gp_years_$c"
    case BucketEntry(n, c) => s"__gp_bucket_${n}_$c"
    case c => s"__gp_$c"
  }
  private def partDirExpr(entry: String): org.apache.spark.sql.Column =
    entry match {
      case DaysEntry(c) => col(c).cast("date")
      case HoursEntry(c) => date_format(col(c), "yyyy-MM-dd-HH")
      case MonthsEntry(c) => trunc(col(c).cast("date"), "month")
      case YearsEntry(c) => trunc(col(c).cast("date"), "year")
      case BucketEntry(n, c) => pmod(hash(col(c)), lit(n))
      case c => col(c)
    }

  /** The bucket id a file landed in, parsed from its partition-dir path
    * segment (`…/__gp_bucket_<n>_<col>=<id>/part-….parquet`) — the
    * read-side inverse of partDirExpr for bucket entries. */
  private[io] def bucketIdOf(file: String, n: Int, c: String): Option[Int] = {
    val prefix = s"__gp_bucket_${n}_$c="
    file.split('/').collectFirst {
      case seg if seg.startsWith(prefix) => seg.substring(prefix.length).toInt
    }
  }

  /** The bucket an equality value lands in — MUST agree with
    * partDirExpr's pmod(hash(col), n) (Spark's Murmur3, seed 42) or
    * plan-time bucket pruning would skip the wrong files. None when the
    * runtime value can't be converted to the column's catalyst form
    * (unused pruning beats wrong pruning). */
  private[io] def bucketOf(value: Any, dt: DataType, n: Int): Option[Int] =
    try {
      val cat = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToCatalyst(value)
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(cat, dt, 42L).toInt
      val r = h % n
      Some(if (r < 0) r + n else r)
    } catch { case _: Exception => None }

  /** Plan- and run-time BUCKET pruning: a point lookup on a
    * bucket(n, col) partition column keeps only the value's own
    * bucket's files — min/max stats are useless on a hash-partitioned
    * key (every bucket spans the whole range), but the bucket of an
    * equality value is computable without touching data. Each
    * equality constraint (= or IN) is a disjunction whose bucket set
    * admits a file; conjuncts intersect; an inconvertible value voids
    * its constraint (unused pruning, never wrong pruning). */
  private[io] def pruneByBucket(files: Seq[String], partCols: Seq[String],
                                schema: StructType,
                                eqCons: Seq[(String, Seq[Any])]): Seq[String] =
    partCols.collect { case e @ BucketEntry(_, _) => e }
      .foldLeft(files) { case (fs, BucketEntry(n, c)) =>
        val dt = schema.find(_.name == c).map(_.dataType)
        val perConjunct: Seq[Set[Int]] = dt match {
          case None => Nil
          case Some(t) => eqCons.filter(_._1 == c).flatMap { case (_, vs) =>
            val ids = vs.map(v => bucketOf(v, t, n))
            if (ids.exists(_.isEmpty)) None else Some(ids.flatten.toSet)
          }
        }
        if (perConjunct.isEmpty) fs
        else {
          val wanted = perConjunct.reduce(_ intersect _)
          fs.filter(f => bucketIdOf(f, n, c).forall(wanted.contains))
        }
      }

  /** The declared type at a possibly-dotted column path: top-level
    * name first (a literal dotted name wins), then a struct-chain walk
    * — the one resolution rule shared by stats collection, the pruner,
    * and bloom probes, so a nested stats column can never resolve
    * differently on the write and read sides. */
  private[io] def typeAt(schema: StructType, c: String): Option[DataType] =
    schema.fields.find(_.name == c).map(_.dataType).orElse {
      def walk(dt: DataType, ps: Seq[String]): Option[DataType] = ps match {
        case Seq() => Some(dt)
        case h +: t => dt match {
          case s: StructType =>
            s.fields.find(_.name == h).flatMap(f => walk(f.dataType, t))
          case _ => None
        }
      }
      if (c.contains('.')) walk(schema, c.split('.').toSeq) else None
    }

  /** Longest string a per-file min/max stat may record; longer values
    * get NO stat for that (file, column) — see the cap note at the
    * collection site. */
  private[io] def statMaxStringLen(spark: SparkSession): Int =
    spark.conf.getOption("graft.stats.maxStringLen")
      .map(_.toInt).getOrElse(256)

  /** The stats kind of a column type, if any: unsupported types simply
    * collect no stats (conservative scans, never an error). */
  private[io] def statKind(dt: DataType): Option[String] = dt match {
    case StringType => Some("str")
    case DateType | TimestampType | TimestampNTZType | BooleanType |
         _: NumericType => Some(TypedKind)
    case _ => None
  }

  /** The kind of a stat written in its column's own type, and of a
    * legacy line (its kind field absent on the oldest ones). */
  private[io] val TypedKind = "typed"
  private val LegacyKind = "num"

  /** The manifest text of a Catalyst min/max: DATE as epoch days,
    * TIMESTAMP as UTC micros, TIMESTAMP_NTZ as local micros, decimals
    * as plain text, the rest as Java text — a float as its exact double,
    * so a column widened to DOUBLE reads back the stored value.
    * `NaN` and `-0.0` round-trip. */
  private[io] def statText(v: Any): String = v match {
    case f: Float => f.toDouble.toString
    case d: Decimal => d.toJavaBigDecimal.toPlainString
    case x => x.toString
  }

  /** Timestamp option parsing shared by snapshot pinning and the change
    * feed: epoch millis, or "yyyy-MM-dd[ HH:mm:ss]" interpreted UTC. */
  private[graft] def parseUtcMillis(raw: String): Long =
    raw.trim.toLongOption.getOrElse {
      val t = raw.trim
      val ldt =
        if (t.length <= 10) java.time.LocalDate.parse(t).atStartOfDay()
        else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  /** Query value `v` as a Catalyst value of column type `dt`, as
    * Spark's `Cast` converts it under the session zone; None = it
    * bounds nothing. A value of the column's type is itself; a number
    * (to a numeric column) or a java temporal (to a temporal column)
    * converts only when casting the result back gives `v`, so 2^60 + 1
    * never becomes the double 2^60, nor noon a date; a string converts
    * to a temporal column as Spark casts it for a comparison. The
    * callers' rows compare in the column's type too: Spark pushes
    * filters only on a bare column, with the value already cast to its
    * type, and a [[Scope]] filters its rows with the converted value.
    * A `Literal` is its value in its own type. */
  private[io] def boundValue(v: Any, dt: DataType): Option[Any] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    val l = v match {
      case l: Literal => l
      case _ => try Literal(v) catch { case _: RuntimeException => return None }
    }
    def cast(x: Any, from: DataType, to: DataType) = Option(Cast(Literal(x, from),
      to, Some(SQLConf.get.sessionLocalTimeZone), EvalMode.TRY).eval())
    def exact = cast(l.value, l.dataType, dt).filter(x => cast(x, dt, l.dataType)
      .exists(PhysicalDataType.ordering(l.dataType).equiv(_, l.value)))
    def temporal(t: DataType) =
      t == DateType || t == TimestampType || t == TimestampNTZType
    l.dataType match {
      case `dt` => Some(l.value)
      case _: NumericType if dt.isInstanceOf[NumericType] => exact
      case StringType if temporal(dt) => cast(l.value, StringType, dt)
      case t if temporal(t) && temporal(dt) => exact
      case _ => None
    }
  }

  /** Possibly-open bound of column type `dt` from optional endpoints —
    * what the SQL DML lowering derives from a WHERE's conjuncts as its
    * rebase proof. None when an endpoint does not convert (callers must
    * then not claim disjointness). */
  private[graft] def boundOf(lo: Option[Any], hi: Option[Any],
                             dt: DataType): Option[Bound] = {
    val (l, h) = (lo.map(boundValue(_, dt)), hi.map(boundValue(_, dt)))
    if (l.contains(None) || h.contains(None) || (l ++ h).isEmpty) None
    else Some(Bound(dt, l.flatten, h.flatten))
  }

  /** The (min, max) of column type `dt` over per-file stats, all-NULL
    * files aside; None when no file has a value or a stat does not
    * decode. */
  private[io] def foldBounds(ss: Seq[FileStat], dt: DataType): Option[(Any, Any)] = {
    val bs = ss.filterNot(_.kind == "null").map(_.bounds(dt))
    Option.when(bs.nonEmpty && bs.forall(_.isDefined)) {
      val o = PhysicalDataType.ordering(dt)
      (bs.flatten.map(_._1).reduce(o.min[Any]),
        bs.flatten.map(_._2).reduce(o.max[Any]))
    }
  }

  /** Manifest record of one file's bloom sidecar: the column it covers
    * and its (bits, hashes) geometry — pinned per file, so a later
    * `graft.txn.bloomBits` change never misreads an old sidecar. */
  final case class BloomMeta(col: String, bits: Int, hashes: Int)

  /** One committed equality-delete file: `file` holds the DISTINCT
    * `keyCols` tuples of the rows a merge-on-read DELETE removed;
    * readers subtract them (null-safe anti-join) from every data file
    * whose add version is strictly below `version` — files added later
    * are exempt, so re-inserted rows survive. `rows` = tuple count
    * (informational).
    *
    * `named` (positional vectors only): the table-relative data files
    * the vector's coordinates actually reference, recorded at commit
    * time. A positional delete can only remove rows of files it
    * names, so readers restrict the identity subtraction — and its
    * fast-path cost — to exactly those files: on a 100 TB table a
    * kilobyte vector touching two files knocks only those two off the
    * stats-pruned DSv2 path instead of every file under its gate.
    * Empty = unknown (legacy manifest, or the vector named more files
    * than `graft.txn.posNamedLimit`) → readers fall back to gating
    * every file under the version gate, which is always sound. */
  final case class DelMeta(file: String, version: Long,
                           keyCols: Seq[String], rows: Long,
                           named: Seq[String] = Nil) {
    /** May this delete remove rows of data file `f` (added at version
      * `addedAt`)? The version gate applies to both flavors; a
      * positional vector with a recorded file list additionally gates
      * only the files it names. */
    def gates(f: String, addedAt: Long): Boolean =
      version > addedAt &&
        (keyCols != PosDelKeyCols || named.isEmpty || namedSet(f))
    @transient private lazy val namedSet: Set[String] = named.toSet
  }

  /** Sentinel `keyCols` marking a POSITIONAL delete file — the
    * deletion-vector flavor proper: the sidecar holds (table-relative
    * file path, row ordinal) pairs naming EXACT physical rows, instead
    * of equality key tuples. It rides the identical `#del=` manifest
    * line, version gate, liveness rule, compaction materialization,
    * and vacuum pinning as equality deletes — only the read-side
    * subtraction differs (anti-join on `_metadata` row identity).
    * Positional deletes express what equality deletes cannot: removing
    * SOME of several identical rows (in-place dedup keep-first) and
    * deleting rows selected by a non-column criterion (sampling, an
    * ANN result, a human review list). */
  val PosDelKey = "__pos__"
  private[graft] val PosDelKeyCols: Seq[String] = Seq(PosDelKey)
  /** Column names of a positional sidecar / [[readWithRowIdentity]]. */
  val PosFileCol = "_gfile"
  val PosOrdCol = "_gpos"
  private val IdPathCol = "__gpath"
  private val IdPosCol = "__gpos"
  private def PosDelSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(PosFileCol,
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(PosOrdCol,
      org.apache.spark.sql.types.LongType)))

  /** Column types a bloom can cover: exact-equality types whose query
    * constants coerce unambiguously to the column's declared type (the
    * hash is type-sensitive — an Int and a Long with the same value
    * hash differently). Floating point is excluded on purpose:
    * equality on it is a modeling error, not a lookup. */
  private[io] def bloomSupported(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Query constant → the 64-bit hash `xxhash64(col)` gives that value
    * in a column of type `dt`; None when the constant cannot be coerced
    * (conservative: the caller must not prune). */
  private[io] def hashForColumn(v: Any, dt: DataType): Option[Long] = {
    val coerced: Option[Any] = (v, dt) match {
      case (s: String, StringType) => Some(s)
      case (n: Number, LongType) => Some(n.longValue())
      case (n: Number, IntegerType) => Some(n.intValue())
      case (n: Number, ShortType) => Some(n.shortValue())
      case (n: Number, ByteType) => Some(n.byteValue())
      case _ => None
    }
    coerced.map(c => org.apache.spark.sql.GraftBridge.xxhash64Value(c, dt))
  }

  private final case class State(
      version: Long,
      txns: Map[String, Long],
      files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      stats: Map[String, Seq[FileStat]],
      blooms: Map[String, Seq[BloomMeta]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      partCols: Seq[String] = Nil,
      cdf: Boolean = false,
      mor: Boolean = false,
      dels: Seq[DelMeta] = Nil,
      addv: Map[String, Long] = Map.empty,
      checks: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      pathpart: Boolean = false,
      aliases: Map[String, Seq[String]] = Map.empty,
      props: Map[String, String] = Map.empty) {
    def stat(f: String, c: String): Option[FileStat] =
      stats.getOrElse(f, Nil).find(_.col == c)
    /** Overlap test for pruning: false only when stats PROVE the file
      * cannot contain a row with `c` inside `b`. */
    def mayOverlap(f: String, c: String, b: Bound): Boolean =
      stat(f, c).forall(_.mayOverlap(b))
    def bloom(f: String, c: String): Option[BloomMeta] =
      blooms.getOrElse(f, Nil).find(_.col == c)
    def bloomCols: Set[String] = blooms.values.flatten.map(_.col).toSet
    /** This snapshot — refusing a table with no commits yet. */
    def present(table: String): State =
      if (version > 0L) this
      else throw new IllegalStateException(s"no committed version in $table")
    def schemaOf(table: String): StructType = schema.getOrElse(
      throw new IllegalStateException(s"$table predates the schema log"))
    /** Does an in-place-converted file survive once `removed` leaves?
      * The `#pathpart` flag is sticky only while one does. */
    def keepsAdopted(removed: Set[String]): Boolean =
      pathpart && files.exists(f => !f.startsWith("w=") && !removed(f))
  }

  private object State {
    /** The snapshot of a table with no commits: version 0, nothing. */
    val empty: State = State(0L, Map.empty, Nil, None, Map.empty)
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, UTF_8) // "|"/newlines can occur in string mins
  private def dec(s: String): String = java.net.URLDecoder.decode(s, UTF_8)

  private def statLine(f: String, s: FileStat): String = {
    val (mn, mx) =
      if (s.kind == "str") (enc(s.minV), enc(s.maxV)) else (s.minV, s.maxV)
    s"$StatPrefix$f$StatSep${s.col}$StatSep$mn$StatSep$mx$StatSep${s.nulls}$StatSep${s.kind}"
  }

  private def parseStats(headers: Seq[String]): Map[String, Seq[FileStat]] =
    headers.filter(_.startsWith(StatPrefix)).map { l =>
      val parts =
        l.stripPrefix(StatPrefix).split(java.util.regex.Pattern.quote(StatSep))
      val nulls = if (parts.length >= 5) parts(4).toLong else -1L
      val kind = if (parts.length >= 6) parts(5) else LegacyKind
      val (mn, mx) =
        if (kind == "str") (dec(parts(2)), dec(parts(3))) else (parts(2), parts(3))
      parts(0) -> FileStat(parts(1), kind, mn, mx, nulls)
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  private def fileLine(f: String, rows: Map[String, Long]): String =
    rows.get(f).map(n => s"$f$StatSep$n").getOrElse(f)

  /** `<file>` or `<file>|<rows>` → (file, known count). The pipe suffix
    * is only stripped when the remainder still looks like a data-file
    * path (ends in .parquet) — a future file name that happened to
    * contain `|<digits>` must parse as a bare name, not be silently
    * truncated into a wrong path plus a bogus count. */
  private def parseFileLine(l: String): (String, Option[Long]) = {
    val i = l.lastIndexOf(StatSep)
    if (i < 0) (l, None)
    else (l.take(i), l.drop(i + 1).toLongOption) match {
      case (f, Some(n)) if f.endsWith(".parquet") => (f, Some(n))
      case _ => (l, None)
    }
  }

  private def bloomLine(f: String, b: BloomMeta): String =
    s"$BloomPrefix$f$StatSep${b.col}$StatSep${b.bits}$StatSep${b.hashes}"

  private def parseBlooms(headers: Seq[String]): Map[String, Seq[BloomMeta]] =
    headers.filter(_.startsWith(BloomPrefix)).map { l =>
      val parts =
        l.stripPrefix(BloomPrefix).split(java.util.regex.Pattern.quote(StatSep))
      parts(0) -> BloomMeta(parts(1), parts(2).toInt, parts(3).toInt)
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  /** Sidecar object holding the bitset of `f`'s bloom for `col` — next
    * to the data file, so it shares the file's lifecycle (carried by
    * reference with it, reclaimed by vacuum with it). */
  private def bloomSidecar(table: String, f: String, col: String): Path =
    new Path(s"$table/$f.bloom.${enc(col)}")

  private def parseTxns(headers: Seq[String]): Map[String, Long] =
    headers.filter(_.startsWith(TxnPrefix)).map { l =>
      val body = l.stripPrefix(TxnPrefix)
      val i = body.lastIndexOf(':')
      body.take(i) -> body.drop(i + 1).toLong
    }.toMap

  private def parseSchema(
      headers: Seq[String]): Option[org.apache.spark.sql.types.StructType] =
    headers.find(_.startsWith(SchemaPrefix))
      .map(l => org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix(SchemaPrefix))
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Snapshot state at `v`: walk BACK from v to the nearest full
    * (checkpoint) manifest — at most checkpointInterval-1 hops, each a
    * small GET — then replay the delta chain forward: removals drop
    * files (and their stats), additions append; schema/txn headers come
    * from v's own manifest (every manifest carries them in full). A
    * commit try therefore reads O(interval) small objects regardless of
    * table history length. */
  /** Parsed-snapshot cache: a committed version's State is IMMUTABLE
    * (manifests are write-once; a delta's chain below it cannot change
    * without a new version), so (manifest path, length, mtime) is a
    * sound cache key — the fingerprint catches a table directory being
    * deleted and recreated at the same path, which version alone would
    * alias. Planning cost for a hot table drops from O(manifest bytes)
    * per call — and stateOf is called several times per query — to one
    * stat(): the in-memory analog of Delta's parquet-checkpoint reads.
    * Bounded LRU; entries for superseded versions age out. */
  private val stateCache =
    new java.util.LinkedHashMap[(String, Long, Long), State](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), State]): Boolean =
        size() > 64
    }

  private def stateOf(spark: SparkSession, table: String, v: Long): State = {
    val ctx = fc(spark)
    val top = new Path(table, manifestName(v))
    val key = try {
      val fs = ctx.getFileStatus(top)
      Some((top.toString, fs.getLen, fs.getModificationTime))
    } catch { case _: java.io.IOException => None }
    key.flatMap(k => stateCache.synchronized(Option(stateCache.get(k))))
      .getOrElse {
        val st = computeState(spark, table, v)
        key.foreach(k => stateCache.synchronized { stateCache.put(k, st); () })
        st
      }
  }

  private def computeState(spark: SparkSession, table: String, v: Long): State = {
    var chain = List.empty[Seq[String]] // deltas, oldest first
    var cur = v
    var lines = manifestLines(spark, table, cur)
    while (lines.exists(_.startsWith(DeltaPrefix))) {
      chain ::= lines
      cur -= 1
      require(cur >= 1, s"delta chain under version $v of $table has no " +
        "full base manifest (vacuumed too aggressively?)")
      lines = manifestLines(spark, table, cur)
    }
    // a delta's added files were added AT the delta's own version —
    // recorded implicitly by chain position, never as #addv lines
    chain.foldLeft(parseFull(lines, cur)) { (st, delta) =>
      parseDelta(delta).applyTo(st, st.version + 1L)
    }
  }

  /** Snapshot-wide header fields of one manifest, full or delta — every
    * manifest carries them in full, so they REPLACE the prior state's. */
  private def parseHeader(headers: Seq[String]): State => State =
    _.copy(txns = parseTxns(headers), schema = parseSchema(headers),
      partCols = parsePartCols(headers), cdf = parseCdf(headers),
      mor = parseMor(headers), checks = parseChecks(headers),
      retired = parseRetired(headers), pathpart = parsePathPart(headers),
      aliases = parseAliases(headers), props = parseProps(headers))

  private def parseFull(lines: Seq[String], v: Long): State = {
    val (headers, fileLines) = lines.partition(_.startsWith("#"))
    val parsed = fileLines.map(parseFileLine)
    parseHeader(headers)(State.empty.copy(version = v,
      files = parsed.map(_._1), stats = parseStats(headers),
      blooms = parseBlooms(headers),
      rows = parsed.collect { case (f, Some(n)) => f -> n }.toMap,
      dels = parseDels(headers), addv = parseAddv(headers)))
  }

  /** A `#delta=` manifest as the [[Change]] that wrote it (its
    * commit-scoped change-feed lines do not enter snapshot state). */
  private def parseDelta(lines: Seq[String]): Change = {
    val (headers, body) = lines.partition(_.startsWith("#"))
    val added = body.filter(_.startsWith(AddPrefix))
      .map(l => parseFileLine(l.stripPrefix(AddPrefix)))
    Change(
      op = headers.find(_.startsWith(OpPrefix))
        .fold("")(_.stripPrefix(OpPrefix)),
      added = added.map(_._1),
      stats = parseStats(headers),
      blooms = parseBlooms(headers),
      rows = added.collect { case (f, Some(n)) => f -> n }.toMap,
      removed = body.filter(_.startsWith(RemovePrefix))
        .map(_.stripPrefix(RemovePrefix)),
      dels = parseDels(headers),
      header = parseHeader(headers))
  }

  private def parsePartCols(headers: Seq[String]): Seq[String] =
    headers.find(_.startsWith(PartPrefix)).toSeq
      .flatMap(_.stripPrefix(PartPrefix).split(",").toSeq)
      .map(_.trim).filter(_.nonEmpty).map(dec)

  private def parseCdf(headers: Seq[String]): Boolean =
    headers.exists(l => l.startsWith(CdfPrefix) &&
      l.stripPrefix(CdfPrefix).trim == "true")

  private def parseMor(headers: Seq[String]): Boolean =
    headers.exists(l => l.startsWith(MorPrefix) &&
      l.stripPrefix(MorPrefix).trim == "true")

  private def parsePathPart(headers: Seq[String]): Boolean =
    headers.exists(l => l.startsWith(PathPartPrefix) &&
      l.stripPrefix(PathPartPrefix).trim == "true")

  private def aliasLines(aliases: Map[String, Seq[String]]): Seq[String] =
    aliases.toSeq.sortBy(_._1).map { case (l, as) =>
      s"$AliasPrefix${enc(l)}$StatSep${as.map(enc).mkString(",")}" }

  private def parseAliases(headers: Seq[String]): Map[String, Seq[String]] =
    headers.filter(_.startsWith(AliasPrefix)).map { l =>
      val p = l.stripPrefix(AliasPrefix)
        .split(java.util.regex.Pattern.quote(StatSep))
      dec(p(0)) -> p(1).split(",").toSeq.filter(_.nonEmpty).map(dec)
    }.toMap

  private def delLine(d: DelMeta): String =
    s"$DelPrefix${d.file}$StatSep${d.version}$StatSep${d.rows}$StatSep" +
      d.keyCols.map(enc).mkString(",") +
      // optional 5th field: the files a positional vector names —
      // omitted when unknown, so pre-named manifests parse unchanged
      (if (d.named.isEmpty) ""
       else StatSep + d.named.map(enc).mkString(","))

  private def parseDels(headers: Seq[String]): Seq[DelMeta] =
    headers.filter(_.startsWith(DelPrefix)).map { l =>
      val p = l.stripPrefix(DelPrefix)
        .split(java.util.regex.Pattern.quote(StatSep))
      DelMeta(p(0), p(1).toLong,
        p(3).split(",").toSeq.filter(_.nonEmpty).map(dec), p(2).toLong,
        named =
          if (p.length > 4) p(4).split(",").toSeq.filter(_.nonEmpty).map(dec)
          else Nil)
    }

  private def addvLines(addv: Map[String, Long],
                        filesSet: Set[String]): Seq[String] =
    addv.toSeq.filter(kv => filesSet(kv._1) && kv._2 > 0L).sortBy(_._1)
      .map { case (f, v) => s"$AddvPrefix$f$StatSep$v" }

  private def parseAddv(headers: Seq[String]): Map[String, Long] =
    headers.filter(_.startsWith(AddvPrefix)).map { l =>
      val body = l.stripPrefix(AddvPrefix)
      val i = body.lastIndexOf(StatSep)
      body.take(i) -> body.drop(i + 1).toLong
    }.toMap

  private def checkLines(checks: Map[String, String]): Seq[String] =
    checks.toSeq.sortBy(_._1).map { case (n, sql) =>
      s"$ChkPrefix${enc(n)}$StatSep${enc(sql)}" }

  private def propLines(props: Map[String, String]): Seq[String] =
    props.toSeq.sortBy(_._1).map { case (k, v) =>
      s"$PropPrefix${enc(k)}$StatSep${enc(v)}" }

  private def parseProps(headers: Seq[String]): Map[String, String] =
    headers.filter(_.startsWith(PropPrefix)).map { l =>
      val p = l.stripPrefix(PropPrefix)
        .split(java.util.regex.Pattern.quote(StatSep))
      dec(p(0)) -> (if (p.length > 1) dec(p(1)) else "")
    }.toMap

  private def parseChecks(headers: Seq[String]): Map[String, String] =
    headers.filter(_.startsWith(ChkPrefix)).map { l =>
      val p = l.stripPrefix(ChkPrefix)
        .split(java.util.regex.Pattern.quote(StatSep))
      dec(p(0)) -> dec(p(1))
    }.toMap

  private def retiredLine(retired: Seq[String]): Seq[String] =
    if (retired.isEmpty) Nil
    else Seq(s"$RetiredPrefix${retired.map(enc).mkString(",")}")

  private def parseRetired(headers: Seq[String]): Seq[String] =
    headers.find(_.startsWith(RetiredPrefix)).toSeq
      .flatMap(_.stripPrefix(RetiredPrefix).split(",").toSeq)
      .filter(_.nonEmpty).map(dec)

  /** Is the change data feed enabled on the latest snapshot? */
  def changeFeedEnabled(spark: SparkSession, table: String): Boolean =
    latestState(spark, table).exists(_.cdf)

  /** Is merge-on-read DML enabled on the latest snapshot? */
  def mergeOnReadEnabled(spark: SparkSession, table: String): Boolean =
    latestState(spark, table).exists(_.mor)

  /** Does the latest snapshot still carry in-place-converted files
    * (partition values path-derived — see `convert`)? Drops when the
    * last adopted file is rewritten. */
  def convertedInPlace(spark: SparkSession, table: String): Boolean =
    latestState(spark, table).exists(_.pathpart)

  /** Column-mapping aliases of the latest snapshot: logical column →
    * prior physical names still present in old data files (see
    * `renameColumn`). Empty once rewrite churn retires the old names. */
  def columnAliases(spark: SparkSession,
                    table: String): Map[String, Seq[String]] =
    latestState(spark, table).map(_.aliases)
      .getOrElse(Map.empty[String, Seq[String]])

  private def latestState(spark: SparkSession, table: String): Option[State] =
    latestVersion(spark, table).map(stateOf(spark, table, _))

  private def latestOrEmpty(spark: SparkSession, table: String): State =
    latestState(spark, table).getOrElse(State.empty)

  /** Declared partition columns of the latest snapshot (empty for an
    * unpartitioned or uncommitted table). */
  def partitionColumns(spark: SparkSession, table: String): Seq[String] =
    latestState(spark, table).map(_.partCols).getOrElse(Nil)

  /** Data-skipping metadata of snapshot `version`: table-relative file →
    * min/max per designated stats column. */
  def fileStats(spark: SparkSession, table: String,
                version: Long): Map[String, Seq[FileStat]] =
    stateOf(spark, table, version).stats

  /** Per-file row counts of snapshot `version`. A file committed before
    * row tracking existed has no entry — unknown, not zero. */
  def fileRows(spark: SparkSession, table: String,
               version: Long): Map[String, Long] =
    stateOf(spark, table, version).rows

  // ---- ANALYZE: advisory column NDV statistics for the CBO ----------
  // `_ndv` is a small sidecar object next to the manifests (line 1:
  // `version=<analyzed snapshot>`, then `<enc col>|<ndv>` lines). It is
  // deliberately NOT part of the commit CAS: NDV is an optimizer
  // ESTIMATE — losing or racing the write costs estimate quality,
  // never correctness, so ANALYZE needs no snapshot race loop (the
  // same advisory contract as Spark's own catalog stats, which go
  // stale until the next ANALYZE).
  private val NdvName = "_ndv"

  /** Compute approx NDV (HyperLogLog++, Spark's own ANALYZE sketch) for
    * `cols` (empty = every column) over the CURRENT snapshot — one
    * aggregate pass, deletes applied — and persist the `_ndv` sidecar.
    * Returns the computed map. */
  def analyzeTable(spark: SparkSession, table: String,
                   cols: Seq[String] = Nil): Map[String, Long] = {
    val st = latestState(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed version in $table"))
    val schema = st.schema.getOrElse(
      throw new IllegalStateException(s"$table predates the schema log"))
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"ANALYZE column '$c' is not a column of $table"))
    // approx_count_distinct (HLL++) cannot aggregate map columns (no
    // hashable ordering) — skip them rather than abort the whole
    // ANALYZE; an explicitly named unsupported column is skipped too,
    // matching Spark's lenient FOR ALL COLUMNS behavior
    def supported(c: String): Boolean = schema(c).dataType match {
      case _: org.apache.spark.sql.types.MapType => false
      case _ => true
    }
    val targets =
      (if (cols.isEmpty) schema.fieldNames.toSeq else cols).filter(supported)
    if (targets.isEmpty) return Map.empty
    val df = spark.read.format("graft")
      .option("versionAsOf", st.version.toString).load(table)
    val aggs = targets.map(c =>
      org.apache.spark.sql.functions.approx_count_distinct(col(s"`$c`"))
        .as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val ndv = targets.zipWithIndex.map { case (c, i) =>
      c -> row.getLong(i)
    }.toMap
    // EQUI-HEIGHT HISTOGRAMS for the numeric targets — what turns a
    // skewed range predicate's selectivity from the uniform [min,max]
    // guess into a per-bin estimate (Catalyst's FilterEstimation
    // consumes them whenever present). Bounds from one
    // approx_percentile pass, per-bin NDV from one bounded groupBy per
    // column; both driver results are O(numBins). ANALYZE is the
    // explicitly-paid advisory pass, so the extra scans are its cost
    // model, not the read path's.
    val numBins = spark.conf.get("graft.cbo.histogramBins", "16").toInt
    val histTargets = targets.filter(c => schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    })
    val histLines: Seq[String] =
      if (numBins < 2) Nil
      else histTargets.flatMap { c =>
        val cc = col(s"`$c`")
        val nn = df.filter(cc.isNotNull)
        val pcts = (1 to numBins).map(i => i.toDouble / numBins)
        val h = nn.agg(
          org.apache.spark.sql.functions.expr(
            s"cast(approx_percentile(`$c`, array(${pcts.mkString(",")}), " +
              "10000) as array<double>)"),
          min(cc).cast("double"), count(lit(1))).head()
        if (h.isNullAt(0) || h.getLong(2) == 0L) None
        else {
          val bounds = h.getSeq[Double](0)
          val lo0 = h.getDouble(1)
          val rows = h.getLong(2)
          // bin i covers (bounds(i-1), bounds(i)]; values at or below
          // the first bound land in bin 0
          val binIdx = bounds.init.zipWithIndex.reverse.foldLeft(
            lit(numBins - 1): org.apache.spark.sql.Column) {
            case (acc, (b, i)) => when(cc.cast("double") <= b, i).otherwise(acc)
          }
          val perBin = nn.groupBy(binIdx.as("_gbin"))
            .agg(org.apache.spark.sql.functions
              .approx_count_distinct(cc).as("_gndv"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          val bins = (0 until numBins).map { i =>
            val lo = if (i == 0) lo0 else bounds(i - 1)
            s"$lo:${bounds(i)}:${perBin.getOrElse(i, 0L)}"
          }
          Some(s"hist|${enc(c)}|${rows.toDouble / numBins}|" +
            bins.mkString(";"))
        }
      }
    val content = (s"version=${st.version}" +:
      (ndv.toSeq.sortBy(_._1).map { case (c, n) => s"${enc(c)}|$n" } ++
        histLines))
      .mkString("", "\n", "\n")
    val ctx = fc(spark)
    val out = ctx.create(new Path(table, NdvName),
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(content.getBytes(UTF_8)) finally out.close()
    ndv
  }

  /** The analyzed NDV map applicable to snapshot `version`: empty when
    * never analyzed, analyzed ABOVE the pinned version (a time-traveled
    * read must not see future statistics), or unreadable. */
  def ndvStats(spark: SparkSession, table: String,
               version: Long): Map[String, Long] =
    try {
      val ctx = fc(spark)
      val p = new Path(table, NdvName)
      if (!ctx.util.exists(p)) return Map.empty
      metaReads.incrementAndGet()
      val in = ctx.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      val lines = new String(bytes, UTF_8).split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty)
      val analyzedV = lines.headOption
        .filter(_.startsWith("version=")).map(_.stripPrefix("version=").toLong)
        .getOrElse(return Map.empty)
      if (analyzedV > version) return Map.empty
      lines.tail.flatMap { l =>
        l.split(java.util.regex.Pattern.quote("|")) match {
          case Array(c, n) => Some(dec(c) -> n.toLong)
          case _ => None
        }
      }.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** One column's equi-height histogram from the `_ndv` sidecar:
    * `height` = non-null rows per bin, `bins` = (lo, hi, ndv]. */
  final case class ColHist(height: Double, bins: Seq[(Double, Double, Long)])

  /** The analyzed histograms applicable to snapshot `version` — same
    * sidecar, same time-travel gate as [[ndvStats]]. */
  def histStats(spark: SparkSession, table: String,
                version: Long): Map[String, ColHist] =
    try {
      val ctx = fc(spark)
      val p = new Path(table, NdvName)
      if (!ctx.util.exists(p)) return Map.empty
      val in = ctx.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      val lines = new String(bytes, UTF_8).split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty)
      val analyzedV = lines.headOption
        .filter(_.startsWith("version=")).map(_.stripPrefix("version=").toLong)
        .getOrElse(return Map.empty)
      if (analyzedV > version) return Map.empty
      lines.tail.flatMap { l =>
        l.split(java.util.regex.Pattern.quote("|")) match {
          case Array("hist", c, height, bins) =>
            Some(dec(c) -> ColHist(height.toDouble,
              bins.split(";").toSeq.map { b =>
                val p3 = b.split(":")
                (p3(0).toDouble, p3(1).toDouble, p3(2).toLong)
              }))
          case _ => None
        }
      }.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** One snapshot's planner-facing metadata in a SINGLE manifest-chain
    * read — what the DSv2 scan builder consumes. The per-accessor
    * spellings above each re-walk the chain; a planner that needs
    * files + stats + rows must not pay that three times. */
  final case class SnapshotMeta(
      files: Seq[String],
      stats: Map[String, Seq[FileStat]],
      rows: Map[String, Long],
      partCols: Seq[String] = Nil,
      pathpart: Boolean = false,
      retired: Seq[String] = Nil)
  private[io] def snapshotMeta(spark: SparkSession, table: String,
                               version: Long): SnapshotMeta = {
    val st = stateOf(spark, table, version)
    SnapshotMeta(st.files, st.stats, st.rows, st.partCols, st.pathpart,
      st.retired)
  }

  /** Write `df` under a fresh unique data dir; return (dir, its files,
    * per-file min/max of each designated stats column, per-file bloom
    * metas of each designated bloom column, per-file row counts). ONE
    * Spark job: the parquet write tasks collect all of it as they write
    * ([[WriteStatsTracker]]) — over the NEW data only, never the table,
    * and no pass re-reads the fresh files. Bloom bitsets come back as
    * bounded per-file metadata (bits/8 bytes per file per column) and
    * are written as sidecar objects next to their data files. */
  private def writeData(df0: DataFrame, table: String,
                        statsCols: Seq[String],
                        bloomCols: Seq[String],
                        partitionCols: Seq[String],
                        optimized: Boolean = false,
                        declared: Option[StructType] = None)
      : (String, Seq[String], Map[String, Seq[FileStat]],
         Map[String, Seq[BloomMeta]], Map[String, Long]) = {
    dataWrites.incrementAndGet()
    // FIELD-ID stamping choke point: on an id-mode table EVERY data
    // file must carry its columns' ids (the parquet writer takes them
    // from the frame schema's metadata; a file missing a column's id
    // would serve NULL for it under id resolution). `declared` is the
    // pinned snapshot schema of the committing path — rewrites
    // (merge/compact/zorder/MoR upsert/delete complements) re-stamp
    // here because metadata does not survive arbitrary Catalyst
    // transformations of the frames they derive from reads.
    val df = declared.filter(FieldIds.hasIds)
      .map(FieldIds.stamp(df0, _)).getOrElse(df0)
    val spark = df.sparkSession
    val dataDir = freshDir()
    // PARTITIONED WRITE: hive-style value dirs inside this commit's data
    // dir, so each file holds exactly ONE partition value. The partition
    // column is DUPLICATED into a `__gp_<col>` directory column (hive
    // layout strips the partitioning column from file contents; graft
    // reads plan from explicit file lists, so the real column must stay
    // IN the files). Partition columns are forced into `statsCols` by
    // the callers: a single-valued file has min == max, which makes the
    // existing stats machinery do exact partition pruning AND lets the
    // metadata-only GROUP BY pushdown treat partitions as groups — no
    // separate partition-pruning code path to keep correct.
    val partCols = partitionCols.filter(e => df.columns.contains(partSource(e)))
    val shaped =
      if (partCols.isEmpty) df
      else {
        val withDirs = partCols.foldLeft(df)((d, e) =>
          d.withColumn(partDirName(e), partDirExpr(e)))
        // OPTIMIZED WRITE (Delta's optimizeWrite): shuffle rows to their
        // partition value before writing, so each value lands in ONE file
        // instead of one-per-task-per-value — a 1000-task append into 100
        // partitions writes 100 files, not up to 100,000. Costs one
        // shuffle; a skewed value lands one big file (OPTIMIZE rebalances
        // later). Opt-in because compaction tests pin exact file counts.
        if (optimized)
          withDirs.repartition(partCols.map(e => col(partDirName(e))): _*)
        else withDirs
      }
    val (tracked, bloomTracked) = statTargets(df.schema, statsCols, bloomCols)
    val written = trackedWrite(df, shaped, table, dataDir,
      partCols.map(partDirName), tracked, bloomTracked)
    overlapStatsPasses.incrementAndGet()
    val (stats, rowCounts, bitsets) =
      fileMeta(spark, written, tracked, bloomTracked)
    (dataDir, written.map(_._1), stats,
      writeBloomSidecars(spark, table, bitsets), rowCounts)
  }

  /** Stats targets of a frame schema: one (col, dtype, kind) per stats
    * column the data carries AND the kind system supports, and the
    * bloom columns of a bloomable type — others get no stats, not
    * errors. Dotted entries (`meta.score`) resolve through struct
    * chains: nested fields carry per-file skipping stats exactly like
    * top-level ones (the tracker's col() resolves the same path). */
  private def statTargets(schema: StructType, statsCols: Seq[String],
                          bloomCols: Seq[String])
      : (Seq[(String, DataType, String)], Seq[String]) =
    (statsCols.flatMap(c =>
      typeAt(schema, c).flatMap(dt => statKind(dt).map(k => (c, dt, k)))),
      bloomCols.distinct.filter(c => typeAt(schema, c).exists(bloomSupported)))

  /** Write `shaped` as parquet under `<table>/<dir>` in ONE Spark job
    * and return its table-relative files that hold rows (sorted; empty
    * ones are deleted) with what the write tasks aggregated per file:
    * row counts always (they're what makes COUNT(*) metadata-only),
    * plus min/max/nulls of each `tracked` column and the bloom bitset
    * of each `bloomTracked` column.
    *
    * The tracker's expressions come from `frame.select(...)`'s ANALYZED
    * projection, bound to `frame`'s columns, which are exactly the data columns each
    * written row holds (`shaped` only appends the `partitionBy` dir
    * columns, and those leave the file contents). The listing stays the
    * file list of record: a tracker file set that differs from it
    * fails the commit. */
  private def trackedWrite(frame: DataFrame, shaped: DataFrame,
      table: String, dir: String, partitionBy: Seq[String],
      tracked: Seq[(String, DataType, String)], bloomTracked: Seq[String])
      : Seq[(String, FileAgg)] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val spark = frame.sparkSession
    // TIMESTAMP_MILLIS parquet output floors the microseconds of
    // TIMESTAMP (not TIMESTAMP_NTZ) values: the stats must describe the
    // stored value, not the frame's
    val millis = spark.sessionState.conf.parquetOutputTimestampType ==
      org.apache.spark.sql.internal.SQLConf.ParquetOutputTimestampType.TIMESTAMP_MILLIS
    val exprs = tracked.map {
      case (c, TimestampType, _) if millis =>
        org.apache.spark.sql.functions.date_trunc("millisecond", col(c))
      case (c, _, _) => col(c)
    } ++
      bloomTracked.map(c => when(col(c).isNotNull,
        org.apache.spark.sql.functions.xxhash64(col(c))))
    val bound: Seq[Expression] =
      if (exprs.isEmpty) Nil
      else frame.select(exprs: _*).queryExecution.analyzed match {
        case Project(list, child) => list.map { e =>
          val body = e match { case a: Alias => a.child; case x => x }
          BindReferences.bindReference(body, child.output)
        }
        case p => throw new IllegalStateException(
          s"stats projection did not analyze to a Project: ${p.nodeName}")
      }
    val out = new Path(s"$table/$dir")
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    val base = fs.makeQualified(out).toUri.getPath
    val tracker = new WriteStatsTracker(base, bound.take(tracked.size),
      bound.drop(tracked.size), bloomBits(spark), bloomHashes(spark))
    org.apache.spark.sql.GraftBridge.writeParquet(
      shaped, s"$table/$dir", partitionBy, Seq(tracker))
    val listed = listParquet(spark, table, dir)
    val aggs = tracker.files.map { case (rel, a) => s"$dir/$rel" -> a }
    if (aggs.keySet != listed.toSet)
      throw new IllegalStateException(
        s"write of $table/$dir: the write tasks reported " +
          s"${aggs.keySet.toSeq.sorted.mkString(", ")} but the dir " +
          s"lists ${listed.mkString(", ")}")
    // Spark writes partition 0's file even when it holds no rows (it
    // carries the schema): no such file is committed — the manifest
    // keeps the schema, and a kept empty file has no stats or bloom, so
    // every later file choice would scan it
    val (empty, kept) = listed.partition(f => aggs(f).rows == 0L)
    empty.foreach(f => fs.delete(new Path(s"$table/$f"), false))
    kept.map(f => f -> aggs(f))
  }

  /** Manifest stats and row counts of written files, and the bloom
    * bitsets to store as (file, col, bytes) — shared by the commit path
    * and the read-back reference, so the two derive the SAME records
    * from the same per-file aggregates. A file with zero non-null
    * values in a bloom column gets no bitset (absent sidecar = no
    * pruning). */
  private def fileMeta(spark: SparkSession, files: Seq[(String, FileAgg)],
      tracked: Seq[(String, DataType, String)], bloomTracked: Seq[String])
      : (Map[String, Seq[FileStat]], Map[String, Long],
         Seq[(String, String, Array[Byte])]) = {
    val cap = statMaxStringLen(spark)
    val stats = files.flatMap { case (f, a) =>
      val ss = tracked.zipWithIndex.flatMap { case ((c, _, kind), i) =>
        val nn = a.nulls(i)
        (a.mins(i), a.maxs(i)) match {
          // all rows null: record that PROOF (kind "null") — it prunes
          // every value range, IS NOT NULL, and spares the delete paths
          // a pointless boundary rewrite
          case (null, _) if nn > 0L => Some(FileStat(c, "null", "", "", nn))
          case (null, _) => None
          // LONG-STRING CAP: manifests carry stats inline, so a
          // statsCols entry on a document-sized text column would bloat
          // every file line by its full min/max (10^6 files x multi-KB
          // strings = manifest explosion at corpus scale). Truncated
          // bounds are NOT recorded instead because the metadata-only
          // MIN/MAX pushdown reads stats as exact values — an absent
          // stat is conservative EVERYWHERE (pruning keeps the file,
          // aggregates refuse pushdown).
          case (mn, mx) if kind == "str" &&
              (mn.length > cap || mx.length > cap) => None
          case (mn, mx) => Some(FileStat(c, kind, mn, mx, nn))
        }
      }
      if (ss.isEmpty) None else Some(f -> ss)
    }.toMap
    val bitsets = for {
      (f, a) <- files
      (c, j) <- bloomTracked.zipWithIndex
      if a.bloomRows(j) > 0L
    } yield (f, c, a.blooms(j))
    (stats, files.map { case (f, a) => f -> a.rows }.toMap, bitsets)
  }

  /** Write each (file, col, bitset) as its bloom sidecar and return the
    * manifest metas. The creates are independent small files — issued
    * CONCURRENTLY (FileContext is thread-safe): a bucketed commit writes
    * one per (file, bloom column) and object-store creates are
    * latency-bound, so a sequential loop pays files × columns × RTT. */
  private def writeBloomSidecars(spark: SparkSession, table: String,
      bitsets: Seq[(String, String, Array[Byte])])
      : Map[String, Seq[BloomMeta]] = {
    import scala.jdk.CollectionConverters._
    val ctx = fc(spark)
    bitsets.asJava.parallelStream().forEach { t =>
      val (f, c, bytes) = t
      val out = ctx.create(bloomSidecar(table, f, c),
        java.util.EnumSet.of(
          org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(bytes) finally out.close()
    }
    val (bBits, bHashes) = (bloomBits(spark), bloomHashes(spark))
    bitsets.map { case (f, c, _) => f -> BloomMeta(c, bBits, bHashes) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  /** REFERENCE ONLY, on no commit path: the per-file stats, row counts
    * and bloom bitsets (keyed by (file, col)) of `files` as a
    * distributed read-back aggregation grouped by input file computes
    * them — what commits recorded before the write tasks collected
    * them. Parity specs compare commits against it. `schema` is the
    * written frame's. */
  private[graft] def readBackStats(spark: SparkSession, table: String,
      files: Seq[String], schema: StructType, statsCols: Seq[String],
      bloomCols: Seq[String])
      : (Map[String, Seq[FileStat]], Map[String, Long],
         Map[(String, String), Seq[Byte]]) = {
    val (tracked, bloomTracked) = statTargets(schema, statsCols, bloomCols)
    val buildAgg = org.apache.spark.sql.functions.udaf(
      new Bloom.BuildAggNullable(bloomBits(spark), bloomHashes(spark)))
    val aggs = count(lit(1)).as("__rows") +:
      (statAggs(tracked) ++ bloomTracked.flatMap { c => Seq(
        buildAgg(when(col(c).isNotNull,
          org.apache.spark.sql.functions.xxhash64(col(c)))).as(s"__bl_$c"),
        org.apache.spark.sql.functions.sum(
          when(col(c).isNotNull, 1L).otherwise(0L)).as(s"__bv_$c"))
      })
    val toRel = relOfAbs(spark, table, files)
    val byFile =
      if (files.isEmpty) Map.empty[String, org.apache.spark.sql.Row]
      else spark.read.schema(schema)
        .parquet(files.map(f => s"$table/$f"): _*)
        .groupBy(input_file_name().as("f"))
        .agg(aggs.head, aggs.tail: _*).collect()
        .map(r => toRel(r.getString(0)) -> r).toMap
    // a file the groupBy never surfaced has zero rows
    val perFile = files.map { f =>
      f -> byFile.get(f).fold(FileAgg(0L,
        Array.fill(tracked.size)(null), Array.fill(tracked.size)(null),
        Array.fill(tracked.size)(0L), Array.fill(bloomTracked.size)(null),
        Array.fill(bloomTracked.size)(0L))) { r =>
        FileAgg(r.getAs[Long]("__rows"),
          tracked.map(t => statTextOf(r.getAs[Any](s"__mn_${t._1}"))).toArray,
          tracked.map(t => statTextOf(r.getAs[Any](s"__mx_${t._1}"))).toArray,
          tracked.map(t => r.getAs[Long](s"__nn_${t._1}")).toArray,
          bloomTracked.map(c => r.getAs[Array[Byte]](s"__bl_$c")).toArray,
          bloomTracked.map(c => r.getAs[Long](s"__bv_$c")).toArray)
      }
    }
    val (stats, rows, bitsets) = fileMeta(spark, perFile, tracked, bloomTracked)
    (stats, rows, bitsets.map { case (f, c, b) => (f, c) -> b.toSeq }.toMap)
  }

  /** The read-back form of what the write tasks collect: min, max and
    * NULL count of each tracked column as Spark aggregates, and
    * [[statTextOf]] for a collected min/max. */
  private def statAggs(tracked: Seq[(String, DataType, String)])
      : Seq[org.apache.spark.sql.Column] =
    tracked.flatMap { case (c, _, _) => Seq(
      min(col(c)).as(s"__mn_$c"),
      max(col(c)).as(s"__mx_$c"),
      org.apache.spark.sql.functions.sum(
        when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"))
    }
  private def statTextOf(v: Any): String =
    if (v == null) null
    else statText(org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToCatalyst(v))

  /** A fresh writer-unique data dir name: two racing writers can never
    * clobber each other's files. */
  private def freshDir(): String =
    s"w=${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"

  /** Write `df` under `<dataDir>/<sub>/` and return its table-relative
    * parquet files with their row counts (counted by the write tasks).
    * The `_`-prefixed `sub` keeps the files out of every data read, and
    * they share the data dir's lifecycle (a discarded CAS loser takes
    * them with it): `_cdc` holds a commit's eager change files (`#cdc=`
    * lines), `_del` its delete sidecars (`#del=`). */
  private def writeUnder(df: DataFrame, table: String, dataDir: String,
                         sub: String): Seq[(String, Long)] =
    trackedWrite(df, df, table, s"$dataDir/$sub", Nil, Nil, Nil)
      .map { case (f, a) => f -> a.rows }

  private def writeChangeData(changes: DataFrame, table: String,
                              dataDir: String): Seq[String] =
    writeUnder(changes, table, dataDir, "_cdc").map(_._1)

  private def partColsLine(partCols: Seq[String]): Seq[String] =
    if (partCols.isEmpty) Nil
    else Seq(s"$PartPrefix${partCols.map(enc).mkString(",")}")

  /** One commit, described by what it changes: the unit [[Log.commit]]
    * renders, and what a `#delta=` manifest parses back into — so the
    * writer and [[computeState]] derive the next snapshot through the
    * SAME [[applyTo]].
    *   - `header` updates snapshot-wide state: schema, txn markers,
    *     checks, props, retired names, aliases, partition spec and the
    *     cdf/mor/pathpart flags. Sticky fields carry forward because
    *     the header starts from the base snapshot.
    *   - the file fields are the data-layout diff: `added` files (with
    *     their `stats`/`blooms`/`rows`), `removed` files, new `dels`.
    *   - `cdc`/`cdcDel` are commit-scoped change-feed lines.
    *   - `checkpoint` forces a full manifest. A delta can only add and
    *     remove files and add deletes, so a change whose header also
    *     rewrites the layout (restore, vector coalesce, ALTER dropping
    *     stats) must set it; the renderer refuses otherwise. A full
    *     manifest drops every delete entry that gates no surviving
    *     file: the commit that rewrote or replaced those files
    *     materialized it, and add versions only grow, so it can never
    *     apply again. */
  private final case class Change(
      op: String,
      added: Seq[String] = Nil,
      stats: Map[String, Seq[FileStat]] = Map.empty,
      blooms: Map[String, Seq[BloomMeta]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      removed: Seq[String] = Nil,
      dels: Seq[DelMeta] = Nil,
      cdc: Seq[String] = Nil,
      cdcDel: Seq[String] = Nil,
      header: State => State = identity,
      checkpoint: Boolean = false) {
    /** The snapshot this change produces on `base` as `version`. */
    def applyTo(base: State, version: Long): State = layout(header(base), version)

    private[TxnTable] def layout(h: State, version: Long): State = {
      val gone = removed.toSet
      h.copy(version = version,
        files = (if (gone.isEmpty) h.files else h.files.filterNot(gone)) ++ added,
        stats = (h.stats -- removed) ++ stats,
        blooms = (h.blooms -- removed) ++ blooms,
        rows = (h.rows -- removed) ++ rows,
        dels = h.dels ++ dels,
        // an added file's add version IS the commit's version — a delta
        // records it implicitly by its position in the chain
        addv = (h.addv -- removed) ++ added.map(_ -> version))
    }
  }

  /** What an op's `plan` decides for one commit try. */
  private sealed trait Attempt
  /** CAS `change` on top of the snapshot the plan was handed. `dirs` are
    * the data dirs the op wrote for it; `rebases` is the op's rule for a
    * lost CAS: true when the written output is still exact on the fresh
    * snapshot (the change re-publishes as is — its header re-derives
    * against that snapshot), false when the dirs must go and the plan
    * recompute. */
  private final case class Publish(change: Change, dirs: Seq[String] = Nil,
      rebases: State => Boolean = _ => false) extends Attempt
  /** Nothing to commit (a replay, a provable no-op, or work another
    * path committed): the op's result is `version`. */
  private final case class Done(version: Long) extends Attempt

  /** THE COMMIT PROTOCOL — the only code that creates manifests. Its
    * CAS seam, pointer write, backoff and renderer are private to this
    * object, so a commit path written anywhere else in TxnTable does
    * not compile: every op goes through [[commit]], and only a new
    * table's first manifest (or a staged one) through [[create]]. */
  private object Log {
    /** CAS tries one commit may lose before it gives up. */
    private val Budget = 64

    /** Commit one op: read the latest snapshot, let `plan` turn it into
      * a [[Publish]] (or settle with [[Done]]), render the next
      * manifest, exclusive-create it, publish the pointer hint. On a
      * lost CAS, back off and re-read: if the op's `rebases` rule
      * accepts the fresh snapshot, the same change re-publishes on it;
      * otherwise its data dirs are dropped and `plan` recomputes from
      * the fresh snapshot. Every CAS try counts against one budget.
      * `first` seeds the first try with a snapshot the op already read
      * (an empty table is [[State.empty]]). */
    def commit(spark: SparkSession, table: String, op: String,
               first: Option[State] = None)(plan: State => Attempt): Long =
      commitPublished(spark, table, op, first)(plan)._1

    /** [[commit]], also returning the change it published (None when
      * the plan settled with [[Done]]). */
    def commitPublished(spark: SparkSession, table: String, op: String,
                        first: Option[State] = None)(plan: State => Attempt)
        : (Long, Option[Change]) = {
      val ctx = fc(spark)
      def drop(p: Publish): Unit =
        p.dirs.foreach(d => ctx.delete(new Path(s"$table/$d"), true))
      @annotation.tailrec
      def attempt(base: State, lost: Int,
                  held: Option[Publish]): (Long, Option[Change]) =
        held.filter(_.rebases(base)).getOrElse {
          held.foreach(drop)
          plan(base)
        } match {
          case Done(v) => (v, None)
          case p: Publish =>
            val v = base.version + 1L
            if (tryCreateAtomic(ctx, new Path(table, manifestName(v)),
                render(spark, table, base, p.change, v))) {
              writePointer(ctx, table, v)
              (v, Some(p.change))
            } else if (lost + 1 >= Budget) {
              drop(p)
              throw new IllegalStateException(
                s"$op on $table lost the manifest race ${lost + 1} times — " +
                  "pathological contention")
            } else {
              backoff(lost + 1)
              attempt(latestOrEmpty(spark, table), lost + 1, Some(p))
            }
        }
      attempt(first.getOrElse(latestOrEmpty(spark, table)), 0, None)
    }

    /** Exclusive-create `dest` holding snapshot `s` as a FULL manifest
      * labelled `op`: a new table's version 1 (clones, CREATE LIKE,
      * CONVERT — then [[repoint]] it) or a staged commit outside the
      * version chain. False when `dest` already exists. */
    def create(spark: SparkSession, dest: Path, s: State, op: String): Boolean =
      tryCreateAtomic(fc(spark), dest,
        text(dest.toString, s, Change(op), deltaOf = None))

    /** Best-effort `_latest` hint write — never part of the CAS. */
    def repoint(ctx: FileContext, table: String, v: Long): Unit =
      writePointer(ctx, table, v)

    /** The manifest for committing `c` on `base` as version `v`: FULL for
      * a table's first commit, every `graft.txn.checkpointInterval`-th
      * version and a `checkpoint` change; otherwise the O(change) delta,
      * which [[computeState]] replays through the same `applyTo`. */
    private def render(spark: SparkSession, table: String, base: State,
                       c: Change, v: Long): String = {
      val h = c.header(base)
      if (c.checkpoint || base.version == 0L ||
          v % checkpointInterval(spark) == 0L)
        text(table, c.layout(h, v), c, deltaOf = None)
      else {
        require((h.files eq base.files) && (h.stats eq base.stats) &&
          (h.blooms eq base.blooms) && (h.rows eq base.rows) &&
          (h.dels eq base.dels) && (h.addv eq base.addv),
          s"${c.op} rewrites the data layout in its header — a delta " +
            "cannot express that; mark the change checkpoint")
        text(table, h, c, deltaOf = Some(base.version))
      }
    }

    /** Full manifest of snapshot `s` (deltaOf None), or the delta of `c`
      * on version `deltaOf` under `s`'s header fields. Both share one
      * line order: headers, deletes, change files, partition spec, txn
      * markers, stats, blooms, files. */
    private def text(table: String, s: State, c: Change,
                     deltaOf: Option[Long]): String = {
      val schema = s.schemaOf(table)
      val full = deltaOf.isEmpty
      lazy val filesSet = s.files.toSet
      val dels =
        if (!full) c.dels
        else s.dels.filter(d => s.files.exists(f => d.gates(f, s.addv.getOrElse(f, 0L))))
      // add-version lines exist to gate equality deletes AND the
      // nested-default existence fill; on a table using neither they
      // are O(files) dead weight per checkpoint (500 appends ≈ +45 KB
      // of manifest). A file with no recorded add version reads as
      // version 0 — "older than every delete" — which is exact for
      // every file committed before MoR was enabled, so omitting them
      // while both features are off is lossless, not an approximation.
      // With a vintage-gated nested DEFAULT, omission would be a
      // CORRECTNESS bug: a full manifest (overwrite/compact/restore)
      // dropping addv resets every file to vintage 0, and the read-time
      // fill would overwrite post-declaration files' real values.
      val addv =
        if (full && (s.mor || dels.nonEmpty ||
            nestedDefaults(schema).exists(nd =>
              nd.existsSql.isDefined && nd.sinceV > 0L)))
          addvLines(s.addv, filesSet)
        else Nil
      val (stats, blooms) =
        if (full) (s.stats.filter(kv => filesSet(kv._1)),
          s.blooms.filter(kv => filesSet(kv._1)))
        else (c.stats, c.blooms)
      val fileLines =
        if (full) s.files.map(fileLine(_, s.rows))
        else c.removed.map(RemovePrefix + _) ++
          c.added.map(f => AddPrefix + fileLine(f, c.rows))
      def flag(prefix: String, on: Boolean) =
        if (on) Seq(s"${prefix}true") else Nil
      (deltaOf.map(b => s"$DeltaPrefix$b").toSeq ++
        Seq(s"$SchemaPrefix${schema.json}",
          s"$TsPrefix${System.currentTimeMillis()}", s"$OpPrefix${c.op}") ++
        flag(CdfPrefix, s.cdf) ++ flag(MorPrefix, s.mor) ++
        flag(PathPartPrefix, s.pathpart) ++
        checkLines(s.checks) ++ propLines(s.props) ++
        retiredLine(s.retired) ++ aliasLines(s.aliases) ++
        dels.map(delLine) ++ addv ++
        c.cdc.map(CdcPrefix + _) ++ c.cdcDel.map(CdcDelPrefix + _) ++
        partColsLine(s.partCols) ++
        s.txns.toSeq.sortBy(_._1).map { case (a, b) => s"$TxnPrefix$a:$b" } ++
        stats.toSeq.sortBy(_._1).flatMap { case (f, ss) => ss.map(statLine(f, _)) } ++
        blooms.toSeq.sortBy(_._1).flatMap { case (f, bs) => bs.map(bloomLine(f, _)) } ++
        fileLines).mkString("\n")
    }

    /** Publish `content` at `dest` iff `dest` does not exist. Returns
      * false (leaving `dest` untouched) on the lost-the-race signal.
      *
      * The CAS seam, per filesystem:
      *   - local/raw FS: write a temp file, then `link(2)` it to `dest` —
      *     hard-link creation is KERNEL-atomic and fails with EEXIST, so
      *     exactly one racer wins AND readers only ever see the full
      *     content. (The previous rename-without-overwrite was NOT a CAS
      *     here: FileContext emulates the no-overwrite check as
      *     exists-then-rename, and two racers inside that window could
      *     both "commit", silently losing one update.)
      *   - HDFS: exclusive create (CreateFlag.CREATE alone) — atomic in
      *     the namenode.
      *   - object stores: the connector must map exclusive create to a
      *     conditional PUT (If-None-Match). A store whose connector
      *     emulates it with exists-then-put does NOT give this table
      *     serializable commits — that is the documented contract. */
    private def tryCreateAtomic(ctx: FileContext, dest: Path, content: String): Boolean = {
      val scheme = dest.toUri.getScheme
      if (scheme == null || scheme == "file") {
        import java.nio.file.{Files, Paths, FileAlreadyExistsException => NioExists}
        val d = Paths.get(dest.toUri.getPath)
        Files.createDirectories(d.getParent)
        val tmp = d.resolveSibling(
          s".${d.getFileName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
        Files.write(tmp, content.getBytes(UTF_8))
        try { Files.createLink(d, tmp); true }
        catch { case _: NioExists => false }
        finally { Files.deleteIfExists(tmp); () }
      } else {
        try {
          val out = ctx.create(dest,
            java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
            Options.CreateOpts.createParent())
          try out.write(content.getBytes(UTF_8)) finally out.close()
          true
        } catch {
          case _: FileAlreadyExistsException | _: org.apache.hadoop.fs.PathExistsException =>
            false
        }
      }
    }

    /** Jittered exponential backoff between CAS attempts: under N-writer
      * contention the retries de-synchronize instead of stampeding the
      * next version's manifest (each loser otherwise re-reads state and
      * re-CASes in lockstep, and one writer can starve). Caps at ~128 ms
      * — commit latency stays interactive. */
    private def backoff(attempt: Int): Unit =
      if (attempt > 0) {
        val cap = math.min(128L, 2L << math.min(attempt, 6))
        Thread.sleep(
          java.util.concurrent.ThreadLocalRandom.current().nextLong(cap / 2, cap + 1))
      }

    private def writePointer(ctx: FileContext, table: String, v: Long): Unit =
      try {
        val out = ctx.create(new Path(table, PointerName),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
            org.apache.hadoop.fs.CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(v.toString.getBytes(UTF_8)) finally out.close()
      } catch { case scala.util.control.NonFatal(_) => () } // hint only
  }

  /** Diagnostic for specs/ops: (manifests read, log bytes read) to
    * resolve snapshot `v` — proves state resolution is bounded by the
    * checkpoint interval, not the table's commit history. */
  def logReadCost(spark: SparkSession, table: String, v: Long): (Int, Long) = {
    val ctx = fc(spark)
    var reads = 0
    var bytes = 0L
    var cur = v
    var isDelta = true
    while (isDelta) {
      val content = readSmall(ctx, new Path(table, manifestName(cur)))
      reads += 1; bytes += content.length.toLong
      isDelta = content.split("\n").exists(_.startsWith(DeltaPrefix))
      cur -= 1
    }
    (reads, bytes)
  }

  /** CHECK-constraint gate (ALTER TABLE … ADD CONSTRAINT … CHECK and
    * NOT NULL invariants): evaluate every constraint over the incoming
    * frame BEFORE any data file lands. SQL semantics: a row violates
    * only when the predicate is FALSE — NULL passes (use an explicit
    * `IS NOT NULL` check for null rejection). Cost: ONE extra pass over
    * the incoming data (all constraints folded into a single conjunction
    * and stopped at the first violation via limit(1)); the per-constraint
    * re-probe runs only on the failure path, to name the culprit. The
    * constraint set is read from the snapshot observed at write start —
    * a constraint added concurrently with an in-flight write gates the
    * NEXT write (same read-committed contract as Delta's). */
  private def enforceChecks(df: DataFrame, table: String,
                            checks: Map[String, String]): Unit =
    if (checks.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      def violated(sql: String) =
        df.filter(not(coalesce(expr(sql), lit(true)))).limit(1).count() > 0L
      val combined = checks.values.toSeq
        .map(s => coalesce(expr(s), lit(true))).reduce(_ && _)
      if (df.filter(not(combined)).limit(1).count() > 0L) {
        val culprit = checks.find { case (_, s) => violated(s) }
        val (n, s) = culprit.getOrElse(checks.head)
        throw new IllegalArgumentException(
          s"CHECK constraint $n ($s) violated by write to $table")
      }
    }

  /** Field-metadata key holding a GENERATED column's defining SQL —
    * Delta's `delta.generationExpression` realized on graft's schema
    * log: the definition lives INSIDE the snapshot schema's StructField
    * metadata, so it travels through every commit path (append, merge,
    * compact, zorder, clone, restore, schema evolution) for free —
    * `#schema=` already carries field metadata through its JSON. */
  val GenExprKey = "graft.generationExpression"

  /** name → generation SQL of every GENERATED column declared in
    * `schema` (empty when the table has none). */
  def generatedColumns(schema: org.apache.spark.sql.types.StructType)
      : Map[String, String] =
    schema.fields.iterator
      .filter(_.metadata.contains(GenExprKey))
      .map(f => f.name -> f.metadata.getString(GenExprKey)).toMap

  /** Declare `name` GENERATED ALWAYS AS (`sqlExpr`) on `df`: computes
    * the column when absent and records the definition as field
    * metadata. Write the result with commitOverwrite/format("graft")
    * to create a generated-column table; every later append fills the
    * column automatically (or validates a caller-supplied value) —
    * see commit(). Pairs with partitionBy(name) for the Delta pattern
    * `p_date GENERATED ALWAYS AS (CAST(ts AS DATE))` + partition on
    * p_date. */
  def withGeneratedColumn(df: DataFrame, name: String,
                          sqlExpr: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val filled =
      if (df.columns.exists(_.equalsIgnoreCase(name))) df
      else df.withColumn(name, expr(sqlExpr))
    val prior = filled.schema(filled.schema.fieldIndex(name)).metadata
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(prior).putString(GenExprKey, sqlExpr).build()
    filled.withColumn(name, col(name).as(name, meta))
  }

  /** Source columns a generation expression reads — these auto-join
    * the stats set so a predicate on the SOURCE column prunes the
    * generated partitioning's files (derived partition pruning: in a
    * stats-planned table it falls out of ordinary file skipping, no
    * filter-rewrite rule needed). */
  private def genSources(spark: SparkSession, sql: String): Seq[String] =
    try spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }.distinct
    catch { case _: Exception => Nil }

  /** Column DEFAULT values — Spark's OWN field-metadata contract
    * (SPARK-38334), not a private key: `CURRENT_DEFAULT` holds the
    * declared expression (filled into writes that omit the column),
    * `EXISTS_DEFAULT` its constant-folded literal — what files
    * written BEFORE the column existed surface instead of NULL.
    * Spark's parquet readers apply EXISTS_DEFAULT from the read
    * schema themselves (vectorized and row paths both), so `ALTER
    * TABLE … ADD COLUMN … DEFAULT v` is a pure-metadata commit with
    * ZERO graft read-path code: old files yield v, new files carry
    * the column physically. SQL-standard / DuckDB semantics. */
  private def CurDefaultKey = org.apache.spark.sql.catalyst.util
    .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY

  private def ExistsDefaultKey = org.apache.spark.sql.catalyst.util
    .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY

  /** Every column of `schema` the append-side fill gate must care
    * about: fields with a live CURRENT default (fill the declared
    * expression), and fields whose CURRENT default was DROPPED but
    * whose EXISTS_DEFAULT remains (fill an explicit NULL — leaving the
    * column physically absent would let the reader resurrect the old
    * existence default for the new rows). */
  def defaultColumns(schema: org.apache.spark.sql.types.StructType)
      : Seq[(org.apache.spark.sql.types.StructField, Option[String])] =
    schema.fields.toSeq
      .filter(f => f.metadata.contains(CurDefaultKey) ||
        f.metadata.contains(ExistsDefaultKey))
      .map(f => f ->
        (if (f.metadata.contains(CurDefaultKey))
          Some(f.metadata.getString(CurDefaultKey))
        else None))

  // ---------------------------------------------------- NESTED defaults
  /** Version at which a NESTED defaulted field joined the schema — the
    * vintage gate for read-time existence-default fill. Top-level
    * defaults need no gate (Spark's parquet readers fill missing
    * top-level columns from EXISTS_DEFAULT themselves), but a missing
    * NESTED field they surface as plain NULL — so graft fills it, and
    * only for files written BEFORE the field existed (add version <
    * this). */
  private[graft] val NestedDefaultSinceKey = "graft.default.sinceVersion"

  final case class NestedDefault(path: Seq[String], dt: DataType,
                                 curSql: Option[String],
                                 existsSql: Option[String], sinceV: Long)

  /** Nested (depth ≥ 2) fields of `schema` carrying a DEFAULT
    * declaration. Walks plain struct chains only — container elements
    * cannot carry defaults (no row exists to fill until the element
    * does). */
  private[graft] def nestedDefaults(schema: StructType): Seq[NestedDefault] = {
    val out = Seq.newBuilder[NestedDefault]
    def go(prefix: Seq[String], st: StructType): Unit = st.fields.foreach { f =>
      val p = prefix :+ f.name
      if (prefix.nonEmpty &&
          (f.metadata.contains(CurDefaultKey) ||
            f.metadata.contains(ExistsDefaultKey)))
        out += NestedDefault(p, f.dataType,
          if (f.metadata.contains(CurDefaultKey))
            Some(f.metadata.getString(CurDefaultKey)) else None,
          if (f.metadata.contains(ExistsDefaultKey))
            Some(f.metadata.getString(ExistsDefaultKey)) else None,
          if (f.metadata.contains(NestedDefaultSinceKey))
            f.metadata.getLong(NestedDefaultSinceKey) else 0L)
      f.dataType match {
        case s: StructType => go(p, s)
        case _ => ()
      }
    }
    go(Nil, schema)
    out.result()
  }

  /** The existence-default fill for a frame read from PRE-DECLARATION
    * files: every row physically lacks the field, so within each
    * non-null parent struct the value IS the existence default
    * (`withField` keeps null parents null — an absent struct stays
    * absent). A codegen'd projection, zero per-row interpretation. */
  private[graft] def fillNestedDefaults(df: DataFrame,
                                        defs: Seq[NestedDefault]): DataFrame =
    defs.filter(_.existsSql.isDefined).foldLeft(df) { (d, nd) =>
      val top = nd.path.head
      // withField REBUILDS the struct type and drops the nested field's
      // METADATA (the default declaration itself) — cast back to the
      // input's declared type, a value-wise no-op that restores it.
      // Without this the filled leg's type differs from clean legs',
      // and a Union's result schema then depends on branch order (which
      // follows random data-dir names): reads would INTERMITTENTLY
      // surface a metadata-stripped schema, and an overwrite written
      // from such a read would silently lose the default declaration.
      val declared = d.schema(top).dataType
      d.withColumn(top,
        col(s"`$top`").withField(nd.path.tail.mkString("."),
          org.apache.spark.sql.functions.expr(nd.existsSql.get).cast(nd.dt))
          .cast(declared))
    }

  /** Does `schema` carry a field at dotted `path` (struct chains)? */
  private def hasPath(schema: StructType, path: Seq[String]): Boolean = {
    def go(dt: DataType, ps: Seq[String]): Boolean = ps match {
      case Nil => true
      case h +: t => dt match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(h))
            .exists(f => go(f.dataType, t))
        case _ => false
      }
    }
    go(schema, path)
  }

  /** Write-side fill for nested declared defaults (the append gate's
    * nested twin of [[applyDefaults]]): when the incoming frame's
    * struct TYPE lacks the declared field, fill the CURRENT default
    * (or an explicit NULL for a dropped-but-once-existing default —
    * leaving the field physically absent would hand those rows to the
    * read-time existence fill). Frames that carry the field — even as
    * NULL — are respected verbatim. A frame lacking the whole
    * top-level struct writes it as NULL wholesale (SQL semantics: no
    * struct, no field to default). */
  private def applyNestedDefaults(df: DataFrame,
                                  defs: Seq[NestedDefault]): DataFrame =
    defs.foldLeft(df) { (d, nd) =>
      val top = nd.path.head
      if (!d.columns.exists(_.equalsIgnoreCase(top)) ||
          hasPath(d.schema, nd.path)) d
      else d.withColumn(top,
        col(s"`$top`").withField(nd.path.tail.mkString("."),
          nd.curSql.map(org.apache.spark.sql.functions.expr)
            .getOrElse(lit(null)).cast(nd.dt)))
    }

  /** `ALTER TABLE … ADD COLUMNS (s.f dt DEFAULT sql)` — the NESTED
    * default add, pure metadata like the top-level form: the folded
    * default lands as CURRENT_DEFAULT + EXISTS_DEFAULT metadata on the
    * nested field, plus the add-commit's version as the vintage gate.
    * Old files surface the default through graft's read-time fill
    * (vintage-grouped projection — Spark's own readers only fill
    * missing TOP-LEVEL columns); writes omitting the field fill it at
    * the append gate, so post-declaration files always carry it
    * physically. */
  def addNestedColumnWithDefault(spark: SparkSession, table: String,
                                 dotted: String, dt: DataType,
                                 defaultSql: String): Long =
    commitMetadata(spark, table, "alter-add-nested") { st =>
      val parts = dotted.split('.').toSeq.map(_.trim)
      require(parts.length >= 2 && parts.forall(_.nonEmpty),
        s"nested add needs a dotted path, got $dotted")
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      val folded = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .constantFoldCurrentDefaultsToExistDefaults(
          StructType(Seq(StructField(parts.last, dt, nullable = true,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString(CurDefaultKey, defaultSql).build()))),
          "ALTER TABLE ADD COLUMNS").fields.head
      val stamped = folded.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(folded.metadata)
          .putLong(NestedDefaultSinceKey, st.version + 1L).build())
      val ns = transformStructAt(schema, parts.init, table,
          containers = false) { inner =>
        require(!inner.fieldNames.exists(_.equalsIgnoreCase(parts.last)),
          s"column $dotted already exists in $table")
        StructType(inner.fields :+ stamped)
      }
      st.copy(schema = Some(ns))
    }

  /** `ALTER TABLE … ADD COLUMN name dt DEFAULT defaultSql` — pure
    * metadata, like [[addColumns]]: no data file is read or written.
    * The default is analyzed and constant-folded HERE (a malformed or
    * non-foldable default fails the ALTER, not some later read), then
    * recorded as Spark's CURRENT_DEFAULT + EXISTS_DEFAULT field
    * metadata on the new field. */
  def addColumnWithDefault(spark: SparkSession, table: String,
                           name: String,
                           dt: org.apache.spark.sql.types.DataType,
                           defaultSql: String): Long =
    commitMetadata(spark, table, "alter-add") { st =>
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column $name already exists in $table")
      require(!st.retired.exists(_.equalsIgnoreCase(name)),
        s"column $name was previously dropped from $table; old data " +
          "files still contain it and would resurrect stale values — " +
          "use a different name")
      val declared = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(name, dt, nullable = true,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(CurDefaultKey, defaultSql).build())))
      // Spark's validator+folder: analyzes the expression against the
      // declared type and stamps EXISTS_DEFAULT with the folded literal
      val folded = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .constantFoldCurrentDefaultsToExistDefaults(
          declared, "ALTER TABLE ADD COLUMNS")
      st.copy(schema = Some(org.apache.spark.sql.types.StructType(
        schema.fields ++ folded.fields)))
    }

  /** `ALTER TABLE … ALTER COLUMN name SET DEFAULT sql` / `DROP
    * DEFAULT` — metadata-only, SQL-standard semantics: the change
    * affects FUTURE inserts only. CURRENT_DEFAULT updates (validated
    * by folding, like ADD COLUMN DEFAULT); EXISTS_DEFAULT — what
    * files written before the column existed surface — is
    * deliberately NOT touched: rows already on disk keep reading what
    * was true when they were written. */
  def setColumnDefault(spark: SparkSession, table: String,
                       name: String, defaultSql: Option[String]): Long =
    commitMetadata(spark, table, "alter-default") { st =>
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      // NESTED `ALTER COLUMN s.f SET/DROP DEFAULT`: same future-only
      // contract as top-level — CURRENT_DEFAULT changes (the append
      // gate's nested fill reads it), EXISTS_DEFAULT is untouched, so
      // rows already on disk keep reading what was true at write time
      if (name.contains('.')) {
        val parts = name.split('.').toSeq.map(_.trim)
        val ns = transformStructAt(schema, parts.init, table) { inner =>
          val f = inner.fields.find(_.name.equalsIgnoreCase(parts.last))
            .getOrElse(throw new IllegalArgumentException(
              s"no such column $name in $table"))
          val patched = defaultSql match {
            case Some(sql) =>
              org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
                .constantFoldCurrentDefaultsToExistDefaults(
                  StructType(Seq(f.copy(
                    metadata = new org.apache.spark.sql.types.MetadataBuilder()
                      .withMetadata(f.metadata)
                      .putString(CurDefaultKey, sql).build()))),
                  "ALTER TABLE ALTER COLUMN")
              f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString(CurDefaultKey, sql).build())
            case None =>
              f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata).remove(CurDefaultKey).build())
          }
          StructType(inner.fields.map(x =>
            if (x.name.equalsIgnoreCase(parts.last)) patched else x))
        }
        st.copy(schema = Some(ns))
      } else {
      val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no such column $name in $table"))
      val patched = defaultSql match {
        case Some(sql) =>
          // validate by analyzing+folding against the declared type;
          // keep only CURRENT_DEFAULT from the result (EXISTS stays)
          org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .constantFoldCurrentDefaultsToExistDefaults(
              org.apache.spark.sql.types.StructType(Seq(field.copy(
                metadata = new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(field.metadata)
                  .putString(CurDefaultKey, sql).build()))),
              "ALTER TABLE ALTER COLUMN")
          field.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(field.metadata)
            .putString(CurDefaultKey, sql).build())
        case None =>
          field.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(field.metadata).remove(CurDefaultKey).build())
      }
      st.copy(schema = Some(org.apache.spark.sql.types.StructType(
        schema.fields.map(f => if (f.name.equalsIgnoreCase(name)) patched else f))))
      }
    }

  /** DEFAULT-column write gate (commit() append leg): fill each
    * declared column the incoming frame omits — SQL INSERT through
    * Spark's analyzer pads defaults itself (TableOutputResolver reads
    * the same metadata); this covers the library DataFrame path. */
  private def applyDefaults(df: DataFrame,
      defs: Seq[(org.apache.spark.sql.types.StructField, Option[String])])
      : DataFrame =
    defs.foldLeft(df) { case (d, (f, sql)) =>
      if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
      else d.withColumn(f.name,
        sql.map(org.apache.spark.sql.functions.expr)
          .getOrElse(lit(null)).cast(f.dataType))
    }

  /** IDENTITY columns (Delta's `GENERATED ALWAYS AS IDENTITY`): like
    * generated columns, the declaration lives as field metadata in the
    * snapshot schema; the HIGH-WATER MARK (last value handed out) is
    * schema metadata too — Delta's own delta.identity.highWaterMark
    * design — so it commits ATOMICALLY with the rows that consumed it
    * and rides every manifest for free. */
  val IdStartKey = "graft.identity.start"
  val IdStepKey = "graft.identity.step"
  val IdHwmKey = "graft.identity.highWaterMark"

  final case class IdentityDef(col: String, start: Long, step: Long,
                               hwm: Option[Long])

  /** The schema's identity column declaration, if any (at most one). */
  def identityColumn(schema: org.apache.spark.sql.types.StructType)
      : Option[IdentityDef] =
    schema.fields.find(_.metadata.contains(IdStartKey)).map { f =>
      IdentityDef(f.name, f.metadata.getLong(IdStartKey),
        f.metadata.getLong(IdStepKey),
        if (f.metadata.contains(IdHwmKey)) Some(f.metadata.getLong(IdHwmKey))
        else None)
    }

  /** Declare `name` GENERATED ALWAYS AS IDENTITY (START WITH `start`
    * STEP `step`) on a CREATING frame: assigns `start, start+step, …`
    * across the cluster (per-partition offsets — one O(partitions)
    * driver sync, no global sort, no single-partition window) and
    * records declaration + high-water mark as field metadata. Commit
    * the result with commitOverwrite to create the table; every later
    * append gets fresh values assigned AT COMMIT, above the snapshot's
    * high-water mark (appends supplying the column refuse — ALWAYS
    * semantics). Values are unique and ascending, not gapless — the
    * same contract Delta documents. */
  def withIdentityColumn(df: DataFrame, name: String,
                         start: Long = 1L, step: Long = 1L): DataFrame = {
    require(step != 0L, "identity step must be nonzero")
    require(!df.columns.exists(_.equalsIgnoreCase(name)),
      s"IDENTITY column $name is GENERATED ALWAYS — the frame cannot supply it")
    val (assigned, n) = assignSequential(df, name, start, step)
    val hwm = if (n == 0L) start - step else start + step * (n - 1L)
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(IdStartKey, start).putLong(IdStepKey, step)
      .putLong(IdHwmKey, hwm).build()
    assigned.withColumn(name, col(name).as(name, meta))
  }

  /** Prepend `base, base+step, …` as `name` without sorting or a
    * single-partition exchange: per-partition counts → offsets (an
    * O(partitions) driver sync, the GlobalOrder pattern), then
    * partition-local numbering at the InternalRow level. Returns the
    * frame and the row count (= values consumed). */
  private[graft] def assignSequential(df: DataFrame, name: String,
                                      base: Long, step: Long): (DataFrame, Long) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val rdd = df.queryExecution.toRdd
    val counts = rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(pid -> n)
    }.collect().toMap
    val parts = rdd.getNumPartitions
    val offsets = new Array[Long](math.max(parts, 1))
    var acc = 0L
    var p = 0
    while (p < parts) { offsets(p) = acc; acc += counts.getOrElse(p, 0L); p += 1 }
    val numbered = rdd.mapPartitionsWithIndex { (pid, it) =>
      var i = offsets(pid)
      it.map { row =>
        val v = base + step * i
        i += 1
        new JoinedRow(
          new GenericInternalRow(Array[Any](v)), row.copy()): InternalRow
      }
    }
    val outSchema = StructType(
      StructField(name, LongType, nullable = false) +: df.schema.fields)
    (org.apache.spark.sql.GraftBridge
       .internalCreateDataFrame(spark, numbered, outSchema), acc)
  }

  /** Re-stamp the identity column's high-water mark in `schema`. */
  private def patchIdentityHwm(schema: org.apache.spark.sql.types.StructType,
                               colName: String, hwm: Long)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (f.name.equalsIgnoreCase(colName))
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(IdHwmKey, hwm).build())
      else f
    })

  /** GENERATED-column write gate: fill each declared column when the
    * incoming frame lacks it; when the frame supplies it, REQUIRE
    * row-for-row agreement with the definition (one validating scan,
    * same cost class as a CHECK constraint; limit(1) stops at the
    * first offender) — Delta's exact contract: you may omit a
    * generated column, you may not contradict it. */
  private def applyGenerated(df: DataFrame, table: String,
                             defs: Map[String, String]): DataFrame =
    defs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
      import org.apache.spark.sql.functions.expr
      if (!d.columns.exists(_.equalsIgnoreCase(name)))
        d.withColumn(name, expr(sql))
      else {
        val bad = d.filter(!(col(name) <=> expr(sql))).limit(1).count()
        require(bad == 0L,
          s"GENERATED column $name of $table must equal ($sql); " +
            "the incoming frame contradicts the definition")
        d
      }
    }

  /** RECOMPUTE every generated column over rows written OUTSIDE the
    * append path (merge / MoR upsert / DML rewrite / replaceWhere —
    * paths that build manifests directly and so bypass commit()'s
    * fill-or-validate gate): for carried rows the recompute is the
    * identity, for modified rows it repairs staleness (Delta's UPDATE
    * behavior — a SET on a generation source must not leave the
    * derived value stale), and for merge-inserted rows it IS the
    * fill. */
  private def recomputeGenerated(df: DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    import org.apache.spark.sql.functions.expr
    schema.map(generatedColumns).getOrElse(Map.empty)
      .toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, sql)) =>
        d.withColumn(n, expr(sql)) }
  }

  /** Row-INTRODUCING writes outside the append path cannot mint
    * identity values (assignment + hwm advance live on the commit()
    * append leg) — refuse rather than silently land NULL/duplicate
    * ids. Delta shipped the same restriction for MERGE + IDENTITY. */
  private def refuseIdentity(
      schema: Option[org.apache.spark.sql.types.StructType],
      table: String, op: String): Unit =
    schema.flatMap(identityColumn).foreach { d =>
      throw new IllegalArgumentException(
        s"$op into $table is not supported with IDENTITY column " +
          s"${d.col}: identity values are assigned only on the append " +
          "path. Recipe: DELETE the scoped rows, then APPEND the " +
          "replacements (each append mints fresh values above the " +
          "high-water mark, so retained ids are never reused)")
    }

  /** Opt a CREATING frame into parquet FIELD-ID column mapping
    * ([[FieldIds]]): every field — top-level and nested, including
    * struct fields inside arrays and maps — is stamped with a stable
    * id, the parquet writer bakes the ids into every data file, and
    * reads resolve columns BY ID. RENAME (top-level or nested) becomes
    * pure metadata with no alias legs, re-adding a dropped name can
    * never resurrect stale bytes (fresh id), and evolution inside
    * array/map elements resolves unambiguously. Creation-time only:
    * commit refuses the stamped frame if the table already holds
    * id-less files. The SQL spelling is
    * `TBLPROPERTIES ('graft.columnMapping.mode' = 'id')` at CREATE. */
  def withFieldIds(df: DataFrame): DataFrame =
    FieldIds.stamp(df, FieldIds.assign(None, df.schema))

  private def commit(df: DataFrame, table: String, append: Boolean,
                     txn: Option[(String, Long)],
                     statsCols: Seq[String],
                     bloomCols: Seq[String] = Nil,
                     partitionCols: Seq[String] = Nil,
                     cdf: Option[Boolean] = None,
                     opLabel: Option[String] = None,
                     mor: Option[Boolean] = None,
                     extraTxns: Map[String, Long] = Map.empty,
                     optimizedWrite: Boolean = false): Long = {
    val op = opLabel.getOrElse(if (append) "append" else "overwrite")
    val spark = df.sparkSession
    def applied(st: State): Boolean =
      txn.exists { case (appId, batchId) => st.txns.get(appId).exists(_ >= batchId) }
    // replay fast-path: skip the data write entirely
    val state = latestOrEmpty(spark, table)
    if (applied(state)) return state.version
    // fail-fast schema validation: an incompatible append should throw
    // BEFORE materializing data files, leaving no orphan dir (a
    // concurrent evolution can still surface it inside the loop)
    if (append) state.schema
      .foreach(org.apache.spark.sql.GraftBridge.mergeSchemas(_, df.schema))
    val maintenanceOps = Set("compact", "zorder", "alter-rename")
    // GENERATED columns: on append the definitions come from the
    // SNAPSHOT schema (so a plain frame that lost its metadata still
    // fills/validates); on overwrite from the incoming frame's own
    // annotations (overwrite replaces the schema, Delta-style).
    // Maintenance rewrites carry already-validated rows and skip both.
    // Fill happens BEFORE the constraint gate so a CHECK referencing a
    // generated column sees the filled value, not a missing column.
    val genDefs: Map[String, String] =
      if (maintenanceOps(op)) Map.empty
      else if (append)
        state.schema.map(generatedColumns).getOrElse(generatedColumns(df.schema))
      else generatedColumns(df.schema)
    // DEFAULT columns fill the same way (before the constraint gate);
    // appends read declarations from the snapshot schema
    val defDefs =
      if (maintenanceOps(op)) Nil
      else if (append)
        state.schema.map(defaultColumns).getOrElse(defaultColumns(df.schema))
      else defaultColumns(df.schema)
    val dfd = if (defDefs.isEmpty) df else applyDefaults(df, defDefs)
    // NESTED declared defaults fill the same way: a frame whose struct
    // TYPE omits the declared field gets it filled (CURRENT default),
    // so post-declaration files always carry the field physically and
    // the read-time existence fill stays confined to pre-declaration
    // vintages
    val ndefDefs =
      if (maintenanceOps(op)) Nil
      else if (append) state.schema.map(nestedDefaults).getOrElse(Nil)
      else nestedDefaults(df.schema)
    val dfn =
      if (ndefDefs.isEmpty) dfd else applyNestedDefaults(dfd, ndefDefs)
    val dfg =
      if (genDefs.isEmpty) dfn else applyGenerated(dfn, table, genDefs)
    // CHECK constraints gate every commit that introduces NEW rows — one
    // violating row aborts BEFORE any data file lands (validated against
    // the snapshot observed here; see enforceChecks for the contract).
    // Maintenance rewrites (compact/zorder/alter-rename) only carry rows
    // that already passed the gate at their originating commit, so they
    // skip the re-scan — same as Delta, which doesn't re-validate on
    // OPTIMIZE.
    if (!maintenanceOps(op)) enforceChecks(dfg, table, state.checks)
    // the generation SOURCE columns join the stats set: a predicate on
    // the source (e.g. the raw timestamp behind a generated date
    // partition) then prunes files through ordinary stats skipping —
    // derived partition pruning with no filter-rewrite machinery
    val genStatCols =
      genDefs.keys.toSeq ++
        genDefs.values.toSeq.flatMap(genSources(spark, _))
          .filter(c => dfg.columns.exists(_.equalsIgnoreCase(c)))
    // IDENTITY column: on append the declaration (and high-water mark)
    // comes from the snapshot schema; fresh values are assigned HERE,
    // above the observed hwm — a frame supplying the column refuses
    // (ALWAYS semantics). On overwrite the creating frame (via
    // withIdentityColumn) already carries assigned values + metadata.
    // Maintenance rewrites carry already-assigned rows untouched.
    val idDef: Option[IdentityDef] =
      if (maintenanceOps(op)) None
      else if (append) state.schema.flatMap(identityColumn)
      else identityColumn(dfg.schema)
    if (append) idDef.foreach { d =>
      require(!dfg.columns.exists(_.equalsIgnoreCase(d.col)),
        s"IDENTITY column ${d.col} of $table is GENERATED ALWAYS — " +
          "appends cannot supply it")
    }
    def hwmOf(st: State, d: IdentityDef): Long =
      st.schema.flatMap(identityColumn).flatMap(_.hwm).getOrElse(d.start - d.step)
    // partitioning is STICKY: an explicit spec wins (and re-partitions
    // the table on overwrite); otherwise appends AND implicit-spec
    // overwrites conform to the snapshot's recorded partition columns.
    // Partition columns always join the stats set — single-valued files
    // make the stats machinery do exact partition pruning.
    def specOf(st: State): Seq[String] =
      if (partitionCols.nonEmpty) partitionCols else st.partCols
    // FIELD-ID MODE (parquet column mapping): active when the prior
    // snapshot's schema carries ids, or the creating frame opted in
    // (withFieldIds / the catalog's TBLPROPERTIES spelling). Enablement
    // is creation-only: files written before it carry no ids and would
    // serve all-NULL under id resolution.
    val priorHasIds = state.schema.exists(FieldIds.hasIds)
    val idMode = priorHasIds || FieldIds.hasIds(df.schema)
    if (FieldIds.hasIds(df.schema) && !priorHasIds)
      require(state.files.isEmpty,
        s"$table already holds files written without field ids — " +
          "column-mapping mode 'id' can only be declared while the " +
          "table has no files")
    // the (prior idMap, never-reuse floor) an attempt assigned ids from
    // — a CAS loser whose winner evolved the schema re-mints against
    // the fresh snapshot, so two racing evolutions can never publish
    // files whose bytes claim the same id for different columns
    def idSigOf(st: State) =
      (st.schema.filter(FieldIds.hasIds).map(FieldIds.idMap),
        FieldIds.floorOf(st.retired))
    /** One materialization of the frame against snapshot `st`: identity
      * values assigned above its hwm, then — in id mode — every field
      * (including brand-new evolved columns) stamped with its id so the
      * parquet writer bakes them into the files (the recorded schema
      * carries the SAME ids because StructType.merge preserves field
      * metadata), laid out under `st`'s partition spec. */
    final case class Written(on: State, frame: DataFrame, idBase: Long,
        dir: String, files: Seq[String], stats: Map[String, Seq[FileStat]],
        blooms: Map[String, Seq[BloomMeta]], rows: Map[String, Long])
    def write(st: State): Written = {
      val (d, idBase) = idDef match {
        case Some(i) if append =>
          val b = hwmOf(st, i)
          (assignSequential(dfg, i.col, b + i.step, i.step)._1, b)
        case _ => (dfg, 0L)
      }
      val frame =
        if (!idMode) d
        else FieldIds.stamp(d, FieldIds.assign(st.schema.filter(FieldIds.hasIds),
          d.schema, FieldIds.floorOf(st.retired)))
      val spec = specOf(st)
      val statCols = (statsCols ++ spec.map(partSource) ++ genStatCols ++
        idDef.map(_.col).toSeq).distinct
      val (dir, files, stats, blooms, rows) =
        writeData(frame, table, statCols, bloomCols, spec, optimizedWrite)
      Written(st, frame, idBase, dir, files, stats, blooms, rows)
    }
    // snapshot schema recorded in the log (Delta-style): an APPEND
    // merges the evolved frame's schema into the base snapshot's —
    // pre-evolution files surface the new column as NULL; incompatible
    // evolution fails HERE, at commit, not at some later read. The
    // identity high-water mark commits WITH the rows that consumed it:
    // merge keeps the base's (stale) value, so re-stamp it — appends
    // advance by the rows just assigned, overwrites keep monotonicity
    // across the replacement (ids are never reused even after the old
    // rows are gone)
    def schemaOn(base: State, w: Written): StructType = {
      val merged =
        if (append) base.schema
          .map(org.apache.spark.sql.GraftBridge.mergeSchemas(_, w.frame.schema))
          .getOrElse(org.apache.spark.sql.GraftBridge.nullableSchema(w.frame.schema))
        else org.apache.spark.sql.GraftBridge.nullableSchema(w.frame.schema)
      idDef match {
        case Some(d) =>
          val newHwm =
            if (append) w.idBase + d.step * w.rows.values.sum
            else {
              val frameHwm = identityColumn(w.frame.schema).flatMap(_.hwm)
                .getOrElse(d.start - d.step)
              base.schema.flatMap(identityColumn).flatMap(_.hwm)
                .map(prior =>
                  if (d.step > 0) math.max(prior, frameHwm)
                  else math.min(prior, frameHwm))
                .getOrElse(frameHwm)
            }
          patchIdentityHwm(merged, d.col, newHwm)
        case None => merged
      }
    }
    def publish(w: Written) = Publish(
      Change(op, added = w.files, stats = w.stats, blooms = w.blooms,
        rows = w.rows, checkpoint = !append,
        header = { h0 =>
          // an OVERWRITE replaces table content wholesale — every file
          // and every equality-delete entry drops — and is a natural
          // checkpoint
          val h = if (append) h0 else h0.copy(files = Nil, stats = Map.empty,
            blooms = Map.empty, rows = Map.empty, dels = Nil, addv = Map.empty)
          h.copy(
            txns = h.txns ++ txn.map { case (a, b) =>
              a -> math.max(b, h.txns.getOrElse(a, Long.MinValue)) } ++ extraTxns,
            schema = Some(schemaOn(h0, w)),
            // STICKY spec, re-read on EVERY try: an evolution landing
            // between this commit's base snapshot and its CAS win
            // carries forward — recording the pre-race spec would
            // silently REVERT it (PartEvolSpec's race tests)
            partCols = specOf(h),
            // CDF and merge-on-read enablement are STICKY: an explicit
            // request turns them on (or off); otherwise they carry
            cdf = cdf.getOrElse(h.cdf),
            mor = mor.getOrElse(h.mor),
            // constraints, properties and retired names carry through
            // append AND overwrite (replacing a table's rows is not
            // un-configuring it); the converted-layout flag and the
            // alias map describe OLD files, so an overwrite drops them
            pathpart = h.pathpart && append,
            aliases = if (append) h.aliases else Map.empty)
        }),
      dirs = Seq(w.dir),
      // a lost CAS re-publishes the written files unless the winner
      // applied this very batch (a replica: settle) or invalidated what
      // they baked in (recompute against the fresh snapshot). Identity
      // race: the winner advanced the hwm our values were assigned
      // above. Field-id race: the winner evolved the schema, so our
      // stamped ids may collide with its minting. Spec race: an
      // implicit-spec OVERWRITE lost to a partition-spec evolution — its
      // files, the table's ENTIRE content, would sit in the old layout
      // under the new spec. (An append publishes its old-layout files as
      // one more vintage: mixed vintages are the evolution machinery's
      // normal state.)
      rebases = fresh => !applied(fresh) &&
        !(append && idDef.exists(hwmOf(fresh, _) != w.idBase)) &&
        !(idMode && idSigOf(fresh) != idSigOf(w.on)) &&
        !(!append && specOf(fresh) != specOf(w.on)))
    Log.commit(spark, table, op, Some(state)) { base =>
      if (applied(base)) Done(base.version) // raced a replica of the batch
      else publish(write(base))
    }
  }

  /** Write `df` as a full replacement snapshot and commit it atomically.
    * `statsCols` designate columns whose per-file min/max land in the
    * manifest (data-skipping metadata for readRange/merge/deleteRange);
    * `bloomCols` columns additionally get per-file bloom sidecars
    * (equality skipping for readEquals/deleteEquals and DSv2 `===`). */
  def commitOverwrite(df: DataFrame, table: String,
                      statsCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil,
                      partitionCols: Seq[String] = Nil,
                      cdf: Option[Boolean] = None,
                      mor: Option[Boolean] = None,
                      optimizedWrite: Boolean = false): Long =
    commit(df, table, append = false, txn = None, statsCols = statsCols,
      bloomCols = bloomCols, partitionCols = partitionCols, cdf = cdf,
      mor = mor, optimizedWrite = optimizedWrite)

  /** Append `df` as a new snapshot = previous snapshot + new files —
    * no existing data is rewritten; the commit is manifest concatenation
    * plus one atomic no-overwrite rename. Safe under concurrent
    * committers: the loser of the manifest CAS retries against the
    * winner's snapshot, so both appends survive. */
  def commitAppend(df: DataFrame, table: String,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil,
                   partitionCols: Seq[String] = Nil,
                   cdf: Option[Boolean] = None,
                   mor: Option[Boolean] = None,
                   optimizedWrite: Boolean = false): Long =
    commit(df, table, append = true, txn = None, statsCols = statsCols,
      bloomCols = bloomCols, partitionCols = partitionCols, cdf = cdf,
      mor = mor, optimizedWrite = optimizedWrite)

  /** Overwrite exactly-once per (appId, batchId): the marker commits
    * ATOMICALLY with the replacement snapshot, so a consumer that
    * derives its progress cursor from `lastCommittedBatch` can never
    * observe state without the cursor that produced it — the
    * crash-consistency primitive IncrementalView's refresh rides on. */
  def commitOverwriteIdempotent(df: DataFrame, table: String,
                                appId: String, batchId: Long,
                                statsCols: Seq[String] = Nil,
                                bloomCols: Seq[String] = Nil,
                                partitionCols: Seq[String] = Nil,
                                cdf: Option[Boolean] = None): Long =
    commit(df, table, append = false, txn = Some((appId, batchId)),
      statsCols = statsCols, bloomCols = bloomCols,
      partitionCols = partitionCols, cdf = cdf)

  /** Append exactly-once per (appId, batchId): a replay of an
    * already-applied batch is a no-op returning the current version.
    * The streaming-sink shape — foreachBatch restarts re-offer the last
    * batch, and this makes the re-offer safe (Delta's txn markers). */
  def commitAppendIdempotent(df: DataFrame, table: String,
                             appId: String, batchId: Long,
                             statsCols: Seq[String] = Nil,
                             bloomCols: Seq[String] = Nil,
                             partitionCols: Seq[String] = Nil,
                             cdf: Option[Boolean] = None): Long =
    commit(df, table, append = true, txn = Some((appId, batchId)),
      statsCols = statsCols, bloomCols = bloomCols,
      partitionCols = partitionCols, cdf = cdf)

  // --------------------------------------------- write-audit-publish
  /** STAGED COMMITS — the Iceberg/Delta write-audit-publish pattern.
    *
    * [[stageAppend]] materializes a batch's data files, stats and
    * blooms into the table directory plus a staged manifest OUTSIDE
    * the version chain (`_staged/<id>.manifest`): readers cannot see
    * it, vacuum PINS its files (an explicit stage awaiting audit is
    * not a crashed writer's orphan — see vacuumImpl), and the commit
    * protocol is untouched. Audit the would-be state with
    * [[readStaged]]; [[publishStage]] then CAS-appends the staged
    * files BY REFERENCE — no data rewrite, an O(metadata) commit
    * however large the batch — re-validating the table's THEN-current
    * CHECK constraints against the staged rows, so a constraint added
    * during the audit window gates the publish (the audit is
    * enforced, not trusted). The publish carries an idempotent txn
    * marker (`graft.wap.<id>`): replays and retries return the
    * already-published version instead of double-appending.
    * [[abortStage]] drops only the staged manifest (the pin); data
    * reclaims as orphans on the next retention pass.
    *
    * Fail-closed scope rules: staging requires an existing snapshot;
    * IDENTITY tables refuse staging (value minting must serialize
    * through the chain); publish refuses if the table SCHEMA or
    * partition spec changed since stage (json-equality against the
    * base schema recorded at stage time — the Iceberg cherry-pick
    * conflict rule; covers field-id minting, alias renames, and
    * read-time default vintages in one check — re-stage instead).
    * CHECK/property/tag changes during the audit window are fine.
    * Concurrent ordinary commits are fine (a lost CAS re-merges).
    * Abort and publish of the SAME stage must not race (single-auditor
    * assumption); both sides re-validate to shrink that window to ms,
    * mirroring setTag/vacuum. */
  private[graft] val StagedDir = "_staged"
  private def stagedManifestPath(table: String, id: String) =
    new Path(s"$table/$StagedDir/$id.manifest")
  private def wapMarker(id: String) = s"graft.wap.$id"
  private val WapBaseSchemaProp = "graft.wap.baseSchema"
  private val WapBaseVersionProp = "graft.wap.baseVersion"
  private val WapStagedAtProp = "graft.wap.stagedAtMs"
  /** BATCH-SHAPED stage ids (`<prefix>-b<ordinal>` — the s73
    * streaming spelling, one stage per micro-batch) collapse their
    * publish markers into ONE per-prefix high-water entry
    * (`graft.wapseq.<prefix>` → max published ordinal), the same
    * appId→max-batch shape the txn sink uses: a continuous-ingest
    * table's manifest carries one line per QUERY, not one per batch,
    * preserving O(metadata) commits over the table's lifetime. The
    * reuse refusal becomes `ordinal <= high-water` — exactly Delta's
    * txnAppId+version monotonicity, so batch-shaped stages of one
    * prefix must PUBLISH in non-decreasing ordinal order (publishing
    * {5} after {7} with its staged manifest still present is refused
    * loudly by file-membership check, never silently replay-dropped).
    * Ad-hoc (non-batch-shaped) ids keep per-id markers — bounded by
    * human activity, not stream length.
    *
    * Two contract edges, both inherited from the Delta shape and
    * deliberate: (1) the `-b<digits>` suffix is RESERVED — any id
    * matching it is parsed as batch-shaped, so independent pipelines
    * must not share a prefix with hand-minted `-bN` names (one writer
    * mints each prefix's ordinals, monotonically); (2) once an
    * ordinal sits at or below the high-water mark AND no staged
    * manifest remains, a publish of it is DEFINED as an
    * already-applied replay and heals to the current version — a
    * never-staged (or staged-then-aborted) lower ordinal is
    * indistinguishable from a published-and-cleaned one at that
    * point, the same way a stale Delta txnVersion is silently
    * skipped. NEW data always takes a NEW (higher) ordinal. */
  private val BatchStageRe = "^(.+)-b([0-9]+)$".r
  private def batchShaped(id: String): Option[(String, Long)] = id match {
    case BatchStageRe(prefix, n) =>
      scala.util.Try(n.toLong).toOption.map(prefix -> _)
    case _ => None
  }
  private def seqMarker(prefix: String) = s"graft.wapseq.$prefix"
  /** Has stage `id` (or, for batch-shaped ids, this ordinal or a
    * later one of its prefix) already published into `txns`? */
  private def wapPublished(txns: Map[String, Long], id: String): Boolean =
    txns.contains(wapMarker(id)) || batchShaped(id).exists {
      case (p, n) => txns.get(seqMarker(p)).exists(_ >= n) }

  def stageAppend(df: DataFrame, table: String,
                  statsCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil,
                  stageId: Option[String] = None,
                  optimizedWrite: Boolean = false): String = {
    val spark = df.sparkSession
    // IDEMPOTENT STAGING: a caller-supplied id (e.g. a streaming
    // micro-batch's batchId) makes retries re-offer the SAME stage —
    // an existing staged manifest under that id wins and the retry
    // writes nothing, so a foreachBatch restart can neither stage a
    // batch twice nor leak a pinned orphan under a fresh random id
    stageId.foreach { sid =>
      require(TagNameRe.matches(sid),
        s"stage id '$sid' must match ${TagNameRe.regex}")
      // an id that EVER published must refuse — BEFORE the idempotent
      // manifest-exists re-offer: a publisher that crashed between its
      // CAS and the manifest cleanup leaves BOTH the marker and the
      // staged manifest, and a checkpoint restarted from scratch
      // reusing the id would otherwise get a silent early return that
      // discards its new batch (the exact loss the refusal prevents).
      // Its txn marker makes any later publish a replay no-op, so
      // fresh data staged under it must fail loudly, not quietly.
      val refuseSt = latestState(spark, table)
      val txns = refuseSt.map(_.txns).getOrElse(Map.empty)
      if (wapPublished(txns, sid)) {
        // a crashed publisher leaves BOTH the marker and the staged
        // manifest — reap the residue so the vacuum pin releases; the
        // refusal below still fires
        reapPublishedResidue(spark, table, sid, refuseSt)
        throw new IllegalArgumentException(
          s"stage id '$sid' was already published to $table — a " +
            "replay re-offers the same content by keeping its " +
            "manifest; NEW data needs a new id (batch-shaped ids " +
            "must carry a strictly increasing ordinal)")
      }
      if (fc(spark).util.exists(stagedManifestPath(table, sid)))
        return sid
    }
    val st = latestState(spark, table).getOrElse(
      throw new IllegalStateException(
        s"stageAppend requires an existing snapshot in $table"))
    val snapSchema = st.schema.getOrElse(throw new IllegalStateException(
      s"$table predates the schema log"))
    require(identityColumn(snapSchema).isEmpty,
      s"$table declares an IDENTITY column — staged appends cannot " +
        "mint serialized values; commit directly")
    // the same fill/validate pipeline a direct append runs, against
    // the stage-time snapshot (publish re-validates checks later)
    org.apache.spark.sql.GraftBridge.mergeSchemas(snapSchema, df.schema)
    val defDefs = defaultColumns(snapSchema)
    val dfd = if (defDefs.isEmpty) df else applyDefaults(df, defDefs)
    val ndefDefs = nestedDefaults(snapSchema)
    val dfn =
      if (ndefDefs.isEmpty) dfd else applyNestedDefaults(dfd, ndefDefs)
    val genDefs = generatedColumns(snapSchema)
    val dfg =
      if (genDefs.isEmpty) dfn else applyGenerated(dfn, table, genDefs)
    enforceChecks(dfg, table, st.checks)
    val genStatCols = genDefs.keys.toSeq ++
      genDefs.values.toSeq.flatMap(genSources(spark, _))
        .filter(c => dfg.columns.exists(_.equalsIgnoreCase(c)))
    val allStatsCols =
      (statsCols ++ st.partCols.map(partSource) ++ genStatCols).distinct
    val dfw =
      if (!FieldIds.hasIds(snapSchema)) dfg
      else FieldIds.stamp(dfg, FieldIds.assign(Some(snapSchema), dfg.schema,
        FieldIds.floorOf(st.retired)))
    val (dataDir, newFiles, newStats, newBlooms, newRows) =
      writeData(dfw, table, allStatsCols, bloomCols, st.partCols,
        optimized = optimizedWrite)
    val stagedSchema =
      org.apache.spark.sql.GraftBridge.mergeSchemas(snapSchema, dfw.schema)
    val id = stageId.getOrElse(
      java.util.UUID.randomUUID().toString.replace("-", "").take(16))
    val staged = State.empty.copy(schema = Some(stagedSchema),
      stats = newStats, files = newFiles, blooms = newBlooms,
      rows = newRows, partCols = st.partCols,
      props = Map(WapBaseSchemaProp -> snapSchema.json,
        WapBaseVersionProp -> st.version.toString,
        WapStagedAtProp -> System.currentTimeMillis().toString))
    if (!Log.create(spark, stagedManifestPath(table, id), staged, "staged")) {
      // two replicas staged the same id concurrently: the winner's
      // manifest stands, this attempt's data dir is an orphan — drop it
      require(stageId.isDefined, s"staged manifest collision for $id")
      fc(spark).delete(new Path(s"$table/$dataDir"), true)
    }
    id
  }

  /** Ids of stages currently awaiting audit/publish on `table`. */
  def stagedIds(spark: SparkSession, table: String): Seq[String] = {
    val ctx = fc(spark)
    val dir = new Path(s"$table/$StagedDir")
    if (!ctx.util.exists(dir)) return Nil
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = ctx.listStatus(dir)
    while (it.hasNext) {
      val n = it.next().getPath.getName
      if (n.endsWith(".manifest")) buf += n.stripSuffix(".manifest")
    }
    buf.sorted.toSeq
  }

  /** One row per pending stage: (id, fileCount, rowCount, stage-time
    * base version, staged-at millis) — the auditor's listing (SHOW
    * STAGES / the graft_stages table function). The staged-at instant
    * makes abandoned stages FINDABLE by policy: a stage awaiting audit
    * is vacuum-pinned by design, so a crashed auditor's stage holds
    * its files until someone notices — age turns "notice" into a
    * query. Stamped as a manifest prop at stage time; stages written
    * before the prop existed fall back to the manifest's filesystem
    * modification time (the PUT instant on an object store). A stage
    * resolved mid-listing is simply absent. */
  def stagedSummaries(spark: SparkSession, table: String)
      : Seq[(String, Long, Long, Option[Long], Option[Long])] =
    stagedIds(spark, table).flatMap { id =>
      try {
        val lines = stagedLines(spark, table, id)
        val (headers, fileLines) = lines.partition(_.startsWith("#"))
        val parsed = fileLines.map(parseFileLine)
        val props = parseProps(headers)
        val stagedAt = props.get(WapStagedAtProp).flatMap(_.toLongOption)
          .orElse(scala.util.Try(fc(spark)
            .getFileStatus(stagedManifestPath(table, id))
            .getModificationTime).toOption)
        Some((id, parsed.size.toLong, parsed.flatMap(_._2).sum,
          props.get(WapBaseVersionProp).flatMap(_.toLongOption),
          stagedAt))
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (fc(spark).util.exists(stagedManifestPath(table, id))) throw e
          None // published/aborted since the listing
      }
    }

  private def stagedLines(spark: SparkSession, table: String,
                          id: String): Seq[String] = {
    val ctx = fc(spark)
    val p = stagedManifestPath(table, id)
    require(ctx.util.exists(p),
      s"no staged commit $id on $table (published, aborted, or never " +
        "staged)")
    readSmall(ctx, p).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** The staged rows of stage `id`, read through the engine's
    * file-subset planner (URL-safe under partition-value dirs). */
  private def stagedFrame(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else planFiles(spark, table, schema, files, pathpart = false,
      ndefFill = false)

  /** The WOULD-BE snapshot if stage `id` published now — the audit's
    * input: current rows ∪ staged rows. */
  def readStaged(spark: SparkSession, table: String, id: String)
      : DataFrame = {
    val lines = stagedLines(spark, table, id)
    val (headers, fileLines) = lines.partition(_.startsWith("#"))
    val schema = parseSchema(headers).getOrElse(
      throw new IllegalStateException(s"staged manifest $id lacks a schema"))
    read(spark, table).unionByName(
      stagedFrame(spark, table, schema, fileLines.map(parseFileLine(_)._1)),
      allowMissingColumns = true)
  }

  def publishStage(spark: SparkSession, table: String, id: String): Long =
    publishStages(spark, table, Seq(id))

  /** Publish SEVERAL audited stages in ONE commit — all-or-nothing
    * multi-batch promotion (a day's audited micro-batches land as one
    * snapshot; a reader can never observe a subset). Each stage is
    * validated independently (schema/partition conflicts, the
    * publish-time CHECK gate over ITS rows); one CAS manifest carries
    * every batch's files and every idempotence marker, so a replay of
    * the same set returns the published version. Because markers
    * commit together, a PARTIAL marker overlap can only mean the ids
    * were mixed across different publish calls — refused. */
  def publishStages(spark: SparkSession, table: String,
                    ids: Seq[String]): Long = {
    require(ids.nonEmpty && ids.distinct == ids,
      s"publishStages needs a non-empty set of distinct stage ids")
    val ctx = fc(spark)
    def replayed(st: State): Boolean = {
      val present = ids.filter(id => wapPublished(st.txns, id))
      require(present.isEmpty || present.size == ids.size,
        s"stages ${present.mkString(",")} already published separately " +
          s"from ${(ids.toSet -- present).mkString(",")} — an atomic " +
          "replay must offer the same set")
      if (present.size != ids.size) return false
      // batch-shaped ids publish via a per-prefix HIGH-WATER marker,
      // so "published" is ambiguous while a staged manifest still
      // exists: a crashed publisher's true replay (files already in
      // the snapshot) vs an out-of-order publish of a SKIPPED lower
      // ordinal (new data a silent replay-return would discard).
      // Verify by file membership and refuse the skipped-batch case
      // loudly. Residual: a true replay arriving AFTER a compaction
      // rewrote the published files also refuses (its data is live;
      // nothing is lost) — the operator drops the stale manifest.
      val live = st.files.toSet
      ids.foreach { id =>
        if (batchShaped(id).isDefined &&
            !st.txns.contains(wapMarker(id)) &&
            ctx.util.exists(stagedManifestPath(table, id))) {
          val files = stagedLines(spark, table, id)
            .filterNot(_.startsWith("#")).map(parseFileLine(_)._1)
          require(files.forall(live.contains),
            s"stage $id sits below its prefix's published high-water " +
              s"ordinal on $table but its files are not in the " +
              "snapshot — batch-shaped stages must publish in " +
              "non-decreasing ordinal order; re-stage under a fresh id")
        }
      }
      true
    }
    // an already-published replay heals itself: return the version,
    // drop the now-redundant staged manifests
    latestState(spark, table).filter(replayed).foreach { st =>
      ids.foreach(id => ctx.delete(stagedManifestPath(table, id), false))
      return st.version
    }
    final case class Staged(id: String, files: Seq[String],
        rows: Map[String, Long], stats: Map[String, Seq[FileStat]],
        blooms: Map[String, Seq[BloomMeta]],
        schema: org.apache.spark.sql.types.StructType,
        partCols: Seq[String], baseSchemaJson: String, baseVersion: String)
    val staged = ids.map { id =>
      val lines = stagedLines(spark, table, id)
      val (headers, fileLines) = lines.partition(_.startsWith("#"))
      val parsedFiles = fileLines.map(parseFileLine)
      val props = parseProps(headers)
      Staged(id, parsedFiles.map(_._1),
        parsedFiles.collect { case (f, Some(n)) => f -> n }.toMap,
        parseStats(headers), parseBlooms(headers),
        parseSchema(headers).getOrElse(throw new IllegalStateException(
          s"staged manifest $id lacks a schema")),
        parsePartCols(headers),
        props.getOrElse(WapBaseSchemaProp, ""),
        props.getOrElse(WapBaseVersionProp, "?"))
    }
    var checkedAgainst: Option[Map[String, String]] = None
    def publish(st: State): Attempt = {
      val curSchema = st.schemaOf(table)
      staged.foreach { sg =>
        require(curSchema.json == sg.baseSchemaJson,
          s"$table's schema changed since stage ${sg.id} was written " +
            s"(staged at v${sg.baseVersion}) — publish would mix " +
            "minting/vintage rules; re-stage the batch")
        require(st.partCols == sg.partCols,
          s"$table's partition spec changed since stage ${sg.id} — re-stage")
      }
      // FIELD-ID tables: a schema-evolving stage minted its fresh
      // column ids against the shared base floor, so TWO evolving
      // stages can carry the SAME id for different columns — an atomic
      // publish would commit a schema with duplicate field ids and
      // id-based resolution would serve one column's bytes for the
      // other. Refuse the atomic form; published separately, the
      // second stage hits the schema-changed rule above and re-stages
      // against the evolved base.
      if (FieldIds.hasIds(curSchema)) {
        val evolving =
          staged.filter(sg => sg.schema.json != sg.baseSchemaJson)
        require(evolving.size <= 1,
          s"stages ${evolving.map(_.id).mkString(", ")} each evolve the " +
            s"schema of field-id table $table — their fresh column ids " +
            "were minted against the same base and may collide; publish " +
            "evolving stages separately")
      }
      // the AUDIT GATE: constraints as of NOW, scanned over the staged
      // rows only (once per distinct check set — a CAS retry against
      // an unchanged set need not rescan)
      if (st.checks.nonEmpty && !checkedAgainst.contains(st.checks)) {
        staged.foreach(sg =>
          enforceChecks(stagedFrame(spark, table, sg.schema, sg.files),
            table, st.checks))
        checkedAgainst = Some(st.checks)
      }
      val schema = staged.foldLeft(curSchema)((acc, sg) =>
        org.apache.spark.sql.GraftBridge.mergeSchemas(acc, sg.schema))
      // batch-shaped ids fold into their prefix's high-water entry;
      // ad-hoc ids keep per-id markers (see batchShaped)
      val (batched, plain) =
        ids.partition(id => batchShaped(id).isDefined)
      val seqUpdates = batched.flatMap(batchShaped).groupBy(_._1).map {
        case (p, xs) => seqMarker(p) -> math.max(
          st.txns.getOrElse(seqMarker(p), -1L), xs.map(_._2).max) }
      // abort hardening: every staged manifest must still exist at the
      // last moment — an abort deletes it FIRST, so this check shrinks
      // the publish/abort race to the gap between probe and CAS
      ids.foreach(id =>
        require(ctx.util.exists(stagedManifestPath(table, id)),
          s"stage $id was aborted while publishing"))
      Publish(Change("wap-publish", added = staged.flatMap(_.files),
        stats = staged.flatMap(_.stats).toMap,
        blooms = staged.flatMap(_.blooms).toMap,
        rows = staged.flatMap(_.rows).toMap, checkpoint = true,
        header = _.copy(schema = Some(schema),
          txns = st.txns ++ plain.map(wapMarker(_) -> 1L) ++ seqUpdates)))
    }
    val v = Log.commit(spark, table, "wap-publish") { st0 =>
      val st = st0.present(table)
      if (replayed(st)) Done(st.version) // raced our own replay
      else publish(st)
    }
    // published (or found published): the staged manifests are done
    ids.foreach(id => ctx.delete(stagedManifestPath(table, id), false))
    v
  }

  /** Discard stage `id`: drop its manifest, which releases the vacuum
    * pin — the data dirs then reclaim through the next retention pass
    * as ordinary unreferenced orphans (the crashed-writer semantics).
    * Abort deliberately deletes NO data itself: a publish that races
    * past its last manifest-existence probe in the same instant then
    * commits a snapshot whose files still exist — the abort/publish
    * race alone degrades to publish-wins or abort-wins, never to a
    * snapshot referencing deleted bytes. The residual THREE-way
    * window (publish passes its probe, then abort releases the pin
    * AND a retention-0 vacuum reaps the dirs, all before publish's
    * CAS) is governed by the same rule as every concurrent-writer
    * vacuum: run retention with `retainMs` at least your job latency
    * (the TagFuzz/Delta rule) and the age gate protects the gap.
    * Refuses an already-published stage. */
  def abortStage(spark: SparkSession, table: String, id: String): Unit = {
    val ctx = fc(spark)
    // batch-shaped ids below their prefix's high-water marker are only
    // AMBIGUOUSLY published (crash residue vs a skipped ordinal whose
    // rows never landed) — aborting a skipped batch is the documented
    // remedy, so the hard refusal binds to the per-id marker and the
    // live check below settles the ambiguity by file membership
    def publishedExact: Boolean =
      latestState(spark, table).exists(_.txns.contains(wapMarker(id)))
    require(!publishedExact, s"stage $id already published to $table")
    // existence check with the standard missing-stage error
    val lines = stagedLines(spark, table, id)
    def liveResidue: Boolean = batchShaped(id).isDefined &&
      latestState(spark, table).exists { st =>
        wapPublished(st.txns, id) && {
          val files =
            lines.filterNot(_.startsWith("#")).map(parseFileLine(_)._1)
          files.nonEmpty && files.forall(st.files.toSet.contains)
        }
      }
    // BOTH checks re-evaluate AFTER the delete: a batch-shaped
    // publish writes only the seqMarker, so a publishStages landing
    // between a pre-delete residue snapshot and ctx.delete would be
    // invisible to a captured value — liveResidue reads only the
    // captured `lines` plus the (re-fetched) snapshot, so post-delete
    // evaluation is safe and closes the window symmetrically with the
    // per-id publishedExact guard
    ctx.delete(stagedManifestPath(table, id), false)
    if (publishedExact || liveResidue)
      throw new IllegalStateException(
        s"stage $id published while aborting — its rows are live; only " +
          "the now-redundant staged manifest was removed")
    ()
  }

  /** If stage `id`'s manifest lingers although its publish is on the
    * books in `stOpt` (crash residue between a publisher's CAS and its
    * manifest cleanup), delete the manifest and return true. A per-id
    * marker is unambiguous; a batch-shaped id at/below its prefix's
    * high-water mark is residue only when every staged file is live in
    * the snapshot (the membership test publishStages' heal and
    * abortStage's liveResidue use) — a SKIPPED ordinal's
    * never-published files stay pinned for abortStage, the documented
    * remedy. ONE snapshot judges both the marker and the membership. */
  private def reapPublishedResidue(spark: SparkSession, table: String,
                                   id: String,
                                   stOpt: Option[State]): Unit = {
    val txns = stOpt.map(_.txns).getOrElse(Map.empty)
    if (wapPublished(txns, id) &&
        fc(spark).util.exists(stagedManifestPath(table, id))) {
      // the exists() above is a snapshot: a concurrent resolver (a
      // publish replay heal, another abortStage, a racing sweep) may
      // delete the manifest before the read below — that is the stage
      // RESOLVING, not a failure; rethrow only if the manifest is
      // still on disk (same existence-gated rethrow stagedSummaries
      // uses)
      val residue = txns.contains(wapMarker(id)) ||
        (scala.util.Try {
          val files = stagedLines(spark, table, id)
            .filterNot(_.startsWith("#")).map(parseFileLine(_)._1)
          files.nonEmpty &&
            stOpt.exists(st => files.forall(st.files.toSet.contains))
        } match {
          case scala.util.Success(r) => r
          case scala.util.Failure(e) =>
            if (fc(spark).util.exists(stagedManifestPath(table, id)))
              throw e
            false // resolved between the exists() and the read
        })
      if (residue) fc(spark).delete(stagedManifestPath(table, id), false)
    }
  }

  /** RETENTION for abandoned audits: abort every pending stage staged
    * earlier than `olderThanMs` ago, returning the aborted ids. A
    * stage awaiting audit is vacuum-pinned by design, so a crashed
    * auditor's stage holds its files until a policy reaps it — this is
    * that policy, with the SAME opt-in shape as vacuum retention: the
    * caller states how stale is abandoned, and the threshold must
    * exceed the longest legitimate audit (the retainMs ≥ job-latency
    * rule applied to audits). Conservative everywhere: a stage whose
    * age cannot be determined is skipped, and a stage that turns out
    * published (or resolves) mid-sweep is skipped rather than failing
    * the sweep — abortStage has already reaped its redundant manifest
    * in the published case. */
  def abortStagesOlderThan(spark: SparkSession, table: String,
                           olderThanMs: Long): Seq[String] = {
    require(olderThanMs >= 0L, "olderThanMs must be non-negative")
    val cutoff = System.currentTimeMillis() - olderThanMs
    // ONE snapshot judges the whole sweep: publish markers and file
    // membership for every stage come from the same state, so the
    // sweep is O(1) manifest reads rather than O(stages). Only the
    // rare failure branch refreshes — a mid-sweep resolution must be
    // judged against the CURRENT books before deciding to rethrow.
    val st0 = latestState(spark, table)
    val txns = st0.map(_.txns).getOrElse(Map.empty)
    stagedSummaries(spark, table).collect {
      case (id, _, _, _, Some(at)) if at < cutoff => id
    }.filter { id =>
      // a batch-shaped id at/below its prefix's high-water mark is
      // AMBIGUOUS — published with crash residue vs a skipped ordinal
      // (abortStage settles it by file membership, but a compaction
      // between the crash and the sweep breaks that heuristic and
      // would misreport live rows as aborted). Policy must not
      // auto-decide the documented human remedy: reap unambiguous
      // residue, leave the stage listed for an operator.
      if (batchShaped(id).isDefined && wapPublished(txns, id)) {
        reapPublishedResidue(spark, table, id, st0)
        false
      } else {
        // outcome is verified by POSTCONDITION, not exception type: a
        // swallowed throw is legitimate only if the manifest is gone
        // (published residue reaped, or resolved mid-sweep) — any
        // refusal that leaves the stage pending is a real failure the
        // policy cannot classify and must surface
        try { abortStage(spark, table, id); true }
        catch {
          case scala.util.control.NonFatal(e) =>
            reapPublishedResidue(spark, table, id,
              latestState(spark, table))
            if (fc(spark).util.exists(stagedManifestPath(table, id)))
              throw e
            false
        }
      }
    }
  }

  /** DATA-SKIPPING read: the latest snapshot's rows with `column` in
    * [lo, hi] — planned over ONLY the files whose manifest min/max for
    * that column overlaps the range (files without that column's stats
    * are scanned conservatively). Returns (rows, filesScanned,
    * filesTotal): at 100 TB the skip ratio IS the query time. A
    * z-order-clustered commit with stats on both curve dimensions
    * skips on EITHER column (k92). */
  def readRange(spark: SparkSession, table: String, column: String,
                lo: Double, hi: Double): (DataFrame, Int, Int) =
    readRangeOn(spark, table, column, lo, hi)

  /** Typed `readRange`: bounds may be numbers, strings (lexicographic
    * on string columns), or dates/timestamps (values or their string
    * forms) — the retention scan on a date column that numeric-only
    * stats could not serve. */
  def readRangeOn(spark: SparkSession, table: String, column: String,
                  lo: Any, hi: Any): (DataFrame, Int, Int) =
    readScope(spark, table, Scope(column, Seq(lo, hi), range = true))

  /** POINT-LOOKUP read: rows with `column = value`, planned over only
    * the files that stats, bucket ids AND bloom sidecars cannot rule
    * out. On a hash-partitioned high-cardinality key, min/max stats
    * prune nothing (every file spans the key range) — the bloom is what
    * turns a 100 TB point lookup into a handful of file reads.
    * Returns (rows, filesScanned, filesTotal). */
  def readEquals(spark: SparkSession, table: String, column: String,
                 value: Any): (DataFrame, Int, Int) = {
    require(value != null, "readEquals probes a value; use isNull filters for NULLs")
    readScope(spark, table, Scope(column, Seq(value)))
  }

  /** The latest snapshot's rows in `scope`, planned over the files
    * [[chooseFiles]] keeps: (rows, filesScanned, filesTotal). */
  private def readScope(spark: SparkSession, table: String,
                        scope: Scope): (DataFrame, Int, Int) = {
    val st = latestState(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed version in $table"))
    val schema = st.schemaOf(table)
    val (filter, inScope) = scope.on(schema(scope.column).dataType)
    val chosen = chooseFiles(spark, table, st, new StatsPruner(schema, st.stats),
      Seq(filter), st.files)
    val rows =
      if (chosen.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else planFiles(spark, table, schema, chosen, st.pathpart, st.aliases, retired = st.retired, addv = st.addv)
        .filter(inScope)
    (rows, chosen.size, st.files.size)
  }

  /** THE file-skipping decision of every TxnTable and DSv2 path that
    * chooses files for filters — readEquals/readRangeOn, the key-scoped
    * rewrite, the V1 read's keep-callback, and the DSv2 scan's planning
    * and runtime filters: the files of `files` the manifest cannot
    * prove hold no row matching every filter. Four proofs, cheapest
    * first: a recorded row count of 0 (tables written before commits
    * dropped empty files still list them), `pruner.mayMatch` per filter
    * (min/max, null counts, prefixes), then [[keyFiles]]' bucket ids
    * and bloom sidecars. The caller's `pruner` (over `st`'s stats) is
    * the one it also asks for coverage proofs, so each decision builds
    * one. */
  private[io] def chooseFiles(spark: SparkSession, table: String, st: State,
                              pruner: StatsPruner, filters: Seq[Filter],
                              files: Seq[String]): Seq[String] =
    keyFiles(spark, table, st, pruner, filters,
      files.filter(statsMayMatch(st.rows, pruner, filters)))

  /** The first two proofs of [[chooseFiles]] for one file — no recorded
    * row count of 0, no filter `pruner` rules out. The DSv2 scan's
    * planning runs them on its own, as it shares their result with
    * metadata-only aggregate planning. */
  private[io] def statsMayMatch(rows: Map[String, Long], pruner: StatsPruner,
                                filters: Seq[Filter])(f: String): Boolean =
    !rows.get(f).contains(0L) && filters.forall(pruner.mayMatch(f, _))

  /** The key steps of [[chooseFiles]] over `files` its stats step
    * already kept: the bucket ids of the filters' equality constraints
    * (min/max span every bucket of a hash-partitioned key), then the
    * bloom sidecars of those constraints — one small GET per file the
    * bucket step kept. */
  private[io] def keyFiles(spark: SparkSession, table: String, st: State,
                           pruner: StatsPruner, filters: Seq[Filter],
                           files: Seq[String]): Seq[String] =
    st.schema match {
      case Some(schema) if files.nonEmpty && filters.nonEmpty =>
        val eqCons = filters.flatMap(pruner.eqConstraints).distinct
        val kept = pruneByBucket(files, st.partCols, schema, eqCons)
        // a NULL or uncoercible constant defeats its constraint's probe
        val probes = eqCons.flatMap { case (c, vs) =>
          val hashes = typeAt(schema, c).toSeq.flatMap(dt =>
            vs.filter(_ != null).flatMap(hashForColumn(_, dt)))
          if (hashes.size == vs.size) Some(c -> hashes) else None
        }
        if (probes.isEmpty) kept
        else {
          val ctx = fc(spark)
          kept.filter(f => probes.forall { case (c, hs) =>
            bloomKeep(ctx, table, st, c, hs)(f) })
        }
      case _ => files
    }

  /** [[chooseFiles]] and [[keyFiles]] against snapshot `version` — the
    * DSv2 scan's entries (its manifest read is the builder's, cached). */
  private[io] def chooseFiles(spark: SparkSession, table: String,
                              version: Long, pruner: StatsPruner,
                              filters: Seq[Filter],
                              files: Seq[String]): Seq[String] =
    if (files.isEmpty || filters.isEmpty) files
    else chooseFiles(spark, table, stateOf(spark, table, version), pruner,
      filters, files)
  private[io] def keyFiles(spark: SparkSession, table: String,
                           version: Long, pruner: StatsPruner,
                           filters: Seq[Filter],
                           files: Seq[String]): Seq[String] =
    if (files.isEmpty || filters.isEmpty) files
    else keyFiles(spark, table, stateOf(spark, table, version), pruner,
      filters, files)

  /** Does `f` possibly contain a row whose `column` hashes to one of
    * `hashes`? True unless the file HAS a bloom for the column and
    * every hash probes negative — missing/lost sidecars degrade to a
    * conservative scan, never a wrong prune. */
  private def bloomKeep(ctx: FileContext, table: String, st: State,
                        column: String, hashes: Seq[Long])(f: String): Boolean =
    st.bloom(f, column) match {
      case None => true
      case Some(meta) =>
        val p = bloomSidecar(table, f, column)
        try {
          if (!ctx.util.exists(p)) true
          else {
            val in = ctx.open(p)
            val bytes = try in.readAllBytes() finally in.close()
            hashes.exists(h => Bloom.mightContain(bytes, meta.bits, meta.hashes, h))
          }
        } catch { case scala.util.control.NonFatal(_) => true }
    }

  /** POINT DELETE — the GDPR erasure-by-key primitive: remove every row
    * with `column = value`, rewriting ONLY the files whose stats, bucket
    * and bloom cannot prove the key absent; every other file carries
    * forward by reference. NULL-keyed rows are retained (SQL DELETE
    * semantics — the predicate is NULL, not true). A file provably
    * all-equal to the key with no NULLs is dropped without being read.
    * The key-scoped rewrite [[scopedOverwrite]] with nothing landing. */
  def deleteEquals(spark: SparkSession, table: String, column: String,
                   value: Any): Long = {
    require(value != null, "deleteEquals removes a key; NULLs are retained by design")
    scopedOverwrite(spark, table, Scope(column, Seq(value)), None)
  }

  /** Translate ABSOLUTE scan-emitted paths (`input_file_name()` /
    * `_metadata.file_path`) back to snapshot-relative files by
    * QUALIFIED URI PATH — never by basename: a partitioned write task
    * emits the SAME `part-0000N-<uuid>` name into several `__gp_`
    * partition dirs, so a basename map silently resolves to the wrong
    * file and a rewrite/merge built on it loses or duplicates rows
    * (found by the partitioned DmlFuzzSpec). Unknown paths throw —
    * a scanned file absent from the snapshot means the caller mixed
    * versions. */
  private[graft] def relOfAbs(spark: SparkSession, table: String,
                              rels: Seq[String]): String => String = {
    val fs = new Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // The two sides sit ONE encoding level apart: manifest rels are
    // the RAW on-disk names (listStatus output — `a b`, Hive-escaped
    // `50%25`), while `input_file_name()` / `_metadata.file_path`
    // URL-encode the path ONCE on top (`a%20b`, `50%2525`) and Hadoop
    // Path never decodes. So decode exactly the scan side, exactly
    // once — decoding both sides would over-decode a raw name that
    // happens to look like a valid escape. A scan string the URI
    // parser rejects (a caller handing us a raw path) falls back to
    // itself, which matches the never-encoded manifest side.
    def dec(p: String): String =
      if (!p.contains('%')) p
      else try new java.net.URI(p).getPath
      catch { case _: java.net.URISyntaxException => p }
    val byPath = rels.map { f =>
      fs.makeQualified(new Path(s"$table/$f")).toUri.getPath -> f
    }.toMap
    u => {
      val p = dec(new Path(u).toUri.getPath)
      byPath.getOrElse(p, throw new IllegalStateException(
        s"scanned file $u is not in the snapshot of $table"))
    }
  }

  /** FILE-SURGICAL UPSERT (MERGE INTO): rows of `updates` replace
    * same-key rows; unmatched keys insert. Delta's two-phase shape:
    *
    *   phase 1  find the files that actually CONTAIN an update key —
    *            one job gathers the update keys (non-null count, typed
    *            min/max, and the distinct keys when at most
    *            `KeySet.probeKeyLimit` of them exist and their type's
    *            `IN` equality is the join's), once per merge, before
    *            the commit loop; stats pre-prune the candidate files
    *            (min/max vs the keys' bounds, which bound MATCHES;
    *            inserts outside every file's range can't match
    *            anything), then a key-column-only scan of the
    *            candidates yields the exact touched-file set: filtered
    *            by a static `IN` of the gathered keys and collected in
    *            the same job (literal branch), or semi-joined with the
    *            update keys (join branch: many keys, or float/double/
    *            binary/complex keys, whose NaN and -0.0 compare
    *            differently under `IN`)
    *   phase 2  rewrite ONLY those files (the touched rows minus the
    *            update keys — a `NOT IN` filter or an anti-join, by
    *            branch — union the updates); every other file carries
    *            forward BY REFERENCE
    *
    * A small literal-branch merge is three Spark jobs: gather, probe,
    * write (CDF adds its change-file write).
    *
    * At 100 TB a merge touching 0.1% of the key space rewrites ~0.1%
    * of the files and phase 1 reads one column of a pruned candidate
    * subset. Optimistic commit: the CAS is pinned to the snapshot the
    * merge was computed against; losing it recomputes against the new
    * snapshot (merge correctness, unlike append, depends on the base). */
  def merge(updates0: DataFrame, table: String, keyCol: String): Long = {
    val spark = updates0.sparkSession
    // GENERATED ALWAYS AS IDENTITY: a merge MAY run — matched rows
    // INHERIT their existing identity values (same logical entity,
    // keyed by keyCol) and unmatched inserts MINT fresh values above
    // the snapshot's high-water mark, inside the commit plan where the
    // pinned hwm is in hand — but the frame can never SUPPLY the
    // column (ALWAYS semantics, same as the append path). Generated
    // columns recompute over the incoming frame (fill for inserts,
    // staleness repair for updates) before any gate sees it.
    val latest = latestState(spark, table)
    val mergeSchema = latest.flatMap(_.schema)
    mergeSchema.flatMap(identityColumn).foreach { d =>
      require(!updates0.columns.exists(_.equalsIgnoreCase(d.col)),
        s"IDENTITY column ${d.col} is GENERATED ALWAYS — the merge " +
          "frame cannot supply it")
    }
    val updates = recomputeGenerated(updates0, mergeSchema)
    // upserted rows are new/changed data: the constraint gate applies
    // (untouched carried-forward rows were validated by their own
    // write). Checks referencing the identity column can't evaluate
    // over the pre-enrichment frame — they hold by construction
    // (inherited and minted values are never NULL), so they skip here.
    latest.map { st0 =>
      val idCol = st0.schema.flatMap(identityColumn).map(_.col)
      st0.checks.filterNot { case (_, sql) =>
        idCol.exists(c => exprRefs(spark, sql).exists(_.equalsIgnoreCase(c)))
      }
    }.foreach(enforceChecks(updates, table, _))
    // the update keys, gathered ONCE per merge (the keys do not depend
    // on the snapshot, so a lost CAS re-plans without re-reading them;
    // lazy: the first commit of a table is an append and never needs
    // them): non-null count, the keys' min/max in their own type (the
    // ordering the stats use) and the distinct keys when few enough for
    // a static IN
    val keyDt = updates.schema(keyCol).dataType
    lazy val upd = KeySet.gather(updates, keyCol, KeySet.probeKeyLimit(spark))
    def plan(st: State): Attempt = {
      if (st.version == 0L)
        return Done(commitAppend(updates, table, statsCols = Seq(keyCol)))
      if (upd.count == 0L) return Done(st.version) // no non-null keys: no-op
      val schema = st.schemaOf(table)
      // literal branch: `IN` of the gathered keys, when the table's key
      // column has the frame's key type (no coercion on either side)
      val isKey = upd.keys.filter(_ => typeAt(schema, keyCol).contains(keyDt))
        .map(KeySet.isIn(keyCol, keyDt, _))
      // None: the keys do not convert to the column's type, no pre-prune
      val keyBound = typeAt(schema, keyCol).flatMap(upd.bound)
      // stats pre-prune: only files whose range intersects the update
      // keys' range can contain a match (statless files always qualify)
      val candidates = keyBound match {
        case Some(b) => st.files.filter(f => st.mayOverlap(f, keyCol, b))
        case None => st.files
      }
      // live merge-on-read deletes apply to EVERY data read below: the
      // key scan (a deleted row must not match), identity inheritance
      // (a deleted row's id must not be inherited), and above all the
      // phase-2 rewrite — a raw read would RESURRECT deleted rows into
      // the rewritten file, whose add version exceeds every gate (the
      // DmlFuzzSpec finding)
      def readFiles(fs: Seq[String]): DataFrame =
        if (st.dels.isEmpty)
          planFiles(spark, table, schema, fs, st.pathpart, st.aliases,
            retired = st.retired, addv = st.addv)
        else delAppliedRead(spark, table, st, fs)
      // phase 1: exact touched set — one key column over the candidates
      // (under live deletes the file name comes from the identity read's
      // exact path column — input_file_name() is task-scoped and not
      // reliable through the subtraction join)
      val toRel = relOfAbs(spark, table, candidates)
      val touched: Set[String] =
        if (candidates.isEmpty) Set.empty
        else {
          val scan =
            if (st.dels.isEmpty)
              planFiles(spark, table, schema, candidates, st.pathpart,
                  st.aliases, retired = st.retired, addv = st.addv)
                .select(col(keyCol), input_file_name().as("__f"))
            else delAppliedRead(spark, table, st, candidates,
                withIdentity = true)
              .select(col(keyCol), col(IdPathCol).as("__f"))
          val hits = isKey match {
            case Some(k) =>
              // one job: the static IN filters the scan (parquet
              // pushdown included) and each task returns its distinct
              // file names — no join, no distinct shuffle
              scan.filter(k).select(col("__f")).queryExecution.toRdd
                .mapPartitions { it =>
                  val fs = new java.util.HashSet[String]()
                  it.foreach(r => fs.add(r.getUTF8String(0).toString))
                  Iterator.single(fs.toArray(new Array[String](fs.size)))
                }.collect().flatten
            case None =>
              // no broadcast hint: AQE picks broadcast when the key set
              // is small and falls back to shuffle when a bulk merge
              // isn't. A semi-join, so only the keys can be the build
              // side: a broadcast candidate scan is a hash relation of
              // every candidate row (~17 MB at 60k rows), held in
              // memory until the context cleaner next runs
              scan.join(updates.select(col(keyCol)).distinct(),
                  Seq(keyCol), "left_semi")
                .select(col("__f")).distinct().collect().map(_.getString(0))
          }
          hits.map(toRel).toSet
        }
      // IDENTITY enrichment: matched keys inherit the target's value
      // (min over same-key rows — the merge replaces them all with one
      // update row, so the choice must be deterministic); unmatched
      // keys mint sequentially above the PINNED snapshot's high-water
      // mark. localCheckpoint freezes the minting: a nondeterministic
      // updates frame must not re-mint differently between the data
      // write and the CDC write (the updateWherePos lesson).
      val idDef = identityColumn(schema)
      val (enriched, newHwm) = idDef match {
        case None => (updates, None)
        case Some(d) =>
          val tgtIds =
            if (touched.isEmpty)
              spark.createDataFrame(
                java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                org.apache.spark.sql.types.StructType(Seq(
                  updates.schema(keyCol),
                  org.apache.spark.sql.types.StructField(d.col,
                    org.apache.spark.sql.types.LongType))))
            else readFiles(touched.toSeq)
              .groupBy(col(keyCol)).agg(min(col(d.col)).as(d.col))
          val withId = updates.join(tgtIds, Seq(keyCol), "left")
          val hwmBase = d.hwm.getOrElse(d.start - d.step)
          val inserts = withId.filter(col(d.col).isNull).drop(d.col)
          val (minted, n) =
            assignSequential(inserts, d.col, hwmBase + d.step, d.step)
          val e = withId.filter(col(d.col).isNotNull)
            .unionByName(minted.select(
              withId.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))
            .localCheckpoint()
          (e, if (n == 0L) None else Some(hwmBase + d.step * n))
      }
      // schema evolution happens HERE, not just in the manifest header:
      // allowMissingColumns lets an updates frame add a column (old rows
      // surface it as NULL) or omit one (update rows get NULL) — the
      // same merged schema the commit records, so the advertised
      // evolution actually goes through the data path
      // (identity enrichment never changes a key, so the gathered keys
      // are exactly `enriched`'s: the literal branch filters the touched
      // rows instead of anti-joining them; NULL keys never match)
      val merged =
        if (touched.isEmpty) enriched
        else {
          val rows = readFiles(touched.toSeq)
          isKey.fold(rows.join(enriched, Seq(keyCol), "left_anti"))(k =>
            rows.filter(col(keyCol).isNull || !k))
            .unionByName(enriched, allowMissingColumns = true)
        }
      // rewritten files keep stats for EVERY column the table tracks —
      // a merge must not degrade later skipping on other dimensions.
      // (A column the merged frame doesn't carry — pure-insert updates
      // omitting it under evolution — just gets no stat: conservative
      // scans, never an unresolved-column failure.)
      val trackedCols =
        (st.stats.values.flatten.map(_.col).toSet + keyCol)
          .intersect(merged.columns.toSet).toSeq.sorted
      // rewritten files also keep bloom coverage for every column the
      // table blooms — a merge must not degrade later point skipping
      val trackedBlooms =
        st.bloomCols.intersect(merged.columns.toSet).toSeq.sorted
      val mergedSchema0 =
        org.apache.spark.sql.GraftBridge.mergeSchemas(schema, enriched.schema)
      // the identity declaration (start/step metadata) must survive the
      // schema merge — the enriched frame carries the column without
      // metadata — and the high-water mark advances by the minted count
      val mergedSchema1 = idDef match {
        case Some(d) =>
          val restored = org.apache.spark.sql.types.StructType(
            mergedSchema0.fields.map(f =>
              if (f.name.equalsIgnoreCase(d.col))
                schema.fields.find(_.name.equalsIgnoreCase(d.col)).get
              else f))
          newHwm.map(patchIdentityHwm(restored, d.col, _)).getOrElse(restored)
        case None => mergedSchema0
      }
      // id-mode: evolved columns the updates frame introduced mint
      // fresh ids in the RECORDED schema, and the written frame is
      // stamped FROM it so files and manifest agree byte-for-byte
      val mergedSchema =
        if (!FieldIds.hasIds(schema)) mergedSchema1
        else FieldIds.assign(Some(schema), mergedSchema1,
          FieldIds.floorOf(st.retired))
      val (dataDir, newFiles, newStats, newBlooms, newRows) =
        writeData(merged, table, trackedCols, trackedBlooms, st.partCols,
          declared = Some(mergedSchema))
      // CDF: classify against the pinned snapshot — touched rows whose
      // key appears in the updates are update_preimage, their update
      // rows update_postimage, keys matching no target row insert
      val cdcAdd =
        if (!st.cdf) Nil
        else {
          val touchedDf =
            if (touched.isEmpty) None
            else Some(planFiles(spark, table, schema, touched.toSeq, st.pathpart, st.aliases, retired = st.retired, addv = st.addv))
          val pre = touchedDf.map(t => isKey
            .fold(t.join(enriched.select(col(keyCol)).distinct(), Seq(keyCol),
              "left_semi"))(k => t.filter(k))
            .withColumn(ChangeTypeCol, lit("update_preimage")))
          val matchedKeys = touchedDf.map(_.select(col(keyCol)).distinct())
          val post = matchedKeys.map(mk =>
            enriched.join(mk, Seq(keyCol), "left_semi")
              .withColumn(ChangeTypeCol, lit("update_postimage")))
          val ins = matchedKeys
            .map(mk => enriched.join(mk, Seq(keyCol), "left_anti"))
            .getOrElse(enriched)
            .withColumn(ChangeTypeCol, lit("insert"))
          val changes = (pre.toSeq ++ post.toSeq :+ ins)
            .reduce(_.unionByName(_, allowMissingColumns = true))
          writeChangeData(changes, table, dataDir)
        }
      // rebase on CAS loss only when the interleaved commits appended
      // files provably DISJOINT from the update keys' range (they can
      // hold no matching row, so neither the rewrite set nor the
      // unmatched-insert decision changes); keys that do not convert
      // to the column's type (keyBound None) always recompute — and identity merges ALWAYS
      // recompute (a raced append may have advanced the high-water
      // mark; re-minting from the fresh snapshot prevents collisions)
      rewritePublish("merge", st, mergedSchema, touched.toSeq.sorted,
        Seq(dataDir), newFiles, newStats, newBlooms, newRows,
        if (idDef.isDefined) None else keyBound.map(keyCol -> _), cdcAdd)
    }
    // the first try plans on the snapshot read above: one latest-state
    // read per merge until a CAS is lost
    Log.commit(spark, table, "merge", Some(latest.getOrElse(State.empty)))(plan)
  }

  /** The publish of a computed file rewrite: `removed` (snapshot files
    * of `computed`, the snapshot it was computed on) out, the written
    * replacement in, recorded under `schema`. APPEND REBASE: on a CAS
    * loss, if the interleaved commits (a) left every removed file in
    * place, (b) only ADDED files whose stats on the `key` column
    * PROVABLY refute its bound (no row of theirs matches the rewrite's
    * predicate), and (c) did not evolve the schema, the written output
    * is still exact — it re-publishes on the fresh snapshot WITHOUT
    * re-running the read-rewrite-write. This is the streaming-ingest
    * shape: a maintenance delete/merge racing a firehose of disjoint
    * appends commits in one data write instead of recomputing per
    * loss. Without a key every loss recomputes. */
  private def rewritePublish(op: String, computed: State, schema: StructType,
      removed: Seq[String], dirs: Seq[String], added: Seq[String],
      stats: Map[String, Seq[FileStat]], blooms: Map[String, Seq[BloomMeta]],
      rows: Map[String, Long], key: Option[(String, Bound)],
      cdc: Seq[String], cdcDel: Seq[String] = Nil): Publish = {
    val gone = removed.toSet
    // equality-delete entries survive a rewrite: untouched files keep
    // their gate, the REPLACEMENT files' add version exempts them — the
    // rewrite read its rows through the delete-applying path, so their
    // deletions are materialized
    Publish(Change(op, added, stats, blooms, rows, removed, cdc = cdc,
        cdcDel = cdcDel,
        header = h => h.copy(schema = Some(schema),
          pathpart = h.keepsAdopted(gone))),
      dirs,
      rebases = fresh => key.exists { case (c, b) =>
        val (live, seen) = (fresh.files.toSet, computed.files.toSet)
        // an interleaved merge-on-read delete (either flavor)
        // invalidates the computation: the written replacement was read
        // under the PINNED snapshot's deletes, and its files' add
        // version will exceed the new delete's gate — rebasing would
        // silently lose the new delete's effect on every replaced row
        removed.forall(live) &&
          fresh.schema.map(_.json) == computed.schema.map(_.json) &&
          fresh.dels == computed.dels &&
          fresh.files.forall(f => seen(f) || fresh.stat(f, c).exists(_.disjointFrom(b)))
      })
  }

  /** What a [[rewriteCommit]] `compute` hands back:
    *   - `removed`: snapshot files to replace (absolute or relative)
    *   - `replacement`: their surviving/updated rows (plus any pure
    *     inserts) — its schema may be WIDER than the table's (MERGE
    *     schema evolution): the commit merges it into the schema log
    *   - `changes`: this rewrite's row-level change feed (table columns
    *     + [[ChangeTypeCol]]); written as eager change files iff the
    *     table has CDF enabled, ignored otherwise
    *   - `disjointKey`: a (column, bound) PROOF OBLIGATION the rewrite's
    *     predicate is confined to — every row the rewrite touches or
    *     whose fate it decides lies inside `bound` on `column`. With it,
    *     a CAS loss against interleaved appends whose files are
    *     stats-provably disjoint from the bound REBASES (re-derives the
    *     manifest, keeps the written data) instead of recomputing — the
    *     long-UPDATE-racing-streaming-ingest shape. None = always
    *     recompute on loss.
    *   - `identityHandled`: the compute enriched its replacement for the
    *     table's IDENTITY column itself (inherit for carried/updated
    *     rows, mint for inserts) — without it a row-introducing `merge`
    *     refuses, because at this layer a user-supplied id is
    *     indistinguishable from a carried one
    *   - `identityHwm`: the high-water mark the compute minted up to
    *     (None = nothing minted). Recorded atomically with the rows that
    *     consumed it, and it DISABLES the append rebase: a raced append
    *     advanced the hwm these values were assigned from, so the only
    *     sound recovery is a full recompute against the fresh snapshot. */
  final case class Rewrite(
      removed: Seq[String],
      replacement: DataFrame,
      changes: Option[DataFrame] = None,
      disjointKey: Option[(String, Bound)] = None,
      identityHandled: Boolean = false,
      identityHwm: Option[Long] = None)

  /** COPY-ON-WRITE COMMIT — the generic file-surgical primitive SQL
    * UPDATE and MERGE INTO rewrite onto. Each attempt hands `compute`
    * the pinned snapshot (as a DSv2 frame, so its own filters get
    * manifest-stats + bloom file skipping) and the pinned version;
    * `compute` returns the files to REPLACE (absolute or table-relative
    * — matched back to the snapshot's file list) and the replacement
    * rows (which may include pure inserts; `removed = Nil` makes the
    * commit append-only), or None for a provable no-op. Untouched files
    * carry forward BY REFERENCE with their stats/blooms/row counts; the
    * replacement re-collects skipping metadata for every column the
    * table tracks. Optimistic pinned CAS, same as merge/deleteRange:
    * losing the race discards the written data dir and recomputes
    * against the new snapshot — a row-level rewrite's correctness
    * depends on its base. */
  def rewriteCommit(spark: SparkSession, table: String, op: String,
                    compute: (DataFrame, Long) => Option[Rewrite]): Long =
    Log.commit(spark, table, op) { st0 =>
      val st = st0.present(table)
      val schema = st.schemaOf(table)
      val snap = spark.read.format("graft")
        .option("versionAsOf", st.version.toString).load(table)
      compute(snap, st.version) match {
        case None => Done(st.version)
        case Some(rw) =>
          // SQL MERGE can INSERT rows — unless the lowering declared it
          // minted/inherited identity values itself (GraftDml.runMerge
          // does: matched rows inherit through the update cascade,
          // NOT-MATCHED inserts mint above the pinned hwm, frozen by
          // localCheckpoint so data and CDC observe the same values), a
          // user-supplied id is indistinguishable from a carried one
          // here (ALWAYS semantics would silently break) and it must
          // refuse. UPDATE/DELETE rewrites carry already-assigned ids
          // and always pass.
          if (op == "merge" && !rw.identityHandled)
            refuseIdentity(st.schema, table, "MERGE")
          // generated columns recompute over the whole replacement:
          // identity for carried rows, staleness repair for updated
          // rows, fill for merge-inserted rows
          val replacement = recomputeGenerated(rw.replacement, st.schema)
          // a rewrite's replacement rows are MODIFIED data (SQL UPDATE /
          // MERGE): the constraint gate applies to them like any write
          enforceChecks(replacement.drop(ChangeTypeCol), table, st.checks)
          // qualified-path translation, never basename (see relOfAbs)
          val toRel = relOfAbs(spark, table, st.files)
          val removed = rw.removed.map(toRel).distinct.sorted
          val trackedCols = st.stats.values.flatten.map(_.col).toSet
            .intersect(replacement.columns.toSet).toSeq.sorted
          val trackedBlooms =
            st.bloomCols.intersect(replacement.columns.toSet).toSeq.sorted
          // the replacement may carry evolved columns (MERGE ... WITH
          // SCHEMA EVOLUTION): merge them into the recorded schema —
          // pre-evolution files surface the new columns as NULL
          val outSchema0 = org.apache.spark.sql.GraftBridge.mergeSchemas(
            schema, org.apache.spark.sql.types.StructType(
              replacement.schema.filterNot(_.name == ChangeTypeCol)))
          // the identity declaration (start/step/hwm metadata) must
          // survive the schema merge — the replacement frame carries the
          // column bare — and a compute that minted values advances the
          // high-water mark atomically with the rows that consumed it
          val outSchema1 = identityColumn(schema) match {
            case Some(d) =>
              val restored = org.apache.spark.sql.types.StructType(
                outSchema0.fields.map(f =>
                  if (f.name.equalsIgnoreCase(d.col))
                    schema.fields.find(_.name.equalsIgnoreCase(d.col)).get
                  else f))
              rw.identityHwm.map(patchIdentityHwm(restored, d.col, _))
                .getOrElse(restored)
            case None => outSchema0
          }
          // id-mode: evolved columns mint fresh ids in the recorded
          // schema; the replacement files are stamped FROM it (the
          // ChangeTypeCol, never recorded, stays unstamped)
          val outSchema =
            if (!FieldIds.hasIds(schema)) outSchema1
            else FieldIds.assign(Some(schema), outSchema1,
              FieldIds.floorOf(st.retired))
          val (dataDir, newFiles, newStats, newBlooms, newRows) =
            writeData(replacement, table, trackedCols, trackedBlooms,
              st.partCols, declared = Some(outSchema))
          val cdcAdd =
            if (st.cdf) rw.changes.toSeq.flatMap(writeChangeData(_, table, dataDir))
            else Nil
          rewritePublish(op, st, outSchema, removed, Seq(dataDir), newFiles,
            newStats, newBlooms, newRows,
            // minted values were assigned from the PINNED hwm: a raced
            // append advanced it, so the append rebase is forbidden —
            // recompute is the only sound recovery (never fast-rebase)
            if (rw.identityHwm.isDefined) None else rw.disjointKey, cdcAdd)
      }
    }

  /** Is merge-on-read DELETE active on the latest snapshot? (Sticky
    * `#mor=true` flag — write option `mergeOnRead=true` sets it, any
    * `deleteWhereMoR` commit turns it on.) */
  def morEnabled(spark: SparkSession, table: String): Boolean =
    latestState(spark, table).exists(_.mor)

  /** The merge-on-read metadata the read-path rewrite rule plans from:
    * live equality-delete files, per-file add versions, and the
    * snapshot's data files. */
  final case class MorState(dels: Seq[DelMeta], addv: Map[String, Long],
                            files: Seq[String],
                            aliases: Map[String, Seq[String]] = Map.empty)
  private[graft] def morState(spark: SparkSession, table: String,
                              version: Long): MorState = {
    val st = stateOf(spark, table, version)
    MorState(st.dels, st.addv, st.files, st.aliases)
  }

  /** Snapshot `version`'s schema plus its zero-rewrite RENAME/DROP
    * vintage markers — the alias map (new name → old physical names)
    * and the retired `name#id` list — from ONE state resolution. A raw
    * (non-planFiles) file scan cannot honor either marker; GraftCdc's
    * schema-boundary gate reads all three per feed window to refuse
    * exactly the windows it would silently misread. */
  private[graft] def evolutionMarkers(spark: SparkSession, table: String,
      version: Long): (Option[org.apache.spark.sql.types.StructType],
                       Map[String, Seq[String]], Seq[String]) = {
    val st = stateOf(spark, table, version)
    (st.schema, st.aliases, st.retired)
  }

  /** MERGE-ON-READ DELETE — the deletion-vector answer for point/
    * selective deletes at 100 TB: instead of rewriting every touched
    * data file (copy-on-write), commit ONE small parquet file holding
    * the matched rows' DISTINCT `keyCols` tuples; readers subtract
    * them with a broadcast null-safe anti-join. Data I/O is one
    * stats/bloom-pruned scan of the matching files (to enumerate the
    * tuples — and, with CDF on, to record the deleted rows), data
    * WRITE I/O is the tuple file: kilobytes for a point delete,
    * independent of the table's bulk. `compact`/OPTIMIZE materializes
    * live deletes and drops the read-time work.
    *
    * Exactness: `cond` must be a DETERMINISTIC function of `keyCols`
    * only (the SQL DELETE lowering derives keyCols from the WHERE's
    * column references, so this holds by construction). Then a row's
    * tuple is in the delete set iff the row matches the predicate —
    * the anti-join removes exactly the matched rows. Rows appended
    * AFTER this delete's snapshot are exempt via the version gate even
    * when their tuples match — snapshot-isolation semantics, same as a
    * copy-on-write delete racing an append.
    *
    * Commits through [[morCommit]]: a lost CAS rebases over interleaved
    * pure appends only (the gate exempts their files); any interleaved
    * delete or rewrite recomputes the tuples from the fresh snapshot. */
  def deleteWhereMoR(spark: SparkSession, table: String,
                     keyCols: Seq[String],
                     cond: DataFrame => org.apache.spark.sql.Column): Long = {
    require(keyCols.nonEmpty, "merge-on-read delete needs at least one key column")
    // the pinned graft read: stats/bloom skipping prunes the scan to the
    // predicate's files, and LIVE deletes are already applied — a tuple
    // deleted twice is harmless, but CDF must not re-record it
    upsertMoR(spark, table, "delete", (snap, _) => {
      val matched = snap.filter(cond(snap))
      Some(MorWrite(keyCols, matched, None,
        Some(matched.withColumn(ChangeTypeCol, lit("delete")))))
    })
  }

  /** Did the commits between `on` and `fresh` keep every file of `on`
    * and its schema? The rebase precondition of a merge-on-read commit:
    * its tuples / coordinates / appended rows were derived from `on`. */
  private def onlyGrew(on: State, fresh: State): Boolean = {
    val live = fresh.files.toSet
    on.files.forall(live) && fresh.schema.map(_.json) == on.schema.map(_.json)
  }

  /** The table's live rows (all deletes applied) plus two ROW IDENTITY
    * columns — `_gfile` (table-relative data file path) and `_gpos`
    * (row ordinal within that file) — the coordinates a POSITIONAL
    * delete names rows by. Feed a subset of these rows (or just their
    * identity pair) to [[deletePositions]] to remove exactly those
    * physical rows without rewriting a file. Identity derives from the
    * parquet source's constant `_metadata` struct: zero extra I/O. */
  def readWithRowIdentity(spark: SparkSession, table: String,
                          versionAsOf: Option[Long] = None): DataFrame = {
    val st = versionAsOf match {
      case Some(v) => stateOf(spark, table, v)
      case None => latestState(spark, table).getOrElse(
        throw new IllegalStateException(s"no committed version in $table"))
    }
    readIdentityOf(spark, table, st)
  }

  private def readIdentityOf(spark: SparkSession, table: String,
                             st: State): DataFrame = {
    st.schema.foreach { s =>
      require(!s.fieldNames.contains(PosFileCol) &&
        !s.fieldNames.contains(PosOrdCol),
        s"$table has a data column shadowing the $PosFileCol/$PosOrdCol " +
          "identity columns")
    }
    val df = delAppliedRead(spark, table, st, st.files, withIdentity = true)
    // absolute → table-relative: relative paths are the stable spelling
    // a sidecar stores (they survive table relocation and re-listing).
    // LEFT join + raise_error, not inner: an inner join would silently
    // drop every row if the parquet source's path rendering diverged
    // from makeQualified — coordinates derived from a partial identity
    // read would silently under-delete.
    val qdf = relToAbs(spark, table, st.files)
    df.join(qdf, df(IdPathCol) === qdf("_gabs"), "left")
      .withColumn("_grel",
        when(col("_grel").isNull, raise_error(concat(
          lit(s"graft: $table: parquet _metadata.file_path rendering " +
            "diverged from the filesystem's qualified paths at "),
          col(IdPathCol)))).otherwise(col("_grel")))
      .drop(IdPathCol, "_gabs")
      .withColumnRenamed("_grel", PosFileCol)
      .withColumnRenamed(IdPosCol, PosOrdCol)
  }

  /** POSITIONAL (deletion-vector) DELETE: remove exactly the rows
    * matching `cond`, by physical (file, row ordinal) identity. Same
    * merge-on-read economics as [[deleteWhereMoR]] — data write I/O is
    * one small sidecar however large the table — but with no
    * determinism requirement on `cond` at all: it may sample, rank,
    * window, or reference row identity, because the committed artifact
    * is the row coordinates themselves, not a predicate re-evaluated
    * at read time. The flip side: rows appended later are untouched by
    * construction (their coordinates are not in the vector), giving
    * the same snapshot-isolation gate semantics as equality deletes. */
  def deleteWherePos(spark: SparkSession, table: String,
                     cond: DataFrame => org.apache.spark.sql.Column): Long =
    morCommit(spark, table, "delete")(st =>
      Some(posDelete(spark, table, st, snap => snap.filter(cond(snap)))))

  /** Delete rows by explicit identity: `positions` carries `_gfile` /
    * `_gpos` pairs (from [[readWithRowIdentity]] — e.g. the rank>1 rows
    * of a dedup window, an external review list, a sampled holdout).
    *
    * Scale shape: with the change feed OFF this touches NO data file —
    * coordinates naming unknown files are dropped by a join against
    * the manifest's file list (metadata-sized, broadcast) and the
    * distinct remainder is the sidecar; the typical dedup pipeline
    * (identity read → rank → deletePositions) therefore scans the
    * corpus exactly once. With CDF ON the deleted rows must be
    * recorded, so the snapshot is semi-joined once to materialize
    * them.
    *
    * Staleness contract: coordinates naming a file the current
    * manifest does NOT list mean a rewrite (OPTIMIZE/REORG/copy-on-
    * write DML) landed after the identity read — those rows now live
    * under new coordinates, so dropping the entries would silently
    * no-op part of the delete. The default REFUSES with a
    * ConcurrentModificationException; `requirePresent = false` opts
    * into dropping stale entries (e.g. a best-effort review list). */
  def deletePositions(spark: SparkSession, table: String,
                      positions: DataFrame,
                      requirePresent: Boolean = true): Long = {
    require(positions.columns.contains(PosFileCol) &&
      positions.columns.contains(PosOrdCol),
      s"positions frame needs $PosFileCol and $PosOrdCol columns")
    val pos = positions.select(col(PosFileCol), col(PosOrdCol))
    // CDF off: a pure-metadata commit — the caller's coordinates ARE the
    // sidecar (no data scan), and the commit core proves the files they
    // name listed from its sidecar summary. CDF on: the deleted rows
    // must be recorded, so the snapshot is semi-joined once; that join
    // would drop stale coordinates unseen, so the caller's frame is
    // proved first.
    morCommit(spark, table, "delete",
        provesListed = st => requirePresent && !st.cdf) { st =>
      if (st.cdf) {
        if (requirePresent) refuseUnlisted(spark, table, st, pos, None)
        Some(posDelete(spark, table, st,
          _.join(pos, Seq(PosFileCol, PosOrdCol), "left_semi")))
      } else {
        // requirePresent = false opts into dropping stale coordinates
        val held = if (requirePresent) pos
          else pos.join(listedFiles(spark, table, st), Seq(PosFileCol), "left_semi")
        Some(MorWrite(PosDelKeyCols, held.distinct(), None))
      }
    }
  }

  /** POSITIONAL delete FROM A SOURCE FRAME: rows whose `keyCols` tuple
    * matches a `keys` row erase; everything else is untouched.
    * [[deleteWherePos]]'s economics — one deletion-vector commit, no
    * data rewrite — with the selection carried by a DataFrame, so a
    * million-id takedown batch plans exactly like a ten-id one: the
    * selection is a semi-JOIN the planner can broadcast, never a
    * driver-collected `isin` literal list that melts the optimizer
    * (the d50 no-literal rule, listener-pinned in
    * IncrementalBoilerplateSpec and MorPosSpec). `keys` rows matching
    * nothing are ignored — the idempotent-janitor shape: re-running a
    * takedown batch over an already-erased table matches nothing and
    * commits an empty vector. */
  def deleteFromPos(spark: SparkSession, table: String,
                    keys: DataFrame, keyCols: Seq[String]): Long =
    deleteFromPosCore(spark, table, keys, keyCols, txn = None)

  /** [[deleteFromPos]] EXACTLY-ONCE per (appId, batchId) — the
    * tombstone-drain primitive. The txn marker commits ATOMICALLY with
    * the deletion vector (the streaming-sink idempotence pattern
    * applied to erasure), so a crash-replayed batch is recognized by
    * the MARKER, not by re-matching: without it, a replay arriving
    * after matching rows were lawfully RE-ADMITTED would re-match and
    * erase them. For the same reason a batch that matches nothing
    * still commits a marker-only version — the batch is on the books
    * either way. A subscribed index drains a takedown feed in
    * foreachBatch with its own appId per leg (PipelineOps p94); each
    * leg is individually replay-safe, so a crash between legs heals on
    * restart without double-applying the completed ones. */
  def deleteFromPosIdempotent(spark: SparkSession, table: String,
                              keys: DataFrame, keyCols: Seq[String],
                              appId: String, batchId: Long): Long =
    deleteFromPosCore(spark, table, keys, keyCols,
      txn = Some((appId, batchId)))

  private def deleteFromPosCore(spark: SparkSession, table: String,
                                keys: DataFrame, keyCols: Seq[String],
                                txn: Option[(String, Long)]): Long = {
    require(keyCols.nonEmpty, "deleteFromPos needs at least one key column")
    keyCols.foreach(c => require(keys.columns.contains(c),
      s"key column '$c' is not a column of the keys frame"))
    val k = keys.select(keyCols.map(c => col(s"`$c`")): _*).distinct()
    morCommit(spark, table, "delete", txn = txn)(st =>
      Some(posDelete(spark, table, st, { snap =>
        keyCols.foreach(c => require(snap.columns.contains(c),
          s"key column '$c' is not a column of $table"))
        snap.join(k, keyCols, "left_semi")
      })))
  }

  /** The positional delete of the rows `select` picks from `st`'s
    * identity read (live deletes applied, so an already-deleted row is
    * never re-recorded or re-fed to CDF). With CDF on the selection
    * feeds two actions, the sidecar and the change feed: it is
    * materialized once, so a nondeterministic selection (sampling,
    * ranking with ties) cannot record coordinates that diverge from the
    * change rows. */
  private def posDelete(spark: SparkSession, table: String, st: State,
                        select: DataFrame => DataFrame): MorWrite = {
    val m = select(readIdentityOf(spark, table, st))
    val matched = if (st.cdf) m.localCheckpoint() else m
    MorWrite(PosDelKeyCols, matched.select(col(PosFileCol), col(PosOrdCol)),
      None, Some(matched.drop(PosFileCol, PosOrdCol)
        .withColumn(ChangeTypeCol, lit("delete"))))
  }

  /** Staleness refusal for caller-held coordinates: a file the pinned
    * snapshot does not list means a rewrite (OPTIMIZE/REORG/copy-on-
    * write DML) landed after the identity read, so those rows now live
    * under NEW coordinates — dropping the entries would silently no-op
    * part of the delete. `named` is the sidecar summary's file list
    * when it has one (checked on the driver); otherwise `coords` is
    * probed in one distributed job. */
  private def refuseUnlisted(spark: SparkSession, table: String, st: State,
                             coords: DataFrame,
                             named: Option[Seq[String]]): Unit = {
    val missing = named match {
      case Some(ns) => ns.filterNot(st.files.toSet).take(20)
      case None => coords.select(col(PosFileCol)).distinct()
        .join(listedFiles(spark, table, st), Seq(PosFileCol), "left_anti")
        .limit(20).collect().map(_.getString(0)).toSeq
    }
    if (missing.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"positional delete of $table names files absent from " +
          s"snapshot v${st.version} (rewritten since the identity " +
          s"read?): ${missing.mkString(", ")} — re-derive the " +
          "coordinates from a fresh readWithRowIdentity, or pass " +
          "requirePresent=false to drop stale entries")
  }

  /** `st`'s data files as one table-relative `_gfile` column. */
  private def listedFiles(spark: SparkSession, table: String,
                          st: State): DataFrame =
    relToAbs(spark, table, st.files).select(col("_grel").as(PosFileCol))

  /** POSITIONAL (deletion-vector) UPDATE: one commit appends the
    * updated rows and records a positional delete of the originals by
    * exact (file, row ordinal) coordinates — [[upsertMoR]]'s economics
    * (write I/O = changed rows + a kilobyte vector) with no
    * determinism contract on `cond` at all: it may sample, rank, or
    * reference row identity, and it stays exact when matched rows are
    * byte-identical duplicates (an equality tuple would supersede ALL
    * copies; coordinates supersede exactly the matched ones). `set`
    * values are cast to the column's declared type, like SQL UPDATE. */
  def updateWherePos(spark: SparkSession, table: String,
                     cond: DataFrame => org.apache.spark.sql.Column,
                     set: Map[String, org.apache.spark.sql.Column]): Long =
    updateWherePosWith(spark, table, cond, _ => set)

  /** [[updateWherePos]] with LATE-BOUND assignments: `setOf` receives
    * the pinned identity frame and returns the assignment columns
    * resolved against it — what the SQL UPDATE lowering needs when its
    * catalyst expressions must rebind to the read's attributes. */
  def updateWherePosWith(spark: SparkSession, table: String,
                         cond: DataFrame => org.apache.spark.sql.Column,
                         setOf: DataFrame =>
                           Map[String, org.apache.spark.sql.Column]): Long =
    morCommit(spark, table, "update") { st =>
      val snap = readIdentityOf(spark, table, st)
      val set = setOf(snap)
      val fields = st.schema.get.fields.toIndexedSeq
      set.keys.foreach(c => require(fields.exists(_.name == c),
        s"SET column '$c' is not a column of $table"))
      // materialized ONCE: `matched` feeds three separate actions (the
      // appended-rows write, the coordinate sidecar, the change feed) —
      // without pinning it, a nondeterministic cond (sampling, a
      // ranking with ties) would select DIFFERENT rows per action and
      // the committed coordinates would diverge from the re-appended
      // rows: silent row loss or duplication in one commit. The
      // checkpoint is sized to the matched rows, which the commit
      // appends anyway.
      val matched = snap.filter(cond(snap)).localCheckpoint()
      val updated = matched.select(fields.map { f =>
        set.get(f.name).map(_.cast(f.dataType).as(f.name))
          .getOrElse(col(s"`${f.name}`"))
      }: _*)
      val changes = matched.drop(PosFileCol, PosOrdCol)
        .withColumn(ChangeTypeCol, lit("update_preimage"))
        .unionByName(
          updated.withColumn(ChangeTypeCol, lit("update_postimage")))
      // one identity row per coordinate: already distinct
      Some(MorWrite(PosDelKeyCols,
        matched.select(col(PosFileCol), col(PosOrdCol)),
        Some(updated), Some(changes)))
    }

  /** POSITIONAL update FROM A SOURCE FRAME: rows whose `keyCols` tuple
    * matches an `updates` row take that row's non-key columns (cast to
    * the declared types, like SQL UPDATE); everything else is
    * untouched. [[updateWherePos]]'s economics — one commit appends the
    * replacements and positionally deletes the originals — with BOTH
    * the selection and the assignments carried by a DataFrame, so a
    * million-row retroactive fix plans exactly like a ten-row one: the
    * selection is a JOIN the planner can broadcast and drive runtime
    * file pruning from (stats-bearing key columns), never a
    * driver-collected `isin` literal list, and the per-row values ride
    * the frame instead of a giant literal in every SET expression.
    *
    * `updates` must be UNIQUE per key tuple — REQUIREd with one cheap
    * aggregate, because a duplicate would fan the join out and append
    * two replacement rows for one superseded coordinate: silent row
    * duplication inside a single commit. Rows of `updates` matching
    * nothing are ignored (they name keys this table doesn't have). */
  def updateFromPos(spark: SparkSession, table: String,
                    updates: DataFrame, keyCols: Seq[String]): Long =
    morCommit(spark, table, "update") { st =>
      val snap = readIdentityOf(spark, table, st)
      val fields = st.schema.get.fields.toIndexedSeq
      keyCols.foreach(c => require(fields.exists(_.name == c),
        s"key column '$c' is not a column of $table"))
      val setCols = updates.columns.toSeq.filterNot(keyCols.contains)
      require(setCols.nonEmpty,
        "updates frame carries no assignment columns beyond the keys")
      setCols.foreach(c => require(fields.exists(_.name == c),
        s"SET column '$c' is not a column of $table"))
      require(!fields.exists(_.name.startsWith("_gset_")),
        s"$table has a data column shadowing the _gset_ staging prefix")
      val dup = updates.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_gn")).filter(col("_gn") > 1L)
        .limit(1).count()
      require(dup == 0L,
        s"updates frame has duplicate (${keyCols.mkString(", ")}) tuples")
      val u = updates.select(
        keyCols.map(col) ++
          setCols.map(c => col(s"`$c`").as(s"_gset_$c")): _*)
      // materialized ONCE — the joined selection feeds the appended
      // rows, the coordinate sidecar, and the change feed (see
      // updateWherePosWith's matched doc)
      val matched = snap.join(u, keyCols, "inner").localCheckpoint()
      val updated = matched.select(fields.map { f =>
        if (setCols.contains(f.name))
          col(s"`_gset_${f.name}`").cast(f.dataType).as(f.name)
        else col(s"`${f.name}`")
      }: _*)
      val changes = matched
        .select(fields.map(f => col(s"`${f.name}`")): _*)
        .withColumn(ChangeTypeCol, lit("update_preimage"))
        .unionByName(
          updated.withColumn(ChangeTypeCol, lit("update_postimage")))
      // one identity row per coordinate, joined to at most one
      // `updates` row (unique per key): already distinct
      Some(MorWrite(PosDelKeyCols,
        matched.select(col(PosFileCol), col(PosOrdCol)),
        Some(updated), Some(changes)))
    }

  /** ONE-COMMIT positional REPLACE: positionally delete the rows
    * `selector` picks from the pinned identity read and append
    * `appended` in the SAME merge-on-read commit. This is the
    * displacement primitive incremental keep-best pipelines need:
    * two separate commits (delete, then append) expose an
    * intermediate snapshot with NO champion for the displaced keys,
    * and a crash between them permanently drops those rows —
    * atomicity here is a correctness property of the incremental
    * state, not a convenience. Same version-gate soundness as
    * [[updateFromPos]]: the vector subtracts only pre-existing files,
    * the commit's own appends are exempt. `selector` re-runs against
    * a fresh snapshot on every CAS retry, so coordinates never go
    * stale across a lost race. `appended` may be unrelated to the
    * deleted rows (new keys land in the same commit as the swap). */
  def replacePositions(spark: SparkSession, table: String,
                       selector: DataFrame => DataFrame,
                       appended: DataFrame,
                       optimizedWrite: Boolean = false): Long =
    morCommit(spark, table, "replace", optimizedWrite = optimizedWrite) { st =>
      val snap = readIdentityOf(spark, table, st)
      val fields = st.schema.getOrElse(throw new IllegalStateException(
        s"$table predates the schema log")).fields.toIndexedSeq
      // pinned once: the selection feeds both the coordinate sidecar
      // and the change feed (see updateWherePosWith's matched doc)
      val matched = selector(snap).localCheckpoint()
      require(matched.columns.contains(PosFileCol) &&
        matched.columns.contains(PosOrdCol),
        "selector must preserve the identity columns of its input")
      val changes = matched
        .select(fields.map(f => col(s"`${f.name}`")): _*)
        .withColumn(ChangeTypeCol, lit("delete"))
        .unionByName(appended
          .select(fields.map(f =>
            col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
          .withColumn(ChangeTypeCol, lit("insert")))
      Some(MorWrite(PosDelKeyCols,
        matched.select(col(PosFileCol), col(PosOrdCol)).distinct(),
        Some(appended), Some(changes)))
    }

  /** The sidecar leg of a merge-on-read commit: write `tuples` —
    * DISTINCT key tuples, or `_gfile`/`_gpos` coordinates when
    * `keyCols` is [[PosDelKeyCols]] — as one file under `<dir>/_del`,
    * and return its files, its row count and, for a positional vector,
    * the data files it names. Equality tuples take their count from the
    * write tasks and record no names. A positional vector's count AND
    * names come from ONE job over the kilobyte sidecar: group by file
    * with a limit+1 collect. When every group arrived, the total is the
    * sum of the group counts and the names are complete; at limit+1
    * groups (a corpus-wide vector, `graft.txn.posNamedLimit`, default
    * 1024) the names are dropped — readers then fall back to
    * version-gate-only subtraction, which is always sound — and an
    * exact-count job runs. */
  private def writeSidecar(spark: SparkSession, table: String, dir: String,
                           keyCols: Seq[String], tuples: DataFrame)
      : (Seq[String], Long, Option[Seq[String]]) = {
    val written = writeUnder(
      tuples.select(sidecarCols(keyCols): _*).coalesce(1), table, dir, "_del")
    val files = written.map(_._1)
    if (keyCols != PosDelKeyCols || files.isEmpty)
      return (files, written.map(_._2).sum, None)
    val side = posSidecar(spark, table, files)
    val limit = spark.conf.get("graft.txn.posNamedLimit", "1024").toInt
    val groups =
      if (limit <= 0) Array.empty[org.apache.spark.sql.Row]
      else side.groupBy(col(PosFileCol)).agg(count(lit(1)).as("_gn"))
        .limit(limit + 1).collect()
    if (limit <= 0 || groups.length > limit) (files, side.count(), None)
    else (files, groups.map(_.getAs[Long]("_gn")).sum,
      Some(groups.map(_.getString(0)).toSeq.sorted))
  }

  /** A sidecar's columns: the key tuple, or a vector's coordinates. */
  private def sidecarCols(keyCols: Seq[String]): Seq[org.apache.spark.sql.Column] =
    if (keyCols == PosDelKeyCols) Seq(col(PosFileCol), col(PosOrdCol))
    else keyCols.map(k => col(s"`$k`"))

  /** Read positional sidecar files (table-relative) as coordinates. */
  private def posSidecar(spark: SparkSession, table: String,
                         files: Seq[String]): DataFrame =
    spark.read.schema(PosDelSchema).parquet(files.map(f => s"$table/$f"): _*)

  /** AUTO-COALESCE trigger for positional sidecars: when the LIVE
    * vector count reaches `graft.txn.posCoalesceAt` (default 8) — or
    * that many gate-dead entries have accumulated — merge/sweep them.
    * Called after every positional commit; the WHOLE body is
    * failure-swallowed, including the conf parse and the state read:
    * by this point writePointer already published the DML commit, so
    * any throw here would surface a DURABLE delete/update as a failed
    * operation and bait the caller into a double-applying retry.
    * Coalescing is maintenance — the next positional commit retries.
    * `posCoalesceAt = 0` disables. */
  private def maybeCoalescePosVectors(spark: SparkSession,
                                      table: String): Unit =
    try {
      val at = spark.conf.get("graft.txn.posCoalesceAt", "8").toInt
      if (at > 0) {
        val pos = latestState(spark, table).toSeq.flatMap { st =>
          st.dels.filter(d => d.keyCols == PosDelKeyCols).map(d =>
            st.files.exists(f => d.gates(f, st.addv.getOrElse(f, 0L))))
        }
        val live = pos.count(identity)
        if (live >= at || pos.size - live >= at) {
          coalescePosVectors(spark, table); ()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Merge every LIVE positional deletion vector of `table` into ONE
    * sidecar — metadata plus one kilobyte-scale parquet write, zero
    * data-file rewrite. Overlapping vectors accumulate from repeated
    * in-place dedups ([[deletePositions]] / [[deleteWherePos]] /
    * [[updateWherePos]]); each one costs every vector-NAMED file's scan
    * task a sidecar GET ([[PosVectors.ordinalsFor]] re-reads all
    * applicable sidecars per task), so k named files × s live vectors
    * small-object reads per stage until OPTIMIZE materializes. This
    * keeps the read path O(1) sidecars without the rewrite.
    *
    * Semantics are the proven union: `ordinalsFor` already dedups
    * overlapping coordinates, so one merged vector whose pair set is
    * the distinct union over live vectors (restricted to files the
    * CURRENT snapshot lists — a pair naming a rewritten-away file can
    * never apply again, and file names are never reused) reads
    * identically. The merged gate is the MAX of the constituent gates:
    * every surviving pair's file existed when its own vector committed
    * (addv < ownGate ≤ maxGate), and any file added later has
    * addv > maxGate — per-file applicability is unchanged exactly.
    * Old manifests are untouched (time travel and RESTORE read the
    * original vectors); the superseded sidecar FILES stay on disk for
    * those reads until VACUUM's ordinary retention sweeps them.
    *
    * Gate-DEAD positional entries (naming only rewritten-away files —
    * left behind by OPTIMIZE/copy-on-write DML) are swept in the same
    * commit, including when fewer than 2 live vectors exist (a pure
    * sweep that writes no sidecar): they can never apply again, since
    * add versions only grow past their gate. */
  def coalescePosVectors(spark: SparkSession, table: String): Long = {
    val ctx = fc(spark)
    def plan(st0: State): Attempt = {
      val st = st0.present(table)
      val pos = st.dels.filter(_.keyCols == PosDelKeyCols)
      val live = pos.filter(d =>
        st.files.exists(f => d.gates(f, st.addv.getOrElse(f, 0L))))
      // gate-DEAD positional vectors (every file they gate was
      // rewritten away) drop in the same full-manifest commit: add
      // versions only grow, so a vector gating no current file can
      // never become applicable again — carrying it would bloat every
      // future manifest forever without ever joining a merge
      val dead = pos.size - live.size
      if (live.size < 2 && dead == 0) return Done(st.version)
      import spark.implicits._
      // fewer than 2 live vectors with dead ones present: a pure
      // SWEEP — carry the live vector (if any) verbatim, write nothing
      val (mergedDels, dataDir) =
        if (live.size < 2) (live, None)
        else {
          val liveFiles = spark.createDataset(st.files).toDF(PosFileCol)
          val merged = live.map(d => posSidecar(spark, table, Seq(d.file)))
            .reduce(_ unionByName _)
            .join(liveFiles, Seq(PosFileCol), "left_semi")
            .distinct()
          val dir = freshDir()
          val (delFiles, n, named) =
            writeSidecar(spark, table, dir, PosDelKeyCols, merged)
          // n == 0: every live vector's pairs name rewritten-away
          // files — collectively dead; drop them, commit no sidecar
          if (n == 0L) {
            ctx.delete(new Path(s"$table/$dir"), true)
            (Nil, None)
          } else {
            val gate = live.map(_.version).max
            (delFiles.map(f =>
              DelMeta(f, gate, PosDelKeyCols, n,
                named = named.getOrElse(Nil))), Some(dir))
          }
        }
      // dropping del entries needs a FULL manifest (deltas are
      // additive); a lost race recomputes everything from the fresh
      // state — a concurrent commit may have changed the vector set
      val keep = st.dels.filterNot(pos.contains)
      Publish(Change("vec-coalesce", checkpoint = true,
        header = _.copy(dels = keep ++ mergedDels)), dataDir.toSeq)
    }
    Log.commit(spark, table, "vec-coalesce")(plan)
  }

  /** What an [[upsertMoR]] `compute` hands back, all derived from the
    * pinned snapshot it received:
    *   - `keyCols`: the equality-delete key columns ([[PosDelKeyCols]]
    *     for a positional vector)
    *   - `tuples`: the `keyCols` tuples (or `_gfile`/`_gpos`
    *     coordinates) of every superseded target row — the rows the
    *     commit logically removes. [[upsertMoR]] deduplicates them; the
    *     internal callers of [[morCommit]] hand over distinct ones
    *   - `appended`: the replacement/new rows to append as ordinary
    *     data files (None = pure delete), table schema
    *   - `changes`: row-level change feed (written iff CDF enabled)
    *   - `identityHandled` / `identityHwm`: see [[Rewrite]] — the
    *     compute enriched the appended rows for the IDENTITY column
    *     itself, and minted up to `identityHwm` from the pinned
    *     snapshot's high-water mark. The mark publishes with the commit;
    *     the pure-append rebase stays sound because any raced identity
    *     append ADVANCES the hwm in the schema metadata, which fails the
    *     rebase's schema-identity check and forces a recompute. */
  final case class MorWrite(
      keyCols: Seq[String],
      tuples: DataFrame,
      appended: Option[DataFrame],
      changes: Option[DataFrame] = None,
      identityHandled: Boolean = false,
      identityHwm: Option[Long] = None)

  /** MERGE-ON-READ UPSERT — the write-amplification answer for UPDATE
    * and MERGE at 100 TB: ONE commit that (a) appends only the
    * changed/new rows as ordinary data files and (b) records an
    * equality-delete file whose tuples remove the superseded originals
    * at read time. A copy-on-write UPDATE touching one row of a 1 GB
    * file rewrites the gigabyte; this commits the one updated row plus
    * a kilobyte tuple file. The version gate makes it sound in one
    * commit: the delete tuples gate at the READ snapshot's successor,
    * so they subtract only from pre-existing files, while the commit's
    * own appended files (and any racing appends) carry a later add
    * version and are exempt — the updated rows survive their own
    * delete even when the assignments leave the key columns unchanged.
    *
    * Exactness contract (the SQL lowerings establish it by
    * construction): `tuples` must be exactly the `keyCols` projection
    * of the rows to remove, and membership of a row's tuple in the set
    * must DETERMINE removal — i.e. the superseded-row predicate is a
    * function of `keyCols`.
    *
    * CAS losses against interleaved pure APPENDS rebase (the gate
    * exempts their files, and — unlike the copy-on-write path, which
    * must prove stats-disjointness — ANY append commutes: rows it adds
    * are untouched by this commit, which equals the upsert-then-append
    * serial order). Interleaved deletes/rewrites recompute: the
    * appended rows were derived from a snapshot whose rows those
    * commits changed, so re-publishing could resurrect their deletions. */
  def upsertMoR(spark: SparkSession, table: String, op: String,
                compute: (DataFrame, Long) => Option[MorWrite],
                optimizedWrite: Boolean = false): Long =
    morCommit(spark, table, op, optimizedWrite = optimizedWrite) { st =>
      val snap = spark.read.format("graft")
        .option("versionAsOf", st.version.toString).load(table)
      compute(snap, st.version).map { mw =>
        // coordinates name rows by file and ordinal, not by columns
        if (mw.keyCols != PosDelKeyCols)
          mw.keyCols.foreach(k => require(st.schemaOf(table).fieldNames.contains(k),
            s"merge-on-read key '$k' is not a column of $table"))
        mw.copy(tuples = mw.tuples.select(sidecarCols(mw.keyCols): _*).distinct())
      }
    }

  /** THE MERGE-ON-READ COMMIT CORE — the one body every deletion-vector
    * and equality-delete commit goes through (only [[coalescePosVectors]]'
    * own vector merge commits elsewhere). `compute` derives a
    * [[MorWrite]] from the pinned snapshot; the core then, once each:
    *   - writes the appended rows (if any) and the delete sidecar
    *     ([[writeSidecar]]) as two independent jobs;
    *   - drops a provable no-op: no tuples and no appended rows — except
    *     that an exactly-once `txn` batch still commits its marker, so a
    *     crash-replay arriving after matching rows were lawfully
    *     RE-ADMITTED cannot re-match and erase them;
    *   - with `provesListed`, refuses a positional vector naming a file
    *     the snapshot does not list ([[refuseUnlisted]]);
    *   - writes the change feed, and gates the delete at the READ
    *     snapshot's successor: it subtracts only from files that existed
    *     when it was computed, never from the commit's own appends;
    *   - publishes with ONE rebase rule: a lost CAS re-publishes only
    *     over interleaved PURE APPENDS — same files plus additions, same
    *     schema, identical delete entries — and never once the fresh
    *     snapshot applied the same `txn` batch. Anything else recomputes:
    *     an interleaved delete already removed rows this commit's change
    *     feed records, and would not subtract from its appended rows;
    *   - runs the auto-coalesce check when what it published carries a
    *     positional vector.
    * The txn marker (`appId` → highest `batchId`) commits atomically with
    * the change, and a batch the pinned snapshot already applied settles
    * without recomputing. */
  private def morCommit(spark: SparkSession, table: String, op: String,
                        txn: Option[(String, Long)] = None,
                        optimizedWrite: Boolean = false,
                        provesListed: State => Boolean = _ => false)
                       (compute: State => Option[MorWrite]): Long = {
    val ctx = fc(spark)
    def appliedIn(s: State): Boolean = txn.exists { case (a, b) =>
      s.txns.get(a).exists(_ >= b) }
    def withTxn(s: State): State = s.copy(txns =
      s.txns ++ txn.map { case (a, b) =>
        a -> math.max(b, s.txns.getOrElse(a, Long.MinValue)) })
    def noop(st: State): Attempt =
      if (txn.isEmpty) Done(st.version)
      else Publish(Change("txn-marker", header = withTxn),
        rebases = fresh => !appliedIn(fresh))
    def plan(st0: State): Attempt = {
      val st = st0.present(table)
      if (appliedIn(st)) return Done(st.version)
      val mw = compute(st) match {
        case Some(w) => w
        case None => return noop(st)
      }
      val schema = st.schemaOf(table)
      // appended rows are NEW data: the constraint gate applies.
      // MoR merge can INSERT rows — refused on identity tables
      // unless the lowering declared it minted/inherited the values
      // itself (GraftDml.runMerge does); MoR update re-inserts
      // modified rows carrying their ids and passes. Generated
      // columns recompute over the appended rows: staleness repair
      // for updates, fill for merge inserts.
      if (op == "merge" && mw.appended.isDefined && !mw.identityHandled)
        refuseIdentity(st.schema, table, "MERGE")
      val appendedG = mw.appended.map(recomputeGenerated(_, st.schema))
      appendedG.foreach(enforceChecks(_, table, st.checks))
      // minted identity values publish their high-water mark
      // atomically with the rows that consumed it — the declaration
      // itself carries verbatim from the pinned schema, only the
      // mark moves
      val pubSchema = mw.identityHwm.flatMap(h =>
        identityColumn(schema).map(d => patchIdentityHwm(schema, d.col, h)))
        .getOrElse(schema)
      val (dataDir, newFiles, newStats, newBlooms, newRows,
          sideDir, (delFiles, n, named)) =
        appendedG match {
          case Some(df) =>
            val trackedCols = st.stats.values.flatten.map(_.col).toSet
              .intersect(df.columns.toSet).toSeq.sorted
            val trackedBlooms =
              st.bloomCols.intersect(df.columns.toSet).toSeq.sorted
            // the appended-rows write and the sidecar are INDEPENDENT
            // jobs — land them in separate w= dirs so they overlap
            // (guide §2.6); the manifest references both
            val sd = freshDir()
            val (w, t) = graft.ops.Par.both(spark)(
              writeData(df, table, trackedCols, trackedBlooms,
                st.partCols, optimized = optimizedWrite,
                declared = Some(schema)),
              writeSidecar(spark, table, sd, mw.keyCols, mw.tuples))
            (w._1, w._2, w._3, w._4, w._5, Some(sd), t)
          case None =>
            // no data leg: the sidecar keeps the single-dir shape
            val dd = freshDir()
            (dd, Nil, Map.empty[String, Seq[FileStat]],
              Map.empty[String, Seq[BloomMeta]], Map.empty[String, Long],
              None, writeSidecar(spark, table, dd, mw.keyCols, mw.tuples))
        }
      val dirs = Seq(dataDir) ++ sideDir
      def dropDirs(): Unit =
        dirs.foreach(d => ctx.delete(new Path(s"$table/$d"), true))
      // no tuples AND no appended rows (a write commits no empty file)
      if (n == 0L && newFiles.isEmpty) {
        dropDirs()
        return noop(st)
      }
      if (mw.keyCols == PosDelKeyCols && provesListed(st))
        try refuseUnlisted(spark, table, st,
          posSidecar(spark, table, delFiles), named)
        catch { case scala.util.control.NonFatal(e) => dropDirs(); throw e }
      val cdcAdd =
        if (st.cdf) mw.changes.toSeq.flatMap(writeChangeData(_, table, dataDir))
        else Nil
      val gate = st.version + 1L
      val dels =
        if (n == 0L) Nil
        else delFiles.map(f =>
          DelMeta(f, gate, mw.keyCols, n, named = named.getOrElse(Nil)))
      Publish(Change(op, added = newFiles, stats = newStats,
          blooms = newBlooms, rows = newRows, dels = dels, cdc = cdcAdd,
          header = s => withTxn(s).copy(schema = Some(pubSchema), mor = true)),
        dirs,
        rebases = fresh => !appliedIn(fresh) && onlyGrew(st, fresh) &&
          fresh.dels == st.dels)
    }
    val (v, published) = Log.commitPublished(spark, table, op)(plan)
    if (published.exists(_.dels.exists(_.keyCols == PosDelKeyCols)))
      maybeCoalescePosVectors(spark, table)
    v
  }

  /** keep-callback for GraftBridge.statsPrunedParquetFrame: pushed
    * data filters → (absolute path → may match), judged by
    * [[chooseFiles]] over the snapshot's files — the V1 read path's
    * manifest skipping. Absolute↔relative translation uses the same
    * makeQualified rendering as [[relToAbs]]; a path the map doesn't
    * know is NEVER pruned (defensive). */
  private def statsKeep(spark: SparkSession, table: String, st: State,
                        rel: Seq[String]): Seq[Filter] => (String => Boolean) = {
    val fsys = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byAbs: Map[String, String] = rel.map(r =>
      fsys.makeQualified(new Path(s"$table/$r")).toString -> r).toMap
    val pruner = new StatsPruner(st.schemaOf(table), st.stats)
    filters => {
      val kept = chooseFiles(spark, table, st, pruner, filters, rel).toSet
      abs => byAbs.get(abs).forall(kept)
    }
  }

  /** Plan ONE logical scan over table-relative `rel` data files with
    * the manifest `schema`. On a converted table (`#pathpart`) files
    * adopted in place (never under `w=`) read with basePath=<table> so
    * Spark's partition discovery fills partition columns from their
    * hive `col=value` path segments; graft-written files carry every
    * column in the file bytes and read plain. Both legs surface exactly
    * `schema`, so the union is loss-free; on non-converted tables this
    * is byte-identical to the single-scan plan it replaced. */
  private def planFiles(spark: SparkSession, table: String,
                        schema: org.apache.spark.sql.types.StructType,
                        rel: Seq[String], pathpart: Boolean,
                        aliases: Map[String, Seq[String]] = Map.empty,
                        withIdentity: Boolean = false,
                        pruneWith: Option[State] = None,
                        retired: Seq[String] = Nil,
                        addv: Map[String, Long] = Map.empty,
                        ndefFill: Boolean = true)
      : DataFrame = {
    // NESTED EXISTENCE DEFAULTS: a nested field added with DEFAULT is
    // physically absent from files that predate its declaration, and
    // Spark's readers surface missing NESTED fields as NULL (they only
    // fill missing top-level columns). Split the file list by VINTAGE
    // (add version vs. the default's birth version) and project the
    // existence default onto the pre-declaration legs — post-vintage
    // files always carry the field physically (the append gate fills
    // writes that omit it), so they read verbatim.
    val ndefs = if (ndefFill) nestedDefaults(schema)
      .filter(nd => nd.existsSql.isDefined && nd.sinceV > 0L) else Nil
    if (ndefs.nonEmpty && rel.nonEmpty) {
      val legs = rel.groupBy(f =>
          ndefs.filter(nd => addv.getOrElse(f, 0L) < nd.sinceV))
        .toSeq.sortBy(_._2.head)
      return legs.map { case (defs, fs) =>
        fillNestedDefaults(
          planFiles(spark, table, schema, fs, pathpart, aliases,
            withIdentity, pruneWith, retired, addv, ndefFill = false),
          defs)
      }.reduce(_ unionByName _)
    }
    // FIELD-ID MODE: the requested schema's ids resolve every column in
    // every file directly (renames included) — no alias legs. The one
    // exception is a live column whose NAME a retired `name#id` entry
    // still claims (drop + re-add): old files hold same-named bytes
    // under the dead id, and Spark's vectorized reader cannot pair a
    // requested field with a same-named file column of another id — so
    // such columns are requested under a mangled unique name and a
    // positional struct cast restores the logical names. Id mode and
    // the alias machinery are mutually exclusive by construction
    // (aliases only ever come from name-mode renames).
    val idMode = FieldIds.hasIds(schema)
    if (idMode) FieldIds.enableRead(spark)
    val collide =
      if (idMode) FieldIds.collidePaths(schema, retired) else Set.empty[String]
    // COLUMN MAPPING (zero-rewrite RENAME): a renamed column's bytes sit
    // under its OLD physical name in pre-rename files and the NEW name
    // in post-rename ones. The scan schema carries BOTH (Spark surfaces
    // a name a file lacks as NULL — no per-file branching, no extra
    // I/O), and one codegen'd COALESCE restores the logical column:
    // exactly one leg is non-null per file.
    val live =
      if (idMode) Map.empty[String, Seq[String]]
      else aliases.filter { case (l, as) =>
        as.nonEmpty && schema.fieldNames.contains(l) }
    val scanSchema =
      if (collide.nonEmpty) FieldIds.mangle(schema, collide)
      else if (live.isEmpty) schema
      else org.apache.spark.sql.types.StructType(schema.fields.flatMap { f =>
        f +: live.getOrElse(f.name, Nil)
          .map(a => org.apache.spark.sql.types.StructField(a, f.dataType))
          .toArray[org.apache.spark.sql.types.StructField]
      })
    def project(df: DataFrame): DataFrame =
      if (collide.nonEmpty)
        // physical → logical: alias mangled top-level names back, and a
        // positional struct CAST (a no-op rename at execution) restores
        // nested names — codegen-friendly, no per-row work
        df.select((schema.fields.zip(scanSchema.fields).map {
          case (lf, pf) =>
            if (pf.name == lf.name && pf.dataType == lf.dataType)
              col(s"`${lf.name}`")
            // metadata rides the alias: the declared column's default/
            // identity/since annotations must survive the restore
            else col(s"`${pf.name}`").cast(lf.dataType)
              .as(lf.name, lf.metadata)
        }.toIndexedSeq ++
          (if (withIdentity) Seq(col(IdPathCol), col(IdPosCol)) else Nil)): _*)
      else if (live.isEmpty) df
      else df.select((schema.fields.map { f =>
        live.get(f.name) match {
          case Some(as) =>
            // metadata rides the alias (same reason as the collide cast)
            org.apache.spark.sql.functions.coalesce(
              (f.name +: as).map(n => col(s"`$n`")): _*)
              .as(f.name, f.metadata)
          case None => col(s"`${f.name}`")
        }
      }.toIndexedSeq ++
        (if (withIdentity) Seq(col(IdPathCol), col(IdPosCol)) else Nil)): _*)
    def scan(fs: Seq[String], withBase: Boolean) = {
      // with a snapshot in hand, the graft-written leg reads through a
      // stats-aware FileIndex: pushed filters prune files by manifest
      // stats + blooms at planning, Delta's TahoeFileIndex shape — the
      // V1 path's equivalent of the DSv2 scan's skipping
      val df = pruneWith match {
        case Some(st) if !withBase && st.schema.isDefined =>
          org.apache.spark.sql.GraftBridge.statsPrunedParquetFrame(
            spark, fs.map(f => s"$table/$f"), scanSchema,
            statsKeep(spark, table, st, fs))
        case _ =>
          val r = spark.read.schema(scanSchema)
          (if (withBase) r.option("basePath", table) else r)
            .parquet(fs.map(f => s"$table/$f"): _*)
      }
      // ROW IDENTITY for positional deletes: the parquet source's
      // constant `_metadata` struct, materialized as plain columns so
      // they survive union/project. file_path renders identically to
      // Hadoop makeQualified of the same path — the rel↔absolute
      // translation joins rely on that.
      if (withIdentity)
        df.select(col("*"),
          col("_metadata.file_path").as(IdPathCol),
          col("_metadata.row_index").as(IdPosCol))
      else df
    }
    val emptySchema =
      if (!withIdentity) scanSchema
      else org.apache.spark.sql.types.StructType(scanSchema.fields ++ Seq(
        org.apache.spark.sql.types.StructField(IdPathCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(IdPosCol,
          org.apache.spark.sql.types.LongType)))
    project(
      if (!pathpart) scan(rel, withBase = false)
      else {
        val (own, adopted) = rel.partition(_.startsWith("w="))
        val legs = Seq((own, false), (adopted, true))
          .collect { case (fs, withBase) if fs.nonEmpty => scan(fs, withBase) }
        if (legs.isEmpty)
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), emptySchema)
        else legs.reduce(_ unionByName _)
      })
  }

  /** `st`'s rows from `files` with every applicable delete subtracted:
    * files are grouped by their applicable delete set (one group per
    * distinct gate combination — at most #deletes + 1); each group
    * anti-joins its EQUALITY deletes null-safely on the delete's key
    * columns, and its POSITIONAL deletes (`keyCols == [__pos__]`) on
    * exact (file, row ordinal) identity from the parquet source's
    * `_metadata` columns. Either delete side is a handful of small
    * parquet files — Catalyst broadcasts it, so the subtraction adds
    * no shuffle. With `withIdentity` the result additionally carries
    * `__gpath` (absolute file path) and `__gpos` (row ordinal). */
  private def delAppliedRead(spark: SparkSession, table: String, st: State,
                             files: Seq[String],
                             withIdentity: Boolean = false): DataFrame = {
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"$table predates the schema log — cannot apply deletes"))
    if (files.isEmpty) {
      val empty =
        if (!withIdentity) schema
        else org.apache.spark.sql.types.StructType(schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField(IdPathCol,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(IdPosCol,
            org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), empty)
    }
    // gates(): version gate for both flavors; a positional vector
    // with a recorded file list additionally applies only to the files
    // it names — everything else stays in an identity-free group
    def applicable(f: String): Seq[DelMeta] =
      st.dels.filter(_.gates(f, st.addv.getOrElse(f, 0L)))
    val groups = files.groupBy(applicable).toSeq.sortBy(_._2.head)
    groups.map { case (dels, fs) =>
      val (posDels, eqDels) = dels.partition(_.keyCols == PosDelKeyCols)
      val needId = withIdentity || posDels.nonEmpty
      var df = planFiles(spark, table, schema, fs, st.pathpart, st.aliases,
        withIdentity = needId, pruneWith = Some(st), retired = st.retired, addv = st.addv)
      eqDels.foreach { d =>
        // tuple sidecars are library-written and resolve BY NAME — the
        // requested key schema must not carry field ids
        val keySchema = FieldIds.strip(org.apache.spark.sql.types.StructType(
          d.keyCols.map(k => schema(k))))
        val dd = spark.read.schema(keySchema).parquet(s"$table/${d.file}")
        val on = d.keyCols.map(k => df(s"`$k`") <=> dd(s"`$k`")).reduce(_ && _)
        df = df.join(dd, on, "left_anti")
      }
      if (posDels.nonEmpty) {
        // sidecars store TABLE-RELATIVE paths (stable across relocation
        // and re-listing). Translate the DATA side's absolute
        // `_metadata.file_path` rendering to the manifest's relative
        // spelling ONCE per group (a broadcast over the group's own
        // file list) — and LOUDLY: if the parquet source's rendering
        // ever diverged from FileSystem.makeQualified (authority/port
        // spelling, URI escaping), a silent mismatch would anti-join
        // nothing and resurrect every deleted row. The subtraction
        // then compares manifest strings to manifest strings, immune
        // to rendering.
        val qdf = relToAbs(spark, table, fs)
        df = df.join(qdf, df(IdPathCol) === qdf("_gabs"), "left")
          .withColumn("_grel",
            when(col("_grel").isNull, raise_error(concat(
              lit(s"graft: $table: parquet _metadata.file_path rendering " +
                "diverged from the filesystem's qualified paths at "),
              col(IdPathCol)))).otherwise(col("_grel")))
          .drop("_gabs")
        posDels.foreach { d =>
          val dd = spark.read.schema(PosDelSchema).parquet(s"$table/${d.file}")
          df = df.join(dd,
            df("_grel") === dd(PosFileCol) && df(IdPosCol) === dd(PosOrdCol),
            "left_anti")
        }
        df = df.drop("_grel")
      }
      if (needId && !withIdentity) df.drop(IdPathCol, IdPosCol) else df
    }.reduce(_ unionByName _)
  }

  /** (table-relative, absolute-as-Spark-renders-it) pairs for `rel`,
    * as a small broadcastable frame — the bridge between positional
    * sidecar entries and `_metadata.file_path`. */
  private def relToAbs(spark: SparkSession, table: String,
                       rel: Seq[String]): DataFrame = {
    val fsys = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = rel.map { r =>
      org.apache.spark.sql.Row(
        r, fsys.makeQualified(new Path(s"$table/$r")).toString)
    }
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_grel",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_gabs",
        org.apache.spark.sql.types.StringType)))
    org.apache.spark.sql.functions.broadcast(
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, sch))
  }

  /** Rows of snapshot `version` restricted to `files` (ABSOLUTE scan
    * paths — translated by qualified URI path via [[relOfAbs]], never
    * by basename, which collides on partitioned layouts), with live
    * equality deletes applied — what a copy-on-write rewrite's phase 2
    * must read so it never resurrects merge-on-read-deleted rows into
    * its replacement files. */
  private[graft] def readSnapshotFiles(spark: SparkSession, table: String,
                                       version: Long,
                                       files: Seq[String]): DataFrame = {
    val st = stateOf(spark, table, version)
    val toRel = relOfAbs(spark, table, st.files)
    val rel = files.map(toRel).distinct.sorted
    if (st.dels.isEmpty)
      planFiles(spark, table, st.schema.getOrElse(throw new IllegalStateException(
        s"$table predates the schema log")), rel, st.pathpart, st.aliases, retired = st.retired, addv = st.addv,
        pruneWith = Some(st))
    else delAppliedRead(spark, table, st, rel)
  }

  /** [[readSnapshotFiles]] for callers that already hold EXACT
    * table-relative paths — no basename matching, which would collide
    * on hive-partitioned layouts where every partition dir repeats
    * `part-00000`-style names. */
  private[graft] def readSnapshotFilesExact(spark: SparkSession,
                                            table: String, version: Long,
                                            rel: Seq[String]): DataFrame = {
    val st = stateOf(spark, table, version)
    val known = st.files.toSet
    val unknown = rel.filterNot(known)
    require(unknown.isEmpty,
      s"files not in snapshot v$version of $table: ${unknown.mkString(", ")}")
    if (st.dels.isEmpty)
      planFiles(spark, table, st.schema.getOrElse(throw new IllegalStateException(
        s"$table predates the schema log")), rel, st.pathpart, st.aliases, retired = st.retired, addv = st.addv,
        pruneWith = Some(st))
    else delAppliedRead(spark, table, st, rel)
  }

  /** RANGE DELETE: remove every row with the stats column in [lo, hi] —
    * the GDPR / retention primitive: [[scopedOverwrite]] with nothing
    * landing, so files whose stats prove them wholly in range drop
    * without being read, stats-disjoint files carry by reference, and
    * boundary files are rewritten with the complement. Rows match in
    * the column's type ([[Scope]]). */
  def deleteRange(spark: SparkSession, table: String, column: String,
                  lo: Double, hi: Double): Long =
    deleteRangeOn(spark, table, column, lo, hi)

  /** Typed `deleteRange`: the GDPR/retention sweep expressed directly
    * on a date/timestamp or string column — bounds take the same typed
    * values as `readRangeOn`. */
  def deleteRangeOn(spark: SparkSession, table: String, column: String,
                    lo: Any, hi: Any): Long =
    scopedOverwrite(spark, table, Scope(column, Seq(lo, hi), range = true), None)

  /** Delta's `replaceWhere` — the daily-re-ingest primitive: atomically
    * replace exactly the rows with `column` in [lo, hi] by `df`, in ONE
    * commit. The incoming frame must lie entirely inside the range
    * (checked; Delta's contract) so the operation is a scoped overwrite,
    * never a partial merge. File handling mirrors deleteRangeOn: files
    * whose stats PROVE containment drop as pure metadata (on a
    * partition-aligned layout — the common daily-partition case — that
    * is every replaced file: zero read I/O however large the table);
    * boundary files have only their out-of-range rows rewritten,
    * stats-disjoint files are untouched. CDF tables feed the replaced
    * rows as lazy whole-file deletes + eager boundary deletes + eager
    * inserts. Same optimistic pinned-CAS publish as delete/merge, with
    * append-rebase against stats-disjoint concurrent commits. */
  def replaceRange(df: DataFrame, table: String, column: String,
                   lo: Any, hi: Any): Long =
    scopedOverwrite(df.sparkSession, table,
      Scope(column, Seq(lo, hi), range = true), Some(df))

  /** Dynamic-partition overwrite (`partitionOverwriteMode=dynamic`
    * semantics): atomically replace exactly the rows whose `column`
    * value is IN the incoming frame's own value set. The writer option
    * spelling is `.option("dynamicPartitionOverwrite", "true")` with
    * mode("overwrite") — values are discovered from the data (one
    * bounded distinct over the partition column), so the daily job just
    * writes whatever days it recomputed and each lands file-surgically.
    * Same machinery as replaceWhere with a value set instead of a
    * range; an empty frame is a no-op (nothing to replace), matching
    * Delta's dynamic mode. One value is the equality scope that
    * `replaceWhere "col = v"` and INSERT OVERWRITE … PARTITION take. */
  def replaceValues(df: DataFrame, table: String, column: String,
                    values0: Seq[Any]): Long = {
    val values = values0.distinct
    if (values.isEmpty)
      return latestVersion(spark = df.sparkSession, table = table).getOrElse(
        throw new IllegalStateException(
          s"dynamic overwrite of empty frame into uncommitted $table"))
    scopedOverwrite(df.sparkSession, table, Scope(column, values), Some(df))
  }

  /** The rows a key-scoped op owns on `column`: `values` (one value is
    * an equality, several an IN) or, for a `range`, the closed range of
    * its two values. */
  private final case class Scope(column: String, values: Seq[Any],
                                 range: Boolean = false) {
    override def toString: String =
      if (range) s"$column in [${values.head}, ${values(1)}]"
      else if (values.size == 1) s"$column = ${values.head}"
      else s"$column in {${values.mkString(", ")}}"

    /** The scope on a column of type `dt`: the filter that chooses files
      * through [[chooseFiles]] and proves them covered through
      * StatsPruner.mustMatch, and the same predicate per row. When every
      * value converts ([[boundValue]]) the rows compare with literals of
      * `dt`; otherwise they compare under Spark's own coercion and the
      * filter is AlwaysTrue — it prunes nothing and proves nothing. */
    def on(dt: DataType): (Filter, org.apache.spark.sql.Column) = {
      val vs = if (!range) values
        else Seq(inward(values.head, dt, up = true), inward(values(1), dt, up = false))
      val typed = vs.map(boundValue(_, dt))
      val lits =
        if (typed.contains(None)) vs.map(lit)
        else typed.flatten.map(v => org.apache.spark.sql.GraftBridge.column(
          org.apache.spark.sql.catalyst.expressions.Literal(v, dt)))
      val c = col(column)
      val (filter, rows) =
        if (range) (And(GreaterThanOrEqual(column, vs.head),
          LessThanOrEqual(column, vs(1))), c >= lits.head && c <= lits(1))
        else if (vs.size == 1) (EqualTo(column, vs.head), c === lits.head)
        else (In(column, vs.toArray), c.isin(lits: _*))
      (if (typed.contains(None)) AlwaysTrue else filter, rows)
    }

    /** Range endpoint `v` on an integral or decimal column when it does
      * not convert: a fractional number rounds onto the column's scale,
      * up for the lower endpoint and down for the upper, so `k >= 2.5`
      * becomes `k >= 3` and selects the same rows. Else `v` itself. */
    private def inward(v: Any, dt: DataType, up: Boolean): Any = {
      val scale = dt match {
        case ByteType | ShortType | IntegerType | LongType => 0
        case d: DecimalType => d.scale
        case _ => return v
      }
      val exact = v match {
        case _ if boundValue(v, dt).isDefined => return v
        case d: Double if !d.isNaN && !d.isInfinite => new java.math.BigDecimal(d)
        case f: Float if !f.isNaN && !f.isInfinite => new java.math.BigDecimal(f.toDouble)
        case b: BigDecimal => b.bigDecimal
        case b: java.math.BigDecimal => b
        case _ => return v
      }
      exact.setScale(scale,
        if (up) java.math.RoundingMode.CEILING else java.math.RoundingMode.FLOOR)
    }
  }

  /** THE key-scoped copy-on-write commit under deleteEquals,
    * deleteRangeOn, replaceRange and replaceValues: the rows `scope`
    * owns go and `incoming` (if any) lands, in one commit. Three file
    * classes, decided from the manifest alone:
    *
    *   carried    ruled out by [[chooseFiles]] — kept by reference
    *   covered    chosen, and StatsPruner.mustMatch proves every row in
    *              scope (known-zero NULLs) → dropped WITHOUT being read
    *              (retention deleting whole time ranges is zero data
    *              I/O); CDF tables record them as lazy `#cdcdel=` lines
    *   boundary   the rest of the chosen files → rewritten with their
    *              out-of-scope rows; their in-scope rows become eager
    *              CDF delete files
    *
    * NULL-keyed rows are out of scope (SQL semantics: the predicate is
    * NULL, not true) and survive. A landing frame must lie wholly in
    * scope (Delta's replaceWhere contract) and passes the table's CHECK
    * constraints and identity refusal; a delete lands nothing and skips
    * both. Optimistic pinned CAS; a loss rebases over interleaved
    * appends whose stats refute the scope's envelope (rewritePublish).
    * Physical bytes of dropped/rewritten files are reclaimed by
    * `vacuum`, as for any superseded snapshot. */
  private def scopedOverwrite(spark: SparkSession, table: String,
                              scope: Scope, incoming: Option[DataFrame]): Long = {
    val column = scope.column
    val op = if (incoming.isEmpty) "delete" else "replace"
    incoming.foreach { df =>
      require(df.filter(not(coalesce(scope.on(df.schema(column).dataType)._2,
          lit(false)))).limit(1).count() == 0L,
        s"replaceWhere scoped-overwrite contract: every incoming row must " +
          s"have $scope — found rows outside (or NULL-keyed)")
      latestState(spark, table).map(_.checks)
        .foreach(enforceChecks(df, table, _))
      // replaceWhere lands NEW rows: identity refuses (values are minted
      // only on the append path); generated columns recompute (fill for
      // frames that omit them, staleness repair otherwise) — carried
      // boundary rows re-derive to the same values
      refuseIdentity(latestState(spark, table).flatMap(_.schema),
        table, "replaceWhere")
    }
    def plan(st0: State): Attempt = incoming match {
      case Some(df) if st0.version == 0L =>
        Done(commitOverwrite(df, table, statsCols = Seq(column)))
      case _ =>
        val st = st0.present(table)
        require(st.dels.isEmpty,
          s"$table carries merge-on-read delete files; materialize them " +
            "first (compact / SQL OPTIMIZE)" + (if (incoming.isEmpty)
              " or delete through SQL DELETE, which composes with them"
            else ", then replaceWhere"))
        val schema = st.schemaOf(table)
        val (filter, inScope) = scope.on(schema(column).dataType)
        val matchExpr = coalesce(inScope, lit(false))
        val pruner = new StatsPruner(schema, st.stats)
        val chosen = chooseFiles(spark, table, st, pruner, Seq(filter),
          st.files)
        val covered = chosen.filter(pruner.mustMatch(_, filter))
        val boundary = chosen.filterNot(covered.toSet)
        def boundaryRead = planFiles(spark, table, schema, boundary, st.pathpart, st.aliases, retired = st.retired, addv = st.addv)
        val landing = incoming.map(df => recomputeGenerated(df, st.schema)
          .select(schema.fieldNames.toIndexedSeq.map(col): _*))
        val kept =
          if (boundary.isEmpty) None else Some(boundaryRead.filter(not(matchExpr)))
        val (dirs, added, stats, blooms, rows, cdc) =
          (kept ++ landing).reduceOption(_ unionByName _) match {
            case None =>
              (Nil, Nil, Map.empty[String, Seq[FileStat]],
                Map.empty[String, Seq[BloomMeta]], Map.empty[String, Long], Nil)
            case Some(payload) =>
              val trackedCols =
                (st.stats.values.flatten.map(_.col).toSet + column).toSeq.sorted
              val (d, nf, ns, nb, nr) = writeData(payload, table, trackedCols,
                st.bloomCols.toSeq.sorted, st.partCols, declared = Some(schema))
              val changes =
                (if (boundary.isEmpty) None
                  else Some(boundaryRead.filter(matchExpr)
                    .withColumn(ChangeTypeCol, lit("delete")))) ++
                  landing.map(_.withColumn(ChangeTypeCol, lit("insert")))
              val cdc =
                if (!st.cdf) Nil
                else writeChangeData(changes.reduce(_ unionByName _), table, d)
              (Seq(d), nf, ns, nb, nr, cdc)
          }
        rewritePublish(op, st, schema, chosen.sorted, dirs, added, stats,
          blooms, rows, pruner.envelope(column, filter).map(column -> _), cdc,
          if (st.cdf) covered.sorted else Nil)
    }
    Log.commit(spark, table, op)(plan)
  }

  /** Read the committed snapshot. */
  def read(spark: SparkSession, table: String): DataFrame =
    readVersion(spark, table,
      latestVersion(spark, table).getOrElse(
        throw new IllegalStateException(s"no committed version in $table")))

  /** Time travel: read snapshot `version` (must not be vacuumed). The
    * read schema comes from the MANIFEST, not parquet footers — zero
    * footer round-trips at planning, and files written before a column
    * was added surface it as NULL (log-driven schema evolution). */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame = {
    val st = stateOf(spark, table, version)
    if (st.dels.nonEmpty) delAppliedRead(spark, table, st, st.files)
    else st.schema match {
      case Some(s) => planFiles(spark, table, s, st.files, st.pathpart,
        st.aliases, pruneWith = Some(st), retired = st.retired, addv = st.addv)
      case None => // pre-schema-log manifest
        spark.read.parquet(st.files.map(f => s"$table/$f"): _*)
    }
  }

  /** Incremental consumption for append-only history (change-data-feed
    * lite): the rows added AFTER `sinceVersion`, up to the returned
    * version — exactly the latest snapshot's files minus `sinceVersion`'s
    * (append commits only ever add files, so file-set difference IS the
    * row delta; no per-row diff). The scheduled-job pattern the
    * reference's daily DAG embodies (ref `dags/s3-etl-wallet-csv.py:43-48`
    * re-reads whole zones instead): persist the returned cursor, pass it
    * back next run, each run processes only new data. Throws if the
    * history between the versions is not append-only (an overwrite
    * REMOVED files — a file-set diff would silently misreport that as
    * pure addition). `sinceVersion = 0` reads everything. */
  def readChanges(spark: SparkSession, table: String,
                  sinceVersion: Long,
                  skipChangeCommits: Boolean = false): (DataFrame, Long) = {
    val latest = latestVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed version in $table"))
    require(sinceVersion >= 0 && sinceVersion <= latest,
      s"sinceVersion $sinceVersion outside committed range [0, $latest]")
    val schema = snapshotSchema(spark, table, latest).getOrElse(
      throw new IllegalStateException(
        s"$table's latest manifest predates the schema log"))
    if (sinceVersion == latest)
      return (spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema), latest)
    val newFiles =
      changedFiles(spark, table, sinceVersion, latest, skipChangeCommits)
    if (newFiles.isEmpty) // e.g. only change commits in range, all skipped
      return (spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema), latest)
    val lst = stateOf(spark, table, latest)
    (planFiles(spark, table, schema, newFiles, lst.pathpart, lst.aliases, retired = lst.retired, addv = lst.addv), latest)
  }

  /** [[readChanges]] bounded at BOTH ends: the rows of the files added
    * in `(sinceVersion, untilVersion]` of append-only history, planned
    * against `untilVersion`'s state. This is the CONCURRENT-INGEST
    * re-probe window: a writer whose signature append landed at
    * version v re-judges its own batch against exactly the FOREIGN
    * appends in (probedVersion, v) — commits its probe could not have
    * seen but that precede it in the serialization order the manifest
    * CAS established (see DedupOps.d47Ingest). Throws like
    * [[readChanges]] if the window removed files: a non-append commit
    * in a re-probe window means the protocol's append-only assumption
    * broke and silent misreading would corrupt the recovery. */
  def readChangesBetween(spark: SparkSession, table: String,
                         sinceVersion: Long, untilVersion: Long): DataFrame = {
    require(sinceVersion >= 0 && sinceVersion <= untilVersion,
      s"window [$sinceVersion, $untilVersion] is not a valid version range")
    val schema = snapshotSchema(spark, table, untilVersion).getOrElse(
      throw new IllegalStateException(
        s"$table's manifest at $untilVersion predates the schema log"))
    def empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    if (sinceVersion == untilVersion) return empty
    val fs = changedFiles(spark, table, sinceVersion, untilVersion)
    if (fs.isEmpty) return empty
    val st = stateOf(spark, table, untilVersion)
    planFiles(spark, table, schema, fs, st.pathpart, st.aliases,
      retired = st.retired, addv = st.addv)
  }

  /** Files added between two snapshots of append-only history — the
    * file-set delta `readChanges` and the DSv2 streaming source both
    * plan from. Throws if files were REMOVED in between (overwrite/
    * compact/delete): a file-set diff would silently misreport that as
    * pure addition.
    *
    * `skipChangeCommits` (Delta-parity escape hatch): instead of
    * throwing, walk the range COMMIT BY COMMIT and stream only the
    * pure-append commits' additions; any commit that also removed
    * files (compaction, overwrite, merge, delete) is skipped ENTIRELY —
    * its added files are rewrites of rows the stream already delivered
    * from their original files, so re-reading them would double-count.
    * This is what lets routine `compactSmall` maintenance run under a
    * live `readStream` consumer without permanently wedging it.
    * CAVEAT (Delta-parity, but easier to hit here because graft's MERGE
    * lowering co-commits its inserts with the rewrite): genuinely NEW
    * rows a MERGE inserts in the same remove+add commit are skipped
    * with it and never delivered. A consumer that must observe rewrite
    * commits' rows — including those inserts — should read the CHANGE
    * DATA FEED (`readChangeFeed`) instead, which classifies every
    * commit's rows exactly. Cost:
    * delta manifests expose their +/- lines in one small read per
    * version; a full (checkpoint/overwrite) manifest in the range
    * resolves two snapshots to diff — O(interval) reads, and at most
    * once per checkpointInterval versions. */
  private[io] def changedFiles(spark: SparkSession, table: String,
                               since: Long, until: Long,
                               skipChangeCommits: Boolean = false): Seq[String] = {
    if (!skipChangeCommits) {
      val sinceSt = if (since == 0) None else Some(stateOf(spark, table, since))
      val untilSt = stateOf(spark, table, until)
      val sinceFiles = sinceSt.map(_.files.toSet).getOrElse(Set.empty[String])
      require(sinceFiles.subsetOf(untilSt.files.toSet),
        s"history $since -> $until is not append-only (files were " +
          "removed by an overwrite/compact); incremental read would be " +
          "wrong. Set skipChangeCommits=true on the stream reader to " +
          "skip rewrite commits instead of failing")
      // a merge-on-read delete removes rows WITHOUT removing files —
      // a file-set diff would silently misreport the range as pure
      // addition, so it must fail as loudly as a rewrite does
      require(untilSt.dels.toSet ==
          sinceSt.map(_.dels.toSet).getOrElse(Set.empty[TxnTable.DelMeta]),
        s"history $since -> $until contains merge-on-read deletes; an " +
          "append-only incremental read would deliver deleted rows. " +
          "Materialize them (compact / SQL OPTIMIZE) before streaming, " +
          "read the change data feed instead, or set " +
          "skipChangeCommits=true to skip delete commits")
      untilSt.files.filterNot(sinceFiles)
    } else {
      val included = Vector.newBuilder[String]
      var v = math.max(since, 0L) + 1L
      while (v <= until) {
        val lines = manifestLines(spark, table, v)
        if (lines.exists(_.startsWith(DeltaPrefix))) {
          val removed = lines.exists(l =>
            !l.startsWith("#") && l.startsWith(RemovePrefix))
          if (!removed)
            included ++= lines.filter(l => !l.startsWith("#") &&
              l.startsWith(AddPrefix))
              .map(l => parseFileLine(l.stripPrefix(AddPrefix))._1)
        } else {
          // full manifest: checkpoint of an append, or an overwrite —
          // diff against the prior snapshot to classify
          val cur = stateOf(spark, table, v).files
          val prev =
            if (v <= 1) Set.empty[String]
            else stateOf(spark, table, v - 1).files.toSet
          if (prev.subsetOf(cur.toSet)) included ++= cur.filterNot(prev)
        }
        v += 1
      }
      included.result()
    }
  }

  /** One commit's change provenance — what the change data feed plans
    * from, derived in O(1) small manifest reads per commit:
    *   - `inserts`: data files whose EVERY row is an `insert` of this
    *     commit (append adds; a pure-insert merge)
    *   - `deletes`: files whose every row is a `delete` — an
    *     overwrite's replaced files, or a range delete's fully-covered
    *     files (`#cdcdel=` lazy records; the superseded file stays
    *     readable until vacuum, so the feed costs those deletes zero
    *     write I/O)
    *   - `cdc`: eager change files carrying their own `_change_type`
    *     column (update_preimage/update_postimage/delete/insert),
    *     written by the rewrite that knew which rows changed how
    * Maintenance commits (compact, restore) rewrite files without
    * changing content: all three lists empty. */
  /** `posDels`: the commit's NEW positional delete entries — unlike
    * equality deletes (a predicate whose matched rows are unrecoverable
    * once superseded), coordinates are losslessly replayable against
    * the prior snapshot, so the change feed reconstructs them lazily
    * even when the table never enabled CDF. */
  final case class CommitChanges(
      version: Long,
      op: String,
      inserts: Seq[String],
      deletes: Seq[String],
      cdc: Seq[String],
      posDels: Seq[DelMeta] = Nil)

  /** One line of table history: version, recorded commit wall-clock
    * (manifest `#ts=`, mtime for pre-#ts manifests), operation kind,
    * file-line counts. `added`/`removed` are the commit's own +/- lines
    * for delta manifests; a FULL manifest (overwrite, checkpoint,
    * compact, restore) reports its complete snapshot file count as
    * `added` — the manifest records state, not a diff, and history
    * stays O(1) reads per version by not reconstructing one. */
  final case class CommitInfo(version: Long, tsMillis: Long, op: String,
                              added: Long, removed: Long)

  /** Bounded commit-log listing, newest first — what DESCRIBE HISTORY
    * shows on Delta (SQL spelling: the `graft_history` table function;
    * the `history` DataFrame API above reports per-version snapshot
    * shape instead). O(retained versions) small manifest reads, never a
    * directory listing; vacuumed prefixes are simply absent. */
  def commitLog(spark: SparkSession, table: String): Seq[CommitInfo] = {
    val ctx = fc(spark)
    versions(spark, table).map { v =>
      val lines = manifestLines(spark, table, v)
      val headers = lines.filter(_.startsWith("#"))
      val op = headers.find(_.startsWith(OpPrefix))
        .map(_.stripPrefix(OpPrefix).trim)
        .getOrElse(if (headers.exists(_.startsWith(DeltaPrefix))) "append"
          else "commit") // legacy pre-#op manifest
      val added =
        if (headers.exists(_.startsWith(DeltaPrefix)))
          lines.count(_.startsWith(AddPrefix))
        else lines.count(l => !l.startsWith("#"))
      val removed = lines.count(_.startsWith(RemovePrefix))
      CommitInfo(v, commitTs(ctx, table, v)._1, op, added, removed)
    }.reverse
  }

  /** Change provenance of commit `v` (see [[CommitChanges]]). Throws for
    * a rewrite commit made while CDF was disabled — its row-level
    * changes were never recorded and cannot be reconstructed — and for
    * pre-`#op` legacy manifests that removed files. */
  def commitChanges(spark: SparkSession, table: String,
                    v: Long): CommitChanges = {
    val lines = manifestLines(spark, table, v)
    val headers = lines.filter(_.startsWith("#"))
    val isDelta = headers.exists(_.startsWith(DeltaPrefix))
    val op = headers.find(_.startsWith(OpPrefix))
      .map(_.stripPrefix(OpPrefix).trim)
    val cdfOn = parseCdf(headers)
    val cdc = headers.filter(_.startsWith(CdcPrefix)).map(_.stripPrefix(CdcPrefix))
    val cdcDel =
      headers.filter(_.startsWith(CdcDelPrefix)).map(_.stripPrefix(CdcDelPrefix))
    val (added, removed) =
      if (isDelta) {
        val fl = lines.filterNot(_.startsWith("#"))
        (fl.filter(_.startsWith(AddPrefix))
           .map(l => parseFileLine(l.stripPrefix(AddPrefix))._1),
         fl.filter(_.startsWith(RemovePrefix)).map(_.stripPrefix(RemovePrefix)))
      } else {
        // full manifest (overwrite, checkpoint, compact, restore):
        // classify by diffing against the prior snapshot
        val cur = stateOf(spark, table, v).files
        val prev =
          if (v <= 1) Seq.empty[String]
          else stateOf(spark, table, v - 1).files
        (cur.filterNot(prev.toSet), prev.filterNot(cur.toSet))
      }
    op match {
      // a WAP publish is a pure by-reference append of the staged
      // files — it classifies exactly like one in the change feed
      case Some(o @ ("append" | "wap-publish")) =>
        CommitChanges(v, o, added, Nil, Nil)
      case Some("overwrite") =>
        // an overwrite IS delete-all + insert-all; both sides derive
        // lazily from the file diff (TRUNCATE is the added-empty case)
        CommitChanges(v, "overwrite", added, removed, Nil)
      case Some(o @ ("update" | "delete" | "merge" | "replace")) =>
        // a merge-on-read delete removes rows without removing files:
        // its NEW #del lines mark it a change commit even with no -/+
        // lines (a full manifest also CARRIES older entries — those are
        // not this commit's changes)
        val delsHere = parseDels(headers)
        val newDels =
          if (isDelta) delsHere
          else {
            val prev =
              if (v <= 1) Set.empty[DelMeta]
              else stateOf(spark, table, v - 1).dels.toSet
            delsHere.filterNot(prev)
          }
        if (cdfOn || cdc.nonEmpty || cdcDel.nonEmpty)
          CommitChanges(v, o, Nil, cdcDel, cdc)
        else if (removed.isEmpty && newDels.isEmpty)
          CommitChanges(v, o, added, Nil, Nil) // pure-insert rewrite op
        else if (removed.isEmpty &&
            newDels.forall(_.keyCols == PosDelKeyCols))
          // POSITIONAL deletes replay losslessly: the removed rows ARE
          // the prior snapshot's rows at the recorded coordinates — no
          // eager change data needed (equality deletes cannot do this:
          // their matched rows are gone once files rewrite)
          CommitChanges(v, o, added, Nil, Nil, posDels = newDels)
        else throw new IllegalStateException(
          s"$table v$v ($o) recorded no change data — the table did not " +
            "have the change data feed enabled when it was committed. " +
            "Enable CDF (write option enableChangeFeed=true) before " +
            "relying on readChangeFeed; changes from earlier rewrite " +
            "commits are not reconstructible")
      case Some("copy-into") => // pure append with ingest markers
        CommitChanges(v, "copy-into", added, Nil, Nil)
      case Some(o @ ("clone" | "deep-clone" | "convert")) =>
        // a clone's / conversion's v1 IS insert-all, like overwrite
        CommitChanges(v, o, added, removed, Nil)
      case Some("compact") | Some("zorder") | Some("restore") |
           Some("alter-add") | Some("alter-drop") |
           Some("alter-constraint") | Some("alter-rename") |
           Some("alter-add-nested") | Some("alter-drop-nested") |
           Some("alter-rename-nested") | Some("alter-default") |
           Some("alter-type") | Some("set-partition-spec") |
           Some("vec-coalesce") =>
        // no logical content change: maintenance (incl. the z-order
        // re-clustering rewrite), metadata-only schema/constraint/
        // default/partition-spec commits, and the rename rewrite (same
        // rows, new column name — schema changes are not row changes)
        CommitChanges(v, op.get, Nil, Nil, Nil)
      case Some(other) => throw new IllegalStateException(
        s"$table v$v carries unknown commit op '$other'")
      case None => // legacy pre-#op manifest
        if (removed.isEmpty) CommitChanges(v, "append", added, Nil, Nil)
        else throw new IllegalStateException(
          s"$table v$v predates commit-op tracking and removed files — " +
            "its changes cannot be classified; start the change feed at " +
            "a later version")
    }
  }

  /** CHANGE DATA FEED, batch form: every row-level change committed in
    * versions (`sinceVersion`, `untilVersion`] as table rows plus
    * Delta-parity `_change_type` (insert / update_preimage /
    * update_postimage / delete) and `_commit_version` columns — the
    * feed an incremental consumer (warehouse replication, matview
    * refresh) folds instead of re-reading zones, and the fully general
    * successor to append-only `readChanges`. `untilVersion = -1` reads
    * to the latest commit. Planning is manifest arithmetic; data cost
    * is the changed rows only (plus the superseded files lazy `delete`
    * records point at). */
  def changeFeed(spark: SparkSession, table: String, sinceVersion: Long,
                 untilVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val latest = latestVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed version in $table"))
    val until = if (untilVersion < 0L) latest else untilVersion
    require(sinceVersion >= 0 && sinceVersion <= until && until <= latest,
      s"change range ($sinceVersion, $until] outside committed [1, $latest]")
    val schema = snapshotSchema(spark, table, until).getOrElse(
      throw new IllegalStateException(s"$table predates the schema log"))
    val outSchema = StructType(schema.fields.toSeq :+
      StructField(ChangeTypeCol, StringType, nullable = false) :+
      StructField(CommitVersionCol, LongType, nullable = false))
    // eager change files are library-written sidecars that resolve BY
    // NAME — strip field ids from the requested schema (data legs keep
    // them: data files of an id-mode table are always stamped)
    val cdcSchema = FieldIds.strip(StructType(schema.fields.toSeq :+
      StructField(ChangeTypeCol, StringType)))
    val untilSt = stateOf(spark, table, until)
    val frames = ((sinceVersion + 1L) to until).flatMap { v =>
      val cc = commitChanges(spark, table, v)
      // per-leg add versions gate the nested-default existence fill:
      // files INSERTED at v have add version exactly v (they carry any
      // default declared before v physically); files DELETED at v were
      // live in the prior snapshot, whose addv records their vintage.
      // Omitting addv would read every leg as vintage 0 and the fill
      // would overwrite post-declaration files' real values.
      lazy val priorSt = stateOf(spark, table, v - 1)
      def readAs(files: Seq[String], tpe: String,
                 addv: => Map[String, Long]): Option[DataFrame] =
        if (files.isEmpty) None
        else Some(planFiles(spark, table, schema, files, untilSt.pathpart,
            untilSt.aliases, retired = untilSt.retired, addv = addv)
          .withColumn(ChangeTypeCol, lit(tpe)))
      val cdc =
        if (cc.cdc.isEmpty) None
        // eager change files written before a rename carry the OLD
        // physical names — same alias coalesce as the data legs
        // ndefFill off: change files are a LOG — each records the row
        // as its commit wrote it, and they carry no add-version to
        // vintage-gate a fill against
        else Some(planFiles(spark, table, cdcSchema, cc.cdc,
          pathpart = false, aliases = untilSt.aliases, ndefFill = false))
      // LAZY positional replay (no CDF): the commit's removed rows are
      // the PRIOR snapshot's rows at the recorded coordinates
      val posReplayed =
        if (cc.posDels.isEmpty) None
        else {
          val prior = priorSt
          val rows =
            delAppliedRead(spark, table, prior, prior.files,
              withIdentity = true)
          val coords = cc.posDels.map(d =>
            spark.read.schema(PosDelSchema).parquet(s"$table/${d.file}"))
            .reduce(_ unionByName _)
          val abs = coords.join(relToAbs(spark, table, prior.files),
              col(PosFileCol) === col("_grel"))
            .select(col("_gabs"), col(PosOrdCol).as("_dpos"))
          val tpe = if (cc.op == "delete") "delete" else "update_preimage"
          Some(rows.join(abs,
              rows(IdPathCol) === abs("_gabs") &&
                rows(IdPosCol) === abs("_dpos"), "left_semi")
            .drop(IdPathCol, IdPosCol)
            .withColumn(ChangeTypeCol, lit(tpe)))
        }
      val insertType =
        if (cc.posDels.nonEmpty && cc.op != "delete") "update_postimage"
        else "insert"
      (readAs(cc.inserts, insertType,
          cc.inserts.map(_ -> v).toMap).toSeq ++
        readAs(cc.deletes, "delete", priorSt.addv).toSeq ++ cdc.toSeq ++
        posReplayed.toSeq)
        .map(_.withColumn(CommitVersionCol, lit(v)))
    }
    if (frames.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
      .select(outSchema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** METADATA-ONLY column profile (ANALYZE without the scan): one row
    * per stats-tracked column — global min/max folded from per-file
    * stats (strings as themselves, temporal values as epoch seconds,
    * other values cast to double),
    * total null count, total row count — all from ONE manifest read.
    * On a 100 TB table this is the profile a query planner or a data
    * catalog wants, at the cost of a directory point-read. Columns
    * whose metadata cannot prove a value surface NULL (never a guess):
    * a pre-nulls file poisons n_nulls to NULL, a statless file poisons
    * that column's min/max. */
  def profile(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val st = latestState(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed version in $table"))
    val totalRows: Option[Long] =
      if (st.files.forall(st.rows.contains)) Some(st.files.map(st.rows).sum)
      else None
    val cols = st.stats.values.flatten.map(_.col).toSet.toSeq.sorted
    val out = cols.map { c =>
      val perFile = st.files.map(f => f -> st.stat(f, c))
      // complete coverage = every file has the stat or provably no rows
      val covered = perFile.forall { case (f, s) =>
        s.isDefined || st.rows.get(f).contains(0L) }
      val ss = perFile.flatMap(_._2)
      val folded = st.schema.flatMap(typeAt(_, c)).filter(_ => covered)
        .flatMap(dt => foldBounds(ss, dt).map { case (lo, hi) => (dt, lo, hi) })
      // temporal values as epoch seconds, the session zone aside: a
      // DATE at its UTC midnight, TIMESTAMP_NTZ as its wall clock in UTC
      def asDouble(v: Any, dt: DataType): Any = dt match {
        case DateType => v.asInstanceOf[Int] * 86400.0
        case TimestampType | TimestampNTZType => v.asInstanceOf[Long] / 1e6
        case _ => Cast(Literal(v, dt), DoubleType).eval()
      }
      val (minN, maxN, minS, maxS) = folded match {
        case Some((StringType, lo, hi)) => (null, null, lo.toString, hi.toString)
        case Some((dt, lo, hi)) => (asDouble(lo, dt), asDouble(hi, dt), null, null)
        case None => (null, null, null, null)
      }
      val nulls =
        if (covered && ss.forall(_.nulls >= 0L)) Some(ss.map(_.nulls).sum)
        else None
      org.apache.spark.sql.Row(c, minN, maxN, minS, maxS,
        nulls.map(Long.box).orNull, totalRows.map(Long.box).orNull)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(
        StructField("col", StringType, nullable = false),
        StructField("min_num", DoubleType),
        StructField("max_num", DoubleType),
        StructField("min_str", StringType),
        StructField("max_str", StringType),
        StructField("n_nulls", LongType),
        StructField("n_rows", LongType))))
  }

  /** Table history: one row per retained snapshot — version, file count,
    * column count, txn-marker count. Driver-built (bounded: versions,
    * not rows). */
  def history(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = versions(spark, table).map { v =>
      org.apache.spark.sql.Row(
        v,
        snapshotFiles(spark, table, v).size.toLong,
        snapshotSchema(spark, table, v).map(_.size.toLong).getOrElse(-1L),
        txnMarkers(spark, table, v).size.toLong)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("n_columns", LongType, nullable = false),
        StructField("n_txn_markers", LongType, nullable = false))))
  }

  /** RESTORE — roll the table BACK to `toVersion` as a NEW commit (the
    * Delta RESTORE shape): the new manifest re-references the old
    * snapshot's files, stats, blooms, and schema verbatim, so the
    * rollback moves ZERO data bytes however large the table — it is
    * one manifest write. History stays linear and auditable: the bad
    * versions remain readable (time travel) until vacuumed, and the
    * restore itself can be restored over.
    *
    * Streaming txn markers are carried from the CURRENT latest, not the
    * restored snapshot — rolling THEM back would make an idempotent
    * sink re-apply batches it already applied (double-count), which is
    * never what a data rollback means.
    *
    * The restored snapshot's files must still exist: restore refuses a
    * vacuumed target (stateOf throws on the missing manifest). Written
    * as a FULL manifest — a restore is a natural checkpoint. */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val target = stateOf(spark, table, toVersion)
    val schema = target.schema.getOrElse(
      throw new IllegalStateException(
        s"$table@v$toVersion predates the schema log — cannot restore"))
    Log.commit(spark, table, "restore") { st0 =>
      val st = st0.present(table)
      if (st.version == toVersion) Done(st.version) // already there
      // the target's files, stats, deletes, add versions, partition
      // spec — and aliases and the converted-layout flag, which are
      // DATA-layout state like the file list (the restored files
      // resolve through THEIR alias map) — with the current txn
      // markers. Constraints are POLICY, not data: a restore rolls back
      // table content but keeps the current constraint set, properties
      // and the full retired-name memory (old files coming back is
      // precisely when the resurrection guard matters most)
      else Publish(Change("restore", checkpoint = true,
        header = cur => target.copy(txns = cur.txns, schema = Some(schema),
          cdf = cur.cdf, mor = cur.mor || target.dels.nonEmpty,
          checks = cur.checks, props = cur.props,
          retired = (cur.retired ++ target.retired).distinct)))
    }
  }

  // ------------------------------------------------------------ ALTER
  /** Metadata-only commit: identical files/deletes to the latest
    * snapshot with the header (schema, constraints, properties, spec,
    * aliases, retired names) and skipping metadata `f` derives from it
    * — the O(1) spelling of ALTER TABLE and SET TBLPROPERTIES at any
    * table size (one small manifest write; zero data I/O on a 100 TB
    * table). Written FULL: a schema change is a natural checkpoint. */
  private def commitMetadata(spark: SparkSession, table: String, op: String)(
      f: State => State): Long =
    Log.commit(spark, table, op) { st0 =>
      val st = st0.present(table)
      val next = f(st)
      // FIELD-ID choke point: EVERY metadata-only schema change on an
      // id-mode table flows through here — fields the change carried
      // keep their ids (f.copy preserves metadata), brand-new fields
      // (ADD COLUMN, nested adds, evolved elements) mint fresh ids
      // above both the live max and every retired id (never reused)
      val schema = (st.schema, next.schema) match {
        case (Some(prior), Some(s)) if FieldIds.hasIds(prior) =>
          Some(FieldIds.assign(Some(prior), s,
            (0L +: FieldIds.retiredIds(next.retired)).max))
        case _ => next.schema
      }
      Publish(Change(op, checkpoint = true, header = _ => next.copy(schema = schema)))
    }

  /** Column names a SQL expression references — used to refuse schema
    * changes that would orphan a CHECK constraint. */
  private def exprRefs(spark: SparkSession, sql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }

  /** ALTER TABLE … ADD COLUMNS — pure metadata (Delta 0.7 parity, the
    * reference's declared bar via its shipped delta-core jar): the new
    * fields join the manifest schema; files written before the change
    * surface them as NULL through the schema-driven read, exactly like
    * MERGE…WITH SCHEMA EVOLUTION's data path. Re-adding a name that a
    * DROP COLUMN retired is refused — old data files still contain the
    * dropped column, and without parquet field-ID column mapping the
    * re-add would resurrect stale values instead of NULL. */
  def addColumns(spark: SparkSession, table: String,
                 cols: org.apache.spark.sql.types.StructType): Long =
    commitMetadata(spark, table, "alter-add") { st =>
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      cols.foreach { c =>
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(c.name)),
          s"column ${c.name} already exists in $table")
        require(!st.retired.exists(_.equalsIgnoreCase(c.name)),
          s"column ${c.name} was previously dropped from $table; old data " +
            "files still contain it and would resurrect stale values — " +
            "use a different name")
        // refusing, not coercing: files written before the change surface
        // the new field as NULL, so a NOT NULL add is unenforceable (Delta
        // refuses it too). Add nullable, backfill, then SET NOT NULL.
        require(c.nullable,
          s"cannot add NOT NULL column ${c.name} to $table: existing files " +
            "surface it as NULL. ADD it nullable, backfill, then ALTER " +
            "COLUMN ... SET NOT NULL")
      }
      st.copy(schema = Some(org.apache.spark.sql.types.StructType(
        schema.fields ++ cols.map(_.copy(nullable = true)))))
    }

  /** Widenings Spark's parquet readers perform IN the scan (verified
    * against this build: int32 pages decode straight into the wider
    * vector) — the whitelist `ALTER COLUMN … TYPE` accepts. Anything
    * else (narrowing, string↔numeric, decimal scale changes) would
    * need a data rewrite and refuses. */
  private def widenable(from: DataType,
                        to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** `ALTER TABLE … ALTER COLUMN name TYPE to` — TYPE WIDENING as pure
    * metadata (Delta's type-widening feature): the declared type
    * changes in the manifest schema and existing files are read
    * through Spark's parquet type promotion — zero rewrite at any
    * table size. Only [[widenable]] pairs are accepted.
    *
    * Interlocks: the column's BLOOM sidecars drop from the manifest —
    * `xxhash64` is type-sensitive, so a long-typed probe against
    * int-built bits could skip a file that HAS the value (wrong
    * results, not just wrong pruning). Bucket partition columns refuse
    * outright for the same hash reason (the bucket ids in existing
    * paths were computed from the old type). Min/max skipping stats
    * keep working unchanged: a stat's text reads as the wider type
    * (`FileStat.bounds`). */
  def alterColumnType(spark: SparkSession, table: String,
                      name: String, to: DataType): Long =
    commitMetadata(spark, table, "alter-type") { st =>
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      // NESTED widen (`ALTER COLUMN s.f TYPE bigint`): same in-scan
      // parquet promotion, pure schema surgery at the dotted path. The
      // top-level interlocks don't apply — nested fields can't be
      // bucket sources, bloom columns, or identity columns.
      if (name.contains('.')) {
        val parts = name.split('.').toSeq.map(_.trim)
        val ns = transformStructAt(schema, parts.init, table,
            containers = FieldIds.hasIds(schema)) { inner =>
          val f = inner.fields.find(_.name.equalsIgnoreCase(parts.last))
            .getOrElse(throw new IllegalArgumentException(
              s"no such column $name in $table"))
          if (f.dataType == to) return st.version // provable no-op
          require(widenable(f.dataType, to),
            s"cannot change $name from ${f.dataType.simpleString} to " +
              s"${to.simpleString}: only in-scan parquet widenings are " +
              "metadata-only")
          StructType(inner.fields.map(x =>
            if (x.name.equalsIgnoreCase(parts.last)) x.copy(dataType = to)
            else x))
        }
        // nested blooms hash the old type too — drop them like the
        // top-level widen does (skipping degrades, results don't)
        st.copy(schema = Some(ns), blooms = st.blooms.view
          .mapValues(_.filterNot(_.col.equalsIgnoreCase(name)))
          .filter(_._2.nonEmpty).toMap)
      } else {
      val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no such column $name in $table"))
      if (field.dataType == to)
        return latestVersion(spark, table).get // provable no-op
      require(widenable(field.dataType, to),
        s"cannot change ${field.name} from ${field.dataType.simpleString} " +
          s"to ${to.simpleString}: only widening conversions the parquet " +
          "reader performs in-scan (byte/short/int->long, int->double, " +
          "float->double) are metadata-only; anything else needs a rewrite")
      require(!st.partCols.exists {
        case BucketEntry(_, c) => c.equalsIgnoreCase(field.name)
        case _ => false
      }, s"cannot widen bucket column ${field.name}: existing bucket ids " +
        "were hashed from the old type")
      // partition-spec evolution can REMOVE a bucket entry and later
      // re-add it — but files written under the old spec still carry
      // bucket ids in their paths. Widening between those two commits
      // would poison a future re-add (murmur3 of int 5 ≠ long 5: a
      // re-added bucket entry would prune files that HOLD the value).
      // Refuse on the file layout, not just the current spec.
      require(!st.files.exists(_.split('/').exists(seg =>
          seg.toLowerCase.matches("__gp_bucket_\\d+_" +
            java.util.regex.Pattern.quote(field.name.toLowerCase) + "=.*"))),
        s"cannot widen ${field.name}: existing files were bucket-" +
          "partitioned on it under the old type, and their path bucket " +
          "ids would mis-prune if the bucket entry is ever re-added — " +
          "OPTIMIZE the old layout away first")
      require(!identityColumn(schema).exists(_.col.equalsIgnoreCase(name)),
        s"cannot change the type of IDENTITY column $name")
      st.copy(schema = Some(org.apache.spark.sql.types.StructType(
        schema.fields.map(f =>
          if (f.name.equalsIgnoreCase(name)) f.copy(dataType = to) else f))),
        // type-sensitive hashes: the column's blooms are no longer
        // sound probes — drop them (skipping degrades, results don't)
        blooms = st.blooms.view
          .mapValues(_.filterNot(_.col.equalsIgnoreCase(name)))
          .filter(_._2.nonEmpty).toMap)
      }
    }

  /** Schema surgery at a dotted path: apply `f` to the STRUCT at
    * `path` (Nil = the root schema). Descends plain struct chains
    * only — evolution inside arrays/maps would need parquet field-ID
    * mapping to stay unambiguous, so it refuses loudly. */
  private def transformStructAt(schema: StructType, path: Seq[String],
      where: String, containers: Boolean = false)(
      f: StructType => StructType): StructType = {
    def goT(dt: DataType, ps: Seq[String]): DataType = ps match {
      case Nil => dt match {
        case st: StructType => f(st)
        case other => throw new IllegalArgumentException(
          s"${path.mkString(".")} is ${other.simpleString}, not a struct")
      }
      case head +: tail => dt match {
        case st: StructType =>
          val fld = st.fields.find(_.name.equalsIgnoreCase(head))
            .getOrElse(throw new IllegalArgumentException(
              s"no such column $head in $where"))
          // a non-struct intermediate that is NOT a container keyword
          // surfaces the classic error below via the recursive call
          StructType(st.fields.map(x =>
            if (x.name.equalsIgnoreCase(head))
              x.copy(dataType = goT(fld.dataType, tail))
            else x))
        // FIELD-ID tables evolve INSIDE arrays and maps (Iceberg's
        // `arr.element.f` spelling): id resolution keeps old files
        // unambiguous where by-name clipping could not be
        case a: ArrayType if containers && head.equalsIgnoreCase("element") =>
          a.copy(elementType = goT(a.elementType, tail))
        case m: MapType if containers && head.equalsIgnoreCase("key") =>
          m.copy(keyType = goT(m.keyType, tail))
        case m: MapType if containers && head.equalsIgnoreCase("value") =>
          m.copy(valueType = goT(m.valueType, tail))
        case other => throw new IllegalArgumentException(
          s"$head is ${other.simpleString}, not a struct — nested " +
            "schema evolution descends plain struct chains only" +
            (if (containers) " (use .element/.key/.value to step into " +
              "arrays and maps on a field-id table)" else
              "; evolution inside arrays/maps needs parquet field-ID " +
              "column mapping (TBLPROPERTIES graft.columnMapping.mode='id')"))
      }
    }
    goT(schema, path).asInstanceOf[StructType]
  }

  /** `ALTER TABLE … ADD COLUMNS (s.f T)` — NESTED schema evolution,
    * same pure-metadata contract as the top-level form: the field joins
    * the struct in the manifest schema and Spark's parquet by-name
    * clipping surfaces it as NULL from files written before the change
    * (zero graft read-path code — the scan schema IS the manifest
    * schema). Appends evolve through the same recursive
    * `StructType.merge` the top-level path uses. */
  def addNestedColumn(spark: SparkSession, table: String, dotted: String,
                      dt: DataType): Long =
    commitMetadata(spark, table, "alter-add-nested") { st =>
      val parts = dotted.split('.').toSeq.map(_.trim)
      require(parts.length >= 2 && parts.forall(_.nonEmpty),
        s"nested add needs a dotted path, got $dotted")
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      require(!st.retired.exists(_.equalsIgnoreCase(dotted)),
        s"column $dotted was previously dropped from $table; old data " +
          "files still contain it and would resurrect stale values — " +
          "use a different name")
      val ns = transformStructAt(schema, parts.init, table,
          containers = FieldIds.hasIds(schema)) { inner =>
        require(!inner.fieldNames.exists(_.equalsIgnoreCase(parts.last)),
          s"column $dotted already exists in $table")
        StructType(inner.fields :+
          StructField(parts.last, dt, nullable = true))
      }
      st.copy(schema = Some(ns))
    }

  /** `ALTER TABLE … DROP COLUMN s.f` — the nested drop: the field
    * leaves its struct in the manifest schema (schema-driven reads
    * never project it again) and the dotted path joins the RETIRED
    * list so a later re-add can't resurrect orphaned bytes. */
  def dropNestedColumn(spark: SparkSession, table: String,
                       dotted: String): Long =
    commitMetadata(spark, table, "alter-drop-nested") { st =>
      val parts = dotted.split('.').toSeq.map(_.trim)
      require(parts.length >= 2 && parts.forall(_.nonEmpty),
        s"nested drop needs a dotted path, got $dotted")
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      st.checks.foreach { case (cn, sql) =>
        require(!exprRefs(spark, sql).exists(r =>
            r.equalsIgnoreCase(dotted) ||
              r.toLowerCase.startsWith(dotted.toLowerCase + ".")),
          s"cannot drop $dotted: CHECK constraint $cn references it " +
            "(DROP CONSTRAINT first)")
      }
      generatedColumns(schema).foreach { case (gn, gsql) =>
        require(!exprRefs(spark, gsql).exists(r =>
            r.equalsIgnoreCase(dotted) ||
              r.toLowerCase.startsWith(dotted.toLowerCase + ".")),
          s"cannot drop $dotted: generated column $gn derives from it " +
            "(drop the generated column first)")
      }
      var droppedId: Option[Long] = None
      val ns = transformStructAt(schema, parts.init, table,
          containers = FieldIds.hasIds(schema)) { inner =>
        val f = inner.fields.find(_.name.equalsIgnoreCase(parts.last))
          .getOrElse(throw new IllegalArgumentException(
            s"no such column $dotted in $table"))
        require(inner.fields.length > 1,
          s"cannot drop the only field of struct ${parts.init.mkString(".")}")
        droppedId = FieldIds.idOf(f)
        StructType(inner.fields.filterNot(
          _.name.equalsIgnoreCase(parts.last)))
      }
      // the dotted path's skipping stats and blooms leave with it —
      // prefix too, for dropping a nested struct with statted children
      def gone(c: String): Boolean =
        c.equalsIgnoreCase(dotted) ||
          c.toLowerCase.startsWith(dotted.toLowerCase + ".")
      st.copy(schema = Some(ns),
        stats = st.stats.view.mapValues(_.filterNot(s => gone(s.col)))
          .filter(_._2.nonEmpty).toMap,
        blooms = st.blooms.view.mapValues(_.filterNot(b => gone(b.col)))
          .filter(_._2.nonEmpty).toMap,
        retired = st.retired :+ droppedId.map(i => s"$dotted#$i").getOrElse(dotted))
    }

  /** `ALTER TABLE … SET PARTITIONED BY (…)` — PARTITION-SPEC EVOLUTION
    * as pure metadata (Iceberg's signature move; Delta answers with a
    * full rewrite): the manifest's partition spec changes and only
    * FUTURE writes lay out under it. Existing files keep their old
    * directory layout, which is safe because graft never plans from
    * layout: partition values live IN the files, pruning is per-file
    * stats (single-valued files make min == max exact for whichever
    * spec the file was written under), bucket pruning parses each
    * file's own path segment and conservatively keeps files that lack
    * it, and SHOW PARTITIONS renders each vintage's real layout. On a
    * 100 TB table partitioned wrong in hindsight the fix is this one
    * kilobyte commit plus new data arriving right — old data migrates
    * lazily through natural OPTIMIZE/rewrite churn, never eagerly.
    * An empty spec unpartitions future writes. */
  def setPartitionSpec(spark: SparkSession, table: String,
                       entries: Seq[String]): Long = {
    // one canonical spelling per entry, so path segments and manifest
    // lines can never disagree over whitespace
    val norm = entries.map(_.trim).filter(_.nonEmpty).map {
      case DaysEntry(c) => s"days(${c.trim})"
      case HoursEntry(c) => s"hours(${c.trim})"
      case MonthsEntry(c) => s"months(${c.trim})"
      case YearsEntry(c) => s"years(${c.trim})"
      case BucketEntry(n, c) => BucketEntry(n, c)
      case c => c
    }
    commitMetadata(spark, table, "set-partition-spec") { st =>
      if (st.partCols == norm)
        return st.version // provable no-op: nothing to commit
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      norm.foreach { e =>
        val src = partSource(e)
        val field = schema.fields.find(_.name.equalsIgnoreCase(src)).getOrElse(
          throw new IllegalArgumentException(
            s"partition source $src of entry $e is not a column of $table"))
        e match {
          case DaysEntry(_) | HoursEntry(_) | MonthsEntry(_) | YearsEntry(_) =>
            require(field.dataType == DateType ||
                field.dataType == TimestampType ||
                field.dataType == TimestampNTZType,
              s"temporal transform $e needs a DATE/TIMESTAMP source, " +
                s"got ${field.dataType.simpleString}")
          case BucketEntry(n, _) =>
            require(n > 0, s"bucket count must be positive in $e")
          case _ => ()
        }
      }
      st.copy(partCols = norm)
    }
  }

  /** ALTER TABLE … DROP COLUMN — pure metadata: the field leaves the
    * manifest schema (schema-driven reads never project it again; the
    * bytes in existing files become dead weight reclaimed by natural
    * rewrite churn), its skipping stats/blooms leave the manifest, and
    * its name joins the RETIRED list so a later re-add can't resurrect
    * the orphaned values. Refused for partition columns, constraint
    * inputs, and live merge-on-read delete keys — each would silently
    * corrupt a machinery that keys on the column. */
  def dropColumn(spark: SparkSession, table: String, name: String): Long =
    commitMetadata(spark, table, "alter-drop") { st =>
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"no such column $name in $table"))
      require(schema.fields.length > 1,
        s"cannot drop the only column of $table")
      require(!st.partCols.map(partSource).exists(_.equalsIgnoreCase(field.name)),
        s"cannot drop partition column ${field.name} of $table")
      // prefix match too: a check/definition reading `s.f` dangles just
      // as hard when the whole struct `s` drops as when `s.f` does
      def refs(name: String)(r: String): Boolean =
        r.equalsIgnoreCase(name) ||
          r.toLowerCase.startsWith(name.toLowerCase + ".")
      st.checks.foreach { case (cn, sql) =>
        require(!exprRefs(spark, sql).exists(refs(field.name)),
          s"cannot drop ${field.name}: CHECK constraint $cn references it " +
            "(DROP CONSTRAINT first)")
      }
      require(!st.dels.exists(_.keyCols.exists(_.equalsIgnoreCase(field.name))),
        s"cannot drop ${field.name}: live merge-on-read deletes key on it " +
          "(OPTIMIZE to materialize them first)")
      // dropping a GENERATED column drops its definition with the field
      // (fine); dropping a column a definition READS would dangle it
      generatedColumns(schema).foreach { case (gn, gsql) =>
        require(gn.equalsIgnoreCase(field.name) ||
            !exprRefs(spark, gsql).exists(refs(field.name)),
          s"cannot drop ${field.name}: generated column $gn derives from " +
            "it (drop the generated column first)")
      }
      st.copy(
        schema = Some(org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(_ eq field))),
        // prefix too: dropping a struct takes its nested fields' stats
        // and blooms (keyed by dotted path) with it
        stats = st.stats.view.mapValues(_.filterNot(s => refs(field.name)(s.col)))
          .filter(_._2.nonEmpty).toMap,
        blooms = st.blooms.view.mapValues(_.filterNot(b => refs(field.name)(b.col)))
          .filter(_._2.nonEmpty).toMap,
        // id-mode drops retire `name#id`: the id keeps the never-reuse
        // floor (FieldIds.assign mints above every retired id) and the
        // bare name unblocks — a re-add under a FRESH id reads the old
        // files' same-named bytes as NULL, never resurrecting them
        retired = (st.retired :+ FieldIds.idOf(field).map(i => s"${field.name}#$i")
          .getOrElse(field.name)).distinct)
    }

  /** One partitioning entry with its source column renamed —
    * `days(old)` → `days(new)`, bare `old` → `new`. */
  private def renameEntry(entry: String, from: String, to: String): String =
    if (!partSource(entry).equalsIgnoreCase(from)) entry
    else entry match {
      case DaysEntry(_) => s"days($to)"
      case HoursEntry(_) => s"hours($to)"
      case MonthsEntry(_) => s"months($to)"
      case YearsEntry(_) => s"years($to)"
      // bucket dirs embed the physical column name — renaming the
      // source would orphan every existing bucket path segment
      case BucketEntry(_, _) => throw new IllegalArgumentException(
        s"cannot rename the source column of bucket partitioning ($entry)")
      case _ => to
    }

  /** ALTER TABLE … RENAME COLUMN — METADATA-ONLY via column-mapping
    * aliases (Delta 1.2's column mapping / Iceberg field-ids, realized
    * without touching the files): ONE manifest write at any table size,
    * zero data I/O. The new schema carries the new name; a `#alias=`
    * entry records the old PHYSICAL name, and every read scans both
    * names and coalesces (see [[planFiles]] — exactly one is non-null
    * per file). Skipping SURVIVES: the per-file stats entries rename
    * with the column (the bytes they describe are unchanged). Bloom
    * metas of the column drop — their sidecar paths embed the physical
    * name — degrading point lookups to stats-only pruning until natural
    * rewrite churn rebuilds them. The old name joins the RETIRED list
    * so a later re-add cannot resurrect the aliased bytes. */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Long =
    commitMetadata(spark, table, "alter-rename") { st =>
      val schema = st.schemaOf(table)
      val field = schema.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        throw new IllegalArgumentException(s"no such column $from in $table"))
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column $to already exists in $table")
      require(!st.retired.exists(_.equalsIgnoreCase(to)),
        s"column $to was previously dropped from $table; old data files " +
          "still contain it — use a different name")
      st.checks.foreach { case (cn, sql) =>
        require(!exprRefs(spark, sql).exists(_.equalsIgnoreCase(field.name)),
          s"cannot rename ${field.name}: CHECK constraint $cn references it " +
            "(DROP CONSTRAINT, rename, re-add)")
      }
      require(!st.dels.exists(_.keyCols.exists(_.equalsIgnoreCase(field.name))),
        s"cannot rename ${field.name}: live merge-on-read deletes key on " +
          "it — OPTIMIZE to materialize them first")
      // a converted table's partition VALUES live in `from=x` path
      // segments; renaming the column would orphan them
      require(!(st.pathpart &&
          st.partCols.map(partSource).exists(_.equalsIgnoreCase(field.name))),
        s"cannot rename partition column ${field.name} of an in-place-" +
          "converted table: its values are path-derived — OPTIMIZE first")
      // renaming the GENERATED column itself carries its definition with
      // the field copy; renaming a column a definition READS would leave
      // the recorded SQL referencing a name that no longer resolves
      generatedColumns(schema).foreach { case (gn, gsql) =>
        require(gn.equalsIgnoreCase(field.name) ||
            !exprRefs(spark, gsql).exists(_.equalsIgnoreCase(field.name)),
          s"cannot rename ${field.name}: generated column $gn derives " +
            "from it (drop the generated column first)")
      }
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.map(f =>
          if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f))
      val newStats = st.stats.view.mapValues(_.map(fs =>
        if (fs.col.equalsIgnoreCase(from)) fs.copy(col = to) else fs)).toMap
      val newBlooms = st.blooms.view
        .mapValues(_.filterNot(_.col.equalsIgnoreCase(from)))
        .toMap.filter(_._2.nonEmpty)
      val newPart = st.partCols.map(renameEntry(_, field.name, to))
      // FIELD-ID tables rename as PURE metadata: the id is unchanged, so
      // every old file serves the renamed column by id resolution — no
      // alias legs, no coalesce read cost. The old name still joins the
      // retired list as `name#id`: the id keeps the never-reuse floor
      // and the entry registers the name for collision mangling should
      // a future column re-claim it (FieldIds.collidePaths).
      val idMode = FieldIds.hasIds(schema)
      val newAliases =
        if (idMode) st.aliases
        else (st.aliases - field.name) +
          (to -> (field.name +: st.aliases.getOrElse(field.name, Nil)))
      st.copy(schema = Some(newSchema), stats = newStats, blooms = newBlooms,
        partCols = newPart, aliases = newAliases,
        retired = (st.retired :+ FieldIds.idOf(field)
          .map(i => s"${field.name}#$i").getOrElse(field.name)).distinct)
    }

  /** `ALTER TABLE … RENAME COLUMN s.f TO g` — NESTED rename, FIELD-ID
    * tables only: the field's id is unchanged, so every old file serves
    * the renamed nested field directly through id resolution — pure
    * metadata at any table size, the exact capability the name-mode
    * alias machinery cannot express below the top level. The old dotted
    * path joins the retired list as `path#id` (never-reuse floor +
    * collision registry), and its skipping stats rename with it. */
  def renameNestedColumn(spark: SparkSession, table: String,
                         dotted: String, to: String): Long =
    commitMetadata(spark, table, "alter-rename-nested") { st =>
      val parts = dotted.split('.').toSeq.map(_.trim)
      require(parts.length >= 2 && parts.forall(_.nonEmpty),
        s"nested rename needs a dotted path, got $dotted")
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      require(FieldIds.hasIds(schema),
        "nested RENAME COLUMN needs parquet field-ID column mapping " +
          "(a table created with TBLPROPERTIES " +
          "'graft.columnMapping.mode'='id') — on name-mode tables old " +
          "files cannot serve a renamed nested field: ADD the new " +
          "field, backfill with UPDATE, then DROP the old one")
      // a dotted target is accepted when it spells the SAME enclosing
      // struct (`RENAME COLUMN m.n TO m.x` ≡ `... TO x`) — renames
      // never move a field across structs
      val toLeaf =
        if (!to.contains('.')) to
        else {
          val tp = to.split('.').toSeq.map(_.trim)
          require(tp.init.map(_.toLowerCase) == parts.init.map(_.toLowerCase),
            s"rename cannot move a field across structs: $dotted -> $to")
          tp.last
        }
      st.checks.foreach { case (cn, sql) =>
        require(!exprRefs(spark, sql).exists(r =>
            r.equalsIgnoreCase(dotted) ||
              r.toLowerCase.startsWith(dotted.toLowerCase + ".")),
          s"cannot rename $dotted: CHECK constraint $cn references it " +
            "(DROP CONSTRAINT, rename, re-add)")
      }
      generatedColumns(schema).foreach { case (gn, gsql) =>
        require(!exprRefs(spark, gsql).exists(r =>
            r.equalsIgnoreCase(dotted) ||
              r.toLowerCase.startsWith(dotted.toLowerCase + ".")),
          s"cannot rename $dotted: generated column $gn derives from it " +
            "(drop the generated column first)")
      }
      var renamedId: Option[Long] = None
      val ns = transformStructAt(schema, parts.init, table,
          containers = true) { inner =>
        val f = inner.fields.find(_.name.equalsIgnoreCase(parts.last))
          .getOrElse(throw new IllegalArgumentException(
            s"no such column $dotted in $table"))
        require(!inner.fieldNames.exists(_.equalsIgnoreCase(toLeaf)),
          s"column ${(parts.init :+ toLeaf).mkString(".")} already exists in $table")
        renamedId = FieldIds.idOf(f)
        StructType(inner.fields.map(x =>
          if (x.name.equalsIgnoreCase(parts.last)) x.copy(name = toLeaf) else x))
      }
      val newPath = (parts.init :+ toLeaf).mkString(".")
      def renamed(c: String): String =
        if (c.equalsIgnoreCase(dotted)) newPath
        else if (c.toLowerCase.startsWith(dotted.toLowerCase + "."))
          newPath + c.substring(dotted.length)
        else c
      st.copy(schema = Some(ns),
        // per-file stats rename with the field — the bytes they
        // describe are unchanged, so skipping survives the rename
        stats = st.stats.view.mapValues(_.map(fs => fs.copy(col = renamed(fs.col))))
          .toMap,
        // bloom sidecar paths embed the old physical name — drop the
        // metas (point lookups degrade to stats pruning until churn)
        blooms = st.blooms.view.mapValues(_.filterNot(b =>
            b.col.equalsIgnoreCase(dotted) ||
              b.col.toLowerCase.startsWith(dotted.toLowerCase + ".")))
          .filter(_._2.nonEmpty).toMap,
        retired = (st.retired :+ renamedId.map(i => s"$dotted#$i").getOrElse(dotted))
          .distinct)
    }

  // ---------------------------------------------------- table properties
  /** Free-form table properties (`#prop=` manifest lines) — snapshot
    * state like CHECK constraints: carried by every commit, visible to
    * time travel, restored by RESTORE. SET/UNSET are metadata-only CAS
    * commits. */
  def tableProperties(spark: SparkSession, table: String,
                      versionAsOf: Option[Long] = None)
      : Map[String, String] = {
    val st = versionAsOf match {
      case Some(v) => stateOf(spark, table, v)
      case None => latestState(spark, table).getOrElse(
        throw new IllegalStateException(s"no committed version in $table"))
    }
    st.props
  }

  def setProperties(spark: SparkSession, table: String,
                    kv: Map[String, String]): Long =
    commitMetadata(spark, table, "set-props")(st => st.copy(props = st.props ++ kv))

  def unsetProperties(spark: SparkSession, table: String,
                      keys: Seq[String]): Long =
    commitMetadata(spark, table, "unset-props")(st => st.copy(props = st.props -- keys))

  /** Replace the WHOLE property map — what `CREATE OR REPLACE TABLE`
    * needs: a replace is a re-declaration, so properties reset to the
    * statement's TBLPROPERTIES instead of merging with the old
    * table's. No-ops (and commits nothing) when already equal. */
  def replaceProperties(spark: SparkSession, table: String,
                        kv: Map[String, String]): Long = {
    if (tableProperties(spark, table) == kv)
      return latestVersion(spark, table).get
    commitMetadata(spark, table, "replace-props")(_.copy(props = kv))
  }

  // ------------------------------------------------------ snapshot tags
  /** Named snapshot references (Iceberg-style TAGS): `graft.tag.<name>`
    * properties mapping a human name to a pinned version. Three
    * contracts make them more than sugar:
    *
    *   - READ: `option("tagAsOf", name)` resolves through the LATEST
    *     snapshot's tag map, then reads exactly like `versionAsOf` —
    *     "the release-2 eval set" stays addressable after any number
    *     of later commits.
    *   - VACUUM PINNING: a tagged version's manifest chain and every
    *     data/delete/change file it references survive retention —
    *     `VACUUM ... KEEP 0` reclaims everything EXCEPT tagged history
    *     (the reproducibility guarantee: a tagged training snapshot is
    *     immune to routine cleanup until the tag drops).
    *   - CAS commits: SET/DROP TAG are metadata-only property commits,
    *     so concurrent taggers and writers serialize like everything
    *     else.
    *
    * Re-tagging an existing name MOVES it (one tag = one version).
    * Like CHECK constraints, tags are POLICY, not data: RESTORE rolls
    * table content back but keeps the current property set, so a tag
    * survives a restore — and still resolves, because restore
    * republishes state without deleting the tagged manifest. */
  private[graft] val TagPropPrefix = "graft.tag."
  private val TagNameRe = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** A version is readable iff its manifest exists AND its delta chain
    * walks down to a full base — the exact property a tag must pin.
    * O(chain length) existence-bounded small reads, no listing. */
  private def chainReadable(spark: SparkSession, table: String,
                            v: Long): Boolean = {
    val ctx = fc(spark)
    if (!ctx.util.exists(new Path(table, manifestName(v)))) false
    else
      try {
        var f = v
        while (manifestLines(spark, table, f)
                 .exists(_.startsWith(DeltaPrefix))) f -= 1
        true
      } catch { case scala.util.control.NonFatal(_) => false }
  }

  def setTag(spark: SparkSession, table: String, name: String,
             version: Option[Long] = None): Long = {
    require(TagNameRe.matches(name),
      s"tag name '$name' must match ${TagNameRe.regex}")
    val v = version.getOrElse(latestVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed version in $table")))
    // validate by DIRECT readability probe, not versions().contains:
    // versions() reports the contiguous range plus direct tag targets
    // only, so a version retained solely inside ANOTHER tag's pinned
    // chain (base..v of a delta chain) has a perfectly readable
    // manifest yet would be refused here — taggable must equal
    // readable, and readable means the manifest exists and its delta
    // chain walks down to a full base.
    require(chainReadable(spark, table, v),
      s"cannot tag $table@v$v — that version is not readable " +
        "(never committed, already vacuumed, or its manifest chain " +
        "is broken)")
    val committed =
      setProperties(spark, table, Map(s"$TagPropPrefix$name" -> v.toString))
    // TOCTOU vs a concurrent VACUUM: the pin only binds vacuums that
    // READ this tag, so one already past its tag read can reap v's
    // manifest between our existence check and the property commit —
    // leaving a dangling name that silently fails the reproducibility
    // promise. Re-validate AFTER publishing; roll the tag back and
    // refuse rather than hand the caller a pin on vacuumed history.
    if (!fc(spark).util.exists(new Path(table, manifestName(v)))) {
      unsetProperties(spark, table, Seq(s"$TagPropPrefix$name"))
      throw new IllegalStateException(
        s"$table@v$v was vacuumed while the tag committed — tag a " +
          "retained version (or re-run once no vacuum is in flight)")
    }
    committed
  }

  def deleteTag(spark: SparkSession, table: String, name: String): Long = {
    require(tags(spark, table).contains(name),
      s"no tag '$name' on $table")
    unsetProperties(spark, table, Seq(s"$TagPropPrefix$name"))
  }

  /** The tag map of the latest (or pinned) snapshot: name → version. */
  def tags(spark: SparkSession, table: String,
           versionAsOf: Option[Long] = None): Map[String, Long] =
    tableProperties(spark, table, versionAsOf).collect {
      case (k, v) if k.startsWith(TagPropPrefix) =>
        k.stripPrefix(TagPropPrefix) -> v.toLong
    }

  // ------------------------------------------------- CHECK constraints
  /** ALTER TABLE … ADD CONSTRAINT name CHECK (expr) — recorded in the
    * manifest (snapshot state, survives restore/compaction/DML) and
    * enforced by [[enforceChecks]] on every row-introducing write path:
    * append, overwrite, streaming sink, MERGE upsert, SQL UPDATE/MERGE
    * rewrites, and merge-on-read upserts. `validateExisting` (Delta
    * semantics) scans the current snapshot once and refuses the
    * constraint if any committed row already violates it. */
  def addCheck(spark: SparkSession, table: String, name: String, sql: String,
               validateExisting: Boolean = true): Long = {
    // cheap structural validation FIRST (unknown columns, duplicate
    // name), so a malformed constraint fails with its own message
    // before the existing-data scan gets a chance to
    def validate(st: State): org.apache.spark.sql.types.StructType = {
      val schema = st.schema.getOrElse(
        throw new IllegalStateException(s"$table predates the schema log"))
      require(!st.checks.contains(name),
        s"constraint $name already exists on $table")
      // a dotted ref (`m.n > 0`) resolves through struct chains; a
      // literal dotted top-level name keeps working either way
      def resolvable(r: String): Boolean = {
        def walk(dt: DataType, ps: Seq[String]): Boolean = ps match {
          case Seq() => true
          case h +: t => dt match {
            case s: org.apache.spark.sql.types.StructType =>
              s.fields.find(_.name.equalsIgnoreCase(h))
                .exists(f => walk(f.dataType, t))
            case _ => false
          }
        }
        schema.fieldNames.exists(_.equalsIgnoreCase(r)) ||
          walk(schema, r.split('.').toSeq)
      }
      exprRefs(spark, sql).foreach(r =>
        require(resolvable(r),
          s"CHECK constraint $name references unknown column $r"))
      schema
    }
    latestState(spark, table).foreach { st =>
      validate(st)
      if (validateExisting)
        enforceChecks(read(spark, table), table, Map(name -> sql))
    }
    commitMetadata(spark, table, "alter-constraint") { st =>
      st.copy(schema = Some(validate(st)), checks = st.checks + (name -> sql))
    }
  }

  /** ALTER TABLE … DROP CONSTRAINT name. */
  def dropCheck(spark: SparkSession, table: String, name: String): Long =
    commitMetadata(spark, table, "alter-constraint") { st =>
      require(st.checks.contains(name),
        s"no constraint $name on $table")
      st.copy(checks = st.checks - name)
    }

  /** The latest snapshot's CHECK constraints (name → SQL). */
  def checkConstraints(spark: SparkSession,
                       table: String): Map[String, String] =
    latestState(spark, table).map(_.checks).getOrElse(Map.empty)

  // --------------------------------------------------------- COPY INTO
  /** `COPY INTO` — batch, idempotent, file-manifest ingestion: the
    * lakehouse spelling of the reference's landing→curated copy hop
    * (ref `dags/s3-etl-wallet-csv.py:161-176`, which moved whole files
    * between zones and relied on deleting the source for exactly-once).
    * Each source file's path is recorded as a `copy:<path>` txn marker
    * IN THE SAME ATOMIC COMMIT as its rows, so re-offering a file — a
    * re-run of the daily load, an overlapping glob, a crash between
    * ingest and source cleanup — ingests nothing the second time.
    * Markers ride the txn header (O(ingested files) small manifest
    * lines, carried like streaming batch markers). Listing cost is one
    * glob of the source prefix per call; data cost is the new files
    * only. Concurrent COPY INTO of the SAME source can race to ingest
    * the same file twice (the marker check happens before the commit
    * CAS); run one loader per source prefix — the contract this serves
    * is idempotent REPLAY, not concurrent dedup. Returns (version,
    * newly ingested source paths). */
  def copyInto(spark: SparkSession, table: String, source: String,
               format: String = "parquet", pattern: String = "*",
               schema: Option[org.apache.spark.sql.types.StructType] = None,
               statsCols: Seq[String] = Nil): (Long, Seq[String]) = {
    val ctx = fc(spark)
    // globStatus returns NULL (not empty) for a non-wildcard pattern with
    // no match or a missing source dir — surface a clear error, not an NPE
    val matches = Option(ctx.util().globStatus(new Path(new Path(source), pattern)))
      .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
      .filterNot(_.isDirectory)
    val st = latestState(spark, table)
    val done = st.map(_.txns.keySet).getOrElse(Set.empty[String])
    val fresh = matches.map(_.getPath)
      .filter(p => !done(s"copy:${p.toUri.getPath}")).toSeq
      .sortBy(_.toUri.getPath)
    if (fresh.isEmpty) return (st.map(_.version).getOrElse(0L), Nil)
    val reader = schema.map(spark.read.schema).getOrElse(spark.read)
    val df = format.toLowerCase match {
      case "parquet" => reader.parquet(fresh.map(_.toString): _*)
      case "csv" =>
        reader.options(Map("header" -> "true", "encoding" -> "UTF-8"))
          .csv(fresh.map(_.toString): _*)
      case "json" => reader.json(fresh.map(_.toString): _*)
      case other => throw new IllegalArgumentException(
        s"COPY INTO supports parquet/csv/json, got $other")
    }
    val v = commit(df, table, append = true, txn = None,
      statsCols = statsCols, opLabel = Some("copy-into"),
      extraTxns = fresh.map(p => s"copy:${p.toUri.getPath}" -> 1L).toMap)
    (v, fresh.map(_.toUri.getPath))
  }

  /** Clone-local re-basing of nested-default vintage gates. A clone's
    * history starts fresh at v1, but `NestedDefaultSinceKey` values in
    * the copied schema are SOURCE-history-relative — carried verbatim
    * against reset add versions, every cloned file would read as
    * pre-declaration and the existence fill would overwrite
    * post-declaration files' REAL values. Re-base both sides: files
    * keep only their fill-relevant ordering (pre-declaration files →
    * add version 0, post → 1) and each default's sinceV is rewritten
    * onto that two-value scale (0 = fills nothing, 1 = fills only the
    * older class, 2 = fills everything). Add versions must stay ≤ 1 so
    * the clone's own future merge-on-read deletes (version ≥ 2) still
    * gate every cloned file; when the source's files split into more
    * than two vintage classes that scale cannot represent them — refuse
    * with the same escape hatch as live MoR deletes. Returns the
    * re-stamped schema plus the clone's add-version map (source-relative
    * file names; entries at version 0 omitted — absence reads as 0). */
  private def rebaseNdefsForClone(source: String, srcV: Long,
      schema: StructType, files: Seq[String], addv: Map[String, Long])
      : (StructType, Map[String, Long]) = {
    val ndefs = nestedDefaults(schema)
      .filter(nd => nd.existsSql.isDefined && nd.sinceV > 0L)
    if (ndefs.isEmpty) return (schema, files.map(_ -> 1L).toMap)
    // per-file fill set: which defaults the read-time fill applies to.
    // Fill sets are monotone in add version, so distinct sets CHAIN
    // (newer ⊆ older) — two distinct sets are representable on the
    // clone's {0, 1} add-version scale, three or more are not.
    val fillSets: Map[String, Set[Seq[String]]] = files.map { f =>
      f -> ndefs.filter(nd => addv.getOrElse(f, 0L) < nd.sinceV)
        .map(_.path).toSet
    }.toMap
    val classes =
      fillSets.values.toSet.toSeq.sortBy((s: Set[Seq[String]]) => -s.size)
    require(classes.size <= 2,
      s"$source@v$srcV splits its files into ${classes.size} " +
        "nested-default vintage classes — a clone's fresh history can " +
        "only represent two; OPTIMIZE the source to materialize the " +
        "defaults, then clone")
    // single class reads as "newer" (add version 1, no older leg); a
    // FILE-LESS snapshot has no classes at all — nothing to fill, every
    // gate rewrites to 0 (future appends carry the field physically via
    // the write gate)
    val older = if (classes.size == 2) classes.head else Set.empty[Seq[String]]
    val newer =
      if (classes.isEmpty) Set.empty[Seq[String]] else classes.last
    val sinceOf: Seq[String] => Long = p =>
      if (newer.contains(p)) 2L else if (older.contains(p)) 1L else 0L
    val restamped = ndefs.foldLeft(schema) { (s, nd) =>
      transformStructAt(s, nd.path.init, source, containers = false) { inner =>
        StructType(inner.fields.map { f =>
          if (f.name.equalsIgnoreCase(nd.path.last))
            f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putLong(NestedDefaultSinceKey, sinceOf(nd.path)).build())
          else f
        })
      }
    }
    val cloneAddv = files.filter(f => fillSets(f) != older).map(_ -> 1L).toMap
    (restamped, cloneAddv)
  }

  // ------------------------------------------------------ SHALLOW CLONE
  /** `CREATE TABLE … SHALLOW CLONE` — a zero-copy dev/test fork: the
    * clone's v1 manifest references the source snapshot's data files BY
    * RELATIVE PATH (`../src/w=…/part….parquet`) and copies its schema,
    * stats, blooms, partitioning, constraints, and txn markers. No data
    * moves at any table size — cloning a 100 TB table writes one small
    * manifest. The clone then lives its own life: appends/DML land
    * local files, compaction gradually materializes referenced data
    * locally, and the clone's VACUUM can never touch source bytes (its
    * sweep is confined to the clone's own `w=` dirs, and referenced-set
    * logic only ever deletes swept files). Caveats, both Delta-parity:
    * the SOURCE's vacuum does not know about clones — vacuuming source
    * history a clone still references breaks the clone; and relative
    * escape paths require a hierarchical filesystem (refused when
    * either side carries a URI scheme). Live merge-on-read deletes are
    * refused (their version gates are source-relative — OPTIMIZE the
    * source first to materialize them). */
  def cloneShallow(spark: SparkSession, source: String, dest: String,
                   version: Option[Long] = None): Long = {
    val ctx = fc(spark)
    require(!source.contains("://") && !dest.contains("://"),
      "SHALLOW CLONE resolves source files by relative path and needs a " +
        "hierarchical filesystem — URI-schemed paths are not supported")
    val srcV = version.getOrElse(latestVersion(spark, source).getOrElse(
      throw new IllegalStateException(s"no committed version in $source")))
    val st = stateOf(spark, source, srcV)
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"$source@v$srcV predates the schema log — cannot clone"))
    // same liveness rule as the commit path: a delete entry is dead once
    // no surviving file predates its gate (e.g. after a compaction that
    // hasn't reached its pruning checkpoint yet)
    val liveDels = st.dels.filter(d =>
      st.files.exists(f => st.addv.getOrElse(f, 0L) < d.version))
    require(liveDels.isEmpty,
      s"$source@v$srcV carries live merge-on-read deletes whose version " +
        "gates are source-relative — OPTIMIZE the source to materialize " +
        "them, then clone")
    require(latestVersion(spark, dest).isEmpty,
      s"$dest already has commits — SHALLOW CLONE creates a NEW table")
    // a converted table's partition values live in file PATHS read via
    // basePath=<table>; cloned rel-path references would resolve them
    // against the wrong base — refuse rather than silently mis-read
    require(!st.pathpart,
      s"$source@v$srcV was converted in place (path-derived partition " +
        "values) — OPTIMIZE it into graft-written files, then clone")
    val rel = {
      val d = java.nio.file.Paths.get(dest).toAbsolutePath.normalize
      val s = java.nio.file.Paths.get(source).toAbsolutePath.normalize
      d.relativize(s).toString
    }
    def pf(f: String) = s"$rel/$f"
    // nested-default vintage gates are source-history-relative — re-base
    // them (and the add versions they gate against) onto clone history
    val (cloneSchema, cloneAddv) =
      rebaseNdefsForClone(source, srcV, schema, st.files, st.addv)
    val clone = st.copy(version = 1L, schema = Some(cloneSchema),
      stats = st.stats.map { case (f, v) => pf(f) -> v },
      files = st.files.map(pf),
      blooms = st.blooms.map { case (f, v) => pf(f) -> v },
      rows = st.rows.map { case (f, v) => pf(f) -> v },
      dels = Nil, addv = cloneAddv.map { case (f, v) => pf(f) -> v })
    require(Log.create(spark, new Path(dest, manifestName(1L)), clone, "clone"),
      s"$dest was concurrently initialized — clone aborted")
    Log.repoint(ctx, dest, 1L)
    1L
  }

  // --------------------------------------------------------- DEEP CLONE
  /** `CREATE TABLE … DEEP CLONE src [VERSION AS OF n]` — a MATERIALIZED
    * full-copy fork at a pinned version, and the documented escape
    * hatch for the RENAME TABLE refusal: every data file of the source
    * snapshot is copied byte-for-byte to the SAME table-relative path
    * under `dest` (bloom sidecars ride along), and the clone's v1
    * manifest carries the snapshot's schema (identity/generated/
    * default/field-id metadata verbatim), skipping stats, row counts,
    * partition spec, constraints, properties, retired names, aliases,
    * and txn markers. History starts fresh at v1; the clone shares no
    * bytes with the source, so either side's VACUUM/DROP can never
    * break the other — the difference from [[cloneShallow]], bought at
    * full data-copy cost. The copy is DISTRIBUTED (one task per file
    * batch, raw stream copy — no parquet decode/re-encode), so a
    * 100 TB clone is cluster-parallel IO, not a driver loop. Stats and
    * blooms describe identical bytes, so they carry verbatim — the
    * clone starts with full skipping metadata and zero read-back
    * passes. Live merge-on-read deletes refuse (their version gates
    * are source-history-relative and v1 resets history — OPTIMIZE the
    * source to materialize them, then clone). */
  def cloneDeep(spark: SparkSession, source: String, dest: String,
                version: Option[Long] = None): Long = {
    val ctx = fc(spark)
    val srcV = version.getOrElse(latestVersion(spark, source).getOrElse(
      throw new IllegalStateException(s"no committed version in $source")))
    val st = stateOf(spark, source, srcV)
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"$source@v$srcV predates the schema log — cannot clone"))
    val liveDels = st.dels.filter(d =>
      st.files.exists(f => st.addv.getOrElse(f, 0L) < d.version))
    require(liveDels.isEmpty,
      s"$source@v$srcV carries live merge-on-read deletes whose version " +
        "gates are source-history-relative — OPTIMIZE the source to " +
        "materialize them, then clone")
    require(latestVersion(spark, dest).isEmpty,
      s"$dest already has commits — DEEP CLONE creates a NEW table")
    // every file copies under its source-relative name, plus each
    // file's bloom sidecars (path = <file>.bloom.<col>)
    val copies: Seq[String] = st.files ++
      st.blooms.toSeq.flatMap { case (f, bs) =>
        bs.map(b => s"$f.bloom.${enc(b.col)}") }
    val srcAbs = new Path(source).getFileSystem(
      spark.sparkContext.hadoopConfiguration).makeQualified(new Path(source))
    val dstAbs = new Path(dest).getFileSystem(
      spark.sparkContext.hadoopConfiguration).makeQualified(new Path(dest))
    val (srcRoot, dstRoot) = (srcAbs.toString, dstAbs.toString)
    val par = math.max(1, math.min(copies.size, 64))
    // the DRIVER's session Hadoop conf rides a broadcast into the copy
    // tasks: a bare executor-side `new Configuration()` would drop
    // every spark.hadoop.* key (object-store credentials, custom FS
    // impls) and break the clone on any non-default filesystem
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    spark.sparkContext.parallelize(copies, par).foreachPartition { it =>
      val conf = bcConf.value.value
      val sfs = new Path(srcRoot).getFileSystem(conf)
      val dfs = new Path(dstRoot).getFileSystem(conf)
      it.foreach { rel =>
        org.apache.hadoop.fs.FileUtil.copy(
          sfs, new Path(s"$srcRoot/$rel"),
          dfs, new Path(s"$dstRoot/$rel"),
          false, true, conf)
      }
    }
    // fresh history: copied files' add versions collapse to the clone's
    // v1 (≤ 1, so future merge-on-read deletes at version ≥ 2 gate every
    // file), with nested-default vintage gates re-based onto the same
    // scale — carried verbatim they would be source-history-relative and
    // the read-time fill would overwrite post-declaration files' values
    val (cloneSchema, cloneAddv) =
      rebaseNdefsForClone(source, srcV, schema, st.files, st.addv)
    val clone = st.copy(version = 1L, schema = Some(cloneSchema), dels = Nil,
      addv = cloneAddv)
    require(Log.create(spark, new Path(dest, manifestName(1L)), clone,
        "deep-clone"),
      s"$dest was concurrently initialized — clone aborted")
    Log.repoint(ctx, dest, 1L)
    1L
  }

  // ------------------------------------------------------- CREATE LIKE
  /** `CREATE TABLE dest LIKE source` — STRUCTURE-only fork: the new
    * table starts EMPTY at v1 carrying the source's schema (identity /
    * generated / default / field-id declarations verbatim), CHECK
    * constraints, table properties, and declared partition spec — but
    * no files, stats, history, or tags (a tag pins SOURCE history; here
    * it would dangle). The IDENTITY high-water mark resets (a
    * structural copy mints from `start` again), and nested-default
    * vintage gates re-base onto the fresh history exactly like clones,
    * so the read-time fill can never overwrite a new file's values.
    * Pure metadata: one manifest write at any source size. */
  def createLike(spark: SparkSession, source: String, dest: String): Long = {
    val ctx = fc(spark)
    val srcV = latestVersion(spark, source).getOrElse(
      throw new IllegalStateException(s"no committed version in $source"))
    val st = stateOf(spark, source, srcV)
    val schema = st.schema.getOrElse(throw new IllegalStateException(
      s"$source@v$srcV predates the schema log — cannot CREATE LIKE"))
    require(latestVersion(spark, dest).isEmpty,
      s"$dest already has commits — CREATE TABLE LIKE makes a NEW table")
    val (rebased, _) =
      rebaseNdefsForClone(source, srcV, schema, Nil, Map.empty)
    val fresh = identityColumn(rebased).map(_.col) match {
      case Some(c) => org.apache.spark.sql.types.StructType(
        rebased.fields.map(f =>
          if (f.name.equalsIgnoreCase(c))
            f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata).remove(IdHwmKey).build())
          else f))
      case None => rebased
    }
    val like = State.empty.copy(version = 1L, schema = Some(fresh),
      partCols = st.partCols, cdf = st.cdf, mor = st.mor, checks = st.checks,
      props = st.props.filterNot(_._1.startsWith(TagPropPrefix)))
    require(Log.create(spark, new Path(dest, manifestName(1L)), like,
        "create-like"),
      s"$dest was concurrently initialized — CREATE TABLE LIKE aborted")
    Log.repoint(ctx, dest, 1L)
    1L
  }

  /** `CONVERT TO GRAFT` — in-place adoption of an EXISTING parquet
    * directory (Delta 0.7's `CONVERT TO DELTA`, the capability the
    * reference declares by shipping `spark/jars/delta-core_2.12-0.7.0.jar`
    * — SURVEY.md §1.3): write manifest v1 LISTING the directory's
    * current files. Zero data rewrite — the one-shot adoption path for
    * a pre-existing 100 TB lake, where CTAS/COPY INTO (full rewrite /
    * re-ingest) are effectively unavailable. Hive `col=value` layout
    * infers identity partition transforms; partition values stay
    * PATH-derived (`#pathpart` flag) and fill in at read time via
    * basePath, so adopted files are never touched. Stats for
    * `statsCols` (plus the inferred partition columns — single-valued
    * per file, so ordinary stats pruning IS partition pruning) are
    * collected in one distributed pass over the adopted files; time
    * travel, DML, OPTIMIZE, and streaming all work from v1 on. */
  def convert(spark: SparkSession, table: String,
              statsCols: Seq[String] = Nil): Long = {
    val ctx = fc(spark)
    require(!table.contains("://"),
      "CONVERT resolves adopted files by relative path and needs a " +
        "hierarchical filesystem — URI-schemed paths are not supported")
    require(latestVersion(spark, table).isEmpty,
      s"$table already has graft commits — CONVERT adopts a PLAIN parquet dir")
    val tabAbs = java.nio.file.Paths.get(table).toAbsolutePath.normalize.toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: Path, rel: String): Unit = {
      val it = ctx.listStatus(p)
      while (it.hasNext) {
        val fs = it.next()
        val n = fs.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          val childRel = if (rel.isEmpty) n else s"$rel/$n"
          if (fs.isDirectory) walk(fs.getPath, childRel)
          else if (n.endsWith(".parquet")) buf += childRel
        }
      }
    }
    walk(new Path(tabAbs), "")
    val files = buf.sorted.toSeq
    require(files.nonEmpty, s"CONVERT found no parquet files under $table")
    require(!files.exists(_.split('/').exists(_.startsWith("w="))),
      s"$table contains 'w=' path segments — reserved for graft commits")
    // hive partition inference: the k=v directory segments, which must
    // name the same column sequence for every file
    def partsOf(f: String): Seq[String] = f.split('/').dropRight(1).toSeq
      .filter(_.contains('=')).map(s => dec(s.takeWhile(_ != '=')))
    val partCols = partsOf(files.head)
    require(files.forall(f => partsOf(f) == partCols),
      s"inconsistent hive partition layout under $table: every file must " +
        s"sit under the same ${partCols.mkString("/")} directory nesting")
    // schema via Spark's own discovery — partition columns land with the
    // types partition inference assigns, which is exactly what the
    // basePath read produces later, so manifest schema == read schema
    val full = spark.read.parquet(tabAbs)
    partCols.foreach(c => require(full.columns.contains(c),
      s"partition column $c missing from discovered schema of $table"))
    val schema = org.apache.spark.sql.GraftBridge.nullableSchema(full.schema)
    // ONE distributed stats pass (same shape as [[readBackStats]]):
    // per-file row counts always; min/max/nulls for the designated stats
    // columns plus every partition column
    val tracked = (statsCols ++ partCols).distinct.flatMap(c =>
      schema.find(_.name == c).flatMap(f =>
        statKind(f.dataType).map(k => (c, f.dataType, k))))
    val aggs = count(lit(1)).as("__rows") +: statAggs(tracked)
    def relKey(uri: String): String = {
      val path = new Path(new java.net.URI(uri)).toUri.getPath
      require(path.startsWith(s"$tabAbs/"),
        s"stats read-back file $uri outside $table")
      path.substring(tabAbs.length + 1)
    }
    val perFile = full.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val key = relKey(r.getString(0))
        val ss = tracked.flatMap { case (c, _, kind) =>
          val nn = r.getAs[Long](s"__nn_$c")
          (r.getAs[Any](s"__mn_$c"), r.getAs[Any](s"__mx_$c")) match {
            case (null, _) if nn > 0L => Some(FileStat(c, "null", "", "", nn))
            case (null, _) => None
            case (mn, mx) =>
              Some(FileStat(c, kind, statTextOf(mn), statTextOf(mx), nn))
          }
        }
        (key, ss, r.getAs[Long]("__rows"))
      }
    val stats = perFile.filter(_._2.nonEmpty).map(t => t._1 -> t._2).toMap
    val rowCounts =
      files.map(f => f -> perFile.find(_._1 == f).map(_._3).getOrElse(0L)).toMap
    val adopted = State.empty.copy(version = 1L, schema = Some(schema),
      stats = stats, files = files, rows = rowCounts, partCols = partCols,
      pathpart = true)
    require(Log.create(spark, new Path(tabAbs, manifestName(1L)), adopted,
        "convert"),
      s"$table was concurrently initialized — convert aborted")
    Log.repoint(ctx, tabAbs, 1L)
    1L
  }

  /** Compaction: rewrite the committed snapshot into `targetFiles` files
    * as a NEW version (readers on the old version are never disturbed —
    * same commit path as any write). The small-files answer for a table
    * fed by streaming appends; pair with `vacuum` to reclaim fragments.
    * Skipping metadata SURVIVES: the rewrite re-collects stats and bloom
    * sidecars for every column the table tracked — compaction must never
    * trade small-files for lost pruning. */
  def compact(spark: SparkSession, table: String, targetFiles: Int = 1): Long =
    // routed through the pinned rewrite (smallBytes = ∞ makes every
    // file "small"), NOT through commit(append = false): an overwrite
    // re-publishes its written files after a lost CAS, so a compact
    // losing the race to an interleaved delete/update/merge would
    // re-publish STALE content and silently undo it (found by
    // DmlFuzzSpec). compactSmall recomputes the whole rewrite per try.
    compactSmall(spark, table, smallBytes = Long.MaxValue,
      targetFiles = targetFiles, checkpoint = true)

  /** `REORG TABLE … APPLY (PURGE)` — Delta's DV purge: rewrite ONLY the
    * files an applicable merge-on-read delete touches (equality deletes
    * gate every older file; positional vectors name exactly theirs, so
    * the candidate set narrows to those), materializing the subtraction
    * and letting dead delete entries fall out of the log. A full
    * OPTIMIZE rewrites the table; PURGE's I/O is bounded by the delete
    * blast radius — on a 100 TB table with one hot partition's vectors
    * that is the difference between an hour and a minute of rewrite.
    * The rewrite keeps natural write parallelism (no coalesce). */
  def reorgPurge(spark: SparkSession, table: String): Long =
    compactSmall(spark, table, smallBytes = Long.MaxValue,
      targetFiles = 0, checkpoint = true, purgeOnly = true)

  /** `OPTIMIZE … ZORDER BY (x, y)` — rewrite the snapshot clustered
    * along the Morton curve of the two columns (graft.ops.ZOrder: both
    * dimensions min/max-normalized to the 16-bit lane, range-partition
    * + in-partition sort on the z-value), with skipping stats collected
    * on BOTH columns so subsequent range reads prune files on EITHER
    * dimension (k92's layout, now one statement). An O(table) rewrite
    * by nature — like Delta's ZORDER — scheduled off-peak; live
    * merge-on-read deletes are materialized by the rewrite for free
    * (the clustering read applies them, the overwrite drops them). */
  def zorderBy(spark: SparkSession, table: String, cols: Seq[String],
               targetFiles: Option[Int] = None): Long = {
    val st = latestState(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed version in $table"))
    val schema = st.schema.getOrElse(
      throw new IllegalStateException(s"$table predates the schema log"))
    cols.foreach(c => require(typeAt(schema, c).isDefined,
      s"ZORDER BY column $c is not a column of $table"))
    val n = targetFiles.getOrElse(math.max(1, st.files.size))
    // same pinned-CAS rewrite loop as compact (see there): an overwrite
    // through commit() would re-publish stale data after losing a race
    compactSmall(spark, table, smallBytes = Long.MaxValue, targetFiles = n,
      checkpoint = true,
      transform = Some(df => graft.ops.ZOrder.clusterN(df, cols, n)),
      extraStatsCols = cols, opName = "zorder")
  }

  /** Scoped `OPTIMIZE … WHERE col = value ZORDER BY (…)`: re-cluster
    * ONLY the files whose stats prove containment in the predicate —
    * z-ordering one hot partition of a 100 TB table costs O(that
    * partition), with skipping stats collected on every curve
    * dimension; every other file carries by reference (same containment
    * + partial-rewrite machinery as scoped compaction). */
  def zorderWhere(spark: SparkSession, table: String, cols: Seq[String],
                  column: String, lo: Any, hi: Any,
                  targetFiles: Option[Int] = None): Long = {
    val st = latestState(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed version in $table"))
    val schema = st.schema.getOrElse(
      throw new IllegalStateException(s"$table predates the schema log"))
    cols.foreach(c => require(typeAt(schema, c).isDefined,
      s"ZORDER BY column $c is not a column of $table"))
    val n = targetFiles.getOrElse(math.max(1,
      st.files.count(rangeCovers(st, schema, table, column, lo, hi))))
    compactSmall(spark, table, smallBytes = Long.MaxValue, targetFiles = n,
      checkpoint = true, scope = Some((column, lo, hi)),
      transform = Some(df => graft.ops.ZOrder.clusterN(df, cols, n)),
      extraStatsCols = cols, opName = "zorder")
  }

  /** OPTIMIZE … WHERE's scope: the files StatsPruner.mustMatch proves
    * wholly inside `c` ∈ [lo, hi], with known-zero NULLs. Bounds that
    * do not convert to the column's type refuse. */
  private def rangeCovers(st: State, schema: StructType, table: String,
                          c: String, lo: Any, hi: Any): String => Boolean = {
    val dt = typeAt(schema, c).getOrElse(throw new IllegalArgumentException(
      s"OPTIMIZE WHERE column $c is not a column of $table"))
    val pruner = new StatsPruner(schema, st.stats)
    val (inRange, _) = Scope(c, Seq(lo, hi), range = true).on(dt)
    pruner.envelope(c, inRange).getOrElse(throw new IllegalArgumentException(
      s"cannot convert OPTIMIZE WHERE $c in [$lo, $hi] to $dt"))
    pruner.mustMatch(_, inRange)
  }

  /** PARTIAL compaction — the scale-correct OPTIMIZE: bin-pack only the
    * files smaller than `smallBytes` into `targetFiles` replacements;
    * every file already at healthy size carries forward BY REFERENCE.
    * `compact` above rewrites the whole table — fine for small tables,
    * untenable at 100 TB where the small-file problem is a trickle of
    * streaming commits on top of petabytes of settled data. Cost here
    * is O(small files) data I/O + O(files) size lookups, independent of
    * table bulk. Skipping metadata survives on the packed replacements;
    * same optimistic pinned-CAS commit as merge/deleteRange.
    *
    * `scope` (OPTIMIZE … WHERE col = v | col BETWEEN lo AND hi —
    * Delta's partition-scoped OPTIMIZE): only files whose manifest
    * stats PROVE containment in [lo, hi] (zero nulls — the same
    * containment test replaceWhere uses) are candidates; everything
    * else carries by reference without even a size lookup. Compacting
    * one hot day — or one retention week — of a 100 TB table costs
    * O(that range's files). */
  def compactSmall(spark: SparkSession, table: String, smallBytes: Long,
                   targetFiles: Int = 1, checkpoint: Boolean = false,
                   scope: Option[(String, Any, Any)] = None,
                   transform: Option[DataFrame => DataFrame] = None,
                   extraStatsCols: Seq[String] = Nil,
                   opName: String = "compact",
                   purgeOnly: Boolean = false): Long = {
    val ctx = fc(spark)
    def plan(st0: State): Attempt = {
      val st = st0.present(table)
      val schema = st.schemaOf(table)
      val inScope: String => Boolean = scope match {
        case None => _ => true
        case Some((c, lo, hi)) => rangeCovers(st, schema, table, c, lo, hi)
      }
      // REORG/PURGE: per-vector named-file sets. Equality deletes gate
      // every older file; positional vectors NAME their files — one
      // kilobyte-scale distinct scan per sidecar narrows the rewrite to
      // exactly those (settled files untouched), and lets an exhausted
      // vector (every named file rewritten) drop from the log even
      // while unrelated older files remain under its gate.
      val posNamedByDel: Map[String, Set[String]] =
        if (!purgeOnly) Map.empty
        else st.dels.filter(_.keyCols == PosDelKeyCols).map { d =>
          // the manifest records named files at commit; only legacy or
          // over-limit vectors fall back to scanning the sidecar
          d.file -> (if (d.named.nonEmpty) d.named.toSet
            else spark.read.schema(PosDelSchema)
              .parquet(s"$table/${d.file}")
              .select(PosFileCol).distinct()
              .collect().map(_.getString(0)).toSet)
        }.toMap
      val small =
        if (purgeOnly) {
          val posNamed = posNamedByDel.values.flatten.toSet
          st.files.filter { f =>
            val ds = st.dels.filter(_.version > st.addv.getOrElse(f, 0L))
            ds.exists(_.keyCols != PosDelKeyCols) ||
              (ds.exists(_.keyCols == PosDelKeyCols) && posNamed.contains(f))
          }
        } else st.files.filter(f => inScope(f) &&
          ctx.getFileStatus(new Path(s"$table/$f")).getLen < smallBytes)
      // purge rewrites even a single affected file; packing needs ≥ 2 —
      // unless live deletes must materialize into the rewrite, or a
      // transform (ZORDER) re-clusters rows WITHIN the file
      if (if (purgeOnly) small.isEmpty
          else small.isEmpty ||
            (small.size <= 1 && st.dels.isEmpty && transform.isEmpty))
        return Done(st.version)
      val carried = st.files.filterNot(small.toSet)
      val trackedCols =
        (st.stats.values.flatten.map(_.col).toSet ++ extraStatsCols)
          .toSeq.sorted
      val trackedBlooms = st.bloomCols.toSeq.sorted
      // live equality deletes materialize INTO the packed replacements
      // (they are new files, exempt from every gate); the delete
      // entries stay — they still apply to the carried files
      val source =
        if (st.dels.isEmpty)
          planFiles(spark, table, schema, small, st.pathpart, st.aliases, retired = st.retired, addv = st.addv)
        else delAppliedRead(spark, table, st, small)
      // `transform` (scoped ZORDER) owns its own output layout; plain
      // compaction bin-packs into targetFiles; targetFiles <= 0 keeps
      // the source's natural parallelism (a purge of N files scattered
      // across a 100 TB table must not serialize through one task)
      val packed = transform.fold(
        if (targetFiles > 0) source.coalesce(targetFiles) else source)(
        _(source))
      val (dataDir, newFiles, newStats, newBlooms, newRows) =
        writeData(packed, table, trackedCols, trackedBlooms, st.partCols,
          declared = st.schema)
      // `checkpoint` forces a FULL manifest: a compaction is a natural
      // checkpoint, and the SQL OPTIMIZE spelling uses it so a
      // follow-up VACUUM can reclaim the packed history instead of
      // being pinned by a delta chain. A full manifest drops the delete
      // entries no surviving file is gated by — an exhausted positional
      // vector (every file it names rewritten away) included. A purge
      // also drops the legacy unnamed vectors whose scanned files are
      // all rewritten (their coordinates can match nothing), so it is
      // always a checkpoint. A lost race re-picks against the new
      // snapshot.
      val carriedSet = carried.toSet
      Publish(Change(opName, added = newFiles, stats = newStats,
          blooms = newBlooms, rows = newRows, removed = small.sorted,
          checkpoint = checkpoint || purgeOnly,
          header = h => h.copy(
            pathpart = h.keepsAdopted(small.toSet),
            dels = if (!purgeOnly) h.dels else h.dels.filter(d =>
              d.keyCols != PosDelKeyCols || d.named.nonEmpty ||
                posNamedByDel.getOrElse(d.file, Set.empty).exists(carriedSet)))),
        Seq(dataDir))
    }
    Log.commit(spark, table, opName)(plan)
  }

  /** Drop snapshot manifests older than `latest - keep` and delete data
    * files no RETAINED manifest references (append commits share files
    * across versions, so reclamation is reference-counted, not per-dir).
    * `retainMs`: never touch files/dirs modified within the last
    * `retainMs` ms — set it above the longest in-flight commit so vacuum
    * cannot reap a concurrent writer's not-yet-committed `w=` dir
    * (Delta's retention-window rule; 0 only when no writer is live).
    * The window also retains below-floor MANIFESTS committed within it
    * (plus their chain bases): `RETAIN n HOURS` guarantees time travel
    * over the last n hours of history regardless of the KEEP count —
    * Delta's logRetentionDuration — and makes tagging any version
    * younger than the window race-free against vacuum by construction. */
  def vacuum(spark: SparkSession, table: String, keep: Int = 0,
             retainMs: Long = 0L): Unit = {
    vacuumImpl(spark, table, keep, retainMs, dryRun = false)
    ()
  }

  /** `VACUUM … DRY RUN` — the safety spelling every cautious operator
    * runs first: the table-relative paths a real vacuum with the same
    * arguments would delete right now, WITHOUT deleting anything. Same
    * walk, same retention/reference math, deletions recorded instead of
    * executed. */
  def vacuumDryRun(spark: SparkSession, table: String, keep: Int = 0,
                   retainMs: Long = 0L): Seq[String] =
    vacuumImpl(spark, table, keep, retainMs, dryRun = true)

  private def vacuumImpl(spark: SparkSession, table: String, keep: Int,
                         retainMs: Long, dryRun: Boolean): Seq[String] = {
    val ctx = fc(spark)
    val planned = scala.collection.mutable.ArrayBuffer.empty[String]
    val tabPrefix = new Path(table).toUri.getPath
    def relOf(p: Path): String = {
      val full = p.toUri.getPath
      if (full.startsWith(s"$tabPrefix/")) full.substring(tabPrefix.length + 1)
      else full
    }
    // every reclamation routes through here: a dry run RECORDS the
    // file-level paths; a real run deletes them (recursive dir deletes
    // record their files so dry-run output is file-granular)
    def reap(p: Path, recursive: Boolean): Unit =
      if (!dryRun) { ctx.delete(p, recursive); () }
      else if (!recursive) planned += relOf(p)
      else {
        def walk(q: Path): Unit = {
          val it = ctx.listStatus(q)
          while (it.hasNext) {
            val e = it.next()
            if (e.isDirectory) walk(e.getPath) else planned += relOf(e.getPath)
          }
        }
        walk(p)
      }
    val cutoff = System.currentTimeMillis() - retainMs
    latestVersion(spark, table).foreach { latest =>
      // ground truth from ONE directory listing (vacuum lists the dir
      // for the data sweep anyway): tag pinning makes retention
      // NON-CONTIGUOUS, so the binary-search range of [[versions]]
      // would miss a pinned manifest below the floor — leaving its
      // data unprotected on the next vacuum while still tagged, and
      // the manifest unreapable forever once the tag drops
      val all: Seq[Long] = {
        val ManifestRe = """_v(\d+)\.manifest""".r
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        val it = ctx.listStatus(new Path(table))
        while (it.hasNext) {
          it.next().getPath.getName match {
            case ManifestRe(v) => buf += v.toLong
            case _ => ()
          }
        }
        buf.sorted.toSeq
      }
      // retention extends DOWN from the oldest explicitly-kept version
      // to its full-manifest chain base: a retained delta manifest is
      // unreadable without the checkpoint it hangs off
      def chainBase(v: Long): Long = {
        var f = v
        while (manifestLines(spark, table, f)
                 .exists(_.startsWith(DeltaPrefix))) f -= 1
        f
      }
      val floor = chainBase(all.filter(_ >= latest - keep).min)
      // TAGGED versions pin their whole readable chain [base, v]
      // regardless of retention — the reproducibility contract of
      // [[setTag]]; dropping the tag releases the pin
      val pinned: Set[Long] =
        tags(spark, table).values.toSeq.filter(all.contains)
          .flatMap((v: Long) => chainBase(v) to v).toSet
      // TIME-BASED HISTORY RETENTION (Delta's logRetentionDuration
      // analogue): with a retention window, a below-floor manifest
      // COMMITTED within the window survives — time travel over the
      // last `retainMs` of history is guaranteed no matter how
      // aggressive the KEEP count, and a tag set on any version
      // younger than the window can never race a vacuum at all. Each
      // age-retained manifest pins its chain base exactly like a tag
      // pin (a young delta is unreadable without its checkpoint).
      val agePinned: Set[Long] =
        if (retainMs <= 0L) Set.empty
        else all.filter(v => v < floor &&
            ctx.getFileStatus(new Path(table, manifestName(v)))
              .getModificationTime >= cutoff)
          .flatMap((v: Long) => chainBase(v) to v).toSet
      val (dropped0, retained0) =
        all.partition(v =>
          v < floor && !pinned.contains(v) && !agePinned.contains(v))
      // resolve references BEFORE deleting any manifest — chain reads
      // must never race the drop
      def refsOf(vs: Seq[Long]): Set[String] = vs.flatMap { v =>
        val s = stateOf(spark, table, v)
        // equality-delete files are snapshot state exactly like data
        // files: reclaiming one would corrupt every retained read
        s.files ++ s.dels.map(_.file)
      }.toSet ++
        // change-feed references of RETAINED commits: eager `#cdc=`
        // files, and the superseded data files their lazy `#cdcdel=`
        // delete records still point at — reclaiming either would break
        // readChangeFeed over history vacuum promised to keep
        vs.flatMap { v =>
          manifestLines(spark, table, v).collect {
            case l if l.startsWith(CdcPrefix) => l.stripPrefix(CdcPrefix)
            case l if l.startsWith(CdcDelPrefix) => l.stripPrefix(CdcDelPrefix)
          }
        }
      val referencedEarly0 = refsOf(retained0)
      // LAST-MOMENT tag re-read, immediately before the manifest reap:
      // setTag's post-publish re-validation only closes ITS side of the
      // race — a tag committed after our first tag read passes that
      // existence check while we are still holding a drop list that
      // includes its version. Re-reading here shrinks the window from
      // vacuum-duration (reference resolution reads manifests through
      // Spark) to the gap between this read and the reap loop.
      val freshPinned: Set[Long] =
        tags(spark, table).values.toSeq.filter(all.contains)
          .flatMap((v: Long) => chainBase(v) to v).toSet
      val (rescued, dropped) = dropped0.partition(freshPinned.contains)
      // STAGED commits (write-audit-publish) pin their files: an
      // unpublished stage is an explicit artifact awaiting audit, not
      // a crashed writer's orphan. Publish/abort delete the staged
      // manifest, releasing the pin — published files are then pinned
      // by the chain itself.
      val stagedRefs: Set[String] =
        stagedIds(spark, table).flatMap { id =>
          try stagedLines(spark, table, id)
            .filterNot(_.startsWith("#")).map(parseFileLine(_)._1)
          catch {
            case scala.util.control.NonFatal(e) =>
              // tolerate ONLY a stage resolved (published/aborted)
              // since the listing — its pin is gone. Any other read
              // failure fails the vacuum CLOSED: an unREADABLE pin is
              // still a pin, and dropping it would let the sweep reap
              // a live stage's files
              if (ctx.util.exists(stagedManifestPath(table, id))) throw e
              Nil
          }
        }.toSet
      val referencedEarly = referencedEarly0 ++ refsOf(rescued) ++ stagedRefs
      dropped.foreach(v => reap(new Path(table, manifestName(v)), false))
      // reclamation is FILE-driven, not version-driven: append lineage
      // lets retained manifests reference files in ANY data dir (and an
      // already-dropped manifest's shared files only become unreferenced
      // when the last retainer drops), so sweep every data dir on disk
      // and delete what no surviving manifest references — then
      // whole-dir delete emptied NON-EMPTY dirs (clears _SUCCESS /
      // checksums); dirs with zero parquet files are left alone rather
      // than vacuously matching `forall(unreferenced)`.
      val referenced = referencedEarly
      val dirIt = ctx.listStatus(new Path(table))
      while (dirIt.hasNext) {
        val st = dirIt.next()
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("w=") &&
            (retainMs <= 0L || st.getModificationTime < cutoff)) {
          val files = listParquet(spark, table, n)
          // whole-dir delete also requires no retained CDF reference
          // INTO the dir (change files under `_cdc/` are invisible to
          // listParquet but still readable history)
          if (files.nonEmpty && files.forall(f => !referenced.contains(f)) &&
              !referenced.exists(_.startsWith(s"$n/")))
            reap(st.getPath, true)
          else {
            val doomed = files.filterNot(referenced.contains)
            doomed.foreach(f => reap(new Path(s"$table/$f"), false))
            // orphaned CHANGE files too: a partially-retained dir can
            // hold `_cdc/` files whose commit was dropped — only
            // retained manifests' #cdc/#cdcdel lines pin them
            val cdcDir = new Path(s"$table/$n/_cdc")
            if (ctx.util.exists(cdcDir)) {
              val cdcIt = ctx.listStatus(cdcDir)
              while (cdcIt.hasNext) {
                val e = cdcIt.next()
                val rel = s"$n/_cdc/${e.getPath.getName}"
                if (!e.isDirectory && !referenced.contains(rel))
                  reap(e.getPath, false)
              }
            }
            // orphaned EQUALITY-DELETE files the same way: once no
            // retained manifest's #del line points at them (the delete
            // was materialized and its entry pruned), they reclaim
            val delDir = new Path(s"$table/$n/_del")
            if (ctx.util.exists(delDir)) {
              val delIt = ctx.listStatus(delDir)
              while (delIt.hasNext) {
                val e = delIt.next()
                val rel = s"$n/_del/${e.getPath.getName}"
                if (!e.isDirectory && !referenced.contains(rel))
                  reap(e.getPath, false)
              }
            }
            if (doomed.nonEmpty) {
              // reap the deleted files' bloom sidecars too (named
              // `<file>.bloom.<col>` — they share the file's lifecycle).
              // RECURSIVE: partitioned commits nest value dirs inside
              // the w= dir, and sidecars sit next to their data files.
              // Matched by RELATIVE PATH, not basename: partitioned
              // commits repeat part-0000N names across partition dirs,
              // and a basename match would reap a LIVE sibling's bloom.
              val doomedSet = doomed.toSet
              def sweep(dir: Path): Unit = {
                val entries = ctx.listStatus(dir)
                while (entries.hasNext) {
                  val e = entries.next()
                  if (e.isDirectory) sweep(e.getPath)
                  else {
                    val rel = relOf(e.getPath)
                    val i = rel.indexOf(".bloom.")
                    if (i > 0 && doomedSet.contains(rel.take(i)))
                      reap(e.getPath, false)
                  }
                }
              }
              sweep(st.getPath)
            }
          }
        }
      }
      if (!dryRun) Log.repoint(ctx, table, latest) // keep discovery fresh
    }
    planned.toSeq.sorted
  }
}
