package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, MutableProjection}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.unsafe.types.UTF8String

/** One written file's commit metadata, aggregated by the write task
  * that wrote it. Per stats expression: min/max as their stat text
  * (`TxnTable.statText`; null when the file holds no non-null value)
  * and the NULL count.
  * Per bloom expression: the bitset and its non-null input count. */
private[io] final case class FileAgg(
    rows: Long,
    mins: Array[String],
    maxs: Array[String],
    nulls: Array[Long],
    blooms: Array[Array[Byte]],
    bloomRows: Array[Long])

private[io] final case class TaskFileAggs(files: Seq[(String, FileAgg)])
    extends WriteTaskStats

/** Collects per-file row counts, min/max/null stats and bloom bitsets
  * INSIDE the parquet write tasks, so a commit's data write is one
  * Spark job with no read-back. `stats` are the stats columns and
  * `blooms` the `xxhash64(col)`-when-non-null
  * expressions, both bound to the written data row. Min/max compare
  * with Spark's own `PhysicalDataType.ordering` — the ordering its
  * `min`/`max` aggregates use — keeping the first of equal values.
  *
  * Files are keyed by their path below the task attempt dir, which is
  * the path relative to `base` (the output dir) after the job commit:
  * never by basename, because a partitioned task writes the same
  * `part-N` name into several partition dirs. The driver reads the
  * result from [[files]] after the write returns. */
private[io] final class WriteStatsTracker(
    base: String,
    stats: Seq[Expression],
    blooms: Seq[Expression],
    bloomBits: Int,
    bloomHashes: Int) extends WriteJobStatsTracker {

  @transient private var collected: Map[String, FileAgg] = Map.empty

  /** Output-relative file → its aggregates, once the write returned. */
  def files: Map[String, FileAgg] = collected

  override def newTaskInstance(): WriteTaskStatsTracker = new Task

  override def processStats(perTask: Seq[WriteTaskStats],
                            jobCommitTime: Long): Unit =
    collected = perTask.flatMap { case t: TaskFileAggs => t.files }.toMap

  /** `<base>/_temporary/<app>/_temporary/attempt_…/<rel>` (or
    * `<base>/<rel>` for a committer that writes in place) → `<rel>`. */
  private def relOf(path: String): String = {
    val p = new Path(path).toUri.getPath
    require(p.startsWith(base + "/"),
      s"write task file $path is outside the output dir $base")
    val rest = p.substring(base.length + 1)
    if (!rest.startsWith("_temporary/")) rest
    else {
      val segs = rest.split('/')
      val i = segs.indexWhere(_.startsWith("attempt_"))
      require(i >= 0 && i < segs.length - 1,
        s"write task file $path has no task attempt dir")
      segs.drop(i + 1).mkString("/")
    }
  }

  private final class Acc(nStats: Int, nBlooms: Int) {
    var rows = 0L
    val mins = new Array[Any](nStats)
    val maxs = new Array[Any](nStats)
    val nulls = new Array[Long](nStats)
    val bits: Array[Array[Byte]] = Array.fill(nBlooms)(new Array[Byte](bloomBits / 8))
    val bloomRows = new Array[Long](nBlooms)
    def result: FileAgg = FileAgg(rows,
      mins.map(v => if (v == null) null else TxnTable.statText(v)),
      maxs.map(v => if (v == null) null else TxnTable.statText(v)),
      nulls, bits, bloomRows)
  }

  private final class Task extends WriteTaskStatsTracker {
    private val nStats = stats.size
    private val nBlooms = blooms.size
    private val proj: Option[MutableProjection] =
      if (nStats + nBlooms == 0) None
      else Some(MutableProjection.create(stats ++ blooms))
    private val types = stats.map(_.dataType).toArray
    private val orderings = types.map(PhysicalDataType.ordering)
    private val accs = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
    private val byPath = scala.collection.mutable.HashMap.empty[String, Acc]
    private var lastPath: String = null
    private var last: Acc = null

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      val acc = new Acc(nStats, nBlooms)
      accs(relOf(filePath)) = acc
      byPath(filePath) = acc
    }

    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (!(filePath eq lastPath)) { last = byPath(filePath); lastPath = filePath }
      val acc = last
      acc.rows += 1L
      proj.foreach { p =>
        val r = p(row)
        var i = 0
        while (i < nStats) {
          if (r.isNullAt(i)) acc.nulls(i) += 1L
          else {
            val v = r.get(i, types(i))
            val ord = orderings(i)
            // strings point into the reused input row: copy on keep
            if (acc.mins(i) == null || ord.lt(v, acc.mins(i))) acc.mins(i) = own(v)
            if (acc.maxs(i) == null || ord.gt(v, acc.maxs(i))) acc.maxs(i) = own(v)
          }
          i += 1
        }
        var j = 0
        while (j < nBlooms) {
          if (!r.isNullAt(nStats + j)) {
            Bloom.add(acc.bits(j), bloomBits, bloomHashes, r.getLong(nStats + j))
            acc.bloomRows(j) += 1L
          }
          j += 1
        }
      }
    }

    private def own(v: Any): Any = v match {
      case s: UTF8String => s.clone()
      case x => x
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFileAggs(accs.iterator.map { case (k, a) => k -> a.result }.toSeq)
  }
}
