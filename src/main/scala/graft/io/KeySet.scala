package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A frame's key column as one Spark job saw it: the non-null key
  * count, the keys' min/max (null when there is no key) and, when at
  * most the probe key limit of them exist and the type's `IN` equality
  * is its join equality, the distinct non-null keys — all Catalyst
  * values of the key's type `keyDt`. */
private[io] final case class KeySet(count: Long, keyDt: DataType, lo: Any, hi: Any,
                                    keys: Option[Seq[Any]]) {

  /** The keys' range as a stats bound on a column of type `dt`. */
  def bound(dt: DataType): Option[TxnTable.Bound] =
    if (dt == keyDt) Some(TxnTable.Bound(dt, Option(lo), Option(hi)))
    else TxnTable.boundOf(Option(lo).map(Literal(_, keyDt)),
      Option(hi).map(Literal(_, keyDt)), dt)
}

private[graft] object KeySet {

  /** Distinct keys at or below which a key probe filters its scan with
    * a STATIC `IN (...)` list instead of joining the key frame: the
    * incremental-dedup signature probes (bucket pruning + stats + per-file
    * blooms skip signature files at PLAN time — a dynamic runtime filter
    * never fires there, the broadcast side carries no selective predicate
    * for DPP to derive from) and `TxnTable.merge` (its touched-file probe
    * and rewrite filter on the literal keys, so neither joins). The
    * bounded driver sync is ≤ limit+1 keys per partition; a key set past
    * the limit touches every bucket anyway and takes the join. */
  private[graft] def probeKeyLimit(spark: SparkSession): Int =
    spark.conf.getOption("graft.dedup.probeKeyLimit")
      .map(_.toInt).getOrElse(1024)

  /** Does `c IN (literals)` select exactly the rows the equi-join on a
    * `dt` key matches? Float/double keys do not qualify (NaN and -0.0
    * compare differently), nor binary, complex or collated-string keys. */
  def literalEquality(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _: DecimalType | DateType | TimestampType | TimestampNTZType |
         BooleanType => true
    case s: StringType =>
      s.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
    case _ => false
  }

  /** `c IN (keys)` with literals of the column's own type, so no cast
    * wraps the column and parquet pushdown still applies. */
  def isIn(c: String, dt: DataType, keys: Seq[Any]): Column =
    col(c).isin(keys.map(k =>
      org.apache.spark.sql.GraftBridge.column(Literal(k, dt))): _*)

  /** One job over `df`'s `keyCol`: each partition counts its non-null
    * keys, keeps their min/max under Spark's own min/max ordering
    * (`PhysicalDataType.ordering`, as the write-task stats do) and
    * gathers its distinct keys CAPPED at `limit` — past the cap it
    * drops the set and only counts. Keys are gathered only for a
    * [[literalEquality]] type. */
  private[io] def gather(df: DataFrame, keyCol: String, limit: Int): KeySet = {
    val keyDt = df.schema(keyCol).dataType
    val gatherKeys = literalEquality(keyDt)
    val parts = df.select(col(keyCol)).queryExecution.toRdd.mapPartitions { it =>
      val ord = PhysicalDataType.ordering(keyDt)
      def own(v: Any): Any = v match {
        case s: UTF8String => s.clone()
        case x => x
      }
      var n = 0L
      var lo: Any = null
      var hi: Any = null
      var over = !gatherKeys
      val s = new java.util.HashSet[Any]()
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) {
          n += 1
          // strings point into the reused input row: copy on keep
          val v = r.get(0, keyDt)
          if (lo == null || ord.lt(v, lo)) lo = own(v)
          if (hi == null || ord.gt(v, hi)) hi = own(v)
          if (!over) {
            s.add(own(v))
            if (s.size > limit) { s.clear(); over = true }
          }
        }
      }
      Iterator.single((n, lo, hi, if (over) None else Some(s.toArray)))
    }.collect()
    val ord = PhysicalDataType.ordering(keyDt)
    def pick(vs: Seq[Any], better: (Any, Any) => Boolean): Any =
      vs.filter(_ != null).reduceOption((a, b) => if (better(b, a)) b else a).orNull
    val keys =
      if (parts.exists(_._4.isEmpty)) None
      else Some(parts.iterator.flatMap(_._4.get).toSet.toSeq)
        .filter(_.size <= limit)
    KeySet(parts.iterator.map(_._1).sum, keyDt,
      pick(parts.map(_._2).toSeq, ord.lt), pick(parts.map(_._3).toSeq, ord.gt),
      keys)
  }
}
