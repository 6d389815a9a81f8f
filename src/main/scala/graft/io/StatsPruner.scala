package graft.io

import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import TxnTable.{Bound, FileStat}

/** Manifest-stats file pruning for a pushed-filter set — the ONE
  * implementation every file-skipping decision consults: the batch scan
  * builder (GraftScanBuilder) and its runtime filters, the streaming
  * source (GraftMicroBatchStream), and every TxnTable path that chooses
  * or proves files — point and range reads, the key-scoped deletes and
  * replaces, OPTIMIZE … WHERE, and the V1 read's keep-callback — the
  * last ones through `TxnTable.chooseFiles`, which adds bucket and
  * bloom pruning on `eqConstraints`. A filtered stream, a DSv2 scan and
  * a `readEquals` therefore skip exactly the same files, and a delete
  * drops a file unread only on `mustMatch`'s proof.
  *
  * Three verdicts per (file, filter), all decided from the manifest:
  *   - `mayMatch`   false only on PROOF the file holds no matching row
  *                  (file skipping — conservative toward scanning)
  *   - `mustMatch`  true only on PROOF EVERY row of the file matches
  *                  (exact filter handling: such a filter needs no
  *                  row-level re-evaluation over the chosen files — the
  *                  partition-filter shape, since partitioned files are
  *                  single-valued on their partition columns)
  *   - `prunable`   can the filter contribute any pruning at all
  */
private[io] final class StatsPruner(
    dataSchema: StructType, stats: Map[String, Seq[FileStat]]) {

  private def statOf(f: String, c: String): Option[FileStat] =
    stats.getOrElse(f, Nil).find(_.col == c)

  /** Filter value `v` as a one-point bound of column `c`'s type; None
    * when it does not convert exactly (`TxnTable.boundValue`) — such a
    * value prunes nothing and proves nothing. */
  private def point(c: String, v: Any): Option[Bound] =
    TxnTable.typeAt(dataSchema, c).flatMap(dt =>
      TxnTable.boundValue(v, dt).map(x => Bound(dt, Some(x), Some(x))))

  /** The smallest bound holding both (`None` endpoints are unbounded). */
  private def hull(a: Bound, b: Bound): Bound =
    Bound(a.dt, for (x <- a.lo; y <- b.lo) yield a.ordering.min(x, y),
      for (x <- a.hi; y <- b.hi) yield a.ordering.max(x, y))

  /** Conservative one-column bound a LEAF filter implies: only shapes
    * whose satisfying rows PROVABLY fall in a single column's range are
    * extracted (equality, one-sided ranges, In — strict comparisons
    * widened to inclusive). Anything else contributes no bound — never
    * wrong, just unpruned. And/Or composition happens in `mayMatch`,
    * not here. */
  private def bound(f: Filter): Option[(String, Bound)] = f match {
    case EqualTo(c, v) => point(c, v).map(c -> _)
    case GreaterThan(c, v) => point(c, v).map(b => c -> b.copy(hi = None))
    case GreaterThanOrEqual(c, v) => point(c, v).map(b => c -> b.copy(hi = None))
    case LessThan(c, v) => point(c, v).map(b => c -> b.copy(lo = None))
    case LessThanOrEqual(c, v) => point(c, v).map(b => c -> b.copy(lo = None))
    case In(c, vs) if vs.nonEmpty =>
      // In = UNION of points: the enclosing [min, max] envelope
      val ps = vs.toSeq.map(point(c, _))
      if (ps.contains(None)) None else Some(c -> ps.flatten.reduce(hull))
    case _ => None
  }

  /** Equality constraints a filter implies, one entry per conjunct:
    * `k === x` yields (k, [x]); `k IN (…)` yields (k, values); an OR of
    * equalities on the SAME column folds into one value set (`k = a OR
    * k = b` ≡ `k IN (a, b)`) — a file survives if ANY value might be
    * present. A disjunction across different columns yields nothing (a
    * bloom probe on one side could wrongly veto the other). Applied
    * AFTER min/max pruning as an independent bloom probe per
    * constraint. */
  def eqConstraints(f: Filter): Seq[(String, Seq[Any])] = f match {
    case EqualTo(c, v) if v != null => Seq(c -> Seq(v))
    case In(c, vs) if vs.nonEmpty => Seq(c -> vs.toSeq)
    case And(a, b) => eqConstraints(a) ++ eqConstraints(b)
    case Or(a, b) =>
      (eqConstraints(a), eqConstraints(b)) match {
        case (Seq((c1, v1)), Seq((c2, v2))) if c1 == c2 => Seq(c1 -> (v1 ++ v2))
        case _ => Nil
      }
    case _ => Nil
  }

  /** The one-column envelope `f` implies on `c`: a point for EqualTo,
    * the [min, max] hull of the points for In, the meet of both sides
    * for a conjunction. None when a value does not convert to the
    * column's type. The bound a key-scoped rewrite's append-rebase
    * proof refutes. */
  def envelope(c: String, f: Filter): Option[Bound] = f match {
    case And(a, b) =>
      for (x <- envelope(c, a); y <- envelope(c, b)) yield
        Bound(x.dt, (x.lo ++ y.lo).reduceOption(x.ordering.max[Any]),
          (x.hi ++ y.hi).reduceOption(x.ordering.min[Any]))
    case leaf => bound(leaf).collect { case (`c`, b) => b }
  }

  /** Can this filter tree contribute ANY file pruning? Mirrors the
    * leaves mayMatch understands. */
  def prunable(f: Filter): Boolean = f match {
    case And(a, b) => prunable(a) || prunable(b)
    case Or(a, b) => prunable(a) && prunable(b) // Or prunes only if BOTH sides can
    case IsNull(_) | IsNotNull(_) => true
    case StringStartsWith(_, p) => p.nonEmpty
    case leaf => bound(leaf).isDefined
  }

  /** MAY file `f` contain a row matching `filter`? False only on PROOF
    * from the manifest. The recursion makes the pruning compositional:
    * And prunes if either side proves absence, Or only if both sides
    * do (`k < 10 OR k > 100` skips the middle files), IS NULL uses the
    * per-file null counts (zero recorded nulls proves no NULL row), IS
    * NOT NULL uses the proven all-null stat kind, and LIKE-prefix
    * prunes on string stats. Unknown leaves are conservatively true. */
  def mayMatch(f: String, filter: Filter): Boolean = filter match {
    case And(a, b) => mayMatch(f, a) && mayMatch(f, b)
    case Or(a, b) => mayMatch(f, a) || mayMatch(f, b)
    case Not(_) => true // min/max cannot refute a negation usefully
    case IsNull(c) => statOf(f, c).forall(_.nulls != 0L)
    case IsNotNull(c) => !statOf(f, c).exists(_.kind == "null")
    case StringStartsWith(c, p) if p.nonEmpty =>
      // disjoint iff every value is below the prefix, or at/above the
      // next prefix (increment of p's last char) — in UTF-8 binary
      // order, the order the stats were computed in. The char
      // increment is only an exact successor below the surrogate
      // range; past it, skip the upper test (still sound, unpruned).
      val ord = PhysicalDataType.ordering(StringType)
      def utf8(s: String) = UTF8String.fromString(s)
      statOf(f, c).forall(s => s.kind != "null" &&
        s.bounds(StringType).forall { case (mn, mx) =>
          val below = ord.lt(mx, utf8(p))
          val above = p.last < '\ud7ff' &&
            !ord.lt(mn, utf8(p.init + (p.last + 1).toChar))
          !(below || above)
        })
    case In(c, vs) if vs.nonEmpty =>
      // per-value check, not the [min,max] envelope of the set: the
      // envelope of IN ('1-URGENT','5-LOW') covers every priority in
      // between and prunes nothing, while "some member may be in the
      // file" skips every file whose range misses all members — the
      // shape runtime filters (DPP In-lists) arrive in. A value that
      // does not convert keeps the file.
      statOf(f, c).forall { s =>
        val ps = vs.toSeq.map(point(c, _))
        ps.contains(None) || ps.flatten.exists(s.mayOverlap)
      }
    case leaf =>
      bound(leaf).forall { case (c, b) => statOf(f, c).forall(_.mayOverlap(b)) }
  }

  /** Does EVERY row of file `f` PROVABLY satisfy `filter`? True only on
    * proof; the basis of exact filter handling (a filter that must-
    * match every chosen file needs no row-level re-check — Spark drops
    * it above the scan, and metadata-only aggregates stay available
    * under it). NULL discipline: value predicates are only exact when
    * the file has a KNOWN-ZERO null count on the column (a NULL row
    * satisfies no value predicate, and it would NOT be re-filtered). */
  def mustMatch(f: String, filter: Filter): Boolean = {
    // `p(ordering, min, max, value)` over the file's exact bounds
    def holds(c: String, v: Any)(
        p: (Ordering[Any], Any, Any, Any) => Boolean): Boolean = (for {
      s <- statOf(f, c) if s.nulls == 0L
      b <- point(c, v)
      (mn, mx) <- s.bounds(b.dt)
    } yield p(b.ordering, mn, mx, b.lo.get)).contains(true)
    filter match {
      case And(a, b) => mustMatch(f, a) && mustMatch(f, b)
      // all rows satisfy a, or all satisfy b ⇒ all satisfy (a OR b) —
      // sufficient, not necessary: conservative toward residual
      case Or(a, b) => mustMatch(f, a) || mustMatch(f, b)
      case IsNotNull(c) => statOf(f, c).exists(s => s.kind != "null" && s.nulls == 0L)
      case IsNull(c) => statOf(f, c).exists(_.kind == "null")
      case EqualTo(c, v) => holds(c, v)((o, mn, mx, x) => o.equiv(mn, x) && o.equiv(mx, x))
      case GreaterThan(c, v) => holds(c, v)((o, mn, _, x) => o.gt(mn, x))
      case GreaterThanOrEqual(c, v) => holds(c, v)((o, mn, _, x) => o.gteq(mn, x))
      case LessThan(c, v) => holds(c, v)((o, _, mx, x) => o.lt(mx, x))
      case LessThanOrEqual(c, v) => holds(c, v)((o, _, mx, x) => o.lteq(mx, x))
      // exact only for a SINGLE-VALUED file whose value is in the set
      // (the [min,max] envelope of a set has gaps — containment in the
      // envelope proves nothing)
      case In(c, vs) =>
        vs.exists(v => holds(c, v)((o, mn, mx, x) => o.equiv(mn, mx) && o.equiv(mn, x)))
      case _ => false
    }
  }
}
