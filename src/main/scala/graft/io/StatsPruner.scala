package graft.io

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DecimalType, StructType}

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

  /** One filter value normalized against the column's declared type —
    * numbers and temporals to Right(epoch/double), strings on string
    * columns to Left(lexicographic). None = unprunable value. */
  private def value(c: String, v: Any): Option[Either[String, Double]] =
    TxnTable.typeAt(dataSchema, c).flatMap { dt =>
      try Some(TxnTable.boundValue(v, dt))
      catch { case _: IllegalArgumentException => None }
    }

  private def point(e: Either[String, Double]): Bound = e match {
    case Right(d) => Bound("num", lo = d, hi = d)
    case Left(s) => Bound("str", loS = s, hiS = s)
  }
  private def lower(e: Either[String, Double]): Bound = e match {
    case Right(d) => Bound("num", lo = d)
    case Left(s) => Bound("str", loS = s)
  }
  private def upper(e: Either[String, Double]): Bound = e match {
    case Right(d) => Bound("num", hi = d)
    case Left(s) => Bound("str", hiS = s)
  }

  /** Conservative per-column bounds a LEAF filter implies: only shapes
    * whose satisfying rows PROVABLY fall in a single column's range are
    * extracted (equality, one-sided and two-sided ranges, In). Anything
    * else contributes no bound — never wrong, just unpruned. And/Or
    * composition happens in `mayMatch`, not here. Typed: numeric,
    * string, and temporal columns all prune against their manifest
    * stats. */
  private def bounds(f: Filter): Map[String, Bound] = f match {
    case EqualTo(c, v) => value(c, v).map(e => Map(c -> point(e))).getOrElse(Map.empty)
    case GreaterThan(c, v) => value(c, v).map(e => Map(c -> lower(e))).getOrElse(Map.empty)
    case GreaterThanOrEqual(c, v) => value(c, v).map(e => Map(c -> lower(e))).getOrElse(Map.empty)
    case LessThan(c, v) => value(c, v).map(e => Map(c -> upper(e))).getOrElse(Map.empty)
    case LessThanOrEqual(c, v) => value(c, v).map(e => Map(c -> upper(e))).getOrElse(Map.empty)
    case In(c, vs) if vs.nonEmpty =>
      val es = vs.toSeq.map(v => value(c, v))
      if (es.exists(_.isEmpty)) Map.empty
      else es.flatten.foldLeft(Option.empty[Bound]) {
        // In = UNION of points: the enclosing [min, max] envelope
        case (None, e) => Some(point(e))
        case (Some(b), e) => point(e) match {
          case p if p.kind == b.kind && p.kind == "num" =>
            Some(Bound("num", lo = math.min(b.lo, p.lo), hi = math.max(b.hi, p.hi)))
          case p if p.kind == b.kind =>
            Some(Bound("str",
              loS = TxnTable.Utf8Ordering.min(b.loS, p.loS),
              hiS = TxnTable.Utf8Ordering.max(b.hiS, p.hiS)))
          case _ => Some(Bound("conflict"))
        }
      }.map(b => Map(c -> b)).getOrElse(Map.empty)
    case _ => Map.empty
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
    * for a conjunction. None when a value resists normalization or the
    * values' kinds disagree (a number against a string) — no one bound
    * describes them. The bound a key-scoped rewrite's append-rebase
    * proof refutes, and the check that its bounds normalize at all. */
  def envelope(c: String, f: Filter): Option[Bound] = (f match {
    case And(a, b) =>
      def meet(x: String, y: String, pick: (String, String) => String) =
        if (x == null) y else if (y == null) x else pick(x, y)
      for (x <- envelope(c, a); y <- envelope(c, b) if x.kind == y.kind) yield
        Bound(x.kind, lo = math.max(x.lo, y.lo), hi = math.min(x.hi, y.hi),
          loS = meet(x.loS, y.loS, TxnTable.Utf8Ordering.max),
          hiS = meet(x.hiS, y.hiS, TxnTable.Utf8Ordering.min))
    case leaf => bounds(leaf).get(c)
  }).filter(_.kind != "conflict")

  /** Can this filter tree contribute ANY file pruning? Mirrors the
    * leaves mayMatch understands. */
  def prunable(f: Filter): Boolean = f match {
    case And(a, b) => prunable(a) || prunable(b)
    case Or(a, b) => prunable(a) && prunable(b) // Or prunes only if BOTH sides can
    case IsNull(_) | IsNotNull(_) => true
    case StringStartsWith(_, p) => p.nonEmpty
    case leaf => bounds(leaf).nonEmpty
  }

  /** MAY file `f` contain a row matching `filter`? False only on PROOF
    * from the manifest. The recursion makes the pruning compositional:
    * And prunes if either side proves absence, Or only if both sides
    * do (`k < 10 OR k > 100` skips the middle files), IS NULL uses the
    * per-file null counts (zero recorded nulls — a superset of genuine
    * NULLs — proves no NULL row), IS NOT NULL uses the proven all-null
    * stat kind, and LIKE-prefix prunes lexicographically on string
    * stats. Unknown leaves are conservatively true. */
  def mayMatch(f: String, filter: Filter): Boolean = {
    def statOf(c: String) = stats.getOrElse(f, Nil).find(_.col == c)
    filter match {
      case And(a, b) => mayMatch(f, a) && mayMatch(f, b)
      case Or(a, b) => mayMatch(f, a) || mayMatch(f, b)
      case Not(_) => true // min/max cannot refute a negation usefully
      case IsNull(c) => statOf(c).forall(_.nulls != 0L)
      case IsNotNull(c) => !statOf(c).exists(_.kind == "null")
      case StringStartsWith(c, p) if p.nonEmpty =>
        statOf(c) match {
          case Some(s) if s.kind == "str" =>
            // disjoint iff every value is below the prefix, or at/above
            // the next prefix (increment of p's last char) — compared in
            // UTF8 binary order, the order the stats were computed in.
            // The char increment is only an exact successor below the
            // surrogate range; past it, skip the upper test (still
            // sound, just unpruned).
            val below = TxnTable.strLt(s.maxV, p)
            val above = p.last < '\ud7ff' && {
              val next = p.init + (p.last + 1).toChar
              !TxnTable.strLt(s.minV, next)
            }
            !(below || above)
          case Some(s) if s.kind == "null" => false
          case _ => true
        }
      case In(c, vs) if vs.nonEmpty =>
        // per-value check, not the [min,max] envelope of the set: the
        // envelope of IN ('1-URGENT','5-LOW') covers every priority in
        // between and prunes nothing, while "some member may be in the
        // file" skips every file whose range misses all members — the
        // shape runtime filters (DPP In-lists) arrive in
        statOf(c) match {
          case Some(s) =>
            val es = vs.toSeq.map(v => value(c, v))
            es.exists(_.isEmpty) || // an unprunable value: keep the file
              es.flatten.exists(e => s.mayOverlap(point(e)))
          case None => true
        }
      case leaf =>
        val bs = bounds(leaf)
        bs.isEmpty || bs.forall { case (c, b) => statOf(c).forall(_.mayOverlap(b)) }
    }
  }

  /** Does EVERY row of file `f` PROVABLY satisfy `filter`? True only on
    * proof; the basis of exact filter handling (a filter that must-
    * match every chosen file needs no row-level re-check — Spark drops
    * it above the scan, and metadata-only aggregates stay available
    * under it). NULL discipline: value predicates are only exact when
    * the file has a KNOWN-ZERO null count on the column (a NULL row
    * satisfies no value predicate, and it would NOT be re-filtered). */
  def mustMatch(f: String, filter: Filter): Boolean = {
    def statOf(c: String) = stats.getOrElse(f, Nil).find(_.col == c)
    def valued(c: String): Option[FileStat] =
      statOf(c).filter(s => s.kind != "null" && s.nulls == 0L)
    // Numeric stats are NORMALIZED doubles: from 2^53 on two distinct
    // longs collapse to one double, and an equality/range proof on the
    // rounded values would be a false claim about the true ones (the
    // rows would NOT be re-filtered). Exactness is only asserted below
    // 2^53, where every long is its own double (rounding is monotone,
    // so a long at or past 2^53 never normalizes below it); pruning
    // (mayMatch) never needed this — over-approximation there is safe.
    def exactish(x: Double): Boolean = math.abs(x) < 9.007199254740992e15 // 2^53
    // A decimal column is its doubles only when whole and at most 15
    // digits wide; a decimal filter value only when its double is
    // exactly it (1.000000000000000001 normalizes to 1.0).
    def exactCol(c: String): Boolean = TxnTable.typeAt(dataSchema, c).forall {
      case d: DecimalType => d.scale == 0 && d.precision <= 15
      case _ => true
    }
    def exactVal(v: Any, d: Double): Boolean = v match {
      case b: java.math.BigDecimal => b.compareTo(new java.math.BigDecimal(d)) == 0
      case b: BigDecimal => b.bigDecimal.compareTo(new java.math.BigDecimal(d)) == 0
      case _ => true
    }
    def exactNum(c: String, v: Any, d: Double, s: FileStat): Boolean =
      s.kind == "num" && exactCol(c) && exactish(d) && exactVal(v, d) &&
        exactish(s.min) && exactish(s.max)
    def cmp(c: String, v: Any)(
        num: (FileStat, Double) => Boolean,
        str: (FileStat, String) => Boolean): Boolean =
      valued(c).exists(s => value(c, v).exists {
        case Right(d) => exactNum(c, v, d, s) && num(s, d)
        case Left(x) => s.kind == "str" && str(s, x)
      })
    filter match {
      case And(a, b) => mustMatch(f, a) && mustMatch(f, b)
      // all rows satisfy a, or all satisfy b ⇒ all satisfy (a OR b) —
      // sufficient, not necessary: conservative toward residual
      case Or(a, b) => mustMatch(f, a) || mustMatch(f, b)
      case IsNotNull(c) => valued(c).isDefined
      case IsNull(c) => statOf(c).exists(_.kind == "null")
      case EqualTo(c, v) if v != null =>
        cmp(c, v)((s, d) => s.min == d && s.max == d,
          (s, x) => s.minV == x && s.maxV == x)
      case GreaterThan(c, v) if v != null =>
        cmp(c, v)((s, d) => s.min > d, (s, x) => TxnTable.strLt(x, s.minV))
      case GreaterThanOrEqual(c, v) if v != null =>
        cmp(c, v)((s, d) => s.min >= d, (s, x) => !TxnTable.strLt(s.minV, x))
      case LessThan(c, v) if v != null =>
        cmp(c, v)((s, d) => s.max < d, (s, x) => TxnTable.strLt(s.maxV, x))
      case LessThanOrEqual(c, v) if v != null =>
        cmp(c, v)((s, d) => s.max <= d, (s, x) => !TxnTable.strLt(x, s.maxV))
      case In(c, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        // exact only for a SINGLE-VALUED file whose value is in the set
        // (the [min,max] envelope of a set has gaps — containment in
        // the envelope proves nothing)
        valued(c).exists(s =>
          s.minV == s.maxV && vs.exists(v => value(c, v).exists {
            case Right(d) => exactNum(c, v, d, s) && s.min == d
            case Left(x) => s.kind == "str" && s.minV == x
          }))
      case _ => false
    }
  }
}
