package graft.io

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, StartsWith}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import TxnTable.FileStat

/** Soundness of the file-skipping verdicts, checked without a Spark
  * job: for one file's values of every stats type, the `FileStat` the
  * write-side codec records must never let `mayMatch` skip a file that
  * holds a matching row, nor `mustMatch` claim a row that does not
  * match — each leaf judged per row by Spark's interpreted predicate,
  * under UTC and under America/Los_Angeles. */
class StatsPrunerPropertySpec extends AnyFunSuite {

  private def oneOf[A](edges: Seq[A], any: Gen[A]): Gen[A] =
    Gen.frequency(3 -> Gen.oneOf(edges), 2 -> any)

  // 2024-03-10T10:00Z: the spring-forward hour in Los Angeles
  private val dst = 1710064800000000L
  private val micros: Gen[Any] = oneOf(
    Seq(0L, -1L, 1L, dst, dst - 3600000000L, dst + 1L, 1704067200000000L,
      1730624400000000L), // 2024-11-03T09:00Z: the fall-back hour
    Gen.choose(-62135596800000000L, 253402300799999999L)) // years 1-9999
  private def decimal(s: String) =
    Decimal(BigDecimal(s), 38, 18)

  /** Catalyst values per stats type. */
  private val types: Seq[(DataType, Gen[Any])] = Seq(
    BooleanType -> Gen.oneOf(true, false),
    ByteType -> oneOf(Seq(Byte.MinValue, Byte.MaxValue, 0.toByte),
      Gen.choose(Byte.MinValue, Byte.MaxValue)),
    ShortType -> oneOf(Seq(Short.MinValue, Short.MaxValue, 0.toShort),
      Gen.choose(Short.MinValue, Short.MaxValue)),
    IntegerType -> oneOf(Seq(Int.MinValue, Int.MaxValue, 0, -1, 1),
      Gen.choose(Int.MinValue, Int.MaxValue)),
    LongType -> oneOf(Seq(Long.MinValue, Long.MaxValue, 0L, 1L << 53,
      (1L << 53) + 1L, 1L << 60, (1L << 60) + 1L), Gen.choose(-1000L, 1000L)),
    DecimalType(38, 18) -> oneOf(Seq("0", "1", "-1", "1.000000000000000001",
      "0.000000000000000001", "99999999999999999999.999999999999999999")
        .map(decimal),
      Gen.choose(-1000000000L, 1000000000L).map(n => decimal(s"${BigDecimal(n, 6)}"))),
    FloatType -> oneOf(Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, 0.1f, Float.MaxValue, Float.MinPositiveValue),
      Gen.choose(-100.0f, 100.0f)),
    DoubleType -> oneOf(Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.1, 9.007199254740993e15, Double.MinPositiveValue),
      Gen.choose(-100.0, 100.0)),
    DateType -> oneOf(Seq(0, -1, 19723, 19792, 19793, 20030),
      Gen.choose(-719162, 2932896)), // years 1-9999
    TimestampType -> micros,
    TimestampNTZType -> micros,
    StringType -> Gen.listOfN(3, Gen.oneOf("", "a", "b", "ab", "\uD83D\uDE00",
      "\uE000", "\uFFFF", "z")).map(p => UTF8String.fromString(p.mkString)))

  /** The stat the write path records for `rows`: min/max under the
    * type's ordering, keeping the first of equal values, as its text. */
  private def statOf(rows: Seq[Option[Any]], dt: DataType): Option[FileStat] = {
    val vs = rows.flatten
    val nulls = rows.count(_.isEmpty).toLong
    if (vs.isEmpty) Option.when(nulls > 0L)(FileStat("c", "null", "", "", nulls))
    else {
      val o = PhysicalDataType.ordering(dt)
      val mn = vs.reduce((a, b) => if (o.lt(b, a)) b else a)
      val mx = vs.reduce((a, b) => if (o.gt(b, a)) b else a)
      Some(FileStat("c", TxnTable.statKind(dt).get, TxnTable.statText(mn),
        TxnTable.statText(mx), nulls))
    }
  }

  /** Leaves over query values `q1`, `q2`: the pushed filter and the
    * row predicate Spark evaluates for it. Temporal columns also get
    * the values' string forms, which Spark casts to the column's type. */
  private def leaves(dt: DataType, q1: Any, q2: Any, zone: String)
      : Seq[(sources.Filter, Expression)] = {
    val ref = BoundReference(0, dt, nullable = true)
    def ext(v: Any) = CatalystTypeConverters.convertToScala(v, dt)
    def forms(v: Any): Seq[(Any, Expression)] =
      (ext(v), Literal(v, dt)) +: (dt match {
        case DateType | TimestampType | TimestampNTZType =>
          val s = Cast(Literal(v, dt), StringType, Some(zone)).eval().toString
          Seq((s, Cast(Literal(s), dt, Some(zone))))
        case _ => Nil
      })
    val ranged = forms(q1).flatMap { case (v, e) => Seq(
      sources.EqualTo("c", v) -> EqualTo(ref, e),
      sources.LessThan("c", v) -> LessThan(ref, e),
      sources.LessThanOrEqual("c", v) -> LessThanOrEqual(ref, e),
      sources.GreaterThan("c", v) -> GreaterThan(ref, e),
      sources.GreaterThanOrEqual("c", v) -> GreaterThanOrEqual(ref, e))
    }
    val prefix = dt match {
      case StringType =>
        val p = q1.toString
        Seq(sources.StringStartsWith("c", p) ->
          StartsWith(ref, Literal(UTF8String.fromString(p))))
      case _ => Nil
    }
    ranged ++ prefix ++ Seq(
      sources.In("c", Array(ext(q1), ext(q2))) ->
        In(ref, Seq(Literal(q1, dt), Literal(q2, dt))),
      sources.IsNull("c") -> IsNull(ref),
      sources.IsNotNull("c") -> IsNotNull(ref))
  }

  private def sound(dt: DataType, gen: Gen[Any], zone: String): Prop =
    Prop.forAll(Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(1 -> Gen.const(None), 5 -> gen.map(Some(_))))),
      gen, gen) { (rows, q1, q2) =>
      val schema = StructType(Seq(StructField("c", dt)))
      val stats = statOf(rows, dt).map(s => Map("f" -> Seq(s))).getOrElse(Map.empty)
      val pruner = new StatsPruner(schema, stats)
      leaves(dt, q1, q2, zone).forall { case (filter, pred) =>
        val hits = rows.map(v => pred.eval(InternalRow(v.orNull)) == true)
        val may = pruner.mayMatch("f", filter)
        val must = pruner.mustMatch("f", filter)
        val ok = (may || !hits.contains(true)) && (!must || !hits.contains(false))
        if (!ok) println(s"[unsound] $dt $zone $filter rows=$rows " +
          s"stats=$stats may=$may must=$must hits=$hits")
        ok
      }
    }

  for (zone <- Seq("UTC", "America/Los_Angeles"); (dt, gen) <- types) {
    test(s"mayMatch and mustMatch are sound on $dt under $zone") {
      val conf = new SQLConf
      conf.setConfString(SQLConf.SESSION_LOCAL_TIMEZONE.key, zone)
      val result = SQLConf.withExistingConf(conf) {
        assert(SQLConf.get.sessionLocalTimeZone == zone)
        Test.check(Test.Parameters.default.withMinSuccessfulTests(300),
          sound(dt, gen, zone))
      }
      assert(result.passed, result.status)
    }
  }
}
