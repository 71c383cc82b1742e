package graft.functions

import org.apache.spark.sql.types._
import org.locationtech.jts.geom.Geometry

/** Geometry-level kernel registry backing the fusion tier
  * (`graft.plans.GeoFusionRule` / `STGeoFused`).
  *
  * Every scalar geometry op in [[GeoUDFs]] is a null-safe lift of a plain
  * JTS kernel: EWKB parse → kernel → EWKB serialize (the per-op cost model
  * the reference accepts, `/root/reference/README.md:44`). For a CHAIN of
  * ops (`st_area(st_buffer(st_union(a, b), d))`) that round trip repeats at
  * every step even though only the chain's inputs and output ever need to
  * be bytes. This registry exposes the kernels themselves, keyed by the
  * ScalaUDF name, so the optimizer can run whole chains on parsed
  * geometries: parse each input once, serialize (at most) once.
  *
  * The kernel functions here are THE SAME function values the UDFs lift —
  * registered by the `f*` helpers in [[GeoUDFs]] at the UDF definition
  * site — so the two tiers cannot drift.
  */
object GeoKernels {

  /** Kernel output kind (drives result conversion + keepSrid). */
  sealed trait Out
  case object OGeom extends Out
  case object ODouble extends Out
  case object OBool extends Out
  case object OInt extends Out
  case object OString extends Out
  /** Raw bytes result (to_wkb output — NOT EWKB-normalized, no srid copy). */
  case object OBinary extends Out
  /** `array<double>` (bounds). */
  case object ODoubleArr extends Out
  /** `array<array<double>>` (coordinates). */
  case object ONestedDoubleArr extends Out
  /** `array<binary>` of EWKB parts (parts / interior_rings). */
  case object OBinaryArr extends Out

  /** One fusable kernel.
    *
    * @param name     ScalaUDF name (`.withName` / SQL registry name)
    * @param arity    number of UDF arguments
    * @param geomArgs argument positions holding EWKB geometry
    * @param out      result kind; [[OGeom]] results get the same
    *                 srid-inheritance as the `uG`/`bG` lifts (copy the first
    *                 geometry argument's SRID when the result has none)
    * @param fn       kernel over parsed args: [[Geometry]] at `geomArgs`
    *                 positions, plain Scala scalars elsewhere
    * @param bytesFn  the same unary, non-geometry-result kernel over the
    *                 unparsed EWKB, exact on curved bytes without
    *                 [[graft.serde.EWKB.read]]'s linearization (the fused
    *                 tier uses it when the argument is a plain input)
    */
  final case class K(name: String, arity: Int, geomArgs: Set[Int], out: Out,
      fn: Array[Any] => Any, bytesFn: Option[Array[Byte] => Any] = None) {
    def dataType: DataType = out match {
      case OGeom => BinaryType
      case ODouble => DoubleType
      case OBool => BooleanType
      case OInt => IntegerType
      case OString => StringType
      case OBinary => BinaryType
      // containsNull mirrors ScalaReflection's schema for the UDF return
      // types (Seq[Double] / Seq[Seq[Double]] / Seq[Array[Byte]]) so the
      // builder's `u.dataType == k.dataType` check matches exactly
      case ODoubleArr => ArrayType(DoubleType, containsNull = false)
      case ONestedDoubleArr =>
        ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = true)
      case OBinaryArr => ArrayType(BinaryType, containsNull = true)
    }
    /** Lowest geometry-argument position (srid-inheritance source). */
    val firstGeomArg: Int = if (geomArgs.isEmpty) -1 else geomArgs.min
  }

  // Catalyst-boxed argument converters for kernel bodies.
  def aG(a: Any): Geometry = a.asInstanceOf[Geometry]
  def aD(a: Any): Double = a.asInstanceOf[Number].doubleValue
  def aI(a: Any): Int = a.asInstanceOf[Number].intValue
  def aB(a: Any): Boolean = a.asInstanceOf[Boolean]
  def aS(a: Any): String = a.toString

  // Array-typed args arrive as Catalyst ArrayData in the fused tier (the
  // ScalaUDF encoder would have converted them to Seq); accept both.
  import org.apache.spark.sql.catalyst.util.ArrayData
  def aDs(a: Any): Seq[Double] = a match {
    case ad: ArrayData => ad.toDoubleArray().toSeq
    case s: scala.collection.Seq[_] => s.map(_.asInstanceOf[Number].doubleValue).toSeq
  }
  def aDss(a: Any): Seq[Seq[Double]] = a match {
    case ad: ArrayData => (0 until ad.numElements()).map(i => aDs(ad.getArray(i)))
    case s: scala.collection.Seq[_] => s.map(aDs).toSeq
  }
  def aDsss(a: Any): Seq[Seq[Seq[Double]]] = a match {
    case ad: ArrayData => (0 until ad.numElements()).map(i => aDss(ad.getArray(i)))
    case s: scala.collection.Seq[_] => s.map(aDss).toSeq
  }

  private val reg = scala.collection.mutable.LinkedHashMap.empty[String, K]

  private[functions] def add(k: K): Unit = reg.synchronized { reg(k.name) = k }

  /** name → kernel. Referencing [[GeoUDFs.all]] forces the UDF object's
    * initialization so every definition-site registration has run before
    * the table is frozen (driver rule-match time and executor eval time
    * both go through here). */
  lazy val table: Map[String, K] = {
    val _ = GeoUDFs.all
    reg.synchronized { reg.toMap }
  }
}
