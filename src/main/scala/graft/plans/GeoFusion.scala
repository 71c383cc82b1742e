package graft.plans

import graft.functions.GeoKernels
import graft.serde.EWKB
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry

/** Geometry-chain fusion (the first perf lever named in BASELINE.md).
  *
  * Both the reference and the UDF tier pay a parse→compute→serialize round
  * trip PER OP (`/root/reference/README.md:44` accepts this cost). For a
  * chain like `st_area(st_intersection(a, st_buffer(b, d)))` that is three
  * parses and two serializes more than necessary. [[GeoFusionRule]] rewrites
  * such chains in Project lists into one [[STGeoFused]] expression holding a
  * small geometry program: each distinct input is parsed once, interior
  * results stay JTS [[Geometry]] objects, and only a geometry-typed root is
  * serialized back to EWKB.
  *
  * Semantics match the unfused chain by construction on non-null rows:
  * the program nodes invoke the SAME kernel function values the ScalaUDFs
  * lift (see [[GeoKernels]]), null short-circuits like the `uG`/`bG`
  * lifts (any null argument → null result), and geometry-returning calls
  * inherit the first geometry argument's SRID the way `keepSrid` does. The
  * EWKB round trip this skips is lossless (doubles are bit-preserved; the
  * writer's Z/M canonicalization keys on NaN ordinates, which the kernels
  * propagate identically).
  *
  * Two DOCUMENTED null-row divergences (both in the fused path's favor,
  * neither reachable from the oracle queries): (1) a null NON-geometry
  * scalar argument (e.g. a null precision-mode string) null-propagates
  * here, while the unfused ScalaUDF passes it into a kernel that may
  * throw; (2) once an argument is null, sibling subtrees of the same call
  * are not evaluated, so an error a dead subtree would have raised in the
  * eager unfused plan is skipped — the same liberty Catalyst's own
  * conditional short-circuits take.
  *
  * The Column API's hot ops build a one-call program, which the rule
  * re-fuses like a ScalaUDF call ([[GeoCall]] matches both shapes).
  *
  * Scope guard: spatial-predicate roots of Filter conjuncts, and join
  * conditions, keep their single-call shape so [[BboxFilterRule]] and
  * [[SpatialJoinStrategy]] still recognize spatial predicates. Disable per
  * session with `spark.graft.fuse=false`.
  */
sealed trait GProg extends Serializable
object GProg {
  /** Child `idx` is BinaryType EWKB: parse once per row. */
  final case class Load(idx: Int) extends GProg
  /** Child `idx` is a scalar: pass through (UTF8String → String). */
  final case class Scalar(idx: Int) extends GProg
  /** Apply kernel `name` from [[GeoKernels.table]]. */
  final case class Call(name: String, args: Seq[GProg]) extends GProg
  /** Null-guard wrapper: Spark wraps primitive-arg UDF calls over nullable
    * inputs as `if (isnull(a) OR ...) null else udf(knownnotnull(a), ...)`.
    * Child `predIdx` is the boolean guard; when it evaluates to
    * `thenNull == true`'s branch the result is null, otherwise `inner`
    * runs. Mirrors `If` semantics (null predicate → else branch). */
  final case class Guard(predIdx: Int, thenNull: Boolean, inner: GProg) extends GProg
  /** EWKB-parse of a raw-bytes subtree result: inserted when a kernel whose
    * output is plain bytes (OBinary, e.g. st_aswkb) feeds a geometry
    * argument — the unfused tier parses at exactly that boundary. */
  final case class Parse(inner: GProg) extends GProg

  /** Does this program node yield a parsed [[org.locationtech.jts.geom.Geometry]]
    * (vs raw bytes / a scalar)? */
  def yieldsGeometry(p: GProg, table: Map[String, graft.functions.GeoKernels.K]): Boolean =
    p match {
      case Load(_) => true
      case Parse(_) => true
      case Scalar(_) => false
      case Guard(_, _, inner) => yieldsGeometry(inner, table)
      case Call(n, _) => table(n).out == graft.functions.GeoKernels.OGeom
    }
}

/** One fused geometry chain. `children` are the chain's external inputs
  * (geometry columns, scalar args); `program` references them by index.
  * `dataType` is the root kernel's output type (matches the expression the
  * chain replaced). */
case class STGeoFused(program: GProg, dataType: DataType, children: Seq[Expression])
    extends Expression {

  override def nullable: Boolean = true
  override def foldable: Boolean = false

  /** The root kernel's name for a call program (error messages and
    * generated column names read `st_area(g)`), else `st_geo_fused`. */
  override def prettyName: String = program match {
    case GProg.Call(name, _) => name
    case _ => "st_geo_fused"
  }

  /** Every geometry input (a [[GProg.Load]] child) must be EWKB bytes: a
    * double column passed as a geometry fails analysis naming the
    * function, not with a ClassCastException at run time. */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def loads(p: GProg): Seq[Int] = p match {
      case GProg.Load(i) => Seq(i)
      case GProg.Scalar(_) => Nil
      case GProg.Call(_, as) => as.flatMap(loads)
      case GProg.Guard(_, _, inner) => loads(inner)
      case GProg.Parse(inner) => loads(inner)
    }
    NativeTypeCheck.binary(prettyName, loads(program).distinct.map(children): _*)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): STGeoFused = copy(children = newChildren)

  /** Count of kernel calls (plan-readability: shows in explain output). */
  private lazy val nKernels: Int = {
    def count(p: GProg): Int = p match {
      case GProg.Call(_, as) => 1 + as.map(count).sum
      case GProg.Guard(_, _, inner) => count(inner)
      case GProg.Parse(inner) => count(inner)
      case _ => 0
    }
    count(program)
  }

  override def toString: String = s"st_geo_fused($nKernels ops, ${children.mkString(", ")})"

  override def eval(input: InternalRow): Any = {
    val n = children.length
    val args = new Array[Any](n)
    var i = 0
    while (i < n) { args(i) = children(i).eval(input); i += 1 }
    run(args)
  }

  /** Program compiled to a closure tree once per (deserialized) instance:
    * kernels resolved from [[GeoKernels.table]] at compile time, not per
    * row, and constant subtrees (literal geometry parses, constant
    * construct/transform chains) evaluated once — a per-row
    * `st_geomfromtext(lit)` WKT parse becomes a compile-time constant.
    * Expression instances are task-confined (each task deserializes its
    * own taskBinary), so the lazy init races at most with the driver's
    * constant-folding eval — both produce the same value. */
  @transient private lazy val runner: Array[Any] => Any = {
    val constVals = children.map { c =>
      if (c.foldable) Some(c.eval(InternalRow.empty)) else None
    }.toArray
    GeoFusion.compile(program, constVals)
  }

  /** Evaluate the program over already-evaluated child values (Catalyst
    * representations). Also the entry point for generated code. */
  def run(args: Array[Any]): Any =
    runner(args) match {
      case null => null
      case g: Geometry => g.getUserData match {
        // linearization of a curved geometry (GeoUDFs.curvedSrc contract):
        // emit the curved source bytes, the same representation the
        // unfused bytes-level branches preserve
        case src: Array[Byte] => src
        case _ => EWKB.write(g)
      }
      case s: String => UTF8String.fromString(s)
      case s: scala.collection.Seq[_] => GeoFusion.toCatalystArray(s)
      case other => other
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("geoFused", this, classOf[STGeoFused].getName)
    val argsTerm = ctx.freshName("fusedArgs")
    val resTerm = ctx.freshName("fusedRes")
    val childCodes = children.map(_.genCode(ctx))
    val setArgs = childCodes.zipWithIndex.map { case (c, i) =>
      // Janino has no autoboxing: primitives must box via Type.valueOf
      val boxed =
        if (CodeGenerator.isPrimitiveType(children(i).dataType))
          s"${CodeGenerator.boxedType(children(i).dataType)}.valueOf(${c.value})"
        else s"(Object) ${c.value}"
      s"""${c.code}
         |if (${c.isNull}) { $argsTerm[$i] = null; } else { $argsTerm[$i] = $boxed; }""".stripMargin
    }.mkString("\n")
    val javaT = CodeGenerator.javaType(dataType)
    val boxedT = CodeGenerator.boxedType(dataType)
    // explicit unboxing: Janino does not auto-unbox in assignments/ternaries
    val extract = dataType match {
      case DoubleType => s"(($boxedT) $resTerm).doubleValue()"
      case BooleanType => s"(($boxedT) $resTerm).booleanValue()"
      case IntegerType => s"(($boxedT) $resTerm).intValue()"
      case _ => s"(($javaT) $resTerm)" // byte[], UTF8String
    }
    ev.copy(code = code"""
      Object[] $argsTerm = new Object[${children.length}];
      $setArgs
      Object $resTerm = $ref.run($argsTerm);
      boolean ${ev.isNull} = $resTerm == null;
      $javaT ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        ${ev.value} = $extract;
      }""")
  }
}

/** One geometry-kernel call in either expression shape: a named geometry
  * ScalaUDF (the SQL surface) or a one-call [[STGeoFused]] (the Column
  * API). Yields (kernel name, arguments in kernel order) — the single
  * pattern [[BboxFilterRule]], [[SpatialJoinStrategy]] and
  * [[GeoFusionRule]] match spatial predicates and fusable calls on. */
object GeoCall {
  def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
    case u: ScalaUDF if u.udfName.exists(GeoKernels.table.contains) =>
      Some((u.udfName.get, u.children))
    case f: STGeoFused => f.program match {
      case GProg.Call(name, args) =>
        val idx = args.collect { case GProg.Load(i) => i; case GProg.Scalar(i) => i }
        if (idx.length == args.length) Some((name, idx.map(f.children))) else None
      case _ => None
    }
    case _ => None
  }
}

object GeoFusion {

  /** Scala collection result (array-output kernels: bounds, coordinates,
    * parts, interior_rings) → Catalyst [[ArrayData]], recursively. The
    * element conversions mirror what the UDF tier's encoder produces, so
    * fused and unfused plans emit equal values. */
  private[plans] def toCatalystArray(s: scala.collection.Seq[_])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val converted = s.map {
      case null => null
      case inner: scala.collection.Seq[_] => toCatalystArray(inner)
      case str: String => UTF8String.fromString(str)
      case x => x
    }.toArray[Any]
    new org.apache.spark.sql.catalyst.util.GenericArrayData(converted)
  }

  /** Replicate the one lossy step of the EWKB round trip the fused chain
    * skips: WKB has no LinearRing type code — [[EWKB.write]] emits rings as
    * LineString (type 2), so an unfused chain's next kernel always sees a
    * LineString. Kernels CAN return live LinearRing objects (exterior_ring,
    * boundary of a single-ring polygon, cast) at the root or as direct
    * elements of a MultiLineString/GeometryCollection; convert those the
    * way a write→read would. No-op (no allocation) when nothing needs it. */
  private[graft] def canonical(g: Geometry): Geometry = g match {
    case r: org.locationtech.jts.geom.LinearRing =>
      val ls = r.getFactory.createLineString(r.getCoordinateSequence)
      ls.setSRID(r.getSRID)
      ls
    case m: org.locationtech.jts.geom.MultiLineString =>
      var changed = false
      val parts = Array.tabulate(m.getNumGeometries) { i =>
        val c = m.getGeometryN(i)
        val cc = canonical(c)
        if (cc ne c) changed = true
        cc.asInstanceOf[org.locationtech.jts.geom.LineString]
      }
      if (!changed) m
      else {
        val out = m.getFactory.createMultiLineString(parts)
        out.setSRID(m.getSRID)
        out
      }
    case gc: org.locationtech.jts.geom.GeometryCollection
        if gc.getClass == classOf[org.locationtech.jts.geom.GeometryCollection] =>
      var changed = false
      val parts = Array.tabulate(gc.getNumGeometries) { i =>
        val c = gc.getGeometryN(i)
        val cc = canonical(c)
        if (cc ne c) changed = true
        cc
      }
      if (!changed) gc
      else {
        val out = gc.getFactory.createGeometryCollection(parts)
        out.setSRID(gc.getSRID)
        out
      }
    case other => other
  }

  /** Node evaluator: (child values, per-row parse memo) → value. */
  private type Ev = (Array[Any], Array[Geometry]) => Any

  import org.locationtech.jts.geom.GeometryCollection
  import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

  private type PF = (PreparedGeometry, Geometry) => Boolean

  /** Binary predicates with a [[PreparedGeometry]] fast path when one
    * operand is constant: name → (prepared call when the constant is arg 0,
    * prepared call when it is arg 1). Orientation matters — JTS only
    * accelerates intersects/contains/containsProperly/covers on the
    * PREPARED side, so asymmetric predicates are listed only for the
    * orientation that maps onto an accelerated call (`a within b` ≡
    * `prep(b) contains a`, `a covered_by b` ≡ `prep(b) covers a`). */
  private val PreparedPreds: Map[String, (Option[PF], Option[PF])] = Map(
    "st_intersects" -> (Some((p, g) => p.intersects(g)), Some((p, g) => p.intersects(g))),
    "st_contains" -> (Some((p, g) => p.contains(g)), None),
    "st_contains_properly" -> (Some((p, g) => p.containsProperly(g)), None),
    "st_covers" -> (Some((p, g) => p.covers(g)), None),
    "st_within" -> (None, Some((p, g) => p.contains(g))),
    "st_covered_by" -> (None, Some((p, g) => p.covers(g))))

  /** Pure GeometryCollection (not Multi*): prepared predicates reject it,
    * RelateNG handles it — such operands keep the base kernel. */
  private def isPureGC(g: Geometry): Boolean =
    g.getClass == classOf[GeometryCollection]

  /** When `name` is a prepared-capable predicate and exactly one geometry
    * operand is a constant, return a kernel body that probes the constant's
    * [[PreparedGeometry]] (built once at compile time) instead of running
    * the full RelateNG per row. Same results: prepared predicates and
    * RelateNG agree on valid inputs, the kernels' empty→false convention is
    * replicated, and GeometryCollection operands (where the two engines
    * differ in SUPPORT, not answers) fall back to the base kernel. */
  private def preparedKernel(name: String, k: GeoKernels.K,
      compiled: Seq[(Ev, Boolean)]): Option[Array[Any] => Any] = {
    if (!PreparedPreds.contains(name) || k.geomArgs != Set(0, 1)) return None
    val (at0, at1) = PreparedPreds(name)
    val constIdx =
      if (compiled(0)._2 && !compiled(1)._2 && at0.isDefined) 0
      else if (compiled(1)._2 && !compiled(0)._2 && at1.isDefined) 1
      else return None
    val pf = (if (constIdx == 0) at0 else at1).get
    val cv = compiled(constIdx)._1(null, null)
    if (cv == null) return None // never invoked (null args short-circuit)
    val g = cv.asInstanceOf[Geometry]
    if (g.isEmpty) return Some(_ => false) // kernel convention: empty → false
    if (isPureGC(g)) return None
    val prep = PreparedGeometryFactory.prepare(g)
    val otherIdx = 1 - constIdx
    val base = k.fn
    Some { vals =>
      val o = vals(otherIdx).asInstanceOf[Geometry]
      if (o.isEmpty) false
      else if (isPureGC(o)) base(vals)
      else pf(prep, o)
    }
  }

  /** Compile a program to a closure tree. Kernel lookups, arg positions,
    * and srid-inheritance decisions happen here, once; the per-row path is
    * closure calls plus the kernel work itself. Subtrees whose leaves are
    * all foldable children (`constVals(i)` defined) are evaluated HERE and
    * become constant closures — kernels are deterministic and treat inputs
    * as read-only, so sharing one result object across rows is safe (the
    * EWKB parse cache already relies on the same invariant). */
  private[plans] def compile(prog: GProg,
      constVals: Array[Option[Any]]): Array[Any] => Any = {
    // (evaluator, isConstant)
    def comp(p: GProg): (Ev, Boolean) = p match {
      case GProg.Load(i) =>
        constVals(i) match {
          case Some(cv) =>
            val g = if (cv == null) null else EWKB.read(cv.asInstanceOf[Array[Byte]])
            ((_, _) => g, true)
          case None =>
            ((args, parsed) => {
              val v = args(i)
              if (v == null) null
              else {
                var g = parsed(i)
                if (g == null) { g = EWKB.read(v.asInstanceOf[Array[Byte]]); parsed(i) = g }
                g
              }
            }, false)
        }
      case GProg.Scalar(i) =>
        def conv(v: Any): Any = v match {
          case u: UTF8String => u.toString
          case x => x
        }
        constVals(i) match {
          case Some(cv) =>
            val c = conv(cv)
            ((_, _) => c, true)
          case None => ((args, _) => conv(args(i)), false)
        }
      case GProg.Parse(inner) =>
        val (ic, innerConst) = comp(inner)
        val ev: Ev = (args, parsed) => {
          val v = ic(args, parsed)
          if (v == null) null else EWKB.read(v.asInstanceOf[Array[Byte]])
        }
        if (innerConst) {
          val r = ev(null, null)
          (((_, _) => r), true)
        } else (ev, false)
      case GProg.Guard(pi, thenNull, inner) =>
        val (ic, innerConst) = comp(inner)
        // If(pred, null, inner) / If(pred, inner, null): null predicate
        // takes the else branch, like Catalyst If
        constVals(pi) match {
          case Some(cv) =>
            val isTrue = cv == java.lang.Boolean.TRUE
            if (isTrue == thenNull) (((_, _) => null), true) else (ic, innerConst)
          case None =>
            (((args, parsed) => {
              val isTrue = args(pi) == java.lang.Boolean.TRUE
              if (isTrue == thenNull) null else ic(args, parsed)
            }), false)
        }
      case GProg.Call(name, Seq(GProg.Load(i)))
          if GeoKernels.table(name).bytesFn.isDefined && constVals(i).isEmpty =>
        // the kernel's bytes-level entry: no parse, so curved input skips
        // the linearization (and the parse cache) it does not need
        val f = GeoKernels.table(name).bytesFn.get
        (((args, _) => {
          val v = args(i)
          if (v == null) null else f(v.asInstanceOf[Array[Byte]])
        }), false)
      case GProg.Call(name, cargs) =>
        val k = GeoKernels.table(name)
        val compiled = cargs.map(comp)
        val acs = compiled.map(_._1).toArray
        val n = acs.length
        val inheritSrid = k.out == GeoKernels.OGeom && k.firstGeomArg >= 0
        val fga = k.firstGeomArg
        val fn = preparedKernel(name, k, compiled).getOrElse(k.fn)
        val ev: Ev = (args, parsed) => {
          val vals = new Array[Any](n)
          var j = 0
          var isNull = false
          while (j < n && !isNull) {
            val v = acs(j)(args, parsed)
            if (v == null) isNull = true else vals(j) = v
            j += 1
          }
          if (isNull) null
          else {
            val r = fn(vals)
            if (r == null) null
            else if (k.out == GeoKernels.OGeom) {
              val g = canonical(r.asInstanceOf[Geometry])
              if (inheritSrid) {
                // keepSrid semantics of the uG/bG lifts
                val in = vals(fga).asInstanceOf[Geometry]
                if (g.getSRID == 0 && in.getSRID != 0) g.setSRID(in.getSRID)
              }
              g
            } else r
          }
        }
        if (compiled.forall(_._2)) {
          // all-constant subtree: run the kernel once now
          val r = ev(null, null)
          (((_, _) => r), true)
        } else (ev, false)
    }
    val (root, _) = comp(prog)
    // per-row parse memo: a child referenced by several Load nodes (after
    // semantic dedup) is parsed once
    args => root(args, new Array[Geometry](constVals.length))
  }
}

/** Optimizer rule: fuse chains of registered geometry ops inside Project
  * lists, Aggregate expression lists, and non-spatial Filter conjuncts.
  * Fires only when a rewrite removes at least one interior EWKB round trip
  * (≥ 2 kernels, or a splice into an already-fused child).
  *
  * Filter guard: conjuncts whose ROOT is a spatial predicate are left
  * completely untouched (root and argument chains) — [[BboxFilterRule]]
  * derives covering-column conjuncts from exactly that shape, and a
  * filter that later becomes a join condition must stay recognizable to
  * [[SpatialJoinStrategy]]. Join conditions themselves are never visited. */
object GeoFusionRule extends Rule[LogicalPlan] with PredicateHelper {

  private val MinKernels = 2

  /** Predicates whose conjunct shape other rules pattern-match. */
  private val SpatialPredNames = Set(
    "st_intersects", "st_contains", "st_within", "st_covers", "st_covered_by",
    "st_overlaps", "st_crosses", "st_touches", "st_equals",
    "st_contains_properly", "st_dwithin")

  private def isSpatialPredRoot(e: Expression): Boolean = e match {
    case GeoCall(name, _) => SpatialPredNames.contains(name)
    case _ => false
  }

  /** A node the fusion builder can absorb into a chain. Must cover every
    * case `build()` handles — an absorbable node missing here escapes
    * [[sharedSubtrees]]'s repeat counting and gets RE-RUN once per fused
    * chain instead of once per row. */
  private def isFusableNode(e: Expression): Boolean = e match {
    case GeoCall(_, _) | _: STGeoFused => true
    case _ => false
  }

  /** Fusable subtrees occurring ≥ 2 times across `exprs` (canonicalized).
    * Inlining such a subtree into every chain that uses it would RE-RUN it
    * per chain, while the unfused plan computes it once via whole-stage
    * codegen's cross-expression subexpression elimination. The fusion
    * builder therefore treats these as chain boundaries: the shared node
    * stays a plain child expression (codegen CSE evaluates it once per
    * row), and each chain parses its bytes once — interior round trips are
    * still elided within every chain. */
  private def sharedSubtrees(exprs: Seq[Expression]): Expression => Boolean = {
    val counts = scala.collection.mutable.HashMap.empty[Expression, Int]
    exprs.foreach(_.foreach { e =>
      if (isFusableNode(e)) {
        val k = e.canonicalized
        counts(k) = counts.getOrElse(k, 0) + 1
      }
    })
    val shared = counts.collect { case (k, n) if n >= 2 => k }.toSet
    if (shared.isEmpty) (_: Expression) => false
    else (e: Expression) => shared.contains(e.canonicalized)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.fuse", "true").toBoolean) plan
    else plan transform {
      case p: Project =>
        val shared = sharedSubtrees(p.projectList)
        val fused = p.projectList.map(fuseNamed(_, shared))
        if (fused.zip(p.projectList).forall { case (a, b) => a eq b }) p
        else p.copy(projectList = fused)
      case a: Aggregate =>
        val shared = sharedSubtrees(a.groupingExpressions ++ a.aggregateExpressions)
        val groups = a.groupingExpressions.map(fuseExpr(_, shared))
        val aggs = a.aggregateExpressions.map(fuseNamed(_, shared))
        if (groups.zip(a.groupingExpressions).forall { case (x, y) => x eq y } &&
            aggs.zip(a.aggregateExpressions).forall { case (x, y) => x eq y }) a
        else a.copy(groupingExpressions = groups, aggregateExpressions = aggs)
      case f: Filter =>
        val conjuncts = splitConjunctivePredicates(f.condition)
        val shared = sharedSubtrees(conjuncts)
        val fused = conjuncts.map(c => if (isSpatialPredRoot(c)) c else fuseExpr(c, shared))
        if (fused.zip(conjuncts).forall { case (x, y) => x eq y }) f
        else f.copy(condition = fused.reduce(And))
      case w: Window =>
        val shared = sharedSubtrees(w.windowExpressions)
        val fused = w.windowExpressions.map(fuseNamed(_, shared))
        if (fused.zip(w.windowExpressions).forall { case (x, y) => x eq y }) w
        else w.copy(windowExpressions = fused)
    }

  private def fuseNamed(ne: NamedExpression, shared: Expression => Boolean): NamedExpression =
    fuseExpr(ne, shared).asInstanceOf[NamedExpression]

  // a fused root is visited too: a one-call root re-fuses into a longer
  // chain, a multi-call one builds nothing and stays as it is
  private def fuseExpr(e0: Expression, shared: Expression => Boolean): Expression =
    e0.transformDown { case e => tryFuse(e, shared).getOrElse(e) }

  /** Attempt to fuse the tree rooted at `e`. Returns Some only when the
    * rewrite spans enough kernels to pay. */
  private def tryFuse(e: Expression, shared: Expression => Boolean): Option[STGeoFused] = {
    val childBuf = scala.collection.mutable.ArrayBuffer.empty[Expression]
    var kernels = 0
    var spliced = false

    def addChild(c: Expression): Int = {
      val i = if (c.deterministic) childBuf.indexWhere(_.semanticEquals(c)) else -1
      if (i >= 0) i
      else { childBuf += c; childBuf.length - 1 }
    }

    /** Bytes-output subtrees (OBinary kernels like st_aswkb) feeding a
      * geometry argument get an explicit [[GProg.Parse]] — the unfused
      * tier's consumer parses at exactly that boundary. */
    def asGeom(p: GProg): GProg =
      if (GProg.yieldsGeometry(p, GeoKernels.table)) p else GProg.Parse(p)

    def geomArg(c: Expression): GProg =
      // shared-subtree boundary: leave `c` a plain child so codegen CSE
      // computes it once across every chain (and column) that uses it.
      // Constant chains (no attribute references) are exempt — inlined,
      // the runner folds them once per task, cheaper than per-row CSE.
      if (shared(c) && c.references.nonEmpty) GProg.Load(addChild(c))
      else build(c).map(asGeom).getOrElse {
      c match {
        case f: STGeoFused if f.dataType == BinaryType =>
          // splice an already-fused geometry subtree (appears after
          // CollapseProject merges a fused lower Project into this one)
          spliced = true
          val mapping = f.children.map(addChild)
          def remap(p: GProg): GProg = p match {
            case GProg.Load(i) => GProg.Load(mapping(i))
            case GProg.Scalar(i) => GProg.Scalar(mapping(i))
            case GProg.Call(n, as) => GProg.Call(n, as.map(remap))
            case GProg.Guard(i, t, in) => GProg.Guard(mapping(i), t, remap(in))
            case GProg.Parse(in) => GProg.Parse(remap(in))
          }
          asGeom(remap(f.program))
        case _ => GProg.Load(addChild(c))
      }
    }

    def call(name: String, k: GeoKernels.K, args: Seq[Expression]): GProg = {
      kernels += 1
      GProg.Call(name, args.zipWithIndex.map { case (c, i) =>
        if (k.geomArgs.contains(i)) geomArg(c) else GProg.Scalar(addChild(c))
      })
    }

    def build(x: Expression): Option[GProg] = x match {
      case u: ScalaUDF if !u.udfDeterministic => None
      case GeoCall(name, args) =>
        val k = GeoKernels.table(name)
        if (args.length == k.arity && x.dataType == k.dataType) Some(call(name, k, args))
        else None
      // Spark's null-guard around primitive-arg UDF calls on nullable
      // inputs: `if (isnull(a) OR ...) null else udf(knownnotnull(a), ...)`
      // — fuse through it so guarded constructors join the chain
      case If(pred, Literal(v, _), inner) if v == null =>
        build(inner).map(ip => GProg.Guard(addChild(pred), true, ip))
      case If(pred, inner, Literal(v, _)) if v == null =>
        build(inner).map(ip => GProg.Guard(addChild(pred), false, ip))
      case _ => None
    }

    build(e) match {
      case Some(prog) if kernels >= MinKernels || (spliced && kernels >= 1) =>
        Some(STGeoFused(prog, e.dataType, childBuf.toSeq))
      case _ => None
    }
  }
}
