package graft.sources.v2

import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference, UserDefinedScalarFunc}
import org.apache.spark.sql.connector.expressions.filter.{And => V2And, Not => V2Not, Or => V2Or, Predicate => V2Predicate}
import org.apache.spark.sql.types._
import graft.core.{ArraySchema, RangeAlgebra, TypedValue}
import graft.core.RangeAlgebra.{DimConstraint, Interval}

/** V2-predicate translation + evaluation — the Spark analog of the
  * reference's `cond_push` machinery (P2–P6):
  *
  *  - dims: comparisons/IN become [[DimConstraint]] ranges used for
  *    fragment pruning (subarray analog) [ha_mytile.cc:2509–2781]
  *  - attrs: accepted predicates are evaluated row-by-row in the reader
  *    (QueryCondition analog) [mytile-range.cc:1430–1482]
  *  - anything not understood is rejected → Catalyst keeps it as a
  *    post-scan filter (the reference's "return remainder" contract)
  */
object PredicateSupport {

  /** A predicate we accepted: it prunes fragments and files, masks
    * rows as a delete tombstone, and filters dense fill cells. */
  sealed trait Pred extends Serializable {
    def eval(get: String => Any): Boolean
    /** Column names this predicate reads (reader must materialize them
      * even when the projection pruned them away). */
    def refs: Set[String] = this match {
      case Cmp(_, c, _) => Set(c)
      case InSet(c, _) => Set(c)
      case IsNull(c, _) => Set(c)
      case StartsWith(c, _) => Set(c)
      case AndP(l, r) => l.refs ++ r.refs
      case OrP(l, r) => l.refs ++ r.refs
      case NotP(p) => p.refs
      case Approx(p) => p.refs
      case TrueP => Set.empty
    }
  }
  /** Pruning-only wrapper: the wrapped tree is a NECESSARY condition of
    * the original predicate (a candidate superset, e.g. the padded-MBR
    * region of a geometry-column spatial call), not equivalent to it.
    * File pruning and fill-cell evaluation apply as usual — but it must
    * never be CONSUMED ([[provablyTrueOnMbr]] = false), because Spark's
    * residual filter is what restores exactness. */
  case class Approx(p: Pred) extends Pred {
    def eval(get: String => Any): Boolean = p.eval(get)
  }

  /** Does any node of the tree carry the [[Approx]] marker? Contexts
    * that need the predicate to be EXACT — NOT negation, DELETE /
    * OVERWRITE masks — must reject such trees. */
  def containsApprox(p: Pred): Boolean = p match {
    case Approx(_) => true
    case AndP(l, r) => containsApprox(l) || containsApprox(r)
    case OrP(l, r) => containsApprox(l) || containsApprox(r)
    case NotP(q) => containsApprox(q)
    case _ => false
  }
  /** Matches every row (unconditional DELETE / TRUNCATE tombstones). */
  case object TrueP extends Pred {
    def eval(get: String => Any): Boolean = true
  }
  case class StartsWith(col: String, prefix: String) extends Pred {
    def eval(get: String => Any): Boolean = get(col) match {
      case s: String => s.startsWith(prefix)
      case _ => false
    }
  }
  case class Cmp(op: String, col: String, value: Any) extends Pred {
    private val ord = TypedValue.ordering
    def eval(get: String => Any): Boolean = {
      val v = get(col)
      if (v == null) false
      else op match {
        case "=" => ord.compare(v, value) == 0
        case "<>" => ord.compare(v, value) != 0
        case ">" => ord.compare(v, value) > 0
        case ">=" => ord.compare(v, value) >= 0
        case "<" => ord.compare(v, value) < 0
        case "<=" => ord.compare(v, value) <= 0
      }
    }
  }
  case class InSet(col: String, values: Set[Any]) extends Pred {
    def eval(get: String => Any): Boolean = {
      val v = get(col); v != null && values.contains(v)
    }
  }
  case class IsNull(col: String, isNull: Boolean) extends Pred {
    def eval(get: String => Any): Boolean =
      (get(col) == null) == isNull
  }
  case class AndP(l: Pred, r: Pred) extends Pred {
    def eval(get: String => Any): Boolean = l.eval(get) && r.eval(get)
  }
  case class OrP(l: Pred, r: Pred) extends Pred {
    def eval(get: String => Any): Boolean = l.eval(get) || r.eval(get)
  }
  case class NotP(p: Pred) extends Pred {
    def eval(get: String => Any): Boolean = !p.eval(get)
  }

  private def fieldName(e: Expression): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      Some(f.fieldNames.head)
    case _ => None
  }

  private def literal(e: Expression, dt: DataType): Option[Any] = e match {
    // a NULL literal never helps pruning (dim = NULL / IN (…, NULL)
    // match nothing under SQL semantics) and a null point would NPE
    // TypedValue.ordering inside overlapsMbr at planning time — bail
    // to the residual path instead
    case l: Literal[_] if l.value != null =>
      Option(TypedValue.normalize(dt, catalystToScala(l.value, dt)))
    case _ => None
  }

  private def catalystToScala(v: Any, dt: DataType): Any = (v, dt) match {
    case (u: org.apache.spark.unsafe.types.UTF8String, _) => u.toString
    case (d: org.apache.spark.sql.types.Decimal, _) => d.toBigDecimal
    case other => other._1
  }

  /** Spatial-pushdown context from array metadata [the reference reads
    * the same three keys, ha_mytile.cc:2316–2395]: the designated WKB
    * geometry attribute (GEOMETRY_ATTRIBUTE_NAME, default
    * `wkb_geometry`) and the MBR padding (PAD_X/PAD_Y, FULL widths —
    * applied as ±pad/2 per side like the reference,
    * ha_mytile.cc:2431–2434). Pads are Options: ABSENT metadata means
    * the geometry extents are unknown, and the geometry-column rewrite
    * must not fire at all (a zero-pad default would prune/filter away
    * rows whose geometry intersects while its midpoint lies outside
    * the constant MBR). An explicit "0"/"0" is the user asserting
    * point geometries. */
  case class SpatialMeta(geomCol: String = "wkb_geometry",
      padX: Option[Double] = None, padY: Option[Double] = None)
  object SpatialMeta {
    val default: SpatialMeta = SpatialMeta()
    def fromMetadata(meta: Map[String, String]): SpatialMeta = {
      def pad(k: String) = meta.get(k)
        .flatMap(s => scala.util.Try(s.toDouble).toOption)
        .filter(p => p >= 0 && !p.isNaN)
      SpatialMeta(meta.getOrElse("GEOMETRY_ATTRIBUTE_NAME", "wkb_geometry"),
        pad("PAD_X"), pad("PAD_Y"))
    }
  }

  /** Try to convert a V2 predicate into an evaluable [[Pred]].
    * `spatial` is BY-NAME: it usually wraps an array-metadata file
    * read, which only the ST_* geometry-column branch needs — ordinary
    * predicates must not pay planning-time I/O for it. */
  def convert(p: V2Predicate, schema: ArraySchema): Option[Pred] =
    convert(p, schema, SpatialMeta.default)

  def convert(p: V2Predicate, schema: ArraySchema,
      spatial: => SpatialMeta): Option[Pred] = p match {
    case a: V2And =>
      for (l <- convert(a.left(), schema, spatial);
           r <- convert(a.right(), schema, spatial))
        yield AndP(l, r)
    case o: V2Or =>
      for (l <- convert(o.left(), schema, spatial);
           r <- convert(o.right(), schema, spatial))
        yield OrP(l, r)
    // NOT of an Approx tree is UNSOUND (the negation of a necessary
    // condition proves nothing about the original predicate — the
    // in-reader eval would drop rows the original keeps), so a NOT
    // whose child converts with an Approx inside converts to nothing
    case n: V2Not =>
      convert(n.child(), schema, spatial)
        .filterNot(containsApprox).map(NotP)
    case g: V2Predicate =>
      val ch = g.children()
      g.name() match {
        case "ALWAYS_TRUE" => Some(TrueP)
        case "IS_NULL" | "IS_NOT_NULL" if ch.length == 1 =>
          fieldName(ch(0)).filter(schemaHas(schema, _))
            .map(IsNull(_, g.name() == "IS_NULL"))
        case op @ ("=" | "<>" | ">" | ">=" | "<" | "<=") if ch.length == 2 =>
          // column-vs-literal in either order (flip for literal-first)
          (fieldName(ch(0)), fieldName(ch(1))) match {
            case (Some(c), None) if schemaHas(schema, c) &&
              comparableType(schema.dataTypeOf(c)) =>
              literal(ch(1), schema.dataTypeOf(c)).map(Cmp(op, c, _))
            case (None, Some(c)) if schemaHas(schema, c) &&
              comparableType(schema.dataTypeOf(c)) =>
              literal(ch(0), schema.dataTypeOf(c)).map(Cmp(flip(op), c, _))
            case _ => None
          }
        case "IN" if ch.length >= 2 =>
          fieldName(ch(0)).filter(c => schemaHas(schema, c) &&
            comparableType(schema.dataTypeOf(c))).flatMap { c =>
            val dt = schema.dataTypeOf(c)
            val vs = ch.tail.map(literal(_, dt))
            if (vs.forall(_.isDefined)) Some(InSet(c, vs.flatten.toSet))
            else None
          }
        // LIKE 'p%' arrives as STARTS_WITH; on a string dim it becomes
        // the range [p, succ(p)) for pruning (reference builds string
        // ranges the same way, mytile-range.cc:37–133)
        case "STARTS_WITH" if ch.length == 2 =>
          fieldName(ch(0)).filter(c => schemaHas(schema, c) &&
            schema.dataTypeOf(c) == StringType).flatMap { c =>
            literal(ch(1), StringType).collect {
              case p: String => StartsWith(c, p)
            }
          }
        // boolean V2 function calls (the FunctionCatalog surface):
        // constant-geometry ST_* predicates rewrite to dim ranges
        case "BOOLEAN_EXPRESSION" if ch.length == 1 =>
          spatialRewrite(ch(0), schema, spatial)
        case _ => None
      }
    case _ => None
  }

  /** Constant-geometry ST_* calls → dim-range pushdown — the
    * reference's spatial rewrite [ha_mytile.cc:2312–2507; routing of
    * SP_INTERSECTS / SP_EQUALS / SP_OVERLAPS at 2825–2830]. Two shapes:
    *
    *  1. POINT shape — `st_intersects/st_overlaps/st_within/st_equals
    *     (st_point(xcol, ycol), <const wkb>)` (symmetric ops accept
    *     either argument order): the x/y range conjunction over the
    *     constant's MBR. Graft's ST_* functions are MBR-defined
    *     ([[graft.functions.GraftSqlFunctions]]), so this rewrite is
    *     EXACT: the ranges prune fragments/files AND fully replace
    *     row-wise evaluation. `st_equals` of a point against a
    *     non-degenerate constant is universally false, expressed as an
    *     unsatisfiable range → `definitelyEmpty` → zero partitions.
    *
    *  2. GEOMETRY-COLUMN shape — the same predicates over
    *     `st_geomfromwkb(<geometry attribute>)` (the reference's
    *     `GeometryFromWkb(wkb_geometry)` sentinel, its
    *     t/spatial_index.test layout): arrays that store a WKB
    *     geometry ATTRIBUTE alongside `_X`/`_Y` double dims holding
    *     each geometry's MBR midpoint. The rewrite is the constant's
    *     MBR expanded by the PAD_X/PAD_Y metadata (±pad/2 per side —
    *     pad bounds the max geometry extent, so any intersecting
    *     geometry's midpoint falls inside the padded box), wrapped in
    *     [[Approx]]: it prunes and pre-filters, but Spark's residual
    *     row-wise ST_* call decides exactly — safer than the
    *     reference, which consumes the predicate trusting the pad.
    *
    * The constant side may be a binary literal or
    * `st_geomfromwkb(lit)`. */
  private def spatialRewrite(e: Expression, schema: ArraySchema,
      sm: => SpatialMeta): Option[Pred] = e match {
    case f: UserDefinedScalarFunc if f.children().length == 2 =>
      val name = f.name()
      def pointCols(x: Expression): Option[(String, String)] = x match {
        case p: UserDefinedScalarFunc if p.name() == "st_point" &&
            p.children().length == 2 =>
          (fieldName(p.children()(0)), fieldName(p.children()(1))) match {
            case (Some(a), Some(b)) if schemaHas(schema, a) &&
              schemaHas(schema, b) &&
              schema.dataTypeOf(a) == DoubleType &&
              schema.dataTypeOf(b) == DoubleType => Some((a, b))
            case _ => None
          }
        case _ => None
      }
      def constGeom(x: Expression): Option[Array[Byte]] = x match {
        case l: Literal[_] if l.dataType() == BinaryType =>
          Option(l.value).map(_.asInstanceOf[Array[Byte]])
        case w: UserDefinedScalarFunc if w.name() == "st_geomfromwkb" &&
            w.children().length == 1 => constGeom(w.children()(0))
        case _ => None
      }
      def mbrOf(g: Expression): Option[(Double, Double, Double, Double)] =
        constGeom(g).flatMap(wkb =>
          scala.util.Try(graft.functions.Wkb.mbr(wkb)).toOption)
      val args = f.children()

      // shape 1: st_point(xdim, ydim) vs constant — exact
      val pointShaped = name match {
        case "st_intersects" | "st_overlaps" | "st_equals" =>
          // symmetric: point side in either slot
          pointCols(args(0)).map((_, args(1)))
            .orElse(pointCols(args(1)).map((_, args(0))))
        case "st_within" => pointCols(args(0)).map((_, args(1)))
        case _ => None
      }
      val fromPoint = pointShaped.flatMap { case ((xc, yc), g) =>
        mbrOf(g).map { case (x0, y0, x1, y1) =>
          if (name == "st_equals") {
            // point MBR = const MBR needs a degenerate constant; any
            // box constant makes the predicate false everywhere
            if (x0 == x1 && y0 == y1)
              AndP(Cmp("=", xc, x0), Cmp("=", yc, y0))
            else AndP(Cmp(">", xc, x0), Cmp("<", xc, x0))
          } else
            AndP(AndP(Cmp(">=", xc, x0), Cmp("<=", xc, x1)),
              AndP(Cmp(">=", yc, y0), Cmp("<=", yc, y1)))
        }
      }

      // shape 2: st_geomfromwkb(geometry attribute) vs constant —
      // padded candidate region on the _X/_Y dims (Approx)
      def geomColRef(x: Expression): Option[String] = x match {
        case w: UserDefinedScalarFunc if w.name() == "st_geomfromwkb" &&
            w.children().length == 1 =>
          fieldName(w.children()(0)).filter(c => c == sm.geomCol &&
            schemaHas(schema, c) && schema.dataTypeOf(c) == BinaryType)
        case _ => None
      }
      def xyDims: Boolean =
        schema.dimNames.contains("_X") && schema.dimNames.contains("_Y") &&
          schema.dataTypeOf("_X") == DoubleType &&
          schema.dataTypeOf("_Y") == DoubleType
      // BOTH pads must be declared — absent metadata means unknown
      // geometry extents, and an assumed 0 pad would prune rows whose
      // geometry intersects while its midpoint lies outside the box
      lazy val fromGeomCol = (name match {
        case "st_intersects" | "st_overlaps" | "st_equals" =>
          geomColRef(args(0)).map(_ => args(1))
            .orElse(geomColRef(args(1)).map(_ => args(0)))
        case _ => None
      }).filter(_ => xyDims).flatMap(mbrOf).flatMap {
        case (x0, y0, x1, y1) =>
          for (px <- sm.padX; py <- sm.padY) yield
            Approx(AndP(
              AndP(Cmp(">=", "_X", x0 - px / 2.0),
                Cmp("<=", "_X", x1 + px / 2.0)),
              AndP(Cmp(">=", "_Y", y0 - py / 2.0),
                Cmp("<=", "_Y", y1 + py / 2.0))))
      }
      fromPoint.orElse(fromGeomCol)
    case _ => None
  }

  private def flip(op: String): String = op match {
    case ">" => "<"; case ">=" => "<="; case "<" => ">"
    case "<=" => ">="; case other => other
  }

  private def schemaHas(s: ArraySchema, c: String): Boolean =
    s.columnNames.contains(c)

  private[v2] def comparableType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | FloatType | DoubleType | StringType |
         BooleanType => true
    case _ => false
  }

  /** Extract per-dimension constraints from the AND-decomposition of
    * accepted predicates (OR/NOT subtrees contribute nothing — they are
    * still evaluated row-wise, just not used for pruning). */
  def dimConstraints(preds: Seq[Pred], schema: ArraySchema)
      : Map[String, DimConstraint] =
    columnConstraints(preds, schema, schema.dimNames.toSet)

  /** Same extraction for an arbitrary column set — used with ATTRIBUTE
    * columns to skip whole files from their per-file min/max stats
    * (parquet-row-group-style pruning; sound because every extracted
    * leaf is null-rejecting, so non-null min/max bounds decide). */
  def columnConstraints(preds: Seq[Pred], schema: ArraySchema,
      cols: String => Boolean): Map[String, DimConstraint] = {
    val dims: String => Boolean = c => cols(c) &&
      schemaHas(schema, c) && comparableType(schema.dataTypeOf(c))
    def leaves(p: Pred): Seq[Pred] = p match {
      case AndP(l, r) => leaves(l) ++ leaves(r)
      // an Approx tree is a sound NECESSARY condition — its ranges
      // prune correctly; only consumption is forbidden
      case Approx(q) => leaves(q)
      case other => Seq(other)
    }
    preds.flatMap(leaves).foldLeft(Map.empty[String, DimConstraint]) {
      (acc, p) =>
        def upd(c: String, f: DimConstraint => DimConstraint) =
          acc.updated(c, f(acc.getOrElse(c, DimConstraint())))
        p match {
          case Cmp(op, c, v) if dims(c) =>
            val dt = schema.dataTypeOf(c)
            val iv = op match {
              case "=" => Some(Interval.point(v))
              case ">" => Some(Interval.gt(dt, v))
              case ">=" => Some(Interval.ge(v))
              case "<" => Some(Interval.lt(dt, v))
              case "<=" => Some(Interval.le(v))
              case _ => None // <> prunes nothing
            }
            iv.map(i => upd(c, _.and(i))).getOrElse(acc)
          case InSet(c, vs) if dims(c) => upd(c, _.andPoints(vs.toSeq))
          case StartsWith(c, p) if dims(c) && p.nonEmpty =>
            // all strings with prefix p lie in [p, prefixSuccessor(p))
            upd(c, _.and(prefixSuccessor(p) match {
              case Some(s) => Interval(Some(p), Some(s), hiInc = false)
              case None => Interval.ge(p) // p is all U+10FFFF — no upper bound
            }))
          case _ => acc
        }
    }
  }

  /** Can `p` be PROVEN true for every row of a file, from the file's
    * per-dimension MBRs alone? Sound but not complete — used to decide
    * when an accepted dim predicate needs no residual re-evaluation
    * (its truth is decided entirely by file-level pruning), which is
    * what unlocks aggregate pushdown under pushed ranges [ref:
    * group_by_handler aggregates under the pushed subarray,
    * ha_mytile.cc:156–194]. Only dimension columns qualify (dims are
    * non-nullable, so three-valued-logic corner cases cannot arise).
    * `mbr(dim)` returns the file's (min, max) in the storage domain,
    * or None when stats are missing (→ not provable). */
  def provablyTrueOnMbr(p: Pred, schema: ArraySchema,
      mbr: String => Option[(Any, Any)]): Boolean = {
    val dims = schema.dimNames.toSet
    // interval containment of both MBR endpoints implies containment
    // of everything between (intervals are contiguous in the order).
    // String stats carry the same ≤ 32-byte untruncated-insurance gate
    // as the aggregate min/max path: a hypothetically truncated max is
    // a PREFIX that sorts below the true max, which could prove an
    // upper bound the real data violates.
    def within(c: String, i: Interval): Boolean =
      mbr(c).exists { case (mn, mx) =>
        val exact = schema.dataTypeOf(c) match {
          case StringType => Seq(mn, mx).forall {
            case s: String => s.getBytes("UTF-8").length <= 32
            case _ => false
          }
          case _ => true
        }
        exact && i.contains(mn) && i.contains(mx)
      }
    p match {
      case TrueP => true
      // Approx is a candidate superset, NOT equivalent to the original
      // predicate — proving it on the MBR proves nothing about the
      // original, so it can never be consumed
      case Approx(_) => false
      case AndP(l, r) =>
        provablyTrueOnMbr(l, schema, mbr) && provablyTrueOnMbr(r, schema, mbr)
      case OrP(l, r) => // sound: MBR inside one branch's region suffices
        provablyTrueOnMbr(l, schema, mbr) || provablyTrueOnMbr(r, schema, mbr)
      case Cmp(op, c, v) if dims(c) =>
        val dt = schema.dataTypeOf(c)
        op match {
          case "=" => within(c, Interval.point(v))
          case ">" => within(c, Interval.gt(dt, v))
          case ">=" => within(c, Interval.ge(v))
          case "<" => within(c, Interval.lt(dt, v))
          case "<=" => within(c, Interval.le(v))
          case _ => false // <> is not an interval
        }
      case StartsWith(c, pre) if dims(c) && pre.nonEmpty =>
        within(c, prefixSuccessor(pre) match {
          case Some(s) => Interval(Some(pre), Some(s), hiInc = false)
          case None => Interval.ge(pre)
        })
      case InSet(c, vs)
          if dims(c) && TypedValue.isIntegral(schema.dataTypeOf(c)) =>
        // every integer in the MBR span must be listed; span-capped so
        // a huge MBR cannot stall planning
        mbr(c).exists {
          case (mn: Long, mx: Long) =>
            mx - mn >= 0 && mx - mn < 4096 && (mn to mx).forall(vs.contains)
          case _ => false
        }
      case _ => false
    }
  }

  /** Smallest string greater than every string with prefix `p`, in
    * code-point (≡ UTF-8 byte) order: increment the last code point
    * below U+10FFFF, dropping what follows. The increment skips the
    * surrogate range D800–DFFF (no valid string contains those scalar
    * values, so the skipped interval is empty). Operating on code
    * points rather than UTF-16 chars keeps the bound consistent with
    * [[TypedValue.utf8Compare]]. */
  private[graft] def prefixSuccessor(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    val i = cps.lastIndexWhere(_ != Character.MAX_CODE_POINT)
    if (i < 0) None
    else {
      var next = cps(i) + 1
      if (next >= Character.MIN_SURROGATE.toInt &&
          next <= Character.MAX_SURROGATE.toInt) next = 0xE000
      val out = cps.take(i) :+ next
      Some(new String(out, 0, out.length))
    }
  }
}

/** Compact JSON codec for [[PredicateSupport.Pred]] trees so tombstone
  * (delete-condition) predicates persist in fragment manifests and
  * replay identically on read. Values are the storage domain
  * (TypedValue.normalize output: Long / Double / String / Boolean /
  * BigDecimal / bytes), each carried with a one-letter type tag. */
object PredJson {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import com.fasterxml.jackson.databind.node.ObjectNode
  import PredicateSupport._
  import scala.jdk.CollectionConverters._

  private val M = new ObjectMapper()

  def toJson(p: Pred): String = M.writeValueAsString(node(p))
  def fromJson(s: String): Pred = pred(M.readTree(s))

  private def node(p: Pred): ObjectNode = {
    val o = M.createObjectNode()
    p match {
      case Cmp(op, c, v) =>
        o.put("k", "cmp"); o.put("op", op); o.put("c", c)
        o.set[JsonNode]("v", valNode(v))
      case InSet(c, vs) =>
        o.put("k", "in"); o.put("c", c)
        val arr = o.putArray("vs"); vs.toSeq.foreach(v => arr.add(valNode(v)))
      case StartsWith(c, pre) =>
        o.put("k", "sw"); o.put("c", c); o.put("p", pre)
      case IsNull(c, n) =>
        o.put("k", "nul"); o.put("c", c); o.put("n", n)
      case AndP(l, r) =>
        o.put("k", "and")
        o.set[JsonNode]("l", node(l)); o.set[JsonNode]("r", node(r))
      case OrP(l, r) =>
        o.put("k", "or")
        o.set[JsonNode]("l", node(l)); o.set[JsonNode]("r", node(r))
      case NotP(q) => o.put("k", "not"); o.set[JsonNode]("p", node(q))
      case Approx(q) => o.put("k", "ap"); o.set[JsonNode]("p", node(q))
      case TrueP => o.put("k", "true")
    }
    o
  }

  private def valNode(v: Any): ObjectNode = {
    val o = M.createObjectNode()
    v match {
      case l: Long => o.put("t", "l"); o.put("v", l.toString)
      case d: Double => o.put("t", "d"); o.put("v", d.toString)
      case s: String => o.put("t", "s"); o.put("v", s)
      case b: Boolean => o.put("t", "b"); o.put("v", b.toString)
      case bd: BigDecimal =>
        o.put("t", "bd"); o.put("v", bd.bigDecimal.toPlainString)
      case bd: java.math.BigDecimal =>
        o.put("t", "bd"); o.put("v", bd.toPlainString)
      case a: Array[Byte] =>
        o.put("t", "x")
        o.put("v", java.util.Base64.getEncoder.encodeToString(a))
      case other => throw new IllegalArgumentException(
        s"unsupported tombstone literal type: ${other.getClass}")
    }
    o
  }

  private def value(n: JsonNode): Any = n.get("t").asText match {
    case "l" => n.get("v").asText.toLong
    case "d" => n.get("v").asText.toDouble
    case "s" => n.get("v").asText
    case "b" => n.get("v").asText.toBoolean
    case "bd" => BigDecimal(n.get("v").asText)
    case "x" => java.util.Base64.getDecoder.decode(n.get("v").asText)
  }

  private def pred(n: JsonNode): Pred = n.get("k").asText match {
    case "cmp" =>
      Cmp(n.get("op").asText, n.get("c").asText, value(n.get("v")))
    case "in" => InSet(n.get("c").asText,
      n.get("vs").elements().asScala.map(value).toSet)
    case "sw" => StartsWith(n.get("c").asText, n.get("p").asText)
    case "nul" => IsNull(n.get("c").asText, n.get("n").asBoolean)
    case "and" => AndP(pred(n.get("l")), pred(n.get("r")))
    case "or" => OrP(pred(n.get("l")), pred(n.get("r")))
    case "not" => NotP(pred(n.get("p")))
    case "ap" => Approx(pred(n.get("p")))
    case "true" => TrueP
  }
}
