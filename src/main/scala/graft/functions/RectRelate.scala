package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StringType

/** Exact DE-9IM over axis-aligned rectangles, as pure Column expressions.
  *
  * The reference's J4 coverage join uses
  * `ST_Relate(cov_geom, ft_geom, '212101212') OR ST_Covers(cov_geom, ft_geom)`
  * (tile_processor/tileconfig.py:591-592). For axis-aligned,
  * non-degenerate rectangles every DE-9IM cell is a closed-form interval
  * comparison, so the matrix is EXACTLY computable — no geometry library
  * and no approximation:
  *
  *  - interior∩interior is 2-dimensional iff the open intervals overlap
  *    on both axes;
  *  - interior(A)∩boundary(B) is 1-dimensional iff an edge line of B lies
  *    strictly inside A's open span on the perpendicular axis and the
  *    edge's span overlaps A's open span on the parallel axis (a corner
  *    of B inside A's open set implies the same, since a neighborhood of
  *    the corner drags positive-length pieces of both adjacent edges in);
  *    it is never 0-dimensional for non-degenerate rectangles;
  *  - interior(A)∩exterior(B) is 2-dimensional iff A ⊄ closure(B) (an
  *    open set not contained in a closed set has a 2-d part outside it),
  *    and boundary(A)∩exterior(B) is then 1-dimensional (the perimeter is
  *    a closed curve: its part in the open exterior is open in the curve);
  *  - boundary∩boundary is 1-dimensional iff some pair of parallel edge
  *    lines coincide and their spans overlap with positive length;
  *    otherwise 0-dimensional iff the boundaries touch at all. Touching
  *    reduces to eight candidate points: an intersection, if any, always
  *    contains a point (ax, by) or (bx, ay) built from one rectangle's
  *    edge line and the other's — corners-on-edges and perpendicular edge
  *    crossings both land in these families, and the per-point test is
  *    separable so the 8-way OR folds to four interval checks.
  *
  * Everything stays inside whole-stage codegen (comparisons, least/
  * greatest, CASE WHEN) — no UDF, no geometry objects, usable in join
  * conditions where Catalyst can still see and push the conjuncts.
  *
  * All formulas assume non-degenerate rectangles (xmin < xmax,
  * ymin < ymax) — true for every tile/coverage envelope in the model.
  */
object RectRelate {

  /** An axis-aligned rectangle as four coordinate columns. */
  final case class Rect(xmin: Column, ymin: Column, xmax: Column, ymax: Column)

  object Rect {
    /** Columns `<pfx>xmin … <pfx>ymax` of the input relation. */
    def cols(pfx: String): Rect =
      Rect(col(s"${pfx}xmin"), col(s"${pfx}ymin"),
           col(s"${pfx}xmax"), col(s"${pfx}ymax"))
  }

  /** Dimension encoding: F (empty) = -1, else 0/1/2. */
  private val F = lit(-1)

  private def within(v: Column, lo: Column, hi: Column): Column =
    v >= lo && v <= hi

  /** `x === y`, but folded at plan-build time when both sides are
    * same-typed literals (all-literal rectangles — the spec goldens and
    * pasted-SQL constant probes — would otherwise trip Spark's
    * trivially-true-equals WARN on coincident coordinates). */
  private def eqc(x: Column, y: Column): Column = {
    val (ex, ey) = (ColumnBridge.toExpression(x), ColumnBridge.toExpression(y))
    if (ex.foldable && ey.foldable && ex.dataType == ey.dataType)
      lit(ex.eval() == ey.eval())
    else x === y
  }

  /** closure(a) ⊆ closure(b). */
  private def inside(a: Rect, b: Rect): Column =
    a.xmin >= b.xmin && a.xmax <= b.xmax &&
    a.ymin >= b.ymin && a.ymax <= b.ymax

  /** boundary(edges) ∩ interior(i) is 1-dimensional (see scaladoc). */
  private def crossesInterior(i: Rect, edges: Rect): Column = {
    val yOverlap = greatest(i.ymin, edges.ymin) < least(i.ymax, edges.ymax)
    val xOverlap = greatest(i.xmin, edges.xmin) < least(i.xmax, edges.xmax)
    val vert = ((i.xmin < edges.xmin && edges.xmin < i.xmax) ||
                (i.xmin < edges.xmax && edges.xmax < i.xmax)) && yOverlap
    val horiz = ((i.ymin < edges.ymin && edges.ymin < i.ymax) ||
                 (i.ymin < edges.ymax && edges.ymax < i.ymax)) && xOverlap
    vert || horiz
  }

  /** The nine DE-9IM cells of (a, b), row-major
    * (II, IB, IE, BI, BB, BE, EI, EB, EE), each -1/0/1/2. */
  def cells(a: Rect, b: Rect): Seq[Column] = {
    val openOverlap =
      least(a.xmax, b.xmax) > greatest(a.xmin, b.xmin) &&
      least(a.ymax, b.ymax) > greatest(a.ymin, b.ymin)
    val aInB = inside(a, b)
    val bInA = inside(b, a)

    val collinear =
      ((eqc(a.xmin, b.xmin) || eqc(a.xmin, b.xmax) ||
        eqc(a.xmax, b.xmin) || eqc(a.xmax, b.xmax)) &&
        greatest(a.ymin, b.ymin) < least(a.ymax, b.ymax)) ||
      ((eqc(a.ymin, b.ymin) || eqc(a.ymin, b.ymax) ||
        eqc(a.ymax, b.ymin) || eqc(a.ymax, b.ymax)) &&
        greatest(a.xmin, b.xmin) < least(a.xmax, b.xmax))
    val touch =
      ((within(a.xmin, b.xmin, b.xmax) || within(a.xmax, b.xmin, b.xmax)) &&
       (within(b.ymin, a.ymin, a.ymax) || within(b.ymax, a.ymin, a.ymax))) ||
      ((within(b.xmin, a.xmin, a.xmax) || within(b.xmax, a.xmin, a.xmax)) &&
       (within(a.ymin, b.ymin, b.ymax) || within(a.ymax, b.ymin, b.ymax)))

    Seq(
      when(openOverlap, lit(2)).otherwise(F),               // II
      when(crossesInterior(a, b), lit(1)).otherwise(F),     // IB
      when(!aInB, lit(2)).otherwise(F),                     // IE
      when(crossesInterior(b, a), lit(1)).otherwise(F),     // BI
      when(collinear, lit(1))
        .when(touch, lit(0)).otherwise(F),                  // BB
      when(!aInB, lit(1)).otherwise(F),                     // BE
      when(!bInA, lit(2)).otherwise(F),                     // EI
      when(!bInA, lit(1)).otherwise(F),                     // EB
      lit(2))                                               // EE
  }

  /** The DE-9IM matrix of (a, b) as its 9-character string
    * (`F`/`0`/`1`/`2`), e.g. `212101212` for a crossing overlap. */
  def matrix(a: Rect, b: Rect): Column = {
    def ch(c: Column): Column =
      when(c === -1, lit("F")).otherwise(c.cast("string"))
    concat(cells(a, b).map(ch): _*)
  }

  /** `ST_Relate(a, b, pattern)`: the pattern is parsed at PLAN time
    * (`T` = non-empty, `F` = empty, `*` = anything, digit = exact dim),
    * so the result is a plain boolean conjunction Catalyst can split,
    * push, and codegen. */
  def relate(a: Rect, b: Rect, pattern: String): Column = {
    require(pattern.length == 9 && pattern.forall("TF*012".contains(_)),
      s"bad DE-9IM pattern: $pattern")
    pattern.zip(cells(a, b)).map {
      case ('*', _) => lit(true)
      case (p, c) =>
        // Cells that are constant for every rectangle pair (EE is always
        // 2) fold here at plan-build time — a literal==literal predicate
        // would otherwise trip Spark's trivially-true-equals WARN.
        val e = ColumnBridge.toExpression(c)
        if (e.foldable) {
          val dim = e.eval().asInstanceOf[Int]
          lit(p match {
            case 'T' => dim >= 0
            case 'F' => dim == -1
            case d   => dim == d - '0'
          })
        } else p match {
          case 'T' => c >= 0
          case 'F' => c === -1
          case d   => c === (d - '0')
        }
    }.reduce(_ && _)
  }

  /** `ST_Covers(a, b)` for rectangles: closure(b) ⊆ closure(a). */
  def covers(a: Rect, b: Rect): Column = inside(b, a)

  /** The SQL surface — `rect_de9im` / `st_relate_rect` / `st_covers_rect`
    * builders, injected by GraftExtensions. Each expands at resolution
    * time into the same comparison tree the Column API builds — no UDF,
    * and the relate pattern must be a string literal (it parameterizes
    * the expansion, it is not data). */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    def rects(es: Seq[Expression]): (Rect, Rect) = {
      val c = es.take(8).map(ColumnBridge.toColumn)
      (Rect(c(0), c(1), c(2), c(3)), Rect(c(4), c(5), c(6), c(7)))
    }
    Seq(
      "rect_de9im" -> { es: Seq[Expression] =>
        require(es.length == 8, "rect_de9im takes 8 coordinates: " +
          "axmin, aymin, axmax, aymax, bxmin, bymin, bxmax, bymax")
        val (a, b) = rects(es)
        ColumnBridge.toExpression(matrix(a, b))
      },
      "st_relate_rect" -> { es: Seq[Expression] =>
        require(es.length == 9,
          "st_relate_rect takes 8 coordinates + a DE-9IM pattern literal")
        val pat = es(8) match {
          case e if e.foldable && e.dataType == StringType &&
            e.eval() != null => e.eval().toString
          case _ => throw new IllegalArgumentException(
            "st_relate_rect: the DE-9IM pattern must be a string literal")
        }
        val (a, b) = rects(es)
        ColumnBridge.toExpression(relate(a, b, pat))
      },
      "st_covers_rect" -> { es: Seq[Expression] =>
        require(es.length == 8, "st_covers_rect takes 8 coordinates")
        val (a, b) = rects(es)
        ColumnBridge.toExpression(covers(a, b))
      })
  }
}
