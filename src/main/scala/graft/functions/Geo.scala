package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spatial predicate surface (reference P7).
  *
  * The reference pushes `ST_INTERSECTS(GeometryFromWkb(g), <const>)` down
  * by taking the constant geometry's MBR (+ optional PAD_X/PAD_Y) and
  * turning it into BETWEEN ranges on the `_X`/`_Y` dimension columns
  * [ha_mytile.cc:2312–2507]. We express the same rewrite directly as a
  * composition of built-in range predicates, so Catalyst pushes it to the
  * parquet/array scan with zero custom plan nodes — at 100 TB this is a
  * partition- and row-group-pruning filter, not a post-scan UDF.
  */
object Geo {

  /** Point-in-MBR: x ∈ [xmin, xmax] ∧ y ∈ [ymin, ymax], with optional
    * symmetric padding (reference PAD_X/PAD_Y metadata). */
  def mbrIntersects(x: Column, y: Column,
      xmin: Double, xmax: Double, ymin: Double, ymax: Double,
      padX: Double = 0.0, padY: Double = 0.0): Column =
    x.between(lit(xmin - padX), lit(xmax + padX)) &&
      y.between(lit(ymin - padY), lit(ymax + padY))
}
