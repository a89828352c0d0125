package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.sources.GraftArray

/** Visible content of a sparse array as the generator knows it, with
  * latest-wins already applied: keys ascending, one value per key. */
final class SparseModel(val keys: Array[Long], val v: Array[Long], val x: Array[Double],
    val tag: Array[String]) {
  def size: Int = keys.length
  def find(k: Long): Int = java.util.Arrays.binarySearch(keys, k)
  /** Index range [from, until) of the keys in [a, b]. */
  def span(a: Long, b: Long): (Int, Int) = {
    def lower(t: Long) = { val i = java.util.Arrays.binarySearch(keys, t); if (i >= 0) i else -i - 1 }
    (lower(a), lower(b + 1))
  }
}

object SparseModel {
  type Cell = (Long, Long, Double, String)
  def cell(k: Long, v: Long): Cell = (k, v, (v % 100000) / 4.0, "t" + (v % 17))
  /** Apply fragments in commit order: a later cell replaces an earlier one. */
  def of(fragments: Seq[Seq[Cell]]): SparseModel = {
    val m = new java.util.TreeMap[java.lang.Long, Cell]()
    fragments.foreach(_.foreach(c => m.put(c._1, c)))
    val cs = scala.jdk.CollectionConverters.CollectionHasAsScala(m.values).asScala.toArray
    new SparseModel(cs.map(_._1), cs.map(_._2), cs.map(_._3), cs.map(_._4))
  }
}

/** `scan-pushdown`: seeded SQL reads over generated arrays through the
  * `graft` catalog, one op class per pushdown channel plus TopN and a
  * scan nothing is pushed into. Arrays:
  *  - `s1`: three disjoint fragments (stats-only aggregates possible);
  *  - `s2`: three disjoint fragments plus two overlapping update
  *    fragments in [10000, 12500) (latest-wins merge there);
  *  - `d1`: a 100 x 100 dense array with fill value -1, about 70 %
  *    of cells written, in one fragment.
  * Every result is compared with the generator's model. */
final class ScanPushdown(spark: SparkSession, seed: Long, dirs: RunDirs, tracer: Tracer)
    extends Workload {
  import ScanPushdown._
  import spark.implicits._

  private var s1: SparseModel = _
  private var s2: SparseModel = _
  private val grid = new Array[Long](Side * Side)
  private var visibleFiles = Map.empty[String, Int]
  private val tally = new ScanTally

  private def table(base: String) = s"graft.$base"
  private def uri(base: String) = s"${dirs.arrays.getPath}/$base"

  private def sparseFragments(rnd: java.util.SplittableRandom): Seq[Seq[SparseModel.Cell]] =
    (0 until Frags).map { f =>
      (f.toLong * Width until (f + 1).toLong * Width)
        .filter(_ => rnd.nextDouble() < 0.75)
        .map(k => SparseModel.cell(k, rnd.nextLong(1000000L)))
    }

  private def createSparse(base: String): Unit =
    spark.sql(s"""CREATE TABLE ${table(base)} (k BIGINT, v BIGINT, x DOUBLE, tag STRING)
      |TBLPROPERTIES('graft.dimensions'='k')""".stripMargin)

  private def writeCells(base: String, cells: Seq[SparseModel.Cell]): Unit =
    tracer.timed("sources.write") {
      GraftArray.write(spark, uri(base), cells.toDF("k", "v", "x", "tag"),
        partitions = Some(4))
    }

  def setup(): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    val f1 = sparseFragments(rnd)
    createSparse("s1"); f1.foreach(writeCells("s1", _))
    s1 = SparseModel.of(f1)

    val f2 = sparseFragments(rnd)
    val updates = (0 until 2).map { u =>
      val lo = UpdLo + u * 500L
      (lo until math.min(lo + 2000L, UpdHi))
        .filter(_ => rnd.nextDouble() < 0.5)
        .map(k => SparseModel.cell(k, rnd.nextLong(1000000L)))
    }
    createSparse("s2"); (f2 ++ updates).foreach(writeCells("s2", _))
    s2 = SparseModel.of(f2 ++ updates)

    spark.sql(s"""CREATE TABLE ${table("d1")} (r BIGINT, c BIGINT, a BIGINT)
      |TBLPROPERTIES('graft.dimensions'='r,c', 'graft.dense'='true',
      |  'graft.lower.r'='0', 'graft.upper.r'='${Side - 1}',
      |  'graft.lower.c'='0', 'graft.upper.c'='${Side - 1}',
      |  'graft.fill.a'='-1')""".stripMargin)
    java.util.Arrays.fill(grid, -1L)
    val cells = for {
      r <- 0 until Side; c <- 0 until Side
      corner = (r == 0 && c == 0) || (r == Side - 1 && c == Side - 1)
      if corner || rnd.nextDouble() < 0.7
    } yield (r.toLong, c.toLong, rnd.nextLong(1000L))
    cells.foreach { case (r, c, a) => grid((r * Side + c).toInt) = a }
    tracer.timed("sources.write") {
      GraftArray.write(spark, uri("d1"), cells.toDF("r", "c", "a"), partitions = Some(2))
    }
    visibleFiles = Seq("s1", "s2", "d1").map(b =>
      b -> GraftArray.fragments(spark, uri(b)).map(_.files.size).sum).toMap
  }

  // ---- op pool: PoolPerClass parameter sets per class, from the seed ----

  private def pick(rnd: java.util.SplittableRandom, m: SparseModel): Long =
    if (rnd.nextDouble() < 0.75) m.keys(rnd.nextInt(m.size))
    else rnd.nextLong(Frags.toLong * Width)

  private def sql(q: String): AnyRef = tracer.span("v2.sql") {
    val df = spark.sql(q)
    (df.collect(), df)
  }

  private def op(cls: String, arr: String, q: String, isAgg: Boolean = false)
      (expect: Array[Row] => Boolean): Op =
    Op(cls, () => sql(q), { r =>
      val (rows, df) = r.asInstanceOf[(Array[Row], DataFrame)]
      if (tracer.active)
        tally.add(PlanStats.of(df), visibleFiles.getOrElse(arr, 0), rows.length, isAgg)
      expect(rows)
    })

  private def sparseOf(arr: String) = if (arr == "s1") s1 else s2

  private def rowsKV(rows: Array[Row]): Seq[(Long, Long)] =
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))
  /** Reads without ORDER BY return rows in no particular order. */
  private def sortedKV(rows: Array[Row]): Seq[(Long, Long)] = rowsKV(rows).sortBy(_._1)
  private def modelKV(m: SparseModel, idx: Seq[Int]): Seq[(Long, Long)] =
    idx.map(i => (m.keys(i), m.v(i)))

  /** The pool: `perClass` parameter sets per class drawn from a stream
    * seeded by `seed`, so every run of a seed sees the same ops. */
  private def ops(perClass: Int): Seq[Op] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + 1)
    val n = Frags.toLong * Width
    val point = (0 until perClass).map { i =>
      if (i % 3 == 2) {
        val (r, c) = (rnd.nextInt(Side), rnd.nextInt(Side))
        op("point", "d1", s"SELECT r, c, a FROM ${table("d1")} WHERE r = $r AND c = $c") { rows =>
          rows.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))) ==
            Seq((r.toLong, c.toLong, grid(r * Side + c)))
        }
      } else {
        val arr = if (i % 2 == 0) "s1" else "s2"
        val m = sparseOf(arr)
        val k = pick(rnd, m)
        op("point", arr, s"SELECT k, v, x, tag FROM ${table(arr)} WHERE k = $k") { rows =>
          val i = m.find(k)
          rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))) ==
            (if (i >= 0) Seq((m.keys(i), m.v(i), m.x(i), m.tag(i))) else Nil)
        }
      }
    }
    val range = (0 until perClass).map { i =>
      if (i % 4 == 3) {
        val r0 = rnd.nextInt(Side - 2)
        op("range", "d1", s"SELECT r, c, a FROM ${table("d1")} WHERE r BETWEEN $r0 AND ${r0 + 2}") { rows =>
          rows.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted ==
            (for (r <- r0 to r0 + 2; c <- 0 until Side)
              yield (r.toLong, c.toLong, grid(r * Side + c)))
        }
      } else {
        val arr = if (i % 2 == 0) "s1" else "s2"
        val m = sparseOf(arr)
        val len = Seq(100L, 500L, 1500L)(i % 3)
        val a = if (arr == "s2" && i % 3 != 0) UpdLo - len / 2 + rnd.nextLong(UpdHi - UpdLo)
                else rnd.nextLong(n - len)
        op("range", arr, s"SELECT k, v FROM ${table(arr)} WHERE k BETWEEN $a AND ${a + len - 1}") { rows =>
          val (f, u) = m.span(a, a + len - 1)
          sortedKV(rows) == modelKV(m, f until u)
        }
      }
    }
    val filter = (0 until perClass).map { i =>
      val arr = if (i % 2 == 0) "s1" else "s2"
      val m = sparseOf(arr)
      val lo = rnd.nextLong(1000000L - 1500L)
      op("filter", arr, s"SELECT k, v FROM ${table(arr)} WHERE v BETWEEN $lo AND ${lo + 1499}") { rows =>
        sortedKV(rows) == modelKV(m, m.keys.indices.filter(j => m.v(j) >= lo && m.v(j) <= lo + 1499))
      }
    }
    val agg = (0 until perClass).map { i =>
      // even i: s1 over whole fragments, answerable from fragment
      // statistics alone; odd i: an unaligned s1 range, then s2
      val (arr, a, b) =
        if (i % 2 == 0) {
          val f = rnd.nextInt(Frags - 1)
          ("s1", f.toLong * Width, (f + 1 + rnd.nextInt(Frags - f - 1)).toLong * Width - 1)
        } else {
          val arr = if (i % 4 == 1) "s1" else "s2"
          val a = rnd.nextLong(n / 2)
          (arr, a, a + n / 6 + rnd.nextLong(n / 3))
        }
      val m = sparseOf(arr)
      op("agg", arr, s"SELECT count(*), sum(v), min(x), max(x) FROM ${table(arr)} " +
          s"WHERE k BETWEEN $a AND $b",
          isAgg = true) { rows =>
        val (f, u) = m.span(a, b)
        val r = rows.head
        val idx = f until u
        rows.length == 1 && r.getLong(0) == idx.size &&
          (if (idx.isEmpty) r.isNullAt(1)
           else r.getLong(1) == idx.map(m.v(_)).sum &&
             r.getDouble(2) == idx.map(m.x(_)).min && r.getDouble(3) == idx.map(m.x(_)).max)
      }
    }
    val topn = (0 until perClass).map { i =>
      val arr = if (i % 2 == 0) "s1" else "s2"
      val m = sparseOf(arr)
      val asc = (i / 2) % 2 == 0
      val lim = 5 + rnd.nextInt(60)
      op("topn", arr, s"SELECT k, v FROM ${table(arr)} ORDER BY k ${if (asc) "ASC" else "DESC"} " +
        s"LIMIT $lim") { rows =>
        val idx = if (asc) 0 until lim else (m.size - 1) to (m.size - lim) by -1
        rowsKV(rows) == modelKV(m, idx)
      }
    }
    val scan = (0 until perClass).map { i =>
      val arr = if (i % 2 == 0) "s1" else "s2"
      val m = sparseOf(arr)
      val r = rnd.nextInt(7)
      op("scan", arr, s"SELECT count(*), sum(v) FROM ${table(arr)} WHERE (v + k) % 7 = $r") { rows =>
        val idx = m.keys.indices.filter(j => (m.v(j) + m.keys(j)) % 7 == r)
        rows.head.getLong(0) == idx.size && rows.head.getLong(1) == idx.map(m.v(_)).sum
      }
    }
    // interleave the classes: one op of each class in turn
    (0 until perClass).flatMap(i => Seq(point(i), range(i), filter(i), agg(i), topn(i), scan(i)))
  }

  /** Every round runs the whole pool in the same order; the warm-up
    * runs its first op of each class. */
  private lazy val pool = ops(PerClass)
  override def warmup(): Seq[Op] = pool.take(6)
  def round(): Seq[Op] = pool
  def roundSeconds: Double = RoundSeconds

  override def extra: Map[String, Double] = {
    val bytes = Seq("s1", "s2", "d1").map(b => PlanStats.diskBytes(new java.io.File(uri(b)))).sum
    val cells = s1.size + s2.size + grid.count(_ != -1L)
    Map("stored_bytes_per_cell" -> bytes.toDouble / cells)
  }

  override def layer(r: RunResult): Map[String, Double] =
    tally.metrics ++ Json.classFigures(r).collect {
      case (k, v) if k.endsWith(".p50_ms") => s"wl.${k.stripSuffix(".p50_ms")}_p50_ms" -> v
    } + ("wl.stored_bytes_per_cell" -> extra("stored_bytes_per_cell"))
}

object ScanPushdown {
  val Frags = 3
  val Width = 5000
  val UpdLo = 10000L
  val UpdHi = 12500L
  val Side = 100
  /** Parameter sets per op class in the pool. */
  val PerClass = 4
  /** One pass over the pool on the reference host. */
  val RoundSeconds = 6.0
}
