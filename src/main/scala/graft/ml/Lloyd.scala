package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Deterministic Lloyd k-means (reference Orange/clustering/kmeans.py
  * KMeans — sklearn's n_init random restarts replaced by the
  * deterministic first-k-by-id seeding, the classic MacQueen init, so
  * the whole trajectory is reproducible and oracle-checkable).
  *
  * Distributed shape: after ONE Catalyst projection into a persisted
  * [[Rounds]] chunk cache ([[points]]: features x_j, grid terms
  * t_j = [[Tables.scaledLongTerm]](x_j), id), every step is one job over
  * it with no planning or codegen (the shape of MLlib's KMeans): the
  * first pass ([[seed]]: envelope, id check and the k lowest-id rows, no
  * sort), one pass per round ([[rounds]]: argmin, per-cluster count and
  * exact Σ t_j, combined map-side), and a final pass (per-cluster count
  * and Σ of the own-distance grid longs). The k×d centroids live on the
  * driver and ship as a broadcast; the result rows are built on the
  * driver, so no cache outlives the call. The id rides a double, so it
  * must be integral and below 2⁵³ in magnitude; both fail loudly.
  *
  * Oracle-exactness: bit for bit the Catalyst formulation. Distances are
  * Σ_j (x_j − c_cj)² added left to right in ascending j (the fixed-order
  * affine form both engines evaluate identically); argmin takes the
  * FIRST minimum, so ties break to the lowest cluster; centroid sums are
  * exact integer sums of t_j on the 10⁻¹² grid (order-independent;
  * callers pre-scale features to |x| ≤ 1), valued by [[Rounds.Acc]] as
  * the double [[Tables.scaledLongSum]] returns; centroids round to 10
  * decimals per step. Inertia is [[Tables.detSumFast]] of the own
  * distance (squared distances exceed the |t| ≤ 1 long-grid envelope):
  * the exact sum of its grid longs, parsed as "Σk E-12", then Catalyst's
  * `round(…, 6)`. */
object Lloyd {

  /** 2⁵³: every integral id below it in magnitude is exact as a double. */
  private[ml] val IdLimit = 9007199254740992.0

  /** The points of `df`'s double columns `xCols` and its integral `id`
    * column as a [[Rounds]] double cache of stride 2d+1: row i's
    * features x_j, their grid terms t_j = [[Tables.scaledLongTerm]](x_j),
    * then its id, all computed once by Catalyst (|t| ≤ 10¹² < 2⁵³ inside
    * the |x| ≤ 1 envelope, so t rides a double exactly; [[seed]] checks
    * the id). The caller unpersists the result. */
  private[ml] def points(df: DataFrame, xCols: Seq[String]): RDD[Array[Double]] =
    Rounds.doubles(df.select(xCols.map(col) ++
      xCols.map(c => Tables.scaledLongTerm(col(c)).cast("double")) :+
      col("id").cast("double"): _*))

  /** The first pass over a [[points]] cache of `d` features: fails
    * unless max|x| ≤ 1 and max|id| < 2⁵³ (messages prefixed `what`),
    * and returns the features of the (at most) k lowest-id rows in id
    * order: the envelope check and the seeding in one job, with no sort.
    * Each partition keeps its k lowest (id, x); the driver merges them. */
  private[ml] def seed(pts: RDD[Array[Double]], d: Int, k: Int,
                       what: String): Array[Array[Double]] = {
    type Top = List[(Double, Array[Double])]
    def keep(top: Top): Top = top.sortBy(_._1).take(k)
    val (mx, mxId, top) = pts.aggregate((0.0, 0.0, List.empty: Top))({
      case ((mx0, mi0, top0), ch) =>
        var (mx, mi, top) = (mx0, mi0, top0)
        var o = 0
        while (o < ch.length) {
          var j = 0
          while (j < d) { mx = math.max(mx, math.abs(ch(o + j))); j += 1 }
          val id = ch(o + 2 * d)
          mi = math.max(mi, math.abs(id))
          if (top.size < k || id < top.last._1)
            top = keep((id, java.util.Arrays.copyOfRange(ch, o, o + d)) :: top)
          o += 2 * d + 1
        }
        (mx, mi, top)
    }, { case ((m1, i1, t1), (m2, i2, t2)) =>
      (math.max(m1, m2), math.max(i1, i2), keep(t1 ++ t2))
    })
    require(mx <= 1.0, s"$what envelope: max|x|=$mx (pre-scale)")
    require(mxId < IdLimit,
      s"$what: max|id|=$mxId is not below 2^53, so it is not exact as a double")
    top.map(_._2).toArray
  }

  /** Σ_j (x_j − c_j)² of the row at `o`, left to right in ascending j:
    * 0.0 + e₀² is e₀² exactly, so this is the e₀² + e₁² + … of the
    * Catalyst distance column. */
  @inline private[ml] def dist(ch: Array[Double], o: Int, c: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < c.length) { val e = ch(o + j) - c(j); s += e * e; j += 1 }
    s
  }

  /** The nearest centroid of the row at `o`; ties break to the lowest
    * cluster (the FIRST minimum). */
  @inline private def nearest(ch: Array[Double], o: Int,
                              cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = 0.0
    var c = 0
    while (c < cs.length) {
      val s = dist(ch, o, cs(c))
      if (c == 0 || s < bestD) { best = c; bestD = s }
      c += 1
    }
    best
  }

  /** `iterations` Lloyd rounds from `seed` over `pts`, one
    * [[Rounds.pass]] each. A cluster with n members and exact feature
    * sum s moves to `next(s, n)` per coordinate (callers keep their own
    * rounding); an empty cluster keeps its centroid. */
  private[ml] def rounds(pts: RDD[Array[Double]], seed: Array[Array[Double]],
                         iterations: Int)(
      next: (Double, Long) => Double): Array[Array[Double]] = {
    val k = seed.length
    val d = seed(0).length
    val w = 1 + d // per cluster: n, then Σ t_j per feature
    var cent = seed
    for (_ <- 1 to iterations) {
      val acc = Rounds.pass(pts, cent, k * w) { (cs, ch, a) =>
        var o = 0
        while (o < ch.length) {
          val p = nearest(ch, o, cs) * w
          a.add(p, 1L)
          var j = 0
          while (j < d) { a.add(p + 1 + j, ch(o + d + j).toLong); j += 1 }
          o += 2 * d + 1
        }
      }
      val cs = cent
      cent = Array.tabulate(k) { c =>
        val n = acc.long(c * w)
        if (n == 0) cs(c)
        else Array.tabulate(d)(j => next(acc.value(c * w + 1 + j, 1e12), n))
      }
    }
    cent
  }

  /** The [[Tables.detSumFast]] grid long of a finite term t:
    * floor(round(t, 12)·10¹² + 0.5). */
  private def gridLong(t: Double): Long =
    math.floor(Rounds.roundHalfUp(t, 12) * 1e12 + 0.5).toLong

  /** @param idCol unique integral row id — seeds are the k lowest-id
    *   rows; |id| < 2⁵³
    * @param feats (name, expression) pre-scaled to |x| ≤ 1. Rows with a
    *   NULL or NaN feature or id are dropped up front (na.drop below).
    * @return one row per non-empty cluster, sorted by cluster:
    *         (cluster, size, inertia, c_<feat>…), computed eagerly */
  def fit(df: DataFrame, idCol: Column, feats: Seq[(String, Column)],
          k: Int, iterations: Int): DataFrame = {
    val d = feats.size
    val xCols = feats.map { case (n, _) => s"x_$n" }
    val base = df.select(idCol.as("id") +:
      feats.map { case (n, f) => f.cast("double").as(s"x_$n") }: _*)
      .na.drop()
    base.schema("id").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case t => throw new IllegalArgumentException(
        s"lloyd: id column must be integral, not ${t.simpleString}")
    }

    require(k >= 1, s"lloyd: k=$k < 1")
    val pts = points(base, xCols)
    val (cent, acc) = try {
      val seeds = seed(pts, d, k, "lloyd")
      require(seeds.length == k, s"lloyd: ${seeds.length} seed rows < k=$k")
      val cent = rounds(pts, seeds, iterations)((s, n) => math.rint(s / n * 1e10) / 1e10)
      // final assignment: slot c counts cluster c, slot k + c sums its
      // members' own-distance grid longs
      (cent, Rounds.pass(pts, cent, 2 * k) { (cs, ch, a) =>
        var o = 0
        while (o < ch.length) {
          val c = nearest(ch, o, cs)
          a.add(c, 1L)
          a.add(k + c, gridLong(dist(ch, o, cs(c))))
          o += 2 * d + 1
        }
      })
    } finally pts.unpersist(blocking = false)

    // Σk·10⁻¹² through the string-exponent parse (Acc.value would round
    // twice once Σk passes 2⁵³), then round(…, 6)
    val rows = (0 until k).filter(c => acc.long(c) > 0).map { c =>
      Row.fromSeq(Seq[Any](c, acc.long(c), Rounds.roundHalfUp(acc.detSum(k + c), 6)) ++
        cent(c))
    }
    val schema = StructType(Seq(
      StructField("cluster", IntegerType),
      StructField("size", LongType, nullable = false),
      StructField("inertia", DoubleType)) ++
      feats.map { case (n, _) => StructField(s"c_$n", DoubleType, nullable = false) })
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** DuckDB twin of [[fit]]: the iteration chain unrolled as
    * (assignment, group, centroid) CTE triples. */
  def fitSql(table: String, idSql: String, featsSql: Seq[(String, String)],
             k: Int, iterations: Int): String = {
    val d = featsSql.size
    val names = featsSql.map(_._1)
    def cc(it: Int, c: Int, j: Int) = s"c${it}_${c}_$j"
    val prelude =
      s"""feats AS MATERIALIZED (
         |  SELECT $idSql AS id, ${featsSql.map { case (n, e) =>
               s"CAST($e AS DOUBLE) AS x_$n" }.mkString(", ")}
         |  FROM $table
         |  WHERE ${(featsSql.map(_._2) :+ idSql)
               .map(e => s"($e) IS NOT NULL").mkString(" AND ")}),
         |seeds AS (
         |  SELECT *, ROW_NUMBER() OVER (ORDER BY id) AS rn
         |  FROM (SELECT * FROM feats ORDER BY id LIMIT $k) s),
         |cent0 AS (
         |  SELECT ${(0 until k).flatMap(c => (0 until d).map(j =>
               s"MAX(CASE WHEN rn = ${c + 1} THEN x_${names(j)} END) AS ${cc(0, c, j)}"))
               .mkString(",\n    ")}
         |  FROM seeds)""".stripMargin
    def distExpr(it: Int, c: Int) = (0 until d).map { j =>
      s"(x_${names(j)} - ${cc(it, c, j)}) * (x_${names(j)} - ${cc(it, c, j)})"
    }.mkString(" + ")
    def argminCase = {
      val arms = (0 until k - 1).map { c =>
        val conds = (c + 1 until k).map(j => s"dd_$c <= dd_$j").mkString(" AND ")
        s"WHEN $conds THEN $c"
      }
      s"CASE ${arms.mkString(" ")} ELSE ${k - 1} END"
    }
    val steps = (1 to iterations).map { i =>
      val p = i - 1
      val dAliases = (0 until k).map(c => s"${distExpr(p, c)} AS dd_$c")
      s"""asg$i AS (
         |  SELECT ${names.map(n => s"x_$n").mkString(", ")},
         |    ${dAliases.mkString(",\n    ")},
         |    $argminCase AS cluster
         |  FROM feats CROSS JOIN cent$p),
         |grp$i AS (
         |  SELECT cluster, COUNT(*) AS n,
         |    ${names.map(n => s"${Tables.scaledLongSumSql(s"x_$n")} AS s_$n").mkString(", ")}
         |  FROM asg$i GROUP BY cluster),
         |cent$i AS MATERIALIZED (
         |  SELECT ${(0 until k).flatMap(c => (0 until d).map(j =>
             s"COALESCE(MAX(CASE WHEN g.cluster = $c THEN ROUND(g.s_${names(j)} / g.n, 10) END), " +
               s"MIN(${cc(p, c, j)})) AS ${cc(i, c, j)}")).mkString(",\n    ")}
         |  FROM grp$i g CROSS JOIN cent$p)""".stripMargin
    }
    val last = iterations
    val dAliases = (0 until k).map(c => s"${distExpr(last, c)} AS dd_$c")
    val inertiaCase = (0 until k - 1).foldRight(s"dd_${k - 1}") { (c, rest) =>
      s"CASE WHEN cluster = $c THEN dd_$c ELSE $rest END"
    }
    val centSel = names.zipWithIndex.map { case (n, j) =>
      (0 until k - 1).foldRight(s"${cc(last, k - 1, j)}") { (c, rest) =>
        s"CASE WHEN g.cluster = $c THEN ${cc(last, c, j)} ELSE $rest END"
      } + s" AS c_$n"
    }
    s"""WITH $prelude,
       |${steps.mkString(",\n")},
       |asgF AS (
       |  SELECT ${names.map(n => s"x_$n").mkString(", ")},
       |    ${dAliases.mkString(",\n    ")},
       |    $argminCase AS cluster
       |  FROM feats CROSS JOIN cent$last),
       |grpF AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size,
       |    ROUND(CAST(SUM(CAST(ROUND(($inertiaCase), 12) AS DECIMAL(38,14))) AS DOUBLE), 6) AS inertia
       |  FROM asgF GROUP BY cluster)
       |SELECT g.cluster, g.size, g.inertia,
       |  ${centSel.mkString(",\n  ")}
       |FROM grpF g CROSS JOIN cent$last
       |ORDER BY g.cluster""".stripMargin
  }
}
