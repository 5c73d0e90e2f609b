package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.core.Tables

/** Deterministic Lloyd k-means (reference Orange/clustering/kmeans.py
  * KMeans — sklearn's n_init random restarts replaced by the
  * deterministic first-k-by-id seeding, the classic MacQueen init, so
  * the whole trajectory is reproducible and oracle-checkable).
  *
  * Distributed shape: the rounds run in [[rounds]] on the [[Rounds]]
  * kernel, planned ONCE. Catalyst computes each row's features x_j and
  * their grid terms t_j = [[Tables.scaledLongTerm]](x_j) a single time
  * into a persisted chunk cache; every round is then ONE job over it —
  * per-row argmin assignment plus per-cluster count and exact sums of
  * t_j, combined map-side — with no analysis, optimisation, planning or
  * codegen inside the loop (the shape of MLlib's KMeans). The k×d
  * centroid matrix lives on the driver and ships as a broadcast. No
  * global sort (seeding is a TakeOrdered top-k), no crossJoin in the
  * rounds, k·(1+d) slots of result per partition per round.
  *
  * Oracle-exactness: the kernel evaluates the plan it replaced bit for
  * bit. Distances are Σ_j (x_j − c_cj)² added left to right in
  * ascending j (the fixed-order affine form both engines evaluate
  * identically); argmin takes the FIRST minimum, so ties break to the
  * lowest cluster; centroid sums are exact integer sums of t_j on the
  * 10⁻¹² grid (order-independent; callers pre-scale features to
  * |x| ≤ 1), valued by [[Rounds.Acc]] as the double
  * [[Tables.scaledLongSum]] returns; centroids round to 10
  * decimals per step. The final assignment stays a Catalyst plan:
  * per-cluster inertia reduces through detSum's grid (squared
  * distances exceed the |t| ≤ 1 long-grid envelope). */
object Lloyd {

  /** The points of `df`'s double columns `xCols` as a [[Rounds]]
    * double cache of stride 2d: row i's features x_j, then their grid
    * terms t_j = [[Tables.scaledLongTerm]](x_j), both computed once by
    * Catalyst (|t| ≤ 10¹² < 2⁵³ inside the |x| ≤ 1 envelope, so t rides
    * a double exactly). The caller unpersists the result. */
  private[ml] def points(df: DataFrame, xCols: Seq[String]): RDD[Array[Double]] =
    Rounds.doubles(df.select(xCols.map(col) ++
      xCols.map(c => Tables.scaledLongTerm(col(c)).cast("double")): _*))

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
          var best = 0
          var bestD = 0.0
          var c = 0
          while (c < k) {
            // 0.0 + e₀² is e₀² exactly, so this is the left-to-right
            // e₀² + e₁² + … of the Catalyst distance column
            var s = 0.0
            var j = 0
            while (j < d) { val e = ch(o + j) - cs(c)(j); s += e * e; j += 1 }
            if (c == 0 || s < bestD) { best = c; bestD = s }
            c += 1
          }
          val p = best * w
          a.add(p, 1L)
          var j = 0
          while (j < d) { a.add(p + 1 + j, ch(o + d + j).toLong); j += 1 }
          o += 2 * d
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

  /** @param idCol unique row id — seeds are the k lowest-id rows
    * @param feats (name, expression) pre-scaled to |x| ≤ 1. Rows with a
    *   NULL feature are dropped up front (na.drop below), so the
    *   array_position argmin can never see an all-NULL distance row —
    *   callers must not bypass that precondition (the old suffix CASE
    *   chain fell through to cluster k−1 on NULLs; the array form would
    *   yield a NULL cluster instead — ADVICE r16).
    * @return one row per non-empty cluster:
    *         (cluster, size, inertia, c_<feat>…) */
  def fit(df: DataFrame, idCol: Column, feats: Seq[(String, Column)],
          k: Int, iterations: Int): DataFrame = {
    val spark = df.sparkSession
    val d = feats.size
    val xCols = feats.map { case (n, _) => s"x_$n" }
    val base = df.select(idCol.as("id") +:
      feats.map { case (n, f) => f.cast("double").as(s"x_$n") }: _*)
      .na.drop()

    val pts = points(base, xCols)
    val cent = try {
      val mx = Rounds.envelope(pts, 2 * d, d)._2
      require(mx <= 1.0, s"lloyd envelope: max|x|=$mx (pre-scale)")
      // deterministic seeding: k lowest-id rows (TakeOrdered, no global
      // sort); parquet doubles are identical in both engines
      val seed = base.orderBy(col("id")).limit(k)
        .collect().map(r => (1 to d).map(r.getDouble).toArray)
      require(seed.length == k, s"lloyd: ${seed.length} seed rows < k=$k")
      rounds(pts, seed, iterations)((s, n) => math.rint(s / n * 1e10) / 1e10)
    } finally pts.unpersist(blocking = false)

    val centSchema = StructType(
      (0 until k).flatMap(c => (0 until d).map(j =>
        StructField(s"cc_${c}_$j", DoubleType, nullable = false))).toArray)
    val centDF = spark.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(cent.flatten.toSeq)), centSchema)
    def distOf(c: Int): Column =
      (0 until d).map { j =>
        val e = col(xCols(j)) - col(s"cc_${c}_$j"); e * e
      }.reduce(_ + _)
    // argmin with ties to the lowest cluster = FIRST index of the array
    // minimum, each distance polynomial evaluated ONCE (a suffix CASE
    // chain inlined every d_c into ~k²/2 comparisons: at k=5·d=8 the
    // stage codegen'd to a 6.7k-line unit janino took seconds on).
    val dsArr: Column = array((0 until k).map(distOf): _*)
    val clusterOf: Column =
      (array_position(dsArr, array_min(dsArr)) - 1).cast("int")

    // final assignment: sizes + per-cluster inertia + centroid echo —
    // the own-cluster distance is element_at(ds, cluster+1), the same
    // double the round kernel minimised
    val asg = base.crossJoin(broadcast(centDF))
      .select(clusterOf.as("cluster"), dsArr.as("__ds"))
    val inertiaTerm = element_at(col("__ds"), col("cluster") + 1)
    val grouped = asg.groupBy("cluster").agg(
      count(lit(1)).as("size"),
      round(Tables.detSumFast(inertiaTerm), 6).as("inertia")) // terms ≤ 4·d ≪ the 2.2e3 fast-grid bound (|x| ≤ 1 envelope)
    val centCols = feats.zipWithIndex.map { case ((n, _), j) =>
      (0 until k - 1).foldRight(col(s"cc_${k - 1}_$j")) { (c, rest) =>
        when(col("cluster") === c, col(s"cc_${c}_$j")).otherwise(rest)
      }.as(s"c_$n")
    }
    // k rows: sorted in one partition, where a global orderBy would add
    // a range-bounds sampling job and a shuffle
    grouped.crossJoin(broadcast(centDF))
      .select(col("cluster") +: col("size") +: col("inertia") +: centCols: _*)
      .coalesce(1).sortWithinPartitions("cluster")
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
