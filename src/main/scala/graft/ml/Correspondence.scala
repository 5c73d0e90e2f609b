package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Correspondence analysis of a two-way contingency table
  * (widgets/unsupervised/owcorrespondence.py:381-421 `correspondence`):
  * generalized SVD of the centered correspondence matrix P − r·cᵀ with
  * row/column-mass weights, giving principal row/column coordinates
  * F = Dᵣ⁻¹·U·Δ and G = D꜀⁻¹·Vᵀ·Δ; per-axis inertia is Δ² and total
  * inertia equals χ²/N.
  *
  * Scale shape: the ONLY distributed stage is the contingency groupBy —
  * its k×c result is driver-bounded by the categorical cardinalities, so
  * the SVD runs on a tiny dense matrix (same staging as the LDA and
  * N-D Mahalanobis closed forms). The SVD itself is a deterministic
  * one-sided Jacobi (no RNG, no library), with each singular vector's
  * sign pinned by its largest-magnitude component — reference signs are
  * LAPACK-arbitrary anyway. */
object Correspondence {

  /** One-sided Jacobi SVD of a small dense m×n matrix (m >= 1, n small).
    * Returns (U m×r, sv r, V n×r) with r = n, singular values
    * descending; zero singular values keep zero vectors. */
  private[graft] def jacobiSvd(a0: Array[Array[Double]])
      : (Array[Array[Double]], Array[Double], Array[Array[Double]]) = {
    val m = a0.length
    val n = a0(0).length
    // work on columns of A; V accumulates rotations
    val a = Array.tabulate(m, n)((i, j) => a0(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var rotated = true
    var sweep = 0
    while (rotated && sweep < 60) {
      rotated = false
      sweep += 1
      for (p <- 0 until n - 1; q <- p + 1 until n) {
        var app = 0.0; var aqq = 0.0; var apq = 0.0
        var i = 0
        while (i < m) {
          app += a(i)(p) * a(i)(p); aqq += a(i)(q) * a(i)(q)
          apq += a(i)(p) * a(i)(q); i += 1
        }
        if (math.abs(apq) > 1e-15 * math.sqrt(app * aqq) &&
            math.abs(apq) > 1e-300) {
          rotated = true
          val tau = (aqq - app) / (2.0 * apq)
          // tau == 0 (equal column norms) needs the full 45° rotation
          val t =
            if (tau == 0.0) 1.0
            else math.signum(tau) / (math.abs(tau) + math.sqrt(1 + tau * tau))
          val c = 1.0 / math.sqrt(1 + t * t)
          val s = c * t
          i = 0
          while (i < m) {
            val ap = a(i)(p); val aq = a(i)(q)
            a(i)(p) = c * ap - s * aq; a(i)(q) = s * ap + c * aq; i += 1
          }
          i = 0
          while (i < n) {
            val vp = v(i)(p); val vq = v(i)(q)
            v(i)(p) = c * vp - s * vq; v(i)(q) = s * vp + c * vq; i += 1
          }
        }
      }
    }
    // singular values = column norms; sort descending, pin signs
    val sv = Array.tabulate(n) { j =>
      math.sqrt((0 until m).map(i => a(i)(j) * a(i)(j)).sum)
    }
    val order = (0 until n).sortBy(j => -sv(j))
    val u = Array.ofDim[Double](m, n)
    val vOut = Array.ofDim[Double](n, n)
    val svOut = Array.ofDim[Double](n)
    order.zipWithIndex.foreach { case (j, k) =>
      svOut(k) = sv(j)
      // sign pin: largest-|component| of the right vector is positive
      val pivot = (0 until n).maxBy(i => (math.abs(v(i)(j)), -i))
      val sgn = if (v(pivot)(j) < 0) -1.0 else 1.0
      (0 until n).foreach(i => vOut(i)(k) = sgn * v(i)(j))
      if (sv(j) > 1e-300)
        (0 until m).foreach(i => u(i)(k) = sgn * a(i)(j) / sv(j))
    }
    (u, svOut, vOut)
  }

  /** Row principal coordinates + per-axis inertia. Output: one row per
    * (row_category, axis) with the coordinate, the axis inertia and the
    * axis' share of total inertia (what the widget displays on its axes).
    */
  def rowCoordinates(df: DataFrame, rowVar: Column, colVar: Column,
                     axes: Int = 2): DataFrame = {
    val spark = df.sparkSession
    val cells = df.where(rowVar.isNotNull && colVar.isNotNull)
      .groupBy(rowVar.as("r"), colVar.as("c"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.get(0).toString, r.get(1).toString, r.getLong(2)))
    val rows = cells.map(_._1).distinct.sorted
    val cols = cells.map(_._2).distinct.sorted
    val ri = rows.zipWithIndex.toMap
    val cj = cols.zipWithIndex.toMap
    val total = cells.map(_._3).sum.toDouble
    val p = Array.ofDim[Double](rows.length, cols.length)
    cells.foreach { case (r, c, n) => p(ri(r))(cj(c)) = n / total }
    val rMass = p.map(_.sum)
    val cMass = cols.indices.map(j => rows.indices.map(i => p(i)(j)).sum).toArray
    // B = Dr^{-1/2} (P − r cᵀ) Dc^{-1/2}  (gsvd with wu=1/r, wv=1/c)
    val b = Array.tabulate(rows.length, cols.length) { (i, j) =>
      if (rMass(i) <= 0 || cMass(j) <= 0) 0.0
      else (p(i)(j) - rMass(i) * cMass(j)) /
        math.sqrt(rMass(i)) / math.sqrt(cMass(j))
    }
    val (u, sv, _) = jacobiSvd(b)
    val k = math.min(axes, cols.length)
    val totalInertia = sv.map(d => d * d).sum
    val out = for {
      i <- rows.indices
      ax <- 0 until k
    } yield {
      // F = Dr^{-1} U Δ, with U here already Dr^{-1/2}-weighted via B
      val f = if (rMass(i) > 0) u(i)(ax) * sv(ax) / math.sqrt(rMass(i)) else 0.0
      Row(rows(i), ax, r6(f), r6(sv(ax) * sv(ax)),
        if (totalInertia > 0) r6(sv(ax) * sv(ax) / totalInertia) else 0.0)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(out).asJava),
      StructType(Seq(
        StructField("category", StringType),
        StructField("axis", IntegerType, nullable = false),
        StructField("coord", DoubleType, nullable = false),
        StructField("inertia", DoubleType, nullable = false),
        StructField("inertia_share", DoubleType, nullable = false))))
  }

  private def r6(x: Double): Double = Rounds.roundHalfUp(x, 6)

  // ---- oracle-exact variant: deflated power iteration on BᵀB --------

  private def r12(v: Double): Double = math.rint(v * 1e12) / 1e12

  /** DuckDB-faithful ROUND(x, 6): std::round(x·1e6)/1e6, half away
    * from zero on the scaled FP product (see Manifold.r6d). */
  private def r6d(v: Double): Double = {
    val p = v * 1e6
    (if (p >= 0) math.floor(p + 0.5) else math.ceil(p - 0.5)) / 1e6
  }

  /** Row principal coordinates by deflated power iteration on the c×c
    * matrix BᵀB (B = Dᵣ^{-1/2}(P − r·cᵀ)D꜀^{-1/2}) — the oracle-exact
    * twin of [[rowCoordinates]]: categories are caller-pinned so both
    * engines index the same dense matrix, every scalar step rounds to
    * the 1e-12 grid in the same operation order (the PowerPCA device),
    * and each axis' sign is pinned by its largest-|component| right
    * vector entry. Eigenvalues of BᵀB are the squared singular values,
    * so per-axis inertia and the χ²/N total (= trace BᵀB) fall out of
    * the same trajectory. The ONLY distributed stage is the contingency
    * groupBy; everything after is k·c-bounded driver scalar algebra. */
  def rowCoordinatesPower(df: DataFrame, rowVar: Column, colVar: Column,
                          rowCats: Seq[String], colCats: Seq[String],
                          axes: Int, iters: Int): DataFrame = {
    val spark = df.sparkSession
    val nr = rowCats.length
    val nc = colCats.length
    val cells = df.where(rowVar.isNotNull && colVar.isNotNull)
      .groupBy(rowVar.cast("string").as("r"), colVar.cast("string").as("c"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val cnt = Array.tabulate(nr, nc)((i, j) =>
      cells.getOrElse((rowCats(i), colCats(j)), 0L).toDouble)
    val total = cnt.map(_.sum).sum // exact: integer-valued doubles
    val p = Array.tabulate(nr, nc)((i, j) => r12(cnt(i)(j) / total))
    val rm = Array.tabulate(nr)(i =>
      r12((0 until nc).map(j => p(i)(j)).reduceLeft(_ + _)))
    val cm = Array.tabulate(nc)(j =>
      r12((0 until nr).map(i => p(i)(j)).reduceLeft(_ + _)))
    val b = Array.tabulate(nr, nc) { (i, j) =>
      if (rm(i) <= 0 || cm(j) <= 0) 0.0
      else r12((p(i)(j) - rm(i) * cm(j)) /
        math.sqrt(rm(i)) / math.sqrt(cm(j)))
    }
    var btb = Array.tabulate(nc, nc) { (j, l) =>
      r12((0 until nr).map(i => b(i)(j) * b(i)(l)).reduceLeft(_ + _))
    }
    val trace = r12((0 until nc).map(j => btb(j)(j)).reduceLeft(_ + _))
    val k = math.min(axes, nc)
    val comps = (1 to k).map { _ =>
      var v = Array.tabulate(nc)(j => if (j == 0) 1.0 else 0.0)
      for (_ <- 1 to iters) {
        val u = Array.tabulate(nc)(j =>
          (0 until nc).map(l => btb(j)(l) * v(l)).reduceLeft(_ + _))
        val nrm = math.sqrt(u.map(x => x * x).reduceLeft(_ + _))
        v = u.map(x => r12(x / nrm))
      }
      val w = Array.tabulate(nc)(j =>
        (0 until nc).map(l => btb(j)(l) * v(l)).reduceLeft(_ + _))
      val lam = math.rint(
        (0 until nc).map(j => v(j) * w(j)).reduceLeft(_ + _) * 1e8) / 1e8
      // sign pin: first global max-|v_j| component is positive
      val pivot = (0 until nc).maxBy(j => (math.abs(v(j)), -j))
      val vP = if (v(pivot) < 0) v.map(-_) else v
      val lamF = lam
      btb = Array.tabulate(nc, nc)((j, l) =>
        r12(btb(j)(l) - lamF * v(j) * v(l)))
      (lamF, vP)
    }
    val out = for {
      i <- 0 until nr
      ax <- 0 until k
    } yield {
      val (lam, v) = comps(ax)
      val f =
        if (rm(i) <= 0) 0.0
        else r6d((0 until nc).map(j => b(i)(j) * v(j)).reduceLeft(_ + _) /
          math.sqrt(rm(i)))
      Row(rowCats(i), ax, f, r6d(lam),
        if (trace > 0) r6d(lam / trace) else 0.0)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(out).asJava),
      StructType(Seq(
        StructField("category", StringType),
        StructField("axis", IntegerType, nullable = false),
        StructField("coord", DoubleType, nullable = false),
        StructField("inertia", DoubleType, nullable = false),
        StructField("inertia_share", DoubleType, nullable = false))))
  }

  /** DuckDB twin of [[rowCoordinatesPower]] — contingency pivoted to
    * scalars via FILTERed counts, then the identical grid-rounded
    * scalar trajectory as CTEs. */
  def rowCoordinatesPowerSql(table: String, rowExpr: String,
                             colExpr: String, rowCats: Seq[String],
                             colCats: Seq[String], axes: Int,
                             iters: Int): String = {
    val nr = rowCats.length
    val nc = colCats.length
    val k = math.min(axes, nc)
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val cells =
      s"""cells AS MATERIALIZED (
         |  SELECT CAST(($rowExpr) AS VARCHAR) AS r,
         |    CAST(($colExpr) AS VARCHAR) AS c, COUNT(*) AS n
         |  FROM $table
         |  WHERE ($rowExpr) IS NOT NULL AND ($colExpr) IS NOT NULL
         |  GROUP BY 1, 2)""".stripMargin
    val m =
      s"""m AS MATERIALIZED (
         |  SELECT CAST(SUM(n) AS DOUBLE) AS nn,
         |    ${(for (i <- 0 until nr; j <- 0 until nc) yield
             s"CAST(COALESCE(SUM(n) FILTER (WHERE r = ${lit(rowCats(i))}" +
               s" AND c = ${lit(colCats(j))}), 0) AS DOUBLE) AS n_${i}_$j")
             .mkString(",\n    ")}
         |  FROM cells)""".stripMargin
    val pCte =
      s"""p AS (SELECT
         |    ${(for (i <- 0 until nr; j <- 0 until nc) yield
             s"ROUND(n_${i}_$j / nn, 12) AS p_${i}_$j").mkString(",\n    ")}
         |  FROM m)""".stripMargin
    val mass =
      s"""mass AS MATERIALIZED (SELECT *,
         |    ${(0 until nr).map(i =>
             s"ROUND(${(0 until nc).map(j => s"p_${i}_$j")
               .mkString(" + ")}, 12) AS rm_$i").mkString(",\n    ")},
         |    ${(0 until nc).map(j =>
             s"ROUND(${(0 until nr).map(i => s"p_${i}_$j")
               .mkString(" + ")}, 12) AS cm_$j").mkString(",\n    ")}
         |  FROM p)""".stripMargin
    val bCte =
      s"""b AS MATERIALIZED (SELECT *,
         |    ${(for (i <- 0 until nr; j <- 0 until nc) yield
             s"CASE WHEN rm_$i <= 0 OR cm_$j <= 0 THEN 0.0 ELSE " +
               s"ROUND((p_${i}_$j - rm_$i * cm_$j) / SQRT(rm_$i) / " +
               s"SQRT(cm_$j), 12) END AS b_${i}_$j").mkString(",\n    ")}
         |  FROM mass)""".stripMargin
    val btb0 =
      s"""btb0 AS MATERIALIZED (SELECT
         |    ${(for (j <- 0 until nc; l <- 0 until nc) yield
             s"ROUND(${(0 until nr).map(i => s"b_${i}_$j * b_${i}_$l")
               .mkString(" + ")}, 12) AS t_${j}_$l").mkString(",\n    ")}
         |  FROM b)""".stripMargin
    val tr =
      s"""tr AS (SELECT ROUND(${(0 until nc).map(j => s"t_${j}_$j")
           .mkString(" + ")}, 12) AS trace FROM btb0)""".stripMargin
    val compCtes = (1 to k).flatMap { comp =>
      val cv = s"btb${comp - 1}"
      val v0 =
        s"""pw${comp}_0 AS (SELECT ${(0 until nc).map(j =>
             s"CAST(${if (j == 0) "1.0" else "0.0"} AS DOUBLE) AS v_$j")
             .mkString(", ")})""".stripMargin
      val steps = (1 to iters).map { t =>
        val prev = s"pw${comp}_${t - 1}"
        val us = (0 until nc).map { j =>
          (0 until nc).map(l => s"$cv.t_${j}_$l * $prev.v_$l")
            .mkString(" + ") + s" AS u_$j"
        }
        val nrm = (0 until nc).map(j => s"u_$j * u_$j").mkString(" + ")
        s"""pw${comp}_$t AS (
           |  SELECT ${(0 until nc).map(j =>
               s"ROUND(u_$j / nrm, 12) AS v_$j").mkString(", ")}
           |  FROM (SELECT ${us.mkString(", ")}, SQRT($nrm) AS nrm
           |    FROM $cv CROSS JOIN $prev) t)""".stripMargin
      }
      val pl = s"pw${comp}_$iters"
      val ws = (0 until nc).map { j =>
        (0 until nc).map(l => s"$cv.t_${j}_$l * $pl.v_$l")
          .mkString(" + ") + s" AS w_$j"
      }
      val lam = (0 until nc).map(j => s"$pl.v_$j * w_$j").mkString(" + ")
      // sign pin on the UNflipped vector, then store the flipped one
      val pivotVal = (0 until nc).map { j =>
        val conds = (0 until nc).filter(_ != j).map { l =>
          if (l < j) s"ABS($pl.v_$j) > ABS($pl.v_$l)"
          else s"ABS($pl.v_$j) >= ABS($pl.v_$l)"
        }.mkString(" AND ")
        s"WHEN $conds THEN $pl.v_$j"
      }
      val pivotExpr =
        if (nc == 1) s"$pl.v_0" else pivotVal.mkString("CASE ", " ", " END")
      val lamCte =
        s"""comp$comp AS MATERIALIZED (
           |  SELECT ROUND($lam, 8) AS lam,
           |    CASE WHEN $pivotExpr < 0 THEN -1.0 ELSE 1.0 END AS sgn,
           |    ${(0 until nc).map(j => s"$pl.v_$j AS v_$j").mkString(", ")}
           |  FROM (SELECT ${ws.mkString(", ")}
           |    FROM $cv CROSS JOIN $pl) t CROSS JOIN $pl)""".stripMargin
      val defl =
        if (comp == k) Nil
        else Seq(
          s"""btb$comp AS MATERIALIZED (
             |  SELECT ${(for (j <- 0 until nc; l <- 0 until nc) yield
                 s"ROUND(c.t_${j}_$l - e.lam * e.v_$j * e.v_$l, 12)" +
                   s" AS t_${j}_$l").mkString(",\n    ")}
             |  FROM btb${comp - 1} c CROSS JOIN comp$comp e)""".stripMargin)
      Seq(v0) ++ steps ++ Seq(lamCte) ++ defl
    }
    val rows = for (i <- 0 until nr; ax <- 0 until k) yield {
      val cc = s"comp${ax + 1}"
      val dot = (0 until nc).map(j => s"b.b_${i}_$j * $cc.sgn * $cc.v_$j")
        .mkString(" + ")
      s"""SELECT ${lit(rowCats(i))} AS category, CAST($ax AS INT) AS axis,
         |  CASE WHEN b.rm_$i <= 0 THEN 0.0
         |    ELSE ROUND(($dot) / SQRT(b.rm_$i), 6) END AS coord,
         |  ROUND($cc.lam, 6) AS inertia,
         |  CASE WHEN tr.trace > 0 THEN ROUND($cc.lam / tr.trace, 6)
         |    ELSE 0.0 END AS inertia_share
         |FROM b CROSS JOIN $cc CROSS JOIN tr""".stripMargin
    }
    s"""WITH $cells,
       |$m,
       |$pCte,
       |$mass,
       |$bCte,
       |$btb0,
       |$tr,
       |${compCtes.mkString(",\n")}
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY category, axis""".stripMargin
  }
}
