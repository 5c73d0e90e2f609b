package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import graft.core.Tables

/** PCA by deflated power iteration (reference Orange/projection/pca.py
  * PCA — sklearn SVD; and Orange/projection/cur.py:13 CUR, whose
  * leverage scores are row-sums of squared top-k right singular
  * vectors).
  *
  * Distributed shape: ONE scan computes the d(d+3)/2 covariance
  * moments (detSum-reduced, map-side combined); the d×d covariance,
  * the power iterations, the deflation, and the leverage scores are
  * pure driver-side scalar algebra — no per-iteration scan, no eigen
  * library. At 100 TB this is the only part that touches data and it
  * is a single partial-aggregate pass.
  *
  * Oracle-exactness — the first eigen-family operator with a full
  * DuckDB twin: the moments reduce through detSum's DECIMAL(38,14)
  * grid, every scalar step (covariance entries, iterated vectors,
  * eigenvalues, deflation) rounds to fixed decimal grids in the same
  * operation order, so Spark and the scalar-CTE-unrolled SQL walk the
  * IDENTICAL trajectory — the comparison is exact even before the
  * iteration has converged, because "T rounded power steps from e₀"
  * is itself deterministic. Eigenvalue outputs are sign-free, so no
  * sign convention crosses the engine boundary. */
object PowerPCA {

  private def r12(v: Double): Double = math.rint(v * 1e12) / 1e12

  /** Driver-side scalar core: covariance from moments, then nComp
    * deflated power iterations. Returns (trace, per-component
    * (eigenvalue, vector)). All values on the 1e-12 grid. */
  private def scalarCore(n: Double, s: Array[Double],
                         ss: Array[Array[Double]], d: Int, nComp: Int,
                         iters: Int): (Double, Seq[(Double, Array[Double])]) = {
    var cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      r12((ss(a)(b) - s(i) * s(j) / n) / (n - 1))
    }
    val trace = {
      var t = 0.0; var i = 0
      while (i < d) { t += cov(i)(i); i += 1 }
      t
    }
    val comps = (1 to nComp).map { _ =>
      var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
      for (_ <- 1 to iters) {
        val u = Array.tabulate(d) { i =>
          var acc = 0.0; var j = 0
          while (j < d) { acc += cov(i)(j) * v(j); j += 1 }
          acc
        }
        var nn = 0.0; var i = 0
        while (i < d) { nn += u(i) * u(i); i += 1 }
        val norm = math.sqrt(nn)
        v = u.map(x => r12(x / norm))
      }
      val w = Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += cov(i)(j) * v(j); j += 1 }
        acc
      }
      var lam = 0.0
      var i = 0
      while (i < d) { lam += v(i) * w(i); i += 1 }
      lam = math.rint(lam * 1e8) / 1e8
      val lamF = lam
      val vF = v
      cov = Array.tabulate(d, d)((i, j) => r12(cov(i)(j) - lamF * vF(i) * vF(j)))
      (lamF, vF)
    }
    (trace, comps)
  }

  private def moments(df: DataFrame, feats: Seq[(String, Column)]) = {
    val d = feats.size
    val base = df.select(feats.map { case (n, f) =>
      f.cast("double").as(s"x_$n") }: _*).na.drop()
    val aggs = count(lit(1)).as("n") +:
      (feats.map { case (n, _) => Tables.detSum(col(s"x_$n")).as(s"s_$n") } ++
        (for (i <- 0 until d; j <- i until d) yield
          Tables.detSum(col(s"x_${feats(i)._1}") * col(s"x_${feats(j)._1}"))
            .as(s"ss_${i}_$j")))
    val row = base.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0).toDouble
    val s = Array.tabulate(d)(i => row.getDouble(1 + i))
    val ss = Array.ofDim[Double](d, d)
    var idx = 1 + d
    for (i <- 0 until d; j <- i until d) {
      ss(i)(j) = row.getDouble(idx); idx += 1
    }
    (n, s, ss)
  }

  /** Top-`nComp` eigenvalues of the feature covariance:
    * (component, eigenvalue, evr, top_dim). */
  def eigs(df: DataFrame, feats: Seq[(String, Column)], nComp: Int,
           iters: Int): DataFrame = {
    val d = feats.size
    val (n, s, ss) = moments(df, feats)
    val (trace, comps) = scalarCore(n, s, ss, d, nComp, iters)
    val schema = StructType(Seq(
      StructField("component", IntegerType, nullable = false),
      StructField("eigenvalue", DoubleType, nullable = false),
      StructField("evr", DoubleType, nullable = false),
      StructField("top_dim", IntegerType, nullable = false)))
    val rows = comps.zipWithIndex.map { case ((lam, v), i) =>
      var best = 0; var bestA = -1.0
      var j = 0
      while (j < d) {
        val a = math.abs(v(j)); if (a > bestA) { bestA = a; best = j }
        j += 1
      }
      Row(i + 1, lam, Rounds.roundHalfUp(lam / trace, 6), best)
    }
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows, 1), schema)
  }

  /** CUR-style column leverage from the top-`nComp` components:
    * (dim, leverage, rank) — leverage_j = Σ_c v_cj², sign-free. */
  def leverage(df: DataFrame, feats: Seq[(String, Column)], nComp: Int,
               iters: Int): DataFrame = {
    val d = feats.size
    val (n, s, ss) = moments(df, feats)
    val (_, comps) = scalarCore(n, s, ss, d, nComp, iters)
    val lev = Array.tabulate(d) { j =>
      var acc = 0.0
      comps.foreach { case (_, v) => acc += v(j) * v(j) }
      math.rint(acc * 1e8) / 1e8
    }
    val order = (0 until d).sortBy(j => (-lev(j), j))
    val rank = Array.ofDim[Int](d)
    order.zipWithIndex.foreach { case (j, r) => rank(j) = r + 1 }
    val schema = StructType(Seq(
      StructField("dim", IntegerType, nullable = false),
      StructField("leverage", DoubleType, nullable = false),
      StructField("rank", IntegerType, nullable = false)))
    val rows = (0 until d).map(j => Row(j, lev(j), rank(j)))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(rows, 1), schema)
  }

  /** ProjectPCA's transform half (reference preprocess.py:442-449 —
    * fit PCA, then replace the feature block with component scores).
    * Fit = ONE distributed moments scan + driver scalar algebra (the
    * [[eigs]] core); transform = one narrow map with the fitted
    * components and feature means inlined as literals — no shuffle, no
    * second pass, broadcast-free (the model is a handful of doubles in
    * the plan itself). Scores land on the 1e-6 grid for the oracle. */
  def project(df: DataFrame, feats: Seq[(String, Column)],
              keyCols: Seq[String], nComp: Int, iters: Int): DataFrame = {
    val d = feats.size
    val (n, s, ss) = moments(df, feats)
    val (_, comps) = scalarCore(n, s, ss, d, nComp, iters)
    val pcs = comps.zipWithIndex.map { case ((_, v), c) =>
      val terms = feats.zipWithIndex.map { case ((_, f), j) =>
        lit(v(j)) * (f.cast("double") - lit(s(j) / n)) }
      (round(terms.reduce(_ + _), 6) + lit(0.0)).as(s"pc${c + 1}")
    }
    df.select(keyCols.map(col) ++ pcs: _*)
  }

  /** ProjectCUR's transform half (reference preprocess.py:451-463 —
    * `compute_U=False`, so the transform IS the top-`rank`-leverage
    * column subset). Emitted LONG (key, dim, x): the column choice is
    * data-dependent, and a join against the tiny leverage table keeps
    * the schema static and the plan a broadcast join over one scan. */
  def projectCUR(df: DataFrame, feats: Seq[(String, Column)],
                 keyCols: Seq[String], rank: Int, nComp: Int,
                 iters: Int): DataFrame = {
    val lev = leverage(df, feats, nComp, iters)
      .filter(col("rank") <= rank).select(col("dim"))
    // ONE scan: posexplode the feature vector instead of d per-column
    // passes over the fact table
    val long = df.select(keyCols.map(col) :+
      posexplode(array(feats.map(_._2.cast("double")): _*))
        .as(Seq("dim", "x")): _*)
    long.join(broadcast(lev), "dim")
      .select(keyCols.map(col) :+ col("dim") :+ col("x"): _*)
  }

  // ---- SQL twins ----------------------------------------------------

  /** Shared CTE chain: moments → cov0 → unrolled power steps with
    * deflation. Returns (prefix CTEs, final component list referencing
    * CTE `compC` columns lam_c / v_c_j). */
  private def sqlCore(table: String, featsSql: Seq[(String, String)],
                      nComp: Int, iters: Int): (String, Int) = {
    val d = featsSql.size
    val names = featsSql.map(_._1)
    def det(t: String) =
      s"CAST(SUM(CAST(ROUND(($t), 12) AS DECIMAL(38,14))) AS DOUBLE)"
    val momAggs =
      names.map(n => s"${det(s"x_$n")} AS s_$n") ++
        (for (i <- 0 until d; j <- i until d) yield
          s"${det(s"x_${names(i)} * x_${names(j)}")} AS ss_${i}_$j")
    val feats =
      s"""feats AS MATERIALIZED (
         |  SELECT ${featsSql.map { case (n, e) =>
               s"CAST($e AS DOUBLE) AS x_$n" }.mkString(", ")}
         |  FROM $table
         |  WHERE ${featsSql.map(e => s"(${e._2}) IS NOT NULL")
               .mkString(" AND ")}),
         |mom AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${momAggs.mkString(",\n    ")}
         |  FROM feats)""".stripMargin
    def covEntry(i: Int, j: Int) = {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      s"ROUND((ss_${a}_$b - s_${names(i)} * s_${names(j)} / n) / (n - 1), 12)"
    }
    val cov0 =
      s"""cov0 AS MATERIALIZED (
         |  SELECT ${(for (i <- 0 until d; j <- 0 until d) yield
             s"${covEntry(i, j)} AS c_${i}_$j").mkString(",\n    ")},
         |    ${(0 until d).map(i => covEntry(i, i)).mkString(" + ")} AS trace
         |  FROM mom)""".stripMargin
    val compCtes = (1 to nComp).flatMap { comp =>
      val cv = s"cov${comp - 1}"
      val v0 =
        s"""p${comp}_0 AS (
           |  SELECT ${(0 until d).map(j =>
               s"CAST(${if (j == 0) "1.0" else "0.0"} AS DOUBLE) AS v_$j")
               .mkString(", ")})""".stripMargin
      val steps = (1 to iters).map { t =>
        val prev = s"p${comp}_${t - 1}"
        val us = (0 until d).map { i =>
          (0 until d).map(j => s"$cv.c_${i}_$j * $prev.v_$j")
            .mkString(" + ") + s" AS u_$i"
        }
        val norm = (0 until d).map(i => s"u_$i * u_$i").mkString(" + ")
        s"""p${comp}_$t AS (
           |  SELECT ${(0 until d).map(i =>
               s"ROUND(u_$i / nrm, 12) AS v_$i").mkString(", ")}
           |  FROM (SELECT ${us.mkString(",\n    ")},
           |    SQRT($norm) AS nrm
           |  FROM $cv CROSS JOIN $prev) t)""".stripMargin
      }
      val pl = s"p${comp}_$iters"
      val ws = (0 until d).map { i =>
        (0 until d).map(j => s"$cv.c_${i}_$j * $pl.v_$j")
          .mkString(" + ") + s" AS w_$i"
      }
      val lam = (0 until d).map(i => s"$pl.v_$i * w_$i").mkString(" + ")
      val lamCte =
        s"""comp$comp AS MATERIALIZED (
           |  SELECT ROUND($lam, 8) AS lam,
           |    ${(0 until d).map(i => s"$pl.v_$i AS v_$i").mkString(", ")},
           |    $cv.trace AS trace
           |  FROM (SELECT ${ws.mkString(",\n    ")}, ${(0 until d)
               .map(i => s"$pl.v_$i").mkString(", ")}, $cv.trace
           |    FROM $cv CROSS JOIN $pl) t CROSS JOIN $cv CROSS JOIN $pl)""".stripMargin
      val defl =
        if (comp == nComp) Nil
        else Seq(
          s"""cov$comp AS MATERIALIZED (
             |  SELECT ${(for (i <- 0 until d; j <- 0 until d) yield
                 s"ROUND(c.c_${i}_$j - e.lam * e.v_$i * e.v_$j, 12) AS c_${i}_$j")
                 .mkString(",\n    ")}, c.trace AS trace
             |  FROM cov${comp - 1} c CROSS JOIN comp$comp e)""".stripMargin)
      Seq(v0) ++ steps ++ Seq(lamCte) ++ defl
    }
    (s"$feats,\n$cov0,\n${compCtes.mkString(",\n")}", d)
  }

  /** DuckDB twin of [[eigs]]. */
  def eigsSql(table: String, featsSql: Seq[(String, String)], nComp: Int,
              iters: Int): String = {
    val (prefix, d) = sqlCore(table, featsSql, nComp, iters)
    val rows = (1 to nComp).map { comp =>
      val topDim = (0 until d).map { i =>
        val conds = (0 until d).filter(_ != i).map { j =>
          if (j < i) s"ABS(v_$i) > ABS(v_$j)" else s"ABS(v_$i) >= ABS(v_$j)"
        }.mkString(" AND ")
        s"WHEN $conds THEN $i"
      }.mkString("CASE ", " ", " END")
      s"""SELECT $comp AS component, lam AS eigenvalue,
         |  ROUND(lam / trace, 6) AS evr,
         |  CAST($topDim AS INT) AS top_dim
         |FROM comp$comp""".stripMargin
    }
    s"WITH $prefix\n${rows.mkString("\nUNION ALL\n")}\nORDER BY component"
  }

  /** DuckDB twin of [[project]]. `prelude` lets a caller chain earlier
    * pipeline stages (e.g. AdaptiveNormalize) as CTEs that define
    * `table`. */
  def projectSql(table: String, featsSql: Seq[(String, String)],
                 keySqls: Seq[String], nComp: Int, iters: Int,
                 prelude: String = ""): String = {
    val (prefix, _) = sqlCore(table, featsSql, nComp, iters)
    val pcs = (1 to nComp).map { c =>
      val terms = featsSql.zipWithIndex.map { case ((nm, e), j) =>
        s"comp$c.v_$j * (CAST($e AS DOUBLE) - mom.s_$nm / mom.n)"
      }.mkString(" + ")
      s"ROUND($terms, 6) + 0.0 AS pc$c"
    }
    val pre = if (prelude.isEmpty) "" else s"$prelude,\n"
    s"""WITH $pre$prefix
       |SELECT ${keySqls.mkString(", ")},
       |  ${pcs.mkString(",\n  ")}
       |FROM $table CROSS JOIN mom ${(1 to nComp)
         .map(c => s"CROSS JOIN comp$c").mkString(" ")}
       |ORDER BY ${keySqls.mkString(", ")}""".stripMargin
  }

  /** DuckDB twin of [[projectCUR]]. */
  def projectCURSql(table: String, featsSql: Seq[(String, String)],
                    keySqls: Seq[String], rank: Int, nComp: Int,
                    iters: Int): String = {
    val (prefix, d) = sqlCore(table, featsSql, nComp, iters)
    val levExpr = (1 to nComp).map(c => s"comp$c.v_DIM * comp$c.v_DIM")
      .mkString(" + ")
    val levRows = (0 until d).map { j =>
      s"SELECT $j AS dim, ROUND(${levExpr.replace("DIM", j.toString)}, 8)" +
        s" AS leverage FROM ${(1 to nComp).map(c => s"comp$c").mkString(" CROSS JOIN ")}"
    }
    val longRows = featsSql.zipWithIndex.map { case ((_, e), j) =>
      s"SELECT ${keySqls.mkString(", ")}, $j AS dim, CAST($e AS DOUBLE) AS x FROM $table"
    }
    s"""WITH $prefix,
       |lev AS (${levRows.mkString("\nUNION ALL\n")}),
       |sel AS (
       |  SELECT dim FROM (
       |    SELECT dim, ROW_NUMBER() OVER (ORDER BY leverage DESC, dim) AS rnk
       |    FROM lev) WHERE rnk <= $rank),
       |long AS (${longRows.mkString("\nUNION ALL\n")})
       |SELECT l.${keySqls.mkString(", l.")}, l.dim, l.x
       |FROM long l JOIN sel s ON s.dim = l.dim
       |ORDER BY l.${keySqls.mkString(", l.")}, l.dim""".stripMargin
  }

  /** DuckDB twin of [[leverage]]. */
  def leverageSql(table: String, featsSql: Seq[(String, String)],
                  nComp: Int, iters: Int): String = {
    val (prefix, d) = sqlCore(table, featsSql, nComp, iters)
    val levExpr = (1 to nComp).map(c => s"comp$c.v_DIM * comp$c.v_DIM")
      .mkString(" + ")
    val rows = (0 until d).map { j =>
      s"SELECT $j AS dim, ROUND(${levExpr.replace("DIM", j.toString)}, 8)" +
        s" AS leverage FROM ${(1 to nComp).map(c => s"comp$c").mkString(" CROSS JOIN ")}"
    }
    s"""WITH $prefix,
       |lev AS (${rows.mkString("\nUNION ALL\n")})
       |SELECT dim, leverage,
       |  CAST(ROW_NUMBER() OVER (ORDER BY leverage DESC, dim) AS INT) AS rank
       |FROM lev
       |ORDER BY dim""".stripMargin
  }
}
