package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{PortableHash, Tables}

/** One-class SVM outlier detector (reference
  * Orange/classification/outlier_detection.py:17-180 OneClassSVMLearner,
  * sklearn OneClassSVM with RBF kernel).
  *
  * Distributed re-expression: the RBF kernel is approximated with
  * Random Fourier Features (Rahimi & Recht, "Random Features for
  * Large-Scale Kernel Machines", NIPS 2007) — z_j(x) = √(2/D)·cos(ω_j·x
  * + b_j) with ω ~ N(0, γ·2) and b ~ U[0, 2π] — turning the kernel
  * problem into a LINEAR one-class SVM (Schölkopf et al. 2001):
  *
  *   min_w,ρ  ½‖w‖² − ρ + 1/(νn) Σ max(0, ρ − w·z(x_i))
  *
  * solved by full-batch subgradient descent: each iteration is ONE
  * [[Rounds]] pass over z and its detSum grid longs, projected once
  * (Σ z_i over the margin violators + their count, weights broadcast)
  * — the same iterative-ML shape as SGD.scala, linear per pass at any
  * scale. The rank-k ρ and the scoring are Catalyst plans.
  *
  * Determinism: ω/b come from md5-derived Box–Muller draws
  * (PortableHash), gradient sums reduce through detSum, and weights are
  * rounded to 10 decimals per step — same result every run, any
  * partitioning. */
object OneClassSVM {

  /** Deterministic uniform in (0,1) from a label. */
  private def u01(s: String): Double =
    (PortableHash.hash32(s) + 1.0) / 4294967297.0

  /** Box–Muller normal draw keyed by a label. */
  private def normal(s: String): Double = {
    val u1 = u01(s + "_u1"); val u2 = u01(s + "_u2")
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** The deterministic RFF constants: per feature j, the per-input
    * frequencies scale·N_j,i and the phase offset b_j — exposed so the
    * SQL twin can inline the identical doubles as literals. */
  def rffConstants(nInputs: Int, d: Int,
                   gamma: Double): (Seq[Seq[Double]], Seq[Double]) = {
    val scale = math.sqrt(2.0 * gamma)
    val freqs = (0 until d).map(j =>
      (0 until nInputs).map(i => scale * normal(s"rff_${j}_$i")))
    val offs = (0 until d).map(j => 2.0 * math.Pi * u01(s"rffb_$j"))
    (freqs, offs)
  }

  /** Random Fourier Feature expressions for the given input columns:
    * D cosine features with frequencies baked in as literals. */
  def rffFeatures(xs: Seq[Column], d: Int, gamma: Double): Seq[Column] = {
    val (freqs, offs) = rffConstants(xs.length, d, gamma)
    val amp = math.sqrt(2.0 / d)
    (0 until d).map { j =>
      val proj = xs.zipWithIndex.map { case (x, i) =>
        x * freqs(j)(i) }.reduce(_ + _)
      (cos(proj + offs(j)) * amp).as(s"z$j")
    }
  }

  /** DuckDB twin of [[fitPredict]]'s aggregate summary — the full GD
    * trajectory unrolled as chained 1-row CTEs (the device of
    * [[SGD.linearGDSql]]): the RFF constants inline as the identical
    * double literals, every gradient runs through the 12-decimal detSum
    * grid the Spark rounds sum on, weights/ρ round to 10 decimals per
    * step, and the finishing ρ is the rank-k non-NULL margin.
    * Emits one row (n, n_outliers, min_score, max_score). Cross-engine
    * cos() ulp differences sit ~4 orders below the rounding grids. */
  def fitPredictSummarySql(table: String, xSqls: Seq[String],
                           nu: Double, d: Int, gamma: Double,
                           iterations: Int, lr: Double = 0.1): String = {
    import graft.queries.SqlGen.sqlDetSum
    def dl(v: Double): String = if (v < 0) s"($v)" else v.toString
    val (freqs, offs) = rffConstants(xSqls.length, d, gamma)
    val amp = math.sqrt(2.0 / d)
    val zCols = (0 until d).map { j =>
      val proj = xSqls.zipWithIndex.map { case (x, i) =>
        s"($x) * ${dl(freqs(j)(i))}" }.mkString(" + ")
      s"COS($proj + ${dl(offs(j))}) * ${dl(amp)} AS z$j"
    }.mkString(",\n    ")
    def margin(p: String) =
      (0 until d).map(j => s"z$j * $p.w$j").mkString(" + ")
    val steps = (1 to iterations).map { i =>
      val p = s"it${i - 1}"
      val viol = s"(${margin(p)}) < $p.rho"
      val inv = s"(1.0 / ($nu * nrow.n))"
      val wUpd = (0 until d).map { j =>
        val s = sqlDetSum(s"CASE WHEN $viol THEN z$j ELSE 0.0 END")
        s"ROUND(MIN($p.w$j) - $lr * (MIN($p.w$j) - MIN($inv) * $s), 10) AS w$j"
      }.mkString(",\n    ")
      s"""it$i AS (
         |  SELECT $wUpd,
         |    ROUND(MIN($p.rho) - $lr * (-1.0 + MIN($inv) *
         |      SUM(CASE WHEN $viol THEN 1 ELSE 0 END)), 10) AS rho
         |  FROM feats CROSS JOIN it${i - 1} $p CROSS JOIN nrow)"""
        .stripMargin
    }.mkString(",\n")
    val last = s"it$iterations"
    val w0 = (0 until d).map(j =>
      s"CAST(${dl(1.0 / d)} AS DOUBLE) AS w$j").mkString(", ")
    s"""WITH feats AS (
       |  SELECT
       |    $zCols
       |  FROM $table),
       |nrow AS (SELECT COUNT(*) AS n FROM feats),
       |it0 AS (SELECT $w0, CAST(0.0 AS DOUBLE) AS rho),
       |$steps,
       |fin AS (
       |  SELECT ROUND(MAX(m), 10) AS rho FROM (
       |    SELECT m, ROW_NUMBER() OVER (ORDER BY m ASC) AS rk, n FROM (
       |      SELECT (${margin(last)}) AS m, nrow.n
       |      FROM feats CROSS JOIN $last CROSS JOIN nrow))
       |  WHERE rk <= GREATEST(1, CAST(FLOOR($nu * n) AS BIGINT))),
       |scored AS (
       |  SELECT ROUND((${margin(last)}) - fin.rho, 6) AS score
       |  FROM feats CROSS JOIN $last CROSS JOIN fin)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN score < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers,
       |  ROUND(MIN(score), 6) AS min_score,
       |  ROUND(MAX(score), 6) AS max_score
       |FROM scored""".stripMargin
  }

  /** Fit + score: returns input + (score, is_outlier) where score =
    * w·z − ρ (negative ⇒ outlier), rounded to 6 decimals.
    * @param nu    Schölkopf's ν — upper bound on the outlier fraction
    * @param d     number of Fourier features
    * @param gamma RBF width (sklearn's gamma) */
  def fitPredict(df: DataFrame, xs: Seq[(String, Column)], nu: Double = 0.1,
                 d: Int = 32, gamma: Double = 0.5, iterations: Int = 30,
                 lr: Double = 0.1): DataFrame = {
    val scored = df.select(col("*") +: rffFeatures(xs.map(_._2), d, gamma): _*)
    // z_j then their detSum grid longs, stride 2d. A row with a NULL
    // input has NULL z; it reads NaN here, so its margin is NaN and,
    // like Catalyst's NULL margin, never violates.
    val zs = (0 until d).map(j => coalesce(col(s"z$j"), lit(Double.NaN)))
    val pts = Rounds.doubles(scored.select(
      zs ++ zs.map(z => Tables.detSumTerm(z).cast("double")): _*))
    val (w, n) = try {
      val n = Rounds.envelope(pts, 2 * d, 0)._1 // the count pass
      require(n > 0, "empty input")
      var w = Array.fill(d)(1.0 / d) // uniform init, deterministic
      var rho = 0.0
      val inv = 1.0 / (nu * n)
      for (_ <- 1 to iterations) {
        // slot j < d: Σ of the violators' z_j grid longs; slot d: their
        // count. The margin adds z_j·w_j left to right in ascending j,
        // as Catalyst's reduce(_ + _) did.
        val acc = Rounds.pass(pts, (w, rho), d + 1) { (state, ch, a) =>
          val (w, rho) = state
          var o = 0
          while (o < ch.length) {
            var m = ch(o) * w(0)
            var j = 1
            while (j < d) { m += ch(o + j) * w(j); j += 1 }
            if (m < rho) {
              j = 0
              while (j < d) { a.add(j, ch(o + d + j).toLong); j += 1 }
              a.add(d, 1L)
            }
            o += 2 * d
          }
        }
        val nv = acc.long(d)
        w = Array.tabulate(d) { j =>
          val g = w(j) - inv * acc.detSum(j)
          math.rint((w(j) - lr * g) * 1e10) / 1e10 }
        rho = math.rint((rho - lr * (-1.0 + inv * nv)) * 1e10) / 1e10
      }
      (w, n)
    } finally pts.unpersist(blocking = false)

    // finishing step: at the optimum, ρ is the ν-quantile of the
    // projections w·z (Schölkopf's KKT condition) — set it exactly so
    // is_outlier flags the ν-fraction regardless of GD step-size. The
    // k-th smallest margin = max of the k smallest (value-based, no
    // row-order dependence). NULL margins sort last, as in the twin's
    // ROW_NUMBER() OVER (ORDER BY m ASC).
    val margin = (0 until d).map(j => col(s"z$j") * lit(w(j))).reduce(_ + _)
    val k = math.max(1, math.floor(nu * n).toInt)
    val mCol = scored.select(margin.as("__m")).orderBy(col("__m").asc_nulls_last)
      .limit(k).agg(max(col("__m"))).head()
    require(!mCol.isNullAt(0), "one-class SVM: every margin is NULL (filter or impute NULLs first)")
    val rho = math.rint(mCol.getDouble(0) * 1e10) / 1e10
    scored.withColumn("score", round(margin - rho, 6))
      .withColumn("is_outlier", (col("score") < 0).cast("int"))
      .drop((0 until d).map(j => s"z$j"): _*)
  }
}
