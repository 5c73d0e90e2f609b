package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifold / matrix-factorization projections (reference
  * Orange/projection/manifold.py:119 MDS, cur.py:13 CUR).
  *
  * MDS: classical (Torgerson) scaling — double-center the squared
  * distance matrix, take the top-2 eigenpairs. The reference itself runs
  * this in-memory on the full table; at 100 TB the honest contract is a
  * deterministic SAMPLE (the survey marks t-SNE/MDS "driver-side on
  * sampled data, non-goal at scale"): distances for the ≤N-point sample
  * are computed in one driver pass, eigenvectors by power iteration (no
  * linear-algebra dependency). Out-of-sample points could be placed by
  * landmark triangulation — round 2.
  *
  * CUR: column selection by PCA leverage scores — the statistical
  * leverage of column j is Σ_k loadings²[j,k] over the top-k right
  * singular vectors; the distributed part (covariance/PCA) is MLlib's,
  * the ranking is a tiny driver table.
  */
object Manifold {

  /** Classical MDS of a sampled embedding table → (id, mds1, mds2).
    * Sample = first `n` rows by id (deterministic). */
  def mdsSampled(df: DataFrame, idCol: String, arrayCol: String,
                 n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"),
        col(arrayCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(n)
      .as[(Long, Seq[Double])].collect()
    val ids = rows.map(_._1); val x = rows.map(_._2.toArray)
    val m = ids.length
    // squared Euclidean distances
    val d2 = Array.tabulate(m, m) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < x(i).length) { val d = x(i)(k) - x(j)(k); s += d * d; k += 1 }
      s
    }
    // double centering: B = -1/2 J D² J
    val rowMean = d2.map(_.sum / m)
    val grand = rowMean.sum / m
    val bMat = Array.tabulate(m, m) { (i, j) =>
      -0.5 * (d2(i)(j) - rowMean(i) - rowMean(j) + grand) }
    // top-2 eigenpairs by deflated power iteration (deterministic start)
    def powerIter(mat: Array[Array[Double]]): (Double, Array[Double]) = {
      var v = Array.tabulate(m)(i => 1.0 / math.sqrt(m.toDouble) *
        (if (i % 2 == 0) 1 else -1) * (1.0 + i.toDouble / m))
      var lambda = 0.0
      for (_ <- 0 until 200) {
        val w = Array.tabulate(m)(i =>
          mat(i).indices.map(j => mat(i)(j) * v(j)).sum)
        val norm = math.sqrt(w.map(a => a * a).sum)
        if (norm > 0) { v = w.map(_ / norm) }
        lambda = v.indices.map(i =>
          v(i) * mat(i).indices.map(j => mat(i)(j) * v(j)).sum).sum
      }
      (lambda, v)
    }
    val (l1, v1) = powerIter(bMat)
    val deflated = Array.tabulate(m, m) { (i, j) => bMat(i)(j) - l1 * v1(i) * v1(j) }
    val (l2, v2) = powerIter(deflated)
    val c1 = math.sqrt(math.max(l1, 0)); val c2 = math.sqrt(math.max(l2, 0))
    ids.indices.map { i =>
      (ids(i), math.rint(v1(i) * c1 * 1e6) / 1e6,
               math.rint(v2(i) * c2 * 1e6) / 1e6)
    }.toDF(idCol, "mds1", "mds2")
  }

  // ---- oracle-exact classical MDS --------------------------------------

  /** DuckDB-faithful ROUND(x, s) on DOUBLE: std::round(x·10^s)/10^s —
    * half away from zero on the scaled FP product. math.rint would
    * round half-even and diverge by one grid step whenever a quotient
    * lands exactly on a .5 boundary (observed once in the 16k MDS
    * matvec roundings). */
  private def rAway(v: Double, pow: Double): Double = {
    val p = v * pow
    (if (p >= 0) math.floor(p + 0.5) else math.ceil(p - 0.5)) / pow
  }
  private def r12(v: Double): Double = rAway(v, 1e12)
  private def r6d(v: Double): Double = rAway(v, 1e6)

  /** Order-independent exact sum of 1e-12-grid doubles: each term's
    * shortest decimal form at scale 14 (exact for grid values), summed
    * as decimals — the driver-side mirror of the SQL
    * `CAST(SUM(CAST(ROUND(t, 12) AS DECIMAL(38,14))) AS DOUBLE)`. */
  private def decSum(ts: IterableOnce[Double]): Double = {
    var acc = java.math.BigDecimal.ZERO
    ts.iterator.foreach { t =>
      acc = acc.add(java.math.BigDecimal.valueOf(t)
        .setScale(14, java.math.RoundingMode.HALF_UP))
    }
    acc.doubleValue()
  }

  /** Classical MDS with a fully reproducible trajectory — the
    * oracle-exact twin of [[mdsSampled]]: same Torgerson scaling
    * (double-centered squared distances, top-2 deflated power
    * iteration) but every matrix entry rounds to the 1e-12 grid and
    * every reduction (pair distances, row means, matvecs, norms,
    * Rayleigh quotients) goes through exact decimal sums, so DuckDB
    * replays the identical IEEE trajectory CTE-for-CTE. The alternating
    * start vector is the same one [[mdsSampled]] uses (the constant
    * vector is in B's null space). Sample and iteration count bound the
    * driver work; the distributed contract is unchanged (deterministic
    * first-n-by-id sample, everything after is m²-scalar algebra). */
  def mdsSampledExact(df: DataFrame, idCol: String, arrayCol: String,
                      dims: Int, n: Int, iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"),
        col(arrayCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(n)
      .as[(Long, Seq[Double])].collect()
    val ids = rows.map(_._1)
    val x = rows.map(_._2.take(dims).toArray)
    val m = ids.length
    val md = m.toDouble
    val d2 = Array.tabulate(m, m) { (i, j) =>
      decSum((0 until dims).map { k =>
        val d = x(i)(k) - x(j)(k); r12(d * d)
      })
    }
    val rm = Array.tabulate(m)(i => r12(decSum(d2(i)) / md))
    val grand = r12(decSum(rm) / md)
    // B/m, not B: keeps every decimal-summed term (b·v, u², u·v) small
    // enough that the double→DECIMAL(38,14) boundary is unambiguous
    // (|t| ≲ 30 ⇒ ulp < half the 1e-14 grid); eigenvalues rescale by m
    // at the output.
    var b = Array.tabulate(m, m)((i, j) =>
      r12(-0.5 * (d2(i)(j) - rm(i) - rm(j) + grand) / md))
    def v0 = Array.tabulate(m)(i =>
      r12((if (i % 2 == 0) 1.0 else -1.0) * (1.0 + i.toDouble / md) /
        math.sqrt(md)))
    val comps = (1 to 2).map { comp =>
      var v = v0
      for (_ <- 1 to iters) {
        val u = Array.tabulate(m)(i =>
          decSum((0 until m).map(j => r12(b(i)(j) * v(j)))))
        val nrm = math.sqrt(decSum(u.map(ui => r12(ui * ui))))
        // zero-norm guard mirrors the eigenCtes CASE (no-op when > 0)
        v = if (nrm > 0) u.map(ui => r12(ui / nrm)) else u.map(_ => 0.0)
      }
      val w = Array.tabulate(m)(i =>
        decSum((0 until m).map(j => r12(b(i)(j) * v(j)))))
      val lam = rAway(
        decSum((0 until m).map(i => r12(v(i) * w(i)))), 1e8)
      if (comp == 1)
        b = Array.tabulate(m, m)((i, j) => r12(b(i)(j) - lam * v(i) * v(j)))
      (lam, v)
    }
    val (l1, v1) = comps(0)
    val (l2, v2) = comps(1)
    val c1 = math.sqrt(math.max(l1 * md, 0.0))
    val c2 = math.sqrt(math.max(l2 * md, 0.0))
    // snap to the 1e-12 grid before presentation rounding: any last-ulp
    // divergence between the engines' products dies at the grid, so the
    // 6-decimal boundary is decided on identical doubles
    ids.indices.map(i =>
      (ids(i), r6d(r12(v1(i) * c1)), r6d(r12(v2(i) * c2))))
      .toDF(idCol, "mds1", "mds2")
  }

  /** DuckDB twin of [[mdsSampledExact]]: the pair table replays the
    * grid-rounded distances, centering and per-iteration matvec
    * reductions through the same DECIMAL(38,14) sums. */
  def mdsSampledExactSql(table: String, idSql: String, arraySql: Int => String,
                         dims: Int, n: Int, iters: Int): String = {
    def det(t: String) =
      s"CAST(SUM(CAST(($t) AS DECIMAL(38,14))) AS DOUBLE)"
    val xCols = (0 until dims).map(k =>
      s"CAST(${arraySql(k)} AS DOUBLE) AS x_$k").mkString(",\n    ")
    val d2Terms = (0 until dims).map(k =>
      s"CAST(ROUND((a.x_$k - b.x_$k) * (a.x_$k - b.x_$k), 12) " +
        "AS DECIMAL(38,14))").mkString(" + ")
    s"""WITH samp AS MATERIALIZED (
       |  SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS i, id,
       |    ${(0 until dims).map(k => s"x_$k").mkString(", ")}
       |  FROM (SELECT $idSql AS id,
       |    $xCols
       |  FROM $table ORDER BY 1 LIMIT $n) t),
       |mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS md FROM samp),
       |pairs AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j,
       |    CAST($d2Terms AS DOUBLE) AS d2
       |  FROM samp a CROSS JOIN samp b),
       |rm AS MATERIALIZED (
       |  SELECT i, ROUND(${det("d2")} / mm.md, 12) AS rm
       |  FROM pairs CROSS JOIN mm GROUP BY i, mm.md),
       |gg AS (SELECT ROUND(${det("rm")} / mm.md, 12) AS g
       |  FROM rm CROSS JOIN mm GROUP BY mm.md),
       |b0 AS MATERIALIZED (
       |  SELECT p.i, p.j,
       |    ROUND(-0.5 * (p.d2 - ri.rm - rj.rm + gg.g) / mm.md, 12) AS v
       |  FROM pairs p
       |  JOIN rm ri ON ri.i = p.i
       |  JOIN rm rj ON rj.i = p.j
       |  CROSS JOIN gg CROSS JOIN mm),
       |vinit AS MATERIALIZED (
       |  SELECT i, ROUND((CASE WHEN i % 2 = 0 THEN 1.0 ELSE -1.0 END) *
       |    (1.0 + CAST(i AS DOUBLE) / mm.md) / SQRT(mm.md), 12) AS v
       |  FROM samp CROSS JOIN mm),
       |${(1 to 2).flatMap { comp =>
           val bT = s"b${comp - 1}"
           val pv0 = s"pw${comp}_0 AS (SELECT i, v FROM vinit)"
           val steps = (1 to iters).flatMap { t =>
             val prev = s"pw${comp}_${t - 1}"
             Seq(
               s"""u${comp}_$t AS MATERIALIZED (
                  |  SELECT b.i,
                  |    ${det(s"ROUND(b.v * vv.v, 12)")} AS u
                  |  FROM $bT b JOIN $prev vv ON b.j = vv.i
                  |  GROUP BY b.i)""".stripMargin,
               s"""n${comp}_$t AS (SELECT
                  |  SQRT(${det(s"ROUND(u * u, 12)")}) AS nrm
                  |  FROM u${comp}_$t)""".stripMargin,
               s"""pw${comp}_$t AS MATERIALIZED (
                  |  SELECT i, ROUND(u / nrm, 12) AS v
                  |  FROM u${comp}_$t CROSS JOIN n${comp}_$t)""".stripMargin)
           }
           val pl = s"pw${comp}_$iters"
           val lamCte =
             s"""lam$comp AS MATERIALIZED (
                |  SELECT ROUND(${det("ROUND(w.u * vv.v, 12)")}, 8) AS lam
                |  FROM (SELECT b.i, ${det("ROUND(b.v * vv.v, 12)")} AS u
                |        FROM $bT b JOIN $pl vv ON b.j = vv.i
                |        GROUP BY b.i) w
                |  JOIN $pl vv ON w.i = vv.i)""".stripMargin
           val defl =
             if (comp == 2) Nil
             else Seq(
               s"""b$comp AS MATERIALIZED (
                  |  SELECT b.i, b.j,
                  |    ROUND(b.v - l.lam * vi.v * vj.v, 12) AS v
                  |  FROM $bT b
                  |  JOIN $pl vi ON vi.i = b.i
                  |  JOIN $pl vj ON vj.i = b.j
                  |  CROSS JOIN lam$comp l)""".stripMargin)
           Seq(pv0) ++ steps ++ Seq(lamCte) ++ defl
         }.mkString(",\n")}
       |SELECT s.id AS vec_id,
       |  ROUND(ROUND(v1.v * SQRT(GREATEST(l1.lam * mm.md, 0.0)), 12), 6) AS mds1,
       |  ROUND(ROUND(v2.v * SQRT(GREATEST(l2.lam * mm.md, 0.0)), 12), 6) AS mds2
       |FROM samp s
       |JOIN pw1_$iters v1 ON v1.i = s.i
       |JOIN pw2_$iters v2 ON v2.i = s.i
       |CROSS JOIN lam1 l1 CROSS JOIN lam2 l2 CROSS JOIN mm
       |ORDER BY vec_id""".stripMargin
  }

  private def rAwayAt(v: Double, pow: Double): Double = {
    val p = v * pow
    (if (p >= 0) math.floor(p + 0.5) else math.ceil(p - 0.5)) / pow
  }

  /** decSum at an arbitrary decimal scale — mirror of
    * SqlGen.sqlDetSum(term, scale): terms are pre-rounded to the
    * 10^-scale grid, summed exactly as decimals. */
  private def decSumAt(scale: Int, ts: IterableOnce[Double]): Double = {
    var acc = java.math.BigDecimal.ZERO
    ts.iterator.foreach { t =>
      acc = acc.add(java.math.BigDecimal.valueOf(t)
        .setScale(scale + 2, java.math.RoundingMode.HALF_UP))
    }
    acc.doubleValue()
  }

  /** t-SNE with a fully reproducible trajectory — the oracle-exact twin
    * of [[tsneSampled]]. Same pipeline (perplexity-calibrated
    * affinities by per-point β bisection, classical-scaling init,
    * early-exaggerated momentum GD with van-der-Maaten gains, landmark
    * extension), but every engine-divergent quantity is pinned:
    *
    *   - pair distances / matvecs go through the decimal-sum devices,
    *   - the ONLY libm calls (exp in the affinity kernel, log in the
    *     entropy) are grid-rounded — exp(−βd²) to 1e-8, the entropy H
    *     to 1e-9 — so a ≤1-ulp libm disagreement between JVM and
    *     DuckDB dies at the grid (measured: exp differs in ~18% of
    *     calls, log in ~98%, all ≤ 9e-16),
    *   - the GD phase is purely rational (q ∝ 1/(1+d²)): gradient
    *     terms round to 1e-9 and sum at DECIMAL(38,11), y re-grids to
    *     1e-12 per step, gains/velocities evolve by identical IEEE
    *     arithmetic,
    *   - init comes from [[mdsSampledExact]]'s already-pinned output.
    *
    * Returns (id, tsne1, tsne2) for EVERY row: landmarks exact,
    * the rest by the deterministic top-3 inverse-distance landmark
    * interpolation (same shape as [[extendByLandmarks]]). */
  def tsneSampledExact(df: DataFrame, idCol: String, arrayCol: String,
                       dims: Int, n: Int, perplexity: Double,
                       betaSteps: Int, iters: Int, exagIters: Int,
                       mdsIters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val init = mdsSampledExact(df, idCol, arrayCol, dims, n, mdsIters)
      .orderBy(col(idCol)).as[(Long, Double, Double)].collect()
    val ids = init.map(_._1)
    val m = ids.length
    val maxAbs = math.max(1e-9,
      init.flatMap(r => Seq(math.abs(r._2), math.abs(r._3))).max)
    var y = init.map(r =>
      Array(r._2 / maxAbs * 1e-4, r._3 / maxAbs * 1e-4))
    val rows = df.select(col(idCol).cast("long"),
        col(arrayCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(n)
      .as[(Long, Seq[Double])].collect()
    val x = rows.map(_._2.take(dims).toArray)
    val d2 = Array.tabulate(m, m) { (i, j) =>
      decSumAt(12, (0 until dims).map { k =>
        val d = x(i)(k) - x(j)(k); r12(d * d)
      })
    }
    // per-point β bisection on the 1e-8/1e-9 grids
    val target = math.log(math.min(perplexity, (m - 1).toDouble))
    val beta = Array.ofDim[Double](m)
    for (i <- 0 until m) {
      var bLo = 1e-20; var bHi = 1e20; var b = 1.0
      for (_ <- 1 to betaSteps) {
        val ex = (0 until m).map(j =>
          if (j == i) 0.0 else rAwayAt(math.exp(-d2(i)(j) * b), 1e8))
        val sum = decSumAt(8, ex)
        val sd = decSumAt(8,
          (0 until m).map(j => rAwayAt(d2(i)(j) * ex(j), 1e8)))
        val h = if (sum > 0) rAwayAt(math.log(sum) + b * sd / sum, 1e9)
                else 0.0
        if (h > target) {
          bLo = b; b = if (bHi < 1e19) (b + bHi) / 2 else b * 2
        } else { bHi = b; b = (b + bLo) / 2 }
      }
      beta(i) = b
    }
    val pn = Array.tabulate(m, m) { (i, j) =>
      if (j == i) 0.0 else rAwayAt(math.exp(-d2(i)(j) * beta(i)), 1e8)
    }
    for (i <- 0 until m) {
      val s = decSumAt(8, pn(i))
      if (s > 0) for (j <- 0 until m) pn(i)(j) = pn(i)(j) / s
    }
    val pij = Array.tabulate(m, m) { (i, j) =>
      math.max((pn(i)(j) + pn(j)(i)) / (2.0 * m), 1e-12) }
    // momentum GD with gains — rational arithmetic + grid rounding
    val vel = Array.ofDim[Double](m, 2)
    val gains = Array.fill(m, 2)(1.0)
    val lr = math.max(m / 12.0 / 4.0, 50.0)
    for (it <- 0 until iters) {
      val exag = if (it < exagIters) 12.0 else 1.0
      val mom = if (it < exagIters) 0.5 else 0.8
      val num = Array.tabulate(m, m) { (i, j) =>
        if (i == j) 0.0
        else {
          val d0 = y(i)(0) - y(j)(0); val d1 = y(i)(1) - y(j)(1)
          r12(1.0 / (1.0 + (d0 * d0 + d1 * d1)))
        }
      }
      val z = decSumAt(12, num.iterator.flatMap(_.iterator))
      val g = Array.tabulate(m) { i =>
        def terms(c: Int) = (0 until m).iterator.filter(_ != i).map { j =>
          val q = math.max(num(i)(j) / z, 1e-12)
          val coef = (exag * pij(i)(j) - q) * num(i)(j)
          rAwayAt(coef * (y(i)(c) - y(j)(c)), 1e9)
        }
        Array(decSumAt(9, terms(0)), decSumAt(9, terms(1)))
      }
      for (i <- 0 until m; c <- 0 to 1) {
        val gr = 4.0 * g(i)(c)
        gains(i)(c) =
          if (math.signum(gr) != math.signum(vel(i)(c))) gains(i)(c) + 0.2
          else math.max(gains(i)(c) * 0.8, 0.01)
        vel(i)(c) = mom * vel(i)(c) - lr * gains(i)(c) * gr
      }
      for (i <- 0 until m; c <- 0 to 1)
        y(i)(c) = r12(y(i)(c) + vel(i)(c))
    }
    val landmarks = ids.indices.map(i =>
      (ids(i), rAwayAt(y(i)(0), 1e6), rAwayAt(y(i)(1), 1e6)))
      .toDF(idCol, "tsne1", "tsne2")
    extendByLandmarks(df, idCol, arrayCol, landmarks, "tsne1", "tsne2", 3)
  }

  /** DuckDB twin of [[tsneSampledExact]] — the β bisection and GD
    * iterations unroll as CTE rounds over the pair table; the landmark
    * extension replays the top-3 inverse-distance interpolation. The
    * final CTE is `allpts(id, tsne1, tsne2)`; the caller appends its
    * SELECT. Requires the same `dims`-component MDS twin parameters. */
  def tsneSampledExactSql(table: String, idSql: String,
                          arraySql: Int => String, fullDim: Int,
                          dims: Int, n: Int, perplexity: Double,
                          betaSteps: Int, iters: Int, exagIters: Int,
                          mdsIters: Int): String = {
    def dl(v: Double): String = if (v < 0) s"($v)" else v.toString
    def det(t: String, s: Int) =
      s"CAST(SUM(CAST(ROUND(($t), $s) AS DECIMAL(38,${s + 2}))) AS DOUBLE)"
    val target = math.log(math.min(perplexity, (n - 1).toDouble))
    // init: the MDS twin's CTE chain, renamed — reuse mdsSampledExactSql
    // up to its final select by re-deriving the same CTE body here.
    val mdsSql = mdsSampledExactSql(table, idSql, arraySql, dims, n,
      mdsIters)
    val mdsBody = mdsSql.stripPrefix("WITH ")
      .substring(0, mdsSql.stripPrefix("WITH ").lastIndexOf("SELECT s.id"))
    val mdsFinal =
      s"""mds AS MATERIALIZED (
         |  SELECT s.i, s.id,
         |    ROUND(ROUND(v1.v * SQRT(GREATEST(l1.lam * mm.md, 0.0)), 12), 6) AS m1,
         |    ROUND(ROUND(v2.v * SQRT(GREATEST(l2.lam * mm.md, 0.0)), 12), 6) AS m2
         |  FROM samp s
         |  JOIN pw1_$mdsIters v1 ON v1.i = s.i
         |  JOIN pw2_$mdsIters v2 ON v2.i = s.i
         |  CROSS JOIN lam1 l1 CROSS JOIN lam2 l2 CROSS JOIN mm),
         |mx AS (SELECT GREATEST(1e-9, MAX(GREATEST(ABS(m1), ABS(m2)))) AS ma
         |  FROM mds),
         |y0 AS MATERIALIZED (
         |  SELECT i, m1 / mx.ma * 1e-4 AS y0, m2 / mx.ma * 1e-4 AS y1,
         |    CAST(0.0 AS DOUBLE) AS v0, CAST(0.0 AS DOUBLE) AS v1,
         |    CAST(1.0 AS DOUBLE) AS g0, CAST(1.0 AS DOUBLE) AS g1
         |  FROM mds CROSS JOIN mx)""".stripMargin
    val betaCtes = (1 to betaSteps).map { t =>
      val p = s"bt${t - 1}"
      s"""bs$t AS (
         |  SELECT b.i,
         |    ${det(s"CASE WHEN p.j = b.i THEN 0.0 ELSE " +
             s"ROUND(EXP(-p.d2 * b.beta), 8) END", 8)} AS ssum,
         |    ${det(s"ROUND(p.d2 * (CASE WHEN p.j = b.i THEN 0.0 ELSE " +
             s"ROUND(EXP(-p.d2 * b.beta), 8) END), 8)", 8)} AS sd
         |  FROM $p b JOIN pairs p ON p.i = b.i
         |  GROUP BY b.i),
         |bt$t AS MATERIALIZED (
         |  SELECT b.i,
         |    CASE WHEN h > ${dl(target)} THEN b.beta ELSE b.blo END AS blo,
         |    CASE WHEN h > ${dl(target)} THEN b.bhi ELSE b.beta END AS bhi,
         |    CASE WHEN h > ${dl(target)} THEN
         |      CASE WHEN b.bhi < 1e19 THEN (b.beta + b.bhi) / 2
         |           ELSE b.beta * 2 END
         |      ELSE (b.beta + b.blo) / 2 END AS beta
         |  FROM (SELECT b.*, CASE WHEN s.ssum > 0 THEN
         |      ROUND(LN(s.ssum) + b.beta * s.sd / s.ssum, 9)
         |      ELSE 0.0 END AS h
         |    FROM $p b JOIN bs$t s ON s.i = b.i) b)""".stripMargin
    }
    val iterCtes = (1 to iters).map { t =>
      val p = s"y${t - 1}"
      val exag = if (t - 1 < exagIters) "12.0" else "1.0"
      val mom = if (t - 1 < exagIters) "0.5" else "0.8"
      val lr = s"GREATEST(${dl(n / 12.0 / 4.0)}, 50.0)"
      s"""nm$t AS MATERIALIZED (
         |  SELECT a.i, b.i AS j,
         |    ROUND(1.0 / (1.0 + ((a.y0 - b.y0) * (a.y0 - b.y0) +
         |      (a.y1 - b.y1) * (a.y1 - b.y1))), 12) AS num,
         |    a.y0 - b.y0 AS d0, a.y1 - b.y1 AS d1
         |  FROM $p a JOIN $p b ON a.i <> b.i),
         |zz$t AS (SELECT ${det("num", 12)} AS z FROM nm$t),
         |gg$t AS MATERIALIZED (
         |  SELECT nm.i,
         |    ${det(s"ROUND(($exag * pp.pij - GREATEST(nm.num / zz.z, 1e-12))" +
             s" * nm.num * nm.d0, 9)", 9)} AS gx,
         |    ${det(s"ROUND(($exag * pp.pij - GREATEST(nm.num / zz.z, 1e-12))" +
             s" * nm.num * nm.d1, 9)", 9)} AS gy
         |  FROM nm$t nm JOIN pp ON pp.i = nm.i AND pp.j = nm.j
         |  CROSS JOIN zz$t zz
         |  GROUP BY nm.i),
         |y$t AS MATERIALIZED (
         |  SELECT i, ROUND(y0 + nv0, 12) AS y0, ROUND(y1 + nv1, 12) AS y1,
         |    nv0 AS v0, nv1 AS v1, ng0 AS g0, ng1 AS g1
         |  FROM (
         |    SELECT p.i, p.y0, p.y1,
         |      $mom * p.v0 - $lr * p.ng0 * (4.0 * p.gx) AS nv0,
         |      $mom * p.v1 - $lr * p.ng1 * (4.0 * p.gy) AS nv1,
         |      p.ng0, p.ng1
         |    FROM (
         |      SELECT p.*, g.gx, g.gy,
         |        CASE WHEN SIGN(4.0 * g.gx) <> SIGN(p.v0)
         |          THEN p.g0 + 0.2 ELSE GREATEST(p.g0 * 0.8, 0.01) END AS ng0,
         |        CASE WHEN SIGN(4.0 * g.gy) <> SIGN(p.v1)
         |          THEN p.g1 + 0.2 ELSE GREATEST(p.g1 * 0.8, 0.01) END AS ng1
         |      FROM $p p JOIN gg$t g ON g.i = p.i) p) t)""".stripMargin
    }
    val fullD2 = (1 to fullDim).map(k =>
      s"(CAST(e.embedding[$k] AS DOUBLE) - CAST(l.embedding[$k] AS DOUBLE))" +
        s" * (CAST(e.embedding[$k] AS DOUBLE) - " +
        s"CAST(l.embedding[$k] AS DOUBLE))").mkString(" + ")
    s"""WITH ${mdsBody.trim.stripSuffix(",")},
       |$mdsFinal,
       |bt0 AS (SELECT i, 1e-20 AS blo, 1e20 AS bhi,
       |  CAST(1.0 AS DOUBLE) AS beta FROM samp),
       |${betaCtes.mkString(",\n")},
       |pr AS MATERIALIZED (
       |  SELECT p.i, p.j, CASE WHEN p.j = p.i THEN 0.0 ELSE
       |    ROUND(EXP(-p.d2 * b.beta), 8) END AS e
       |  FROM pairs p JOIN bt$betaSteps b ON b.i = p.i),
       |ps AS (SELECT i, ${det("e", 8)} AS s FROM pr GROUP BY i),
       |pnorm AS MATERIALIZED (
       |  SELECT pr.i, pr.j,
       |    CASE WHEN ps.s > 0 THEN pr.e / ps.s ELSE pr.e END AS pn
       |  FROM pr JOIN ps ON ps.i = pr.i),
       |pp AS MATERIALIZED (
       |  SELECT a.i, a.j,
       |    GREATEST((a.pn + b.pn) / ${dl(2.0 * n)}, 1e-12) AS pij
       |  FROM pnorm a JOIN pnorm b ON b.i = a.j AND b.j = a.i
       |  WHERE a.i <> a.j),
       |${iterCtes.mkString(",\n")},
       |lm AS MATERIALIZED (
       |  SELECT s.id, ROUND(y.y0, 6) AS tsne1, ROUND(y.y1, 6) AS tsne2
       |  FROM samp s JOIN y$iters y ON y.i = s.i),
       |ext AS MATERIALIZED (
       |  SELECT id, tsne1, tsne2 FROM (
       |    SELECT agg.id,
       |      ROUND((c11 + c12 + c13) /
       |            (w1 + w2 + w3) * 1e6) / 1e6 AS tsne1,
       |      ROUND((c21 + c22 + c23) /
       |            (w1 + w2 + w3) * 1e6) / 1e6 AS tsne2
       |    FROM (
       |      SELECT id,
       |        COALESCE(MAX(CASE WHEN rk = 1 THEN w END), 0.0) AS w1,
       |        COALESCE(MAX(CASE WHEN rk = 2 THEN w END), 0.0) AS w2,
       |        COALESCE(MAX(CASE WHEN rk = 3 THEN w END), 0.0) AS w3,
       |        COALESCE(MAX(CASE WHEN rk = 1 THEN w * t1 END), 0.0) AS c11,
       |        COALESCE(MAX(CASE WHEN rk = 2 THEN w * t1 END), 0.0) AS c12,
       |        COALESCE(MAX(CASE WHEN rk = 3 THEN w * t1 END), 0.0) AS c13,
       |        COALESCE(MAX(CASE WHEN rk = 1 THEN w * t2 END), 0.0) AS c21,
       |        COALESCE(MAX(CASE WHEN rk = 2 THEN w * t2 END), 0.0) AS c22,
       |        COALESCE(MAX(CASE WHEN rk = 3 THEN w * t2 END), 0.0) AS c23
       |      FROM (
       |        SELECT e.id, l.tsne1 AS t1, l.tsne2 AS t2,
       |          1.0 / (dd.d2 + 1e-9) AS w,
       |          ROW_NUMBER() OVER (PARTITION BY e.id
       |            ORDER BY dd.d2 ASC, l.lid ASC) AS rk
       |        FROM (SELECT $idSql AS id, embedding FROM $table
       |              WHERE $idSql NOT IN (SELECT id FROM lm)) e
       |        CROSS JOIN (SELECT lm.id AS lid, lm.tsne1, lm.tsne2,
       |                      e2.embedding
       |                    FROM lm JOIN (SELECT $idSql AS lmid, embedding
       |                      FROM $table) e2 ON e2.lmid = lm.id) l
       |        CROSS JOIN LATERAL (SELECT ($fullD2) AS d2) dd
       |        QUALIFY rk <= 3) ranked
       |      GROUP BY id) agg) fin),
       |allpts AS (
       |  SELECT id, tsne1, tsne2 FROM lm
       |  UNION ALL
       |  SELECT id, tsne1, tsne2 FROM ext)
       |""".stripMargin
  }

  /** t-SNE on a deterministic sample (reference
    * Orange/projection/manifold.py:287 TSNE, openTSNE-backed): exact
    * perplexity-calibrated affinities (per-point σ by binary search),
    * classical-MDS (≡ PCA-score) init, early-exaggerated momentum
    * gradient descent — all driver-side on ≤`n` points, the same
    * sampled-matrix contract as [[mdsSampled]]. Every remaining row is
    * then placed distributively by [[extendByLandmarks]] (the analogue
    * of openTSNE's transform-by-interpolation). Deterministic: fixed
    * sample, fixed init, fixed schedule. */
  def tsneSampled(df: DataFrame, idCol: String, arrayCol: String,
                  n: Int, perplexity: Double = 30.0,
                  iters: Int = 300): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"),
        col(arrayCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(n)
      .as[(Long, Seq[Double])].collect()
    val ids = rows.map(_._1); val x = rows.map(_._2.toArray)
    val m = ids.length
    require(m >= 4, "need at least 4 sample points")
    val d2 = Array.tabulate(m, m) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < x(i).length) { val d = x(i)(k) - x(j)(k); s += d * d; k += 1 }
      s
    }
    // per-point σ calibrated to the target perplexity (binary search on β)
    val target = math.log(math.min(perplexity, (m - 1).toDouble))
    val p = Array.ofDim[Double](m, m)
    for (i <- 0 until m) {
      var bLo = 1e-20; var bHi = 1e20; var beta = 1.0
      for (_ <- 0 until 64) {
        var sum = 0.0; var sumD = 0.0
        for (j <- 0 until m if j != i) {
          val e = math.exp(-d2(i)(j) * beta); sum += e; sumD += d2(i)(j) * e
        }
        val h = if (sum > 0) math.log(sum) + beta * sumD / sum else 0.0
        if (h > target) { bLo = beta; beta = if (bHi < 1e19) (beta + bHi) / 2 else beta * 2 }
        else { bHi = beta; beta = (beta + bLo) / 2 }
      }
      var sum = 0.0
      for (j <- 0 until m if j != i) { p(i)(j) = math.exp(-d2(i)(j) * beta); sum += p(i)(j) }
      if (sum > 0) for (j <- 0 until m) p(i)(j) /= sum
    }
    // symmetrize, floor
    val pij = Array.tabulate(m, m) { (i, j) =>
      math.max((p(i)(j) + p(j)(i)) / (2.0 * m), 1e-12) }
    // init from classical scaling of the sample, shrunk to the usual 1e-4 scale
    val init = mdsSampled(df, idCol, arrayCol, n)
      .orderBy(col(idCol)).as[(Long, Double, Double)].collect()
    val maxAbs = math.max(1e-9, init.flatMap(r => Seq(r._2.abs, r._3.abs)).max)
    val y = Array.tabulate(m, 2)((i, c) =>
      (if (c == 0) init(i)._2 else init(i)._3) / maxAbs * 1e-4)
    val vel = Array.ofDim[Double](m, 2)
    // per-coordinate adaptive gains (van der Maaten's reference
    // implementation) — prevents the oscillation a fixed step shows on
    // tight clusters
    val gains = Array.fill(m, 2)(1.0)
    // sklearn's learning_rate='auto': max(N / early_exaggeration / 4, 50)
    val lr = math.max(m / 12.0 / 4.0, 50.0)
    for (it <- 0 until iters) {
      val exag = if (it < 100) 12.0 else 1.0
      val mom = if (it < 100) 0.5 else 0.8
      // q_ij ∝ (1+||yi−yj||²)⁻¹
      val num = Array.ofDim[Double](m, m)
      var zSum = 0.0
      for (i <- 0 until m; j <- 0 until m if i != j) {
        val dy0 = y(i)(0) - y(j)(0); val dy1 = y(i)(1) - y(j)(1)
        num(i)(j) = 1.0 / (1.0 + dy0 * dy0 + dy1 * dy1); zSum += num(i)(j)
      }
      for (i <- 0 until m) {
        var g0 = 0.0; var g1 = 0.0
        for (j <- 0 until m if j != i) {
          val q = math.max(num(i)(j) / zSum, 1e-12)
          val coef = (exag * pij(i)(j) - q) * num(i)(j)
          g0 += coef * (y(i)(0) - y(j)(0)); g1 += coef * (y(i)(1) - y(j)(1))
        }
        val gr = Array(4.0 * g0, 4.0 * g1)
        for (c <- 0 to 1) {
          gains(i)(c) =
            if (math.signum(gr(c)) != math.signum(vel(i)(c)))
              gains(i)(c) + 0.2
            else math.max(gains(i)(c) * 0.8, 0.01)
          vel(i)(c) = mom * vel(i)(c) - lr * gains(i)(c) * gr(c)
        }
      }
      for (i <- 0 until m) { y(i)(0) += vel(i)(0); y(i)(1) += vel(i)(1) }
    }
    val landmarks = ids.indices.map(i =>
      (ids(i), math.rint(y(i)(0) * 1e6) / 1e6, math.rint(y(i)(1) * 1e6) / 1e6))
      .toDF(idCol, "tsne1", "tsne2")
    extendByLandmarks(df, idCol, arrayCol, landmarks, "tsne1", "tsne2", 3)
  }

  /** Distributed out-of-sample placement: each non-landmark row gets the
    * inverse-distance-weighted average of its k nearest landmarks'
    * coordinates (openTSNE transform / landmark-MDS triangulation
    * analogue). Landmarks are broadcast (≤ sample size rows); per row
    * the candidate set is the landmark table — bounded work, codegen'd
    * distance expressions, no shuffle of the big side beyond the top-k
    * window on its own id. Landmark rows keep their exact coords. */
  def extendByLandmarks(df: DataFrame, idCol: String, arrayCol: String,
                        landmarks: DataFrame, c1: String, c2: String,
                        k: Int): DataFrame = {
    val spark = df.sparkSession
    val lm = landmarks
      .join(df.select(col(idCol).cast("long").as(idCol),
        col(arrayCol).cast("array<double>").as("__lv")), idCol)
      .select(col(idCol).cast("long").as("__lid"), col("__lv"),
        col(c1).as("__c1"), col(c2).as("__c2"))
    val pts = df.select(col(idCol).cast("long").as(idCol),
      col(arrayCol).cast("array<double>").as("__v"))
    val d2 = aggregate(zip_with(col("__v"), col("__lv"),
      (a, b) => (a - b) * (a - b)), lit(0.0), (acc, z) => acc + z)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__d2").asc, col("__lid").asc)
    // each rank appears once per group, so these aggregates are
    // singletons — the weighted mean below then adds them in a FIXED
    // left-to-right order (a plain sum over the k doubles would be
    // partition-order dependent)
    val aggCols =
      (1 to k).map(i =>
        sum(when(col("__rk") === i, col("__w"))).as(s"__w$i")) ++
      (1 to k).map(i =>
        sum(when(col("__rk") === i, col("__w") * col("__c1"))).as(s"__a$i")) ++
      (1 to k).map(i =>
        sum(when(col("__rk") === i, col("__w") * col("__c2"))).as(s"__b$i"))
    def z(n: String) = coalesce(col(n), lit(0.0))
    val wSum = (1 to k).map(i => z(s"__w$i")).reduce(_ + _)
    val aSum = (1 to k).map(i => z(s"__a$i")).reduce(_ + _)
    val bSum = (1 to k).map(i => z(s"__b$i")).reduce(_ + _)
    val nonLm = pts.join(lm.select(col("__lid")),
        pts(idCol) === col("__lid"), "left_anti")
      .crossJoin(broadcast(lm))
      .withColumn("__d2", d2)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .withColumn("__w", lit(1.0) / (col("__d2") + lit(1e-9)))
      .groupBy(col(idCol))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col(idCol),
        (round(aSum / wSum * 1e6) / 1e6).as(c1),
        (round(bSum / wSum * 1e6) / 1e6).as(c2))
    landmarks.select(col(idCol).cast("long").as(idCol), col(c1), col(c2))
      .unionByName(nonLm)
  }

  // ---- manifold trio: Isomap / LLE / SpectralEmbedding -----------------
  // Reference Orange/projection/manifold.py:167-203 (sklearn-wrapped
  // Isomap / LocallyLinearEmbedding / SpectralEmbedding, defaults
  // n_neighbors=5, n_components=2), exercised by
  // Orange/tests/test_manifold.py:86-124. Same sampled-projection
  // contract as [[mdsSampledExact]]: deterministic first-n-by-id
  // sample, grid-rounded decimal-exact driver algebra, full CTE replay
  // in DuckDB. The reference's own contract is in-memory on the whole
  // table; the scale story here is the bounded sample + the
  // [[extendByLandmarks]] device if out-of-sample placement is wanted.

  /** Deterministic sample: first `n` rows by id, `dims` leading
    * coordinates. */
  private def sampleX(df: DataFrame, idCol: String, arrayCol: String,
                      dims: Int, n: Int): (Array[Long], Array[Array[Double]]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"),
        col(arrayCol).cast("array<double>"))
      .orderBy(col(idCol)).limit(n)
      .as[(Long, Seq[Double])].collect()
    (rows.map(_._1), rows.map(_._2.take(dims).toArray))
  }

  /** Grid-exact squared-distance matrix — the [[mdsSampledExact]]
    * shape: per-dimension squared differences rounded to 1e-12, summed
    * as decimals. */
  private def d2Grid(x: Array[Array[Double]], dims: Int): Array[Array[Double]] = {
    val m = x.length
    Array.tabulate(m, m) { (i, j) =>
      decSum((0 until dims).map { k =>
        val d = x(i)(k) - x(j)(k); r12(d * d)
      })
    }
  }

  /** Deflated power iteration over a grid-rounded symmetric matrix —
    * `comps` (eigenvalue, vector) pairs, the [[mdsSampledExact]]
    * trajectory generalized: same alternating start vector, decimal
    * matvec/norm/Rayleigh sums, 1e-8 eigenvalue grid, rank-1 deflation
    * between components. */
  private def powerCompsGrid(b0: Array[Array[Double]], iters: Int,
                             comps: Int): Seq[(Double, Array[Double])] = {
    val m = b0.length; val md = m.toDouble
    var b = b0.map(_.clone())
    def v0 = Array.tabulate(m)(i =>
      r12((if (i % 2 == 0) 1.0 else -1.0) * (1.0 + i.toDouble / md) /
        math.sqrt(md)))
    (1 to comps).map { comp =>
      var v = v0
      for (_ <- 1 to iters) {
        val u = Array.tabulate(m)(i =>
          decSum((0 until m).map(j => r12(b(i)(j) * v(j)))))
        val nrm = math.sqrt(decSum(u.map(ui => r12(ui * ui))))
        // zero-norm iterate ⇔ the deflated residual annihilated v (a
        // rank-deficient neighborhood): the component is exactly null —
        // emit the 0 vector / λ=0 instead of dividing 0/0 to NaN. The
        // SQL twins carry the same CASE (a no-op whenever nrm > 0).
        v = if (nrm > 0) u.map(ui => r12(ui / nrm)) else u.map(_ => 0.0)
      }
      val w = Array.tabulate(m)(i =>
        decSum((0 until m).map(j => r12(b(i)(j) * v(j)))))
      val lam = rAway(decSum((0 until m).map(i => r12(v(i) * w(i)))), 1e8)
      if (comp < comps)
        b = Array.tabulate(m, m)((i, j) => r12(b(i)(j) - lam * v(i) * v(j)))
      (lam, v)
    }
  }

  /** Torgerson double-centering of a grid d² matrix into B/m — the
    * [[mdsSampledExact]] scaling (eigenvalues rescale by m at output). */
  private def torgersonB(d2: Array[Array[Double]]): Array[Array[Double]] = {
    val m = d2.length; val md = m.toDouble
    val rm = Array.tabulate(m)(i => r12(decSum(d2(i)) / md))
    val grand = r12(decSum(rm) / md)
    Array.tabulate(m, m)((i, j) =>
      r12(-0.5 * (d2(i)(j) - rm(i) - rm(j) + grand) / md))
  }

  /** kNN index sets: per row the `k` nearest others by (distance asc,
    * id asc) — the SQL window's exact order. */
  private def knnSets(d: Array[Array[Double]], k: Int): Array[Seq[Int]] = {
    val m = d.length
    Array.tabulate(m)(i =>
      (0 until m).filter(_ != i)
        .sortBy(j => (d(i)(j), j)).take(k).toSeq)
  }

  /** Isomap (manifold.py:169 wrapping sklearn Isomap, defaults
    * n_neighbors=5): symmetric kNN graph with Euclidean edge weights →
    * all-pairs geodesics by min-plus path doubling (`hops` rounds reach
    * paths of 2^hops edges — choose 2^hops ≥ n−1 for full closure) →
    * classical Torgerson scaling of the squared geodesic matrix. Every
    * distance/matvec is grid-rounded + decimal-summed, so the whole
    * trajectory replays in [[isomapSampledExactSql]]. Throws if the
    * kNN graph is disconnected (sklearn errors there too) — raise
    * `kNei`. */
  def isomapSampledExact(df: DataFrame, idCol: String, arrayCol: String,
                         dims: Int, n: Int, kNei: Int, hops: Int,
                         iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (ids, x) = sampleX(df, idCol, arrayCol, dims, n)
    val m = ids.length; val md = m.toDouble
    val dE = {
      val d2 = d2Grid(x, dims)
      Array.tabulate(m, m)((i, j) => r12(math.sqrt(d2(i)(j))))
    }
    val knn = knnSets(dE, kNei)
    var g = Array.fill(m, m)(Double.PositiveInfinity)
    for (i <- 0 until m) {
      g(i)(i) = 0.0
      knn(i).foreach { j =>
        if (dE(i)(j) < g(i)(j)) { g(i)(j) = dE(i)(j); g(j)(i) = dE(i)(j) }
      }
    }
    for (_ <- 1 to hops) {
      val ng = Array.tabulate(m, m) { (i, j) =>
        var best = Double.PositiveInfinity; var k = 0
        while (k < m) {
          val s = g(i)(k) + g(k)(j); if (s < best) best = s; k += 1
        }
        if (best.isFinite) r12(best) else best
      }
      g = ng
    }
    require(g.forall(_.forall(_ < Double.PositiveInfinity)),
      s"isomap: kNN graph disconnected at k=$kNei — raise kNei")
    val d2g = Array.tabulate(m, m)((i, j) => r12(g(i)(j) * g(i)(j)))
    val comps = powerCompsGrid(torgersonB(d2g), iters, 2)
    val c1 = math.sqrt(math.max(comps(0)._1 * md, 0.0))
    val c2 = math.sqrt(math.max(comps(1)._1 * md, 0.0))
    ids.indices.map(i =>
      (ids(i), r6d(r12(comps(0)._2(i) * c1)), r6d(r12(comps(1)._2(i) * c2))))
      .toDF(idCol, "iso1", "iso2")
  }

  /** SpectralEmbedding (manifold.py:196 wrapping sklearn
    * SpectralEmbedding, affinity='nearest_neighbors'): kNN connectivity
    * affinity W = (A + Aᵀ)/2, Laplacian eigenmap via the normalized
    * adjacency N = D^{-1/2} W D^{-1/2} — the constant-direction
    * dominant eigenpair (λ=1, v ∝ √dᵢ) is deflated ANALYTICALLY, the
    * next two eigenvectors come from the shared grid power iteration,
    * and coordinates are the eigenmap scaling vᵢ/√dᵢ. */
  def spectralSampledExact(df: DataFrame, idCol: String, arrayCol: String,
                           dims: Int, n: Int, kNei: Int,
                           iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (ids, x) = sampleX(df, idCol, arrayCol, dims, n)
    val m = ids.length
    val d2 = d2Grid(x, dims)
    val knn = knnSets(d2, kNei)
    val w = Array.ofDim[Double](m, m)
    for (i <- 0 until m; j <- knn(i)) { w(i)(j) += 0.5; w(j)(i) += 0.5 }
    val deg = Array.tabulate(m)(i => decSum(w(i)))
    require(deg.forall(_ > 0), "spectral: isolated vertex in kNN graph")
    val sq = deg.map(d => r12(math.sqrt(d)))
    val total = decSum(deg)
    val v1 = Array.tabulate(m)(i => r12(sq(i) / math.sqrt(total)))
    val b0 = Array.tabulate(m, m)((i, j) =>
      r12((if (w(i)(j) > 0) r12(w(i)(j) / (sq(i) * sq(j))) else 0.0) -
        v1(i) * v1(j)))
    val comps = powerCompsGrid(b0, iters, 2)
    ids.indices.map(i =>
      (ids(i), r6d(r12(comps(0)._2(i) / sq(i))),
               r6d(r12(comps(1)._2(i) / sq(i)))))
      .toDF(idCol, "spec1", "spec2")
  }

  /** LocallyLinearEmbedding, standard method (manifold.py:182 wrapping
    * sklearn LLE, defaults n_neighbors=5, reg=1e-3): per-point
    * barycentric weights minimize ‖xᵢ − Σⱼ wⱼ xⱼ‖² with Σw = 1 over the
    * kNN, via the local Gram C = (xᵢ−xⱼ)·(xᵢ−xₗ) regularized by
    * reg·tr(C) (sklearn's barycenter_weights rule) — solved here by
    * `wIters` projected-gradient steps (step 1/tr(C_reg) ≤ 1/λmax, the
    * affine Σw=1 projection each step), a trajectory that replays as
    * CTE rounds where a closed-form solve would not. Embedding = the
    * two smallest non-null eigenvectors of M = (I−W)ᵀ(I−W), obtained by
    * power iteration on σI − M (σ = Gershgorin row bound) with the
    * constant direction deflated analytically. */
  def lleSampledExact(df: DataFrame, idCol: String, arrayCol: String,
                      dims: Int, n: Int, kNei: Int, reg: Double,
                      wIters: Int, iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (ids, x) = sampleX(df, idCol, arrayCol, dims, n)
    val m = ids.length; val md = m.toDouble
    val d2 = d2Grid(x, dims)
    val knn = knnSets(d2, kNei)
    val k = kNei
    // per-point regularized local Gram + PGD weights
    val wMat = Array.ofDim[Double](m, m)
    for (i <- 0 until m) {
      val nb = knn(i)
      val c = Array.tabulate(k, k) { (a, b) =>
        decSum((0 until dims).map(f =>
          r12((x(i)(f) - x(nb(a))(f)) * (x(i)(f) - x(nb(b))(f)))))
      }
      val tr = decSum((0 until k).map(a => c(a)(a)))
      val rr = if (tr > 0) r12(reg * tr) else reg
      for (a <- 0 until k) c(a)(a) = r12(c(a)(a) + rr)
      val trReg = r12(tr + k * rr)
      val eta = r12(1.0 / trReg)
      var wv = Array.fill(k)(r12(1.0 / k))
      for (_ <- 1 to wIters) {
        val mv = Array.tabulate(k)(a =>
          decSum((0 until k).map(b => r12(c(a)(b) * wv(b)))))
        val st = Array.tabulate(k)(a => r12(wv(a) - eta * mv(a)))
        val s = decSum(st)
        wv = st.map(v => r12(v + (1.0 - s) / k))
      }
      for (a <- 0 until k) wMat(i)(nb(a)) = wv(a)
    }
    // M = (I − W)ᵀ(I − W); sums of weight products through decimals
    val bigM = Array.tabulate(m, m) { (a, b) =>
      val s = decSum((0 until m).map(i => r12(wMat(i)(a) * wMat(i)(b))))
      r12((if (a == b) 1.0 else 0.0) - wMat(a)(b) - wMat(b)(a) + s)
    }
    val sigma = r12((0 until m).map(a =>
      decSum((0 until m).map(b => r12(math.abs(bigM(a)(b)))))).max)
    val b0 = Array.tabulate(m, m)((a, b) =>
      r12((if (a == b) sigma else 0.0) - bigM(a)(b) - sigma / md))
    val comps = powerCompsGrid(b0, iters, 2)
    ids.indices.map(i =>
      (ids(i), r6d(comps(0)._2(i)), r6d(comps(1)._2(i))))
      .toDF(idCol, "lle1", "lle2")
  }

  // ---- SQL twins of the manifold trio ----------------------------------

  private def detS(t: String) =
    s"CAST(SUM(CAST(($t) AS DECIMAL(38,14))) AS DOUBLE)"

  /** samp + mm CTEs — the [[mdsSampledExactSql]] sample head. */
  private def sampCtes(table: String, idSql: String,
                       arraySql: Int => String, dims: Int, n: Int): String = {
    val xCols = (0 until dims).map(k =>
      s"CAST(${arraySql(k)} AS DOUBLE) AS x_$k").mkString(",\n    ")
    s"""samp AS MATERIALIZED (
       |  SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS i, id,
       |    ${(0 until dims).map(k => s"x_$k").mkString(", ")}
       |  FROM (SELECT $idSql AS id,
       |    $xCols
       |  FROM $table ORDER BY 1 LIMIT $n) t),
       |mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS md FROM samp)""".stripMargin
  }

  /** pairs(i, j, d2) — grid squared distances over the sample. */
  private def d2PairsCte(dims: Int): String = {
    val terms = (0 until dims).map(k =>
      s"CAST(ROUND((a.x_$k - b.x_$k) * (a.x_$k - b.x_$k), 12) " +
        "AS DECIMAL(38,14))").mkString(" + ")
    s"""pairs AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j, CAST($terms AS DOUBLE) AS d2
       |  FROM samp a CROSS JOIN samp b)""".stripMargin
  }

  private val vinitCte: String =
    """vinit AS MATERIALIZED (
      |  SELECT i, ROUND((CASE WHEN i % 2 = 0 THEN 1.0 ELSE -1.0 END) *
      |    (1.0 + CAST(i AS DOUBLE) / mm.md) / SQRT(mm.md), 12) AS v
      |  FROM samp CROSS JOIN mm)""".stripMargin

  /** The [[powerCompsGrid]] replay: deflated power iteration over a CTE
    * `b0(i, j, v)` with start `vinit` — emits pw{c}_t / lam{c} / b{c}
    * chains (the [[mdsSampledExactSql]] eigensolver, comps
    * generalized). */
  private def eigenCtes(comps: Int, iters: Int): String =
    (1 to comps).flatMap { comp =>
      val bT = s"b${comp - 1}"
      val pv0 = s"pw${comp}_0 AS (SELECT i, v FROM vinit)"
      val steps = (1 to iters).flatMap { t =>
        val prev = s"pw${comp}_${t - 1}"
        Seq(
          s"""u${comp}_$t AS MATERIALIZED (
             |  SELECT b.i,
             |    ${detS(s"ROUND(b.v * vv.v, 12)")} AS u
             |  FROM $bT b JOIN $prev vv ON b.j = vv.i
             |  GROUP BY b.i)""".stripMargin,
          s"""n${comp}_$t AS (SELECT
             |  SQRT(${detS(s"ROUND(u * u, 12)")}) AS nrm
             |  FROM u${comp}_$t)""".stripMargin,
          s"""pw${comp}_$t AS MATERIALIZED (
             |  SELECT i, ROUND(CASE WHEN nrm > 0
             |    THEN u / nrm ELSE 0.0 END, 12) AS v
             |  FROM u${comp}_$t CROSS JOIN n${comp}_$t)""".stripMargin)
      }
      val pl = s"pw${comp}_$iters"
      val lamCte =
        s"""lam$comp AS MATERIALIZED (
           |  SELECT ROUND(${detS("ROUND(w.u * vv.v, 12)")}, 8) AS lam
           |  FROM (SELECT b.i, ${detS("ROUND(b.v * vv.v, 12)")} AS u
           |        FROM $bT b JOIN $pl vv ON b.j = vv.i
           |        GROUP BY b.i) w
           |  JOIN $pl vv ON w.i = vv.i)""".stripMargin
      val defl =
        if (comp == comps) Nil
        else Seq(
          s"""b$comp AS MATERIALIZED (
             |  SELECT b.i, b.j,
             |    ROUND(b.v - l.lam * vi.v * vj.v, 12) AS v
             |  FROM $bT b
             |  JOIN $pl vi ON vi.i = b.i
             |  JOIN $pl vj ON vj.i = b.j
             |  CROSS JOIN lam$comp l)""".stripMargin)
      Seq(pv0) ++ steps ++ Seq(lamCte) ++ defl
    }.mkString(",\n")

  /** rm / gg / b0 — the Torgerson double-centering chain over a
    * `pairs(i, j, d2)` CTE (the [[torgersonB]] replay, B/m scaling). */
  private def torgersonCtes: String =
    s"""rm AS MATERIALIZED (
       |  SELECT i, ROUND(${detS("d2")} / mm.md, 12) AS rm
       |  FROM pairs CROSS JOIN mm GROUP BY i, mm.md),
       |gg AS (SELECT ROUND(${detS("rm")} / mm.md, 12) AS g
       |  FROM rm CROSS JOIN mm GROUP BY mm.md),
       |b0 AS MATERIALIZED (
       |  SELECT p.i, p.j,
       |    ROUND(-0.5 * (p.d2 - ri.rm - rj.rm + gg.g) / mm.md, 12) AS v
       |  FROM pairs p
       |  JOIN rm ri ON ri.i = p.i
       |  JOIN rm rj ON rj.i = p.j
       |  CROSS JOIN gg CROSS JOIN mm)""".stripMargin

  /** DuckDB twin of [[isomapSampledExact]]: Euclidean kNN graph →
    * min-plus path doubling (`hops` rounds) → Torgerson chain →
    * deflated power iteration, all on the shared grids. */
  def isomapSampledExactSql(table: String, idSql: String,
                            arraySql: Int => String, dims: Int, n: Int,
                            kNei: Int, hops: Int, iters: Int): String = {
    val dTerms = (0 until dims).map(k =>
      s"CAST(ROUND((a.x_$k - b.x_$k) * (a.x_$k - b.x_$k), 12) " +
        "AS DECIMAL(38,14))").mkString(" + ")
    val hopCtes = (1 to hops).map { r =>
      s"""g$r AS MATERIALIZED (
         |  SELECT a.i, b.j, ROUND(MIN(a.d + b.d), 12) AS d
         |  FROM g${r - 1} a JOIN g${r - 1} b ON a.j = b.i
         |  GROUP BY a.i, b.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${sampCtes(table, idSql, arraySql, dims, n)},
       |pe AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j,
       |    ROUND(SQRT(CAST($dTerms AS DOUBLE)), 12) AS d
       |  FROM samp a CROSS JOIN samp b),
       |knn AS MATERIALIZED (
       |  SELECT i, j, d FROM (
       |    SELECT i, j, d, ROW_NUMBER() OVER (PARTITION BY i
       |      ORDER BY d ASC, j ASC) AS rk
       |    FROM pe WHERE i <> j) WHERE rk <= $kNei),
       |g0 AS MATERIALIZED (
       |  SELECT i, j, MIN(d) AS d FROM (
       |    SELECT i, j, d FROM knn
       |    UNION ALL SELECT j AS i, i AS j, d FROM knn
       |    UNION ALL SELECT i, i AS j, 0.0 AS d FROM samp) u
       |  GROUP BY i, j),
       |$hopCtes,
       |pairs AS MATERIALIZED (
       |  SELECT i, j, ROUND(d * d, 12) AS d2 FROM g$hops),
       |$torgersonCtes,
       |$vinitCte,
       |${eigenCtes(2, iters)}
       |SELECT s.id AS vec_id,
       |  ROUND(ROUND(v1.v * SQRT(GREATEST(l1.lam * mm.md, 0.0)), 12), 6) AS iso1,
       |  ROUND(ROUND(v2.v * SQRT(GREATEST(l2.lam * mm.md, 0.0)), 12), 6) AS iso2
       |FROM samp s
       |JOIN pw1_$iters v1 ON v1.i = s.i
       |JOIN pw2_$iters v2 ON v2.i = s.i
       |CROSS JOIN lam1 l1 CROSS JOIN lam2 l2 CROSS JOIN mm
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB twin of [[spectralSampledExact]]: kNN connectivity
    * affinity, normalized adjacency with the analytic √d deflation,
    * deflated power iteration, eigenmap v/√d scaling. */
  def spectralSampledExactSql(table: String, idSql: String,
                              arraySql: Int => String, dims: Int, n: Int,
                              kNei: Int, iters: Int): String = {
    s"""WITH ${sampCtes(table, idSql, arraySql, dims, n)},
       |${d2PairsCte(dims)},
       |knn AS MATERIALIZED (
       |  SELECT i, j FROM (
       |    SELECT i, j, ROW_NUMBER() OVER (PARTITION BY i
       |      ORDER BY d2 ASC, j ASC) AS rk
       |    FROM pairs WHERE i <> j) WHERE rk <= $kNei),
       |ww AS MATERIALIZED (
       |  SELECT i, j, 0.5 * COUNT(*) AS w FROM (
       |    SELECT i, j FROM knn
       |    UNION ALL SELECT j AS i, i AS j FROM knn) u
       |  GROUP BY i, j),
       |deg AS MATERIALIZED (
       |  SELECT i, ${detS("w")} AS deg FROM ww GROUP BY i),
       |tot AS (SELECT ${detS("deg")} AS total FROM deg),
       |sq AS MATERIALIZED (
       |  SELECT i, ROUND(SQRT(deg), 12) AS sq FROM deg),
       |vone AS MATERIALIZED (
       |  SELECT s.i, s.sq, ROUND(s.sq / SQRT(t.total), 12) AS v1
       |  FROM sq s CROSS JOIN tot t),
       |b0 AS MATERIALIZED (
       |  SELECT a.i, b.i AS j,
       |    ROUND(COALESCE(ROUND(w.w / (a.sq * b.sq), 12), 0.0)
       |      - a.v1 * b.v1, 12) AS v
       |  FROM vone a CROSS JOIN vone b
       |  LEFT JOIN ww w ON w.i = a.i AND w.j = b.i),
       |$vinitCte,
       |${eigenCtes(2, iters)}
       |SELECT s.id AS vec_id,
       |  ROUND(ROUND(v1.v / q.sq, 12), 6) AS spec1,
       |  ROUND(ROUND(v2.v / q.sq, 12), 6) AS spec2
       |FROM samp s
       |JOIN pw1_$iters v1 ON v1.i = s.i
       |JOIN pw2_$iters v2 ON v2.i = s.i
       |JOIN sq q ON q.i = s.i
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB twin of [[lleSampledExact]]: local regularized Grams, the
    * `wIters` projected-gradient weight rounds, M = (I−W)ᵀ(I−W), the
    * Gershgorin shift + analytic constant deflation, deflated power
    * iteration. */
  def lleSampledExactSql(table: String, idSql: String,
                         arraySql: Int => String, dims: Int, n: Int,
                         kNei: Int, reg: Double, wIters: Int,
                         iters: Int): String = {
    val k = kNei
    val cTerms = (0 until dims).map(f =>
      s"CAST(ROUND((si.x_$f - sa.x_$f) * (si.x_$f - sb.x_$f), 12) " +
        "AS DECIMAL(38,14))").mkString(" + ")
    val wRounds = (1 to wIters).map { t =>
      val prev = s"wt${t - 1}"
      s"""mv$t AS MATERIALIZED (
         |  SELECT c.i, c.a AS j, ${detS("ROUND(c.c * w.w, 12)")} AS mv
         |  FROM creg c JOIN $prev w ON w.i = c.i AND w.j = c.b
         |  GROUP BY c.i, c.a),
         |st$t AS MATERIALIZED (
         |  SELECT m.i, m.j, ROUND(w.w - e.eta * m.mv, 12) AS w
         |  FROM mv$t m
         |  JOIN $prev w ON w.i = m.i AND w.j = m.j
         |  JOIN eta e ON e.i = m.i),
         |ss$t AS (SELECT i, ${detS("w")} AS s FROM st$t GROUP BY i),
         |wt$t AS MATERIALIZED (
         |  SELECT st.i, st.j, ROUND(st.w + (1.0 - ss.s) / $k, 12) AS w
         |  FROM st$t st JOIN ss$t ss ON ss.i = st.i)""".stripMargin
    }.mkString(",\n")
    val wT = s"wt$wIters"
    s"""WITH ${sampCtes(table, idSql, arraySql, dims, n)},
       |${d2PairsCte(dims)},
       |knn AS MATERIALIZED (
       |  SELECT i, j FROM (
       |    SELECT i, j, ROW_NUMBER() OVER (PARTITION BY i
       |      ORDER BY d2 ASC, j ASC) AS rk
       |    FROM pairs WHERE i <> j) WHERE rk <= $k),
       |cg AS MATERIALIZED (
       |  SELECT k1.i, k1.j AS a, k2.j AS b,
       |    CAST($cTerms AS DOUBLE) AS c
       |  FROM knn k1 JOIN knn k2 ON k1.i = k2.i
       |  JOIN samp si ON si.i = k1.i
       |  JOIN samp sa ON sa.i = k1.j
       |  JOIN samp sb ON sb.i = k2.j),
       |tr AS MATERIALIZED (
       |  SELECT i, ${detS("c")} AS tr FROM cg WHERE a = b GROUP BY i),
       |rr AS MATERIALIZED (
       |  SELECT i, tr, CASE WHEN tr > 0
       |    THEN ROUND(CAST($reg AS DOUBLE) * tr, 12)
       |    ELSE CAST($reg AS DOUBLE) END AS rr
       |  FROM tr),
       |creg AS MATERIALIZED (
       |  SELECT g.i, g.a, g.b,
       |    CASE WHEN g.a = g.b THEN ROUND(g.c + r.rr, 12) ELSE g.c END AS c
       |  FROM cg g JOIN rr r ON r.i = g.i),
       |eta AS MATERIALIZED (
       |  SELECT i, ROUND(1.0 / ROUND(tr + $k * rr, 12), 12) AS eta
       |  FROM rr),
       |wt0 AS MATERIALIZED (
       |  SELECT i, j, ROUND(1.0 / $k, 12) AS w FROM knn),
       |$wRounds,
       |sm AS MATERIALIZED (
       |  SELECT w1.j AS a, w2.j AS b,
       |    ${detS("ROUND(w1.w * w2.w, 12)")} AS s
       |  FROM $wT w1 JOIN $wT w2 ON w1.i = w2.i
       |  GROUP BY w1.j, w2.j),
       |bigm AS MATERIALIZED (
       |  SELECT a.i AS a, b.i AS b,
       |    ROUND((CASE WHEN a.i = b.i THEN 1.0 ELSE 0.0 END)
       |      - COALESCE(wab.w, 0.0) - COALESCE(wba.w, 0.0)
       |      + COALESCE(s.s, 0.0), 12) AS v
       |  FROM samp a CROSS JOIN samp b
       |  LEFT JOIN $wT wab ON wab.i = a.i AND wab.j = b.i
       |  LEFT JOIN $wT wba ON wba.i = b.i AND wba.j = a.i
       |  LEFT JOIN sm s ON s.a = a.i AND s.b = b.i),
       |sg AS (SELECT ROUND(MAX(rs), 12) AS sigma FROM (
       |  SELECT a, ${detS("ROUND(ABS(v), 12)")} AS rs
       |  FROM bigm GROUP BY a) t),
       |b0 AS MATERIALIZED (
       |  SELECT m.a AS i, m.b AS j,
       |    ROUND((CASE WHEN m.a = m.b THEN sg.sigma ELSE 0.0 END)
       |      - m.v - sg.sigma / mm.md, 12) AS v
       |  FROM bigm m CROSS JOIN sg CROSS JOIN mm),
       |$vinitCte,
       |${eigenCtes(2, iters)}
       |SELECT s.id AS vec_id,
       |  ROUND(v1.v, 6) AS lle1,
       |  ROUND(v2.v, 6) AS lle2
       |FROM samp s
       |JOIN pw1_$iters v1 ON v1.i = s.i
       |JOIN pw2_$iters v2 ON v2.i = s.i
       |ORDER BY vec_id""".stripMargin
  }

  // ---- LLE variants: LTSA + Hessian (manifold.py:182 method=) --------

  /** Per-neighborhood geometry shared by the LLE variants: kNN rank
    * sets, per-point grid means, centered coords and the k×k local
    * Gram G = Yc·Ycᵀ — every entry decimal-summed from 1e-12-grid
    * products so [[powerCompsGrid]] applied per point replays in SQL. */
  private def localGrams(x: Array[Array[Double]], knn: Array[Seq[Int]],
                         dims: Int, k: Int): Array[Array[Array[Double]]] = {
    val kd = k.toDouble
    Array.tabulate(x.length) { i =>
      val nb = knn(i)
      val mean = Array.tabulate(dims)(f =>
        r12(decSum(nb.map(j => x(j)(f))) / kd))
      val yc = Array.tabulate(k, dims)((a, f) => r12(x(nb(a))(f) - mean(f)))
      Array.tabulate(k, k)((a, b) =>
        decSum((0 until dims).map(f => r12(yc(a)(f) * yc(b)(f)))))
    }
  }

  /** The shared null-space tail of the LLE family: Gershgorin shift
    * σI − M with the constant direction deflated analytically, top-2 of
    * the shifted matrix by [[powerCompsGrid]] → the two smallest
    * non-null eigenvectors of M (sklearn null_space k_skip=1). */
  private def nullSpace2(bigM: Array[Array[Double]],
                         iters: Int): Seq[(Double, Array[Double])] = {
    val m = bigM.length; val md = m.toDouble
    val sigma = r12((0 until m).map(a =>
      decSum((0 until m).map(b => r12(math.abs(bigM(a)(b)))))).max)
    val b0 = Array.tabulate(m, m)((a, b) =>
      r12((if (a == b) sigma else 0.0) - bigM(a)(b) - sigma / md))
    powerCompsGrid(b0, iters, 2)
  }

  /** LocallyLinearEmbedding method='ltsa' (manifold.py:182 wrapping
    * sklearn LLE; variant exercised at tests/test_manifold.py:99-102):
    * Local Tangent Space Alignment (Zhang & Zha 2004). Per point the
    * d=2 tangent basis is the top-2 eigenvectors of the CENTERED local
    * Gram (the k×k twin of the local SVD sklearn takes), computed by
    * the same grid power iteration used everywhere else; the alignment
    * matrix accumulates M[Nᵢ,Nᵢ] += I − GᵢGᵢᵀ with
    * Gᵢ = [1/√k, g₁, g₂], and the embedding is the two smallest
    * non-null eigenvectors of M — ones is (grid-)null by construction
    * because Gᵢ's first column reproduces it exactly. Every reduction
    * is decimal-summed on the 1e-12 grid → [[ltsaSampledExactSql]]
    * replays the full trajectory CTE-for-CTE. */
  def ltsaSampledExact(df: DataFrame, idCol: String, arrayCol: String,
                       dims: Int, n: Int, kNei: Int, locIters: Int,
                       iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (ids, x) = sampleX(df, idCol, arrayCol, dims, n)
    val m = ids.length
    val k = kNei; val kd = k.toDouble
    val knn = knnSets(d2Grid(x, dims), k)
    val grams = localGrams(x, knn, dims, k)
    val acc = Array.fill(m, m)(List.empty[Double])
    for (i <- 0 until m) {
      val nb = knn(i)
      val comps = powerCompsGrid(grams(i), locIters, 2)
      val g1 = comps(0)._2; val g2 = comps(1)._2
      for (a <- 0 until k; b <- 0 until k) {
        val ggt = r12(1.0 / kd + g1(a) * g1(b) + g2(a) * g2(b))
        val v = r12((if (a == b) 1.0 else 0.0) - ggt)
        acc(nb(a))(nb(b)) ::= v
      }
    }
    val bigM = Array.tabulate(m, m)((p, q) => decSum(acc(p)(q)))
    val comps = nullSpace2(bigM, iters)
    ids.indices.map(i =>
      (ids(i), r6d(comps(0)._2(i)), r6d(comps(1)._2(i))))
      .toDF(idCol, "ltsa1", "ltsa2")
  }

  /** LocallyLinearEmbedding method='hessian' (manifold.py:182;
    * tests/test_manifold.py:104-107): Hessian eigenmaps (Donoho &
    * Grimes 2003). Per point: tangent coords = top-2 eigenvectors of
    * the centered local Gram (shared device), design matrix
    * Yᵢ = [1, t₁, t₂, t₁², t₁t₂, t₂²], modified Gram-Schmidt on the
    * fixed column order (the qr() sklearn takes — replayable because
    * each of the 15 projection steps is a grid inner product), Hessian
    * estimator w = last 3 columns, per-column sum normalization with
    * the hessian_tol guard (≈no-op: those columns are ⊥ ones by
    * construction), M[Nᵢ,Nᵢ] += wwᵀ. Embedding = two smallest
    * non-null eigenvectors of M. */
  def hessianSampledExact(df: DataFrame, idCol: String, arrayCol: String,
                          dims: Int, n: Int, kNei: Int, locIters: Int,
                          iters: Int, hessTol: Double = 1e-4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (ids, x) = sampleX(df, idCol, arrayCol, dims, n)
    val m = ids.length
    val k = kNei
    val knn = knnSets(d2Grid(x, dims), k)
    val grams = localGrams(x, knn, dims, k)
    val acc = Array.fill(m, m)(List.empty[Double])
    for (i <- 0 until m) {
      val nb = knn(i)
      val comps = powerCompsGrid(grams(i), locIters, 2)
      val u1 = comps(0)._2; val u2 = comps(1)._2
      val yi = Array.tabulate(k, 6)((a, c) => c match {
        case 0 => 1.0
        case 1 => u1(a)
        case 2 => u2(a)
        case 3 => r12(u1(a) * u1(a))
        case 4 => r12(u1(a) * u2(a))
        case 5 => r12(u2(a) * u2(a))
      })
      val q = Array.ofDim[Double](6, k)
      for (c <- 0 until 6) {
        var r = Array.tabulate(k)(a => yi(a)(c))
        for (p <- 0 until c) {
          val dot = decSum((0 until k).map(a => r12(q(p)(a) * r(a))))
          r = Array.tabulate(k)(a => r12(r(a) - dot * q(p)(a)))
        }
        val nrm = math.sqrt(decSum(r.map(v => r12(v * v))))
        q(c) = r.map(v => r12(v / nrm))
      }
      for (c <- 3 to 5) {
        val s0 = decSum(q(c))
        val s = if (math.abs(s0) < hessTol) 1.0 else s0
        q(c) = q(c).map(v => r12(v / s))
      }
      for (a <- 0 until k; b <- 0 until k) {
        val v = r12(r12(q(3)(a) * q(3)(b)) + r12(q(4)(a) * q(4)(b)) +
          r12(q(5)(a) * q(5)(b)))
        acc(nb(a))(nb(b)) ::= v
      }
    }
    val bigM = Array.tabulate(m, m)((p, q) => decSum(acc(p)(q)))
    val comps = nullSpace2(bigM, iters)
    ids.indices.map(i =>
      (ids(i), r6d(comps(0)._2(i)), r6d(comps(1)._2(i))))
      .toDF(idCol, "hes1", "hes2")
  }

  /** LocallyLinearEmbedding method='modified' (manifold.py:182;
    * tests/test_manifold.py:109-112): MLLE (Zhang & Wang 2006), the
    * fourth and last sklearn LLE method. Per point: the POINT-centered
    * local Gram C = (xₐ−xᵢ)·(x_b−xᵢ) (standard LLE's matrix,
    * unregularized) is fully eigendecomposed — all k pairs by the
    * shared deflated grid power iteration (k ≤ d_in here, sklearn's
    * eigh branch, so no null-space basis ambiguity). From the
    * eigenpairs: regularized weights w_reg = V diag(1/(λ+reg)) Vᵀ1
    * normalized to Σ=1 (reg = 1e-3·Σλ), the intrinsic-dim ratio
    * ρᵢ = Σ_{c>2}λ/Σ_{c≤2}λ (0 when the top-2 mass is exactly 0 — the
    * rank-deficient case sklearn's float 0/0 turns into NaN), η =
    * median(ρ), and the almost-null-space size sᵢ = #{c :
    * cumsumTotal/cumsum_c − 1 < η} + 2 (numpy searchsorted on the
    * reversed ratio ladder, then sklearn's `s_range += n_components`,
    * so sᵢ ≥ 2 and every point contributes). sᵢ can reach k+1 (raw
    * count ≤ k−1): numpy's `V[:, k−sᵢ:]` slice then starts at −1 and
    * selects ONLY the last column while α's √sᵢ and the +sᵢ diagonal
    * still use the full sᵢ — replicated here (sklearn's own W algebra
    * would raise on that shape; we take the 1-column Householder).
    * The bottom-sᵢ eigenvectors Vᵢ get
    * the Householder alignment (α = ‖Vᵢᵀ1‖/√s; h = α·1 − Vᵢᵀ1
    * normalized, zeroed under `modTol`), and the multi-weight matrix
    * Wᵢ = Vᵢ − 2(Vᵢh)hᵀ + (1−α)·w_reg·1ᵀ — whose columns each sum to 1
    * by the Householder identity, so M stays ones-null: M[N,N] += WWᵀ,
    * M[i,N] and M[N,i] −= W·1, M[i,i] += sᵢ. Embedding = two smallest
    * non-null eigenvectors of M. Every reduction decimal-summed on the
    * 1e-12 grid → [[mlleSampledExactSql]] replays CTE-for-CTE.
    *
    * Known parity limit: on rank-deficient (but not skipped)
    * neighborhoods the shared grid eigensolver emits exact 0-vectors
    * for null components where sklearn's eigh returns an arbitrary
    * unit-norm null-space basis; those eigenvectors feed colsum, w_reg
    * and W directly, so MLLE output deviates from sklearn there even
    * at k ≤ d_in. Both twins encode the identical choice. */
  def mlleSampledExact(df: DataFrame, idCol: String, arrayCol: String,
                       dims: Int, n: Int, kNei: Int, locIters: Int,
                       iters: Int, modTol: Double = 1e-12): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (ids, x) = sampleX(df, idCol, arrayCol, dims, n)
    val m = ids.length
    val k = kNei
    require(k <= dims, s"modified LLE needs k <= dims (eigh branch): $k > $dims")
    val knn = knnSets(d2Grid(x, dims), k)
    // point-centered local Grams (standard LLE's C, unregularized)
    val grams = Array.tabulate(m) { i =>
      val nb = knn(i)
      Array.tabulate(k, k)((a, b) => decSum((0 until dims).map(f =>
        r12((x(nb(a))(f) - x(i)(f)) * (x(nb(b))(f) - x(i)(f))))))
    }
    // full k-component eigendecomposition per point (descending |λ|;
    // C is PSD so that's descending λ — sklearn's eigh order)
    val eig = Array.tabulate(m)(i => powerCompsGrid(grams(i), locIters, k))
    val lams = Array.tabulate(m, k)((i, c) => eig(i)(c)._1)
    val vecs = Array.tabulate(m, k)((i, c) => eig(i)(c)._2)
    // intrinsic-dim ratio + median η over the sample; rho = 0 when the
    // top-2 eigenvalue mass is exactly 0 (rank-deficient neighborhood —
    // sklearn's float 0/0 would NaN-poison the median; both twins
    // encode the 0 choice identically)
    val rho = Array.tabulate(m) { i =>
      val den = decSum(lams(i).take(2))
      if (den == 0.0) 0.0 else r12(decSum(lams(i).drop(2)) / den)
    }
    val sorted = rho.sorted
    val mid = if (m % 2 == 0) Seq(sorted(m / 2 - 1), sorted(m / 2))
              else Seq(sorted(m / 2))
    val eta = r12(decSum(mid) / mid.size)
    // per-point almost-null-space size via the cumsum ratio ladder,
    // + n_components (=2): sklearn's `s_range += n_components`
    // (_locally_linear.py method='modified'), so s ≥ 2 always
    val sRange = Array.tabulate(m) { i =>
      val cs = Array.tabulate(k)(c => decSum(lams(i).take(c + 1)))
      val total = cs(k - 1)
      (0 until k - 1).count(c => r12(total / cs(c) - 1.0) < eta) + 2
    }
    val colsum = Array.tabulate(m, k)((i, c) => decSum(vecs(i)(c)))
    val acc = Array.fill(m, m)(List.empty[Double])
    for (i <- 0 until m) {
      val nb = knn(i); val s = sRange(i)
      val reg = r12(0.001 * decSum(lams(i)))
      val tmp = Array.tabulate(k)(c =>
        r12(colsum(i)(c) / r12(lams(i)(c) + reg)))
      val w0 = Array.tabulate(k)(a =>
        decSum((0 until k).map(c => r12(vecs(i)(c)(a) * tmp(c)))))
      val ws = decSum(w0)
      val wreg = w0.map(v => r12(v / ws))
      // bottom-s eigenvectors (descending order → indices k−s..k−1);
      // s = k+1 replicates numpy's negative-start slice: only the last
      // column is selected while α and the diagonal keep the full s
      val sel = (if (k - s >= 0) k - s else k - 1) until k
      val alpha = r12(math.sqrt(decSum(sel.map(c =>
        r12(colsum(i)(c) * colsum(i)(c))))) / math.sqrt(s.toDouble))
      val h0 = sel.map(c => r12(alpha - colsum(i)(c)))
      val nh = math.sqrt(decSum(h0.map(v => r12(v * v))))
      val hh = if (nh < modTol) h0.map(_ => 0.0)
               else h0.map(v => r12(v / nh))
      val wadd = wreg.map(v => r12((1.0 - alpha) * v))
      val vh = Array.tabulate(k)(a => decSum(sel.indices.map(ci =>
        r12(vecs(i)(sel(ci))(a) * hh(ci)))))
      // Wi[a][ci] — columns each sum to 1 by the Householder identity
      val wi = Array.tabulate(k, sel.size)((a, ci) =>
        r12(vecs(i)(sel(ci))(a) - 2.0 * r12(vh(a) * hh(ci)) + wadd(a)))
      for (a <- 0 until k; b <- 0 until k)
        acc(nb(a))(nb(b)) ::= decSum(sel.indices.map(ci =>
          r12(wi(a)(ci) * wi(b)(ci))))
      for (a <- 0 until k) {
        val rs = decSum(wi(a))
        acc(i)(nb(a)) ::= -rs
        acc(nb(a))(i) ::= -rs
      }
      acc(i)(i) ::= s.toDouble
    }
    val bigM = Array.tabulate(m, m)((p, q) => decSum(acc(p)(q)))
    val comps = nullSpace2(bigM, iters)
    ids.indices.map(i =>
      (ids(i), r6d(comps(0)._2(i)), r6d(comps(1)._2(i))))
      .toDF(idCol, "mlle1", "mlle2")
  }

  // ---- SQL twins of the LLE variants -----------------------------------

  /** knn(i, j, a) with the LOCAL RANK a = 0..k−1 (the [[knnSets]]
    * order), over a `pairs(i, j, d2)` CTE. */
  private def knnRankCte(k: Int): String =
    s"""knn AS MATERIALIZED (
       |  SELECT i, j, rk - 1 AS a FROM (
       |    SELECT i, j, ROW_NUMBER() OVER (PARTITION BY i
       |      ORDER BY d2 ASC, j ASC) AS rk
       |    FROM pairs WHERE i <> j) WHERE rk <= $k)""".stripMargin

  /** cen / yc / lg0 — the [[localGrams]] replay: per-point grid means,
    * centered neighbor coords, k×k local Gram keyed (i, a, b). */
  private def localGramCtes(dims: Int, kdS: String): String = {
    val means = (0 until dims).map(f =>
      s"ROUND(${detS(s"s.x_$f")} / $kdS, 12) AS m_$f").mkString(",\n    ")
    val ycs = (0 until dims).map(f =>
      s"ROUND(s.x_$f - c.m_$f, 12) AS y_$f").mkString(", ")
    val gTerms = (0 until dims).map(f =>
      s"CAST(ROUND(ya.y_$f * yb.y_$f, 12) AS DECIMAL(38,14))")
      .mkString(" + ")
    s"""cen AS MATERIALIZED (
       |  SELECT kk.i,
       |    $means
       |  FROM knn kk JOIN samp s ON s.i = kk.j GROUP BY kk.i),
       |yc AS MATERIALIZED (
       |  SELECT kk.i, kk.a, $ycs
       |  FROM knn kk JOIN samp s ON s.i = kk.j JOIN cen c ON c.i = kk.i),
       |lg0 AS MATERIALIZED (
       |  SELECT ya.i, ya.a AS a, yb.a AS b, CAST($gTerms AS DOUBLE) AS c
       |  FROM yc ya JOIN yc yb ON ya.i = yb.i)""".stripMargin
  }

  /** Per-point deflated power iteration over `lg0` — the
    * [[powerCompsGrid]] trajectory vectorized across points by GROUP BY
    * i: emits le{c}_t / llam{c} / lg{c} chains; final vectors at
    * le1_`locIters` and le2_`locIters`. */
  private def localEigCtes(kdS: String, locIters: Int,
                           comps: Int): String =
    (1 to comps).flatMap { c =>
      val gT = s"lg${c - 1}"
      val init =
        s"""le${c}_0 AS (SELECT i, a,
           |  ROUND((CASE WHEN a % 2 = 0 THEN 1.0 ELSE -1.0 END) *
           |    (1.0 + CAST(a AS DOUBLE) / $kdS) / SQRT($kdS), 12) AS v
           |  FROM knn)""".stripMargin
      val steps = (1 to locIters).flatMap { t =>
        Seq(
          s"""lu${c}_$t AS MATERIALIZED (
             |  SELECT g.i, g.a, ${detS("ROUND(g.c * v.v, 12)")} AS u
             |  FROM $gT g JOIN le${c}_${t - 1} v
             |    ON v.i = g.i AND v.a = g.b
             |  GROUP BY g.i, g.a)""".stripMargin,
          s"""ln${c}_$t AS (SELECT i,
             |  SQRT(${detS("ROUND(u * u, 12)")}) AS nrm
             |  FROM lu${c}_$t GROUP BY i)""".stripMargin,
          s"""le${c}_$t AS MATERIALIZED (
             |  SELECT u.i, u.a, ROUND(CASE WHEN n.nrm > 0
             |    THEN u.u / n.nrm ELSE 0.0 END, 12) AS v
             |  FROM lu${c}_$t u JOIN ln${c}_$t n ON n.i = u.i)""".stripMargin)
      }
      val L = s"le${c}_$locIters"
      val lam = Seq(
        s"""lfw$c AS MATERIALIZED (
           |  SELECT g.i, g.a, ${detS("ROUND(g.c * v.v, 12)")} AS u
           |  FROM $gT g JOIN $L v ON v.i = g.i AND v.a = g.b
           |  GROUP BY g.i, g.a)""".stripMargin,
        s"""llam$c AS MATERIALIZED (
           |  SELECT w.i, ROUND(${detS("ROUND(v.v * w.u, 12)")}, 8) AS lam
           |  FROM lfw$c w JOIN $L v ON v.i = w.i AND v.a = w.a
           |  GROUP BY w.i)""".stripMargin)
      val defl =
        if (c == comps) Nil
        else Seq(
          s"""lg$c AS MATERIALIZED (
             |  SELECT g.i, g.a, g.b,
             |    ROUND(g.c - l.lam * va.v * vb.v, 12) AS c
             |  FROM $gT g JOIN llam$c l ON l.i = g.i
             |  JOIN $L va ON va.i = g.i AND va.a = g.a
             |  JOIN $L vb ON vb.i = g.i AND vb.a = g.b)""".stripMargin)
      Seq(init) ++ steps ++ lam ++ defl
    }.mkString(",\n")

  /** msum → bigm → Gershgorin shift + analytic constant deflation →
    * deflated power iteration — the [[nullSpace2]] replay over a
    * contribution CTE `ct(ja, jb, v)`, ending in pw{1,2}_`iters`. */
  private def nullSpaceCtes(iters: Int): String =
    s"""msum AS MATERIALIZED (
       |  SELECT ja, jb, ${detS("v")} AS s FROM ct GROUP BY ja, jb),
       |bigm AS MATERIALIZED (
       |  SELECT a.i AS a, b.i AS b, COALESCE(s.s, 0.0) AS v
       |  FROM samp a CROSS JOIN samp b
       |  LEFT JOIN msum s ON s.ja = a.i AND s.jb = b.i),
       |sg AS (SELECT ROUND(MAX(rs), 12) AS sigma FROM (
       |  SELECT a, ${detS("ROUND(ABS(v), 12)")} AS rs
       |  FROM bigm GROUP BY a) t),
       |b0 AS MATERIALIZED (
       |  SELECT m.a AS i, m.b AS j,
       |    ROUND((CASE WHEN m.a = m.b THEN sg.sigma ELSE 0.0 END)
       |      - m.v - sg.sigma / mm.md, 12) AS v
       |  FROM bigm m CROSS JOIN sg CROSS JOIN mm),
       |$vinitCte,
       |${eigenCtes(2, iters)}""".stripMargin

  /** DuckDB twin of [[ltsaSampledExact]]. */
  def ltsaSampledExactSql(table: String, idSql: String,
                          arraySql: Int => String, dims: Int, n: Int,
                          kNei: Int, locIters: Int, iters: Int): String = {
    val kdS = s"$kNei.0"
    val L = s"le1_$locIters"; val L2 = s"le2_$locIters"
    s"""WITH ${sampCtes(table, idSql, arraySql, dims, n)},
       |${d2PairsCte(dims)},
       |${knnRankCte(kNei)},
       |${localGramCtes(dims, kdS)},
       |${localEigCtes(kdS, locIters, 2)},
       |ct AS MATERIALIZED (
       |  SELECT k1.j AS ja, k2.j AS jb,
       |    ROUND((CASE WHEN k1.a = k2.a THEN 1.0 ELSE 0.0 END) -
       |      ROUND(1.0 / $kdS + wa1.v * wb1.v + wa2.v * wb2.v, 12),
       |      12) AS v
       |  FROM knn k1 JOIN knn k2 ON k1.i = k2.i
       |  JOIN $L wa1 ON wa1.i = k1.i AND wa1.a = k1.a
       |  JOIN $L wb1 ON wb1.i = k1.i AND wb1.a = k2.a
       |  JOIN $L2 wa2 ON wa2.i = k1.i AND wa2.a = k1.a
       |  JOIN $L2 wb2 ON wb2.i = k1.i AND wb2.a = k2.a),
       |${nullSpaceCtes(iters)}
       |SELECT s.id AS vec_id,
       |  ROUND(v1.v, 6) AS ltsa1,
       |  ROUND(v2.v, 6) AS ltsa2
       |FROM samp s
       |JOIN pw1_$iters v1 ON v1.i = s.i
       |JOIN pw2_$iters v2 ON v2.i = s.i
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB twin of [[hessianSampledExact]]: tangent chains, the
    * 15-step modified Gram-Schmidt unroll over the 6-column design
    * matrix, column-sum normalization with the hessian_tol guard,
    * M += wwᵀ, null-space tail. */
  def hessianSampledExactSql(table: String, idSql: String,
                             arraySql: Int => String, dims: Int, n: Int,
                             kNei: Int, locIters: Int, iters: Int,
                             hessTol: Double = 1e-4): String = {
    val kdS = s"$kNei.0"
    val L = s"le1_$locIters"; val L2 = s"le2_$locIters"
    // modified Gram-Schmidt unroll: per column c, r{c}_0 = yi.y{c},
    // then p = 0..c−1 projection steps against the finished q{p}
    val mgs = (0 until 6).flatMap { c =>
      val r0 =
        s"""r${c}_0 AS (SELECT i, a, y$c AS r FROM yi)""".stripMargin
      val projs = (0 until c).flatMap { p =>
        Seq(
          s"""qd${c}_$p AS MATERIALIZED (
             |  SELECT q.i, ${detS("ROUND(q.q * r.r, 12)")} AS dot
             |  FROM q$p q JOIN r${c}_$p r ON r.i = q.i AND r.a = q.a
             |  GROUP BY q.i)""".stripMargin,
          s"""r${c}_${p + 1} AS MATERIALIZED (
             |  SELECT r.i, r.a, ROUND(r.r - d.dot * q.q, 12) AS r
             |  FROM r${c}_$p r
             |  JOIN qd${c}_$p d ON d.i = r.i
             |  JOIN q$p q ON q.i = r.i AND q.a = r.a)""".stripMargin)
      }
      val fin = Seq(
        s"""qn$c AS (SELECT i, SQRT(${detS("ROUND(r * r, 12)")}) AS nrm
           |  FROM r${c}_$c GROUP BY i)""".stripMargin,
        s"""q$c AS MATERIALIZED (
           |  SELECT r.i, r.a, ROUND(r.r / n.nrm, 12) AS q
           |  FROM r${c}_$c r JOIN qn$c n ON n.i = r.i)""".stripMargin)
      Seq(r0) ++ projs ++ fin
    }.mkString(",\n")
    val wNorm = (3 to 5).map { c =>
      s"""ws$c AS (SELECT i, ${detS("q")} AS s FROM q$c GROUP BY i),
         |wn$c AS MATERIALIZED (
         |  SELECT q.i, q.a, ROUND(q.q / (CASE WHEN ABS(s.s) < $hessTol
         |    THEN 1.0 ELSE s.s END), 12) AS w
         |  FROM q$c q JOIN ws$c s ON s.i = q.i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${sampCtes(table, idSql, arraySql, dims, n)},
       |${d2PairsCte(dims)},
       |${knnRankCte(kNei)},
       |${localGramCtes(dims, kdS)},
       |${localEigCtes(kdS, locIters, 2)},
       |yi AS MATERIALIZED (
       |  SELECT kk.i, kk.a, 1.0 AS y0, w1.v AS y1, w2.v AS y2,
       |    ROUND(w1.v * w1.v, 12) AS y3, ROUND(w1.v * w2.v, 12) AS y4,
       |    ROUND(w2.v * w2.v, 12) AS y5
       |  FROM knn kk
       |  JOIN $L w1 ON w1.i = kk.i AND w1.a = kk.a
       |  JOIN $L2 w2 ON w2.i = kk.i AND w2.a = kk.a),
       |$mgs,
       |$wNorm,
       |ct AS MATERIALIZED (
       |  SELECT k1.j AS ja, k2.j AS jb,
       |    ROUND(ROUND(wa3.w * wb3.w, 12) + ROUND(wa4.w * wb4.w, 12) +
       |      ROUND(wa5.w * wb5.w, 12), 12) AS v
       |  FROM knn k1 JOIN knn k2 ON k1.i = k2.i
       |  JOIN wn3 wa3 ON wa3.i = k1.i AND wa3.a = k1.a
       |  JOIN wn3 wb3 ON wb3.i = k1.i AND wb3.a = k2.a
       |  JOIN wn4 wa4 ON wa4.i = k1.i AND wa4.a = k1.a
       |  JOIN wn4 wb4 ON wb4.i = k1.i AND wb4.a = k2.a
       |  JOIN wn5 wa5 ON wa5.i = k1.i AND wa5.a = k1.a
       |  JOIN wn5 wb5 ON wb5.i = k1.i AND wb5.a = k2.a),
       |${nullSpaceCtes(iters)}
       |SELECT s.id AS vec_id,
       |  ROUND(v1.v, 6) AS hes1,
       |  ROUND(v2.v, 6) AS hes2
       |FROM samp s
       |JOIN pw1_$iters v1 ON v1.i = s.i
       |JOIN pw2_$iters v2 ON v2.i = s.i
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB twin of [[mlleSampledExact]]: point-centered local Grams,
    * the full k-component per-point eigensolve (the shared
    * [[localEigCtes]] chains at comps = k), regularized weights, the
    * median-η / cumsum-ratio almost-null-space sizing, Householder
    * alignment, the multi-weight W and its M contributions, null-space
    * tail. */
  def mlleSampledExactSql(table: String, idSql: String,
                          arraySql: Int => String, dims: Int, n: Int,
                          kNei: Int, locIters: Int, iters: Int,
                          modTol: Double = 1e-12): String = {
    val k = kNei
    val kdS = s"$k.0"
    val gTerms = (0 until dims).map(f =>
      s"CAST(ROUND((sa.x_$f - si.x_$f) * (sb.x_$f - si.x_$f), 12) " +
        "AS DECIMAL(38,14))").mkString(" + ")
    val evU = (1 to k).map(c =>
      s"SELECT i, $c AS c, lam FROM llam$c").mkString("\n  UNION ALL ")
    val vvU = (1 to k).map(c =>
      s"SELECT i, $c AS c, a, v FROM le${c}_$locIters")
      .mkString("\n  UNION ALL ")
    s"""WITH ${sampCtes(table, idSql, arraySql, dims, n)},
       |${d2PairsCte(dims)},
       |${knnRankCte(k)},
       |lg0 AS MATERIALIZED (
       |  SELECT k1.i, k1.a AS a, k2.a AS b, CAST($gTerms AS DOUBLE) AS c
       |  FROM knn k1 JOIN knn k2 ON k1.i = k2.i
       |  JOIN samp si ON si.i = k1.i
       |  JOIN samp sa ON sa.i = k1.j
       |  JOIN samp sb ON sb.i = k2.j),
       |${localEigCtes(kdS, locIters, k)},
       |ev AS MATERIALIZED (
       |  $evU),
       |vv AS MATERIALIZED (
       |  $vvU),
       |regt AS (SELECT i, ROUND(0.001 * ${detS("lam")}, 12) AS reg
       |  FROM ev GROUP BY i),
       |cs0 AS MATERIALIZED (
       |  SELECT i, c, ${detS("v")} AS cs FROM vv GROUP BY i, c),
       |rho AS MATERIALIZED (
       |  SELECT hi.i, CASE WHEN lo.s = 0 THEN 0.0
       |    ELSE ROUND(hi.s / lo.s, 12) END AS r
       |  FROM (SELECT i, ${detS("lam")} AS s FROM ev WHERE c > 2
       |        GROUP BY i) hi
       |  JOIN (SELECT i, ${detS("lam")} AS s FROM ev WHERE c <= 2
       |        GROUP BY i) lo ON lo.i = hi.i),
       |med AS (SELECT ROUND(${detS("r")} / COUNT(*), 12) AS eta FROM (
       |  SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn,
       |    COUNT(*) OVER () AS cnt FROM rho)
       |  WHERE rn * 2 = cnt OR rn * 2 = cnt + 1 OR rn * 2 = cnt + 2),
       |csum AS MATERIALIZED (
       |  SELECT e1.i, e1.c, ${detS("e2.lam")} AS cs
       |  FROM ev e1 JOIN ev e2 ON e2.i = e1.i AND e2.c <= e1.c
       |  GROUP BY e1.i, e1.c),
       |etar AS (SELECT cc.i, cc.c, ROUND(tt.cs / cc.cs - 1.0, 12) AS er
       |  FROM csum cc JOIN csum tt ON tt.i = cc.i AND tt.c = $k
       |  WHERE cc.c < $k),
       |sr AS MATERIALIZED (
       |  SELECT e.i, COUNT(*) FILTER (WHERE e.er < m.eta) + 2 AS s
       |  FROM etar e CROSS JOIN med m GROUP BY e.i),
       |tmp AS (SELECT c0.i, c0.c,
       |    ROUND(c0.cs / ROUND(e.lam + rg.reg, 12), 12) AS t
       |  FROM cs0 c0 JOIN ev e ON e.i = c0.i AND e.c = c0.c
       |  JOIN regt rg ON rg.i = c0.i),
       |w0 AS MATERIALIZED (
       |  SELECT v.i, v.a, ${detS("ROUND(v.v * t.t, 12)")} AS w
       |  FROM vv v JOIN tmp t ON t.i = v.i AND t.c = v.c
       |  GROUP BY v.i, v.a),
       |wsum AS (SELECT i, ${detS("w")} AS s FROM w0 GROUP BY i),
       |wreg AS MATERIALIZED (
       |  SELECT w0.i, w0.a, ROUND(w0.w / ws.s, 12) AS w
       |  FROM w0 JOIN wsum ws ON ws.i = w0.i),
       |alq AS (SELECT c0.i, ${detS("ROUND(c0.cs * c0.cs, 12)")} AS q
       |  FROM cs0 c0 JOIN sr ON sr.i = c0.i
       |  WHERE c0.c >= CASE WHEN sr.s > $k THEN $k
       |                     ELSE $k - sr.s + 1 END
       |  GROUP BY c0.i),
       |alpha AS MATERIALIZED (
       |  SELECT sr.i, ROUND(SQRT(q.q) / SQRT(CAST(sr.s AS DOUBLE)), 12)
       |    AS al
       |  FROM sr JOIN alq q ON q.i = sr.i),
       |h0 AS (SELECT c0.i, c0.c, ROUND(al.al - c0.cs, 12) AS h
       |  FROM cs0 c0 JOIN sr ON sr.i = c0.i
       |  JOIN alpha al ON al.i = c0.i
       |  WHERE c0.c >= CASE WHEN sr.s > $k THEN $k
       |                     ELSE $k - sr.s + 1 END),
       |hn AS (SELECT i, SQRT(${detS("ROUND(h * h, 12)")}) AS nh
       |  FROM h0 GROUP BY i),
       |hh AS MATERIALIZED (
       |  SELECT h0.i, h0.c, CASE WHEN hn.nh < $modTol THEN 0.0
       |    ELSE ROUND(h0.h / hn.nh, 12) END AS h
       |  FROM h0 JOIN hn ON hn.i = h0.i),
       |vh AS MATERIALIZED (
       |  SELECT v.i, v.a, ${detS("ROUND(v.v * h.h, 12)")} AS vh
       |  FROM vv v JOIN hh h ON h.i = v.i AND h.c = v.c
       |  GROUP BY v.i, v.a),
       |wadd AS (SELECT wr.i, wr.a, ROUND((1.0 - al.al) * wr.w, 12) AS ad
       |  FROM wreg wr JOIN alpha al ON al.i = wr.i),
       |wi AS MATERIALIZED (
       |  SELECT v.i, v.a, v.c,
       |    ROUND(v.v - 2.0 * ROUND(vh.vh * h.h, 12) + ad.ad, 12) AS w
       |  FROM vv v JOIN hh h ON h.i = v.i AND h.c = v.c
       |  JOIN vh ON vh.i = v.i AND vh.a = v.a
       |  JOIN wadd ad ON ad.i = v.i AND ad.a = v.a),
       |wwt AS MATERIALIZED (
       |  SELECT w1.i, w1.a AS a, w2.a AS b,
       |    ${detS("ROUND(w1.w * w2.w, 12)")} AS v
       |  FROM wi w1 JOIN wi w2 ON w1.i = w2.i AND w1.c = w2.c
       |  GROUP BY w1.i, w1.a, w2.a),
       |wrow AS MATERIALIZED (
       |  SELECT i, a, ${detS("w")} AS s FROM wi GROUP BY i, a),
       |ct AS MATERIALIZED (
       |  SELECT k1.j AS ja, k2.j AS jb, t.v AS v
       |  FROM wwt t JOIN knn k1 ON k1.i = t.i AND k1.a = t.a
       |  JOIN knn k2 ON k2.i = t.i AND k2.a = t.b
       |  UNION ALL
       |  SELECT t.i AS ja, kk.j AS jb, -t.s AS v
       |  FROM wrow t JOIN knn kk ON kk.i = t.i AND kk.a = t.a
       |  UNION ALL
       |  SELECT kk.j AS ja, t.i AS jb, -t.s AS v
       |  FROM wrow t JOIN knn kk ON kk.i = t.i AND kk.a = t.a
       |  UNION ALL
       |  SELECT i AS ja, i AS jb, CAST(s AS DOUBLE) AS v
       |  FROM sr),
       |${nullSpaceCtes(iters)}
       |SELECT s.id AS vec_id,
       |  ROUND(v1.v, 6) AS mlle1,
       |  ROUND(v2.v, 6) AS mlle2
       |FROM samp s
       |JOIN pw1_$iters v1 ON v1.i = s.i
       |JOIN pw2_$iters v2 ON v2.i = s.i
       |ORDER BY vec_id""".stripMargin
  }
}
