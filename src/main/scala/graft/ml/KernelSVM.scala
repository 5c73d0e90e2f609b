package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kernel (RBF) SVM classifier (reference Orange/classification/svm.py:11-45
  * SVCLearner — sklearn SVC(kernel='rbf')).
  *
  * Distributed re-expression: the RBF kernel is linearized with the same
  * Random Fourier Features the one-class detector uses
  * ([[OneClassSVM.rffFeatures]], Rahimi & Recht 2007), after which the
  * kernel SVC is a LINEAR hinge-loss fit — handled by the existing
  * deterministic full-batch subgradient machinery ([[SGD.linearGD]],
  * HingeLoss). One aggregation per iteration, weights broadcast, no
  * kernel matrix anywhere — the 100 TB shape, where sklearn's SMO on an
  * n×n Gram matrix stops at ~10⁵ rows.
  *
  * Determinism: the ω/b draws are md5-keyed (PortableHash) and the GD
  * trajectory is 10-decimal-rounded per step, so the fit is identical
  * across runs and partitionings. KernelSVMSpec pins the capability gap:
  * an interval-labeled fixture that the linear SVC cannot beat the
  * majority baseline on, while the RFF-SVC separates it. */
object KernelSVM {

  /** Fit an RBF SVC via RFF + hinge GD; y must be ±1. Returns the
    * linearGD weights row (w_z0..w_z{d-1}, intercept, accuracy).
    *
    * The fit routes through [[SGD.featureGen]]: while the d cosine
    * features of every row fit [[SGD.featCacheMaxBytes]] (half the heap),
    * the chunk cache holds them; past it, the cache stores the nRaw RAW
    * doubles per row and rebuilds the features per pass. This is the
    * single-box scale guard the sf100 rehearsal demanded — the expanded
    * 64-RFF cache over 600M rows is ~312 GB where the raw cache is
    * ~9.6 GB. The JVM expansion below reproduces the Column expressions
    * bit-for-bit: same left-fold `Σ xᵢ·fᵢ` order, then `+ off`,
    * `java.lang.Math.cos` (what Catalyst's Cos codegen calls), then
    * `· amp` — KernelSVMSpec pins the two branches bit-equal. */
  def rbfSvcFit(df: DataFrame, xs: Seq[Column], y: Column,
                d: Int = 32, gamma: Double = 8.0, iterations: Int = 30,
                lr: Double = 1.0): DataFrame =
    rbfSvcFitWithin(df, xs, y, d, gamma, iterations, lr, SGD.featCacheMaxBytes)

  /** [[rbfSvcFit]] with the expanded-feature cache budget given. */
  private[graft] def rbfSvcFitWithin(df: DataFrame, xs: Seq[Column], y: Column,
      d: Int, gamma: Double, iterations: Int, lr: Double,
      cacheMaxBytes: Long): DataFrame = {
    val feats = OneClassSVM.rffFeatures(xs, d, gamma)
      .zipWithIndex.map { case (f, j) => (s"z$j", f.as(s"z$j")) }
    // null feature rows dropped up front: linearGD refuses NULL cells
    val nonNull = xs.map(_.isNotNull).reduce(_ && _)
    val (freqs, offs) = OneClassSVM.rffConstants(xs.length, d, gamma)
    val fr = freqs.map(_.toArray).toArray
    val of = offs.toArray
    val amp = math.sqrt(2.0 / d)
    val nRaw = xs.length
    val gen = SGD.featureGen(xs.map(_.cast("double")), d,
      (in, inOff, out, outOff) => {
        var j = 0
        while (j < d) {
          val f = fr(j)
          var s = in(inOff) * f(0)
          var i = 1
          while (i < nRaw) { s += in(inOff + i) * f(i); i += 1 }
          out(outOff + j) = Math.cos(s + of(j)) * amp
          j += 1
        }
      })
    SGD.linearGDWithin(df.filter(nonNull), feats, y, iterations, lr,
      SGD.HingeLoss, Some(gen), cacheMaxBytes)
  }

  /** Fit and report (accuracy, d, gamma) — the query-facing summary row
    * (the d-dimensional weight vector itself is fit detail). */
  def rbfSvcAccuracy(df: DataFrame, xs: Seq[Column], y: Column,
                     d: Int = 32, gamma: Double = 8.0,
                     iterations: Int = 30, lr: Double = 1.0): DataFrame =
    rbfSvcFit(df, xs, y, d, gamma, iterations, lr)
      .select(col("accuracy"), lit(d).as("rff_dim"),
        lit(gamma).as("gamma"))

  /** Random-feature neural-network regression — the Spark-native stand-in
    * for the reference's MLPRegressor (Orange/regression/
    * neural_network.py:20, sklearn MLPRegressor): a 1-hidden-layer net
    * whose tanh hidden units are FIXED md5-keyed random projections
    * (the extreme-learning-machine / random-features construction —
    * same ω/b derivation as the RFF kernel maps) and whose linear output
    * layer is trained by full-batch squared-loss GD. MLlib ships no MLP
    * regressor; backprop through the hidden layer would forfeit the
    * deterministic unrolled-CTE oracle, while the random-feature form
    * keeps the fit one [[SGD.linearGD]] call — distributed, one
    * aggregation per step, oracle-exact. */
  def tanhFeatures(xs: Seq[Column], d: Int, gamma: Double): Seq[Column] = {
    val (freqs, offs) = OneClassSVM.rffConstants(xs.length, d, gamma)
    val amp = math.sqrt(2.0 / d)
    (0 until d).map { j =>
      val proj = xs.zipWithIndex.map { case (x, i) =>
        x * freqs(j)(i) }.reduce(_ + _)
      // tanh composed from exp — 1 − 2/(e^{2t}+1) — with the SAME
      // expression shape the SQL twin uses: this DuckDB build ships no
      // TANH, and the logistic-loss oracles already prove both engines'
      // EXP agree bit-wise, so the composition is the deterministic form
      val t = proj + (offs(j) - math.Pi)
      ((lit(1.0) - lit(2.0) / (exp(t * lit(2.0)) + lit(1.0))) * amp)
        .as(s"z$j")
    }
  }

  /** Fit the random-feature MLP regressor; y scaled to ~[0,1] by the
    * caller. Returns one row (mse, hidden_dim, gamma). */
  def mlpRegressionSummary(df: DataFrame, xs: Seq[Column], y: Column,
                           d: Int = 16, gamma: Double = 0.5,
                           iterations: Int = 30,
                           lr: Double = 0.5): DataFrame = {
    val feats = tanhFeatures(xs, d, gamma)
      .zipWithIndex.map { case (f, j) => (s"z$j", f) }
    val nonNull = (xs :+ y).map(_.isNotNull).reduce(_ && _)
    SGD.linearGD(df.filter(nonNull), feats, y, iterations, lr,
      SGD.SquaredLoss)
      .select(col("mse"), lit(d).as("hidden_dim"), lit(gamma).as("gamma"))
  }

  /** Softsign hidden units t/(1+|t|) (Glorot & Bengio 2010) over the
    * same md5-keyed random projections as [[tanhFeatures]]. Unlike the
    * exp-composed tanh, softsign is PURE IEEE arithmetic (+ × ÷ |·|),
    * so Spark and DuckDB produce bit-identical activations at every
    * argument — the activation for fits whose loss then feeds the
    * values through EXP (softmax), where a libm-exp ulp in the feature
    * would amplify across GD iterations. */
  def softsignFeatures(xs: Seq[Column], d: Int,
                       gamma: Double): Seq[Column] = {
    val (freqs, offs) = OneClassSVM.rffConstants(xs.length, d, gamma)
    val amp = math.sqrt(2.0 / d)
    (0 until d).map { j =>
      val proj = xs.zipWithIndex.map { case (x, i) =>
        x * freqs(j)(i) }.reduce(_ + _)
      val t = proj + (offs(j) - math.Pi)
      (t / (lit(1.0) + abs(t)) * amp).as(s"z$j")
    }
  }

  /** SQL twins of [[softsignFeatures]] — identical literals/shape. */
  def softsignFeatureSqls(xSqls: Seq[String], d: Int,
                          gamma: Double): Seq[String] = {
    val (freqs, offs) = OneClassSVM.rffConstants(xSqls.length, d, gamma)
    val amp = math.sqrt(2.0 / d)
    def dl(v: Double): String = if (v < 0) s"($v)" else v.toString
    (0 until d).map { j =>
      val proj = xSqls.zipWithIndex.map { case (x, i) =>
        s"($x) * ${dl(freqs(j)(i))}" }.mkString(" + ")
      val t = s"($proj + ${dl(offs(j) - math.Pi)})"
      s"$t / (1.0 + ABS($t)) * ${dl(amp)}"
    }
  }

  /** SQL twins of [[tanhFeatures]] — the identical literals and
    * expression shape, one string per hidden unit (no alias). */
  def tanhFeatureSqls(xSqls: Seq[String], d: Int,
                      gamma: Double): Seq[String] = {
    val (freqs, offs) = OneClassSVM.rffConstants(xSqls.length, d, gamma)
    val amp = math.sqrt(2.0 / d)
    def dl(v: Double): String = if (v < 0) s"($v)" else v.toString
    (0 until d).map { j =>
      val proj = xSqls.zipWithIndex.map { case (x, i) =>
        s"($x) * ${dl(freqs(j)(i))}" }.mkString(" + ")
      s"(1.0 - 2.0 / (EXP(($proj + ${dl(offs(j) - math.Pi)}) * 2.0) + 1.0))" +
        s" * ${dl(amp)}"
    }
  }

  /** DuckDB twin of [[mlpRegressionSummary]]: tanh features inlined as
    * identical literals in a MATERIALIZED CTE + the squared-loss GD
    * unrolled by [[SGD.linearGDSql]]. */
  def mlpRegressionSummarySql(table: String, xSqls: Seq[String],
                              ySql: String, d: Int = 16,
                              gamma: Double = 0.5, iterations: Int = 30,
                              lr: Double = 0.5): String = {
    val zCols = tanhFeatureSqls(xSqls, d, gamma).zipWithIndex
      .map { case (z, j) => s"$z AS z$j" }.mkString(",\n    ")
    val prelude = s"feats AS MATERIALIZED (\n  SELECT\n    $zCols,\n" +
      s"    $ySql AS y\n  FROM $table),\n"
    val gd = SGD.linearGDSql("feats",
      (0 until d).map(j => (s"z$j", s"z$j")), "y",
      iterations, lr, SGD.SquaredLoss, prelude)
    s"""SELECT mse, CAST($d AS INT) AS hidden_dim, $gamma AS gamma
       |FROM ($gd) t""".stripMargin
  }
}
