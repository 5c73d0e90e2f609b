package graft

import org.apache.spark.sql.functions._
import graft.ml.{KernelSVM, SGD}

/** RFF kernel SVC (svm.py:11-45): capability + determinism pins. */
class KernelSVMSpec extends SparkSpec {
  import spark.implicits._

  private lazy val interval = {
    // 1-D interval label: +1 iff x ∈ (0.3, 0.7) — not linearly separable
    // in x, so a linear SVC cannot beat the 60% majority baseline by
    // much, while the RBF feature space separates it.
    (0 until 400).map(i => (i.toLong, i / 400.0)).toDF("id", "x")
  }
  private val yCol = when(col("x") > 0.3 && col("x") < 0.7, 1).otherwise(-1)

  test("RBF SVC separates an interval label the linear SVC cannot") {
    val lin = SGD.linearGD(interval, Seq(("x", col("x"))), yCol,
      iterations = 30, lr = 1.0, SGD.HingeLoss)
      .select(col("accuracy")).head().getDouble(0)
    val rbf = KernelSVM.rbfSvcFit(interval, Seq(col("x")), yCol)
      .select(col("accuracy")).head().getDouble(0)
    assert(lin <= 0.70, s"linear unexpectedly separates: $lin")
    assert(rbf >= 0.90, s"rbf failed to separate: $rbf")
  }

  test("fit is deterministic under repartitioning") {
    val a = KernelSVM.rbfSvcFit(interval, Seq(col("x")), yCol).collect()
    val b = KernelSVM.rbfSvcFit(interval.repartition(7), Seq(col("x")), yCol)
      .collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("FeatureGen recompute-per-pass branch ≡ default fit") {
    // force the raw-cache + expand-per-pass branch by shrinking the
    // expanded-feature budget below this fixture's ~(32+1)·8·400 B; a
    // two-column raw set exercises the left-fold order in expandRow
    val df2 = (0 until 400).map(i =>
      (i.toLong, i / 400.0, (i % 13) / 13.0)).toDF("id", "x", "x2")
    for ((df, xs) <- Seq((interval, Seq(col("x"))), (df2, Seq(col("x"), col("x2"))))) {
      val raw = KernelSVM.rbfSvcFitWithin(df, xs, yCol, 32, 8.0, 30, 1.0,
        cacheMaxBytes = 1024).collect()
      val dflt = KernelSVM.rbfSvcFit(df, xs, yCol).collect()
      assert(raw.map(_.toSeq).toSeq == dflt.map(_.toSeq).toSeq,
        "recompute-per-pass fit diverged from the default fit")
    }
  }

  // --- random-feature MLP regression (regression/neural_network.py:20) --

  test("MLP regression fits a nonlinear target below the variance baseline") {
    // y = bump(x): the mean regressor's best MSE is Var(y); a linear fit
    // barely improves on it; the tanh hidden layer should
    val df = (0 until 400).map { i =>
      val x = i / 400.0
      (x, if (x > 0.3 && x < 0.7) 0.8 else 0.2)
    }.toDF("x", "y")
    // sharp hidden layer: at gamma 0.5 the tanh units are ~linear over
    // [0,1] and cannot express a bump; scale sqrt(2*32)=8 saturates them
    val mse = KernelSVM.mlpRegressionSummary(df, Seq(col("x")), col("y"),
      gamma = 32.0, iterations = 200, lr = 0.8)
      .select(col("mse")).head().getDouble(0)
    val varY = df.agg(var_pop(col("y"))).head().getDouble(0)
    assert(mse < varY * 0.5, s"mse $mse not below half the variance $varY")
  }

  test("MLP regression is deterministic under repartitioning") {
    val df = (0 until 300).map(i => (i / 300.0, (i % 7) / 7.0)).toDF("x", "y")
    val a = KernelSVM.mlpRegressionSummary(df, Seq(col("x")), col("y")).collect()
    val b = KernelSVM.mlpRegressionSummary(df.repartition(5), Seq(col("x")),
      col("y")).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }
}
