package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Curve fitting (reference Orange/regression/curvefit.py — scipy
  * curve_fit / least squares on a user expression).
  *
  * Spark-native split:
  *  - [[fitGaussNewton]]: general nonlinear least squares. The caller
  *    supplies the model and its partial derivatives as Column builders
  *    over the current parameter vector; every iteration is ONE
  *    map-side-combined aggregation assembling the p×p normal equations
  *    (J'J, J'r) through exact decimal sums, solved on the driver
  *    (p is the parameter count — tiny). Parameters are rounded to 10
  *    decimals per step so the trajectory is engine/partition
  *    deterministic (same device as SGD.logRegGD).
  *  - [[fitExpLinearized]]: the closed-form twin for y = a·e^(bx) via
  *    log-linearization — one aggregation, fully SQL-oracle-able
  *    (ml_curvefit_exp query).
  */
object CurveFit {

  final case class FitResult(params: Seq[Double], sse: Double)

  /** General Gauss-Newton NLS.
    * @param model   θ → f(x; θ) as a Column
    * @param jacobian θ → ∂f/∂θ_j Columns, one per parameter
    */
  def fitGaussNewton(df: DataFrame, y: Column,
                     model: Seq[Double] => Column,
                     jacobian: Seq[Double] => Seq[Column],
                     init: Seq[Double], iters: Int = 8): FitResult = {
    val p = init.length
    var theta = init.map(v => round10(v))
    var sse = Double.NaN
    for (_ <- 1 to iters) {
      val r = y - model(theta)
      val js = jacobian(theta)
      // upper triangle of J'J, then J'r, then SSE — one aggregation
      val jtj = for { i <- 0 until p; j <- i until p }
        yield detSum(js(i) * js(j), 6).as(s"__jtj_${i}_$j")
      val jtr = (0 until p).map(i => detSum(js(i) * r, 6).as(s"__jtr_$i"))
      val row = df.agg(jtj.head, (jtj.tail ++ jtr :+
        detSum(r * r, 6).as("__sse")): _*).first()
      val m = Array.ofDim[Double](p, p)
      var idx = 0
      for { i <- 0 until p; j <- i until p } {
        m(i)(j) = row.getDouble(idx); m(j)(i) = m(i)(j); idx += 1
      }
      val g = (0 until p).map(i => row.getDouble(idx + i))
      sse = row.getDouble(idx + p)
      val inv = graft.operators.OutlierOps.invertGaussJordan(m)
      theta = theta.zipWithIndex.map { case (t, i) =>
        round10(t + (0 until p).map(j => inv(i)(j) * g(j)).sum) }
    }
    // report the SSE of the FINAL parameters (the in-loop value lags one
    // update behind)
    val rF = y - model(theta)
    sse = df.agg(detSum(rF * rF, 6).as("__sse")).first().getDouble(0)
    FitResult(theta, sse)
  }

  private def round10(v: Double): Double = Rounds.roundHalfUp(v, 10)

  /** Closed-form exponential fit y = a·e^(bx) by linear regression on
    * ln y (requires y > 0 — rows violating it are dropped, as scipy's
    * log-space seeding does). Returns one row (a, b) — deterministic,
    * with an exact SQL twin. */
  def fitExpLinearized(df: DataFrame, x: Column, y: Column): DataFrame = {
    val base = df.filter(y > 0).select(x.cast("double").as("__x"),
      log(y.cast("double")).as("__ly"))
    base.agg(
        exactSum(col("__x")).as("sx"), exactSum(col("__ly")).as("sy"),
        exactSum(col("__x") * col("__x")).as("sxx"),
        detSum(col("__x") * col("__ly")).as("sxy"),
        count(lit(1)).as("n"))
      .select(
        round(exp((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n")), 6)
          .as("a"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("b"))
  }
}
