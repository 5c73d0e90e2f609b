package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scoring-sheet (sparse integer risk score) learner — reference
  * Orange/classification/scoringsheet.py (ScoringSheetLearner over the
  * vendored fasterrisk RiskScoreOptimizer / RiskScoreClassifier).
  *
  * Reimplemented Spark-first as a three-stage pipeline over the engine's
  * own operators rather than a port of fasterrisk's beam-search integer
  * solver:
  *   1. binarize — each continuous feature becomes equal-frequency
  *      threshold indicators 1[x ≥ t] (the reference's
  *      Discretize(Binning) → Impute → Continuize preprocessor chain);
  *      thresholds are EXACT percentiles (one aggregation), so the
  *      learned sheet is deterministic across partitionings;
  *   2. sparse integer points — ONE deterministic full-batch logistic
  *      fit over all indicators (SGD.logRegGD, on the round kernel),
  *      keep the `numParams` largest-|w| indicators and scale the kept
  *      weights to integers in [−maxPoints, maxPoints] (fasterrisk's
  *      sparsity + bounded-coefficient constraints);
  *   3. calibrate — Platt-fit σ(a·s + b) on the scaled integer total
  *      (fasterrisk's final logistic multiplier), so the sheet emits
  *      calibrated probabilities, not just points.
  *
  * Scale shape: every stage is aggregations + broadcast joins over the
  * full table; the only driver-side state is the ≤ numParams-row sheet.
  */
object ScoringSheet {

  final case class Entry(feature: String, threshold: Double, points: Int)

  /** A fitted sheet: integer points per satisfied indicator, plus the
    * Platt link p = σ(slope · points/scale + bias). */
  final case class Sheet(entries: Seq[Entry], scale: Double,
                         slope: Double, bias: Double) {
    def pointsCol: Column =
      entries.map(e => when(col(e.feature) >= e.threshold, e.points)
        .otherwise(0)).reduce(_ + _)
    def probCol: Column =
      lit(1.0) / (lit(1.0) +
        exp(-(pointsCol.cast("double") / scale * slope + lit(bias))))
    /** Predictions: points, calibrated probability, 0/1 class. */
    def predict(df: DataFrame): DataFrame =
      df.withColumn("points", pointsCol)
        .withColumn("prob", round(probCol, 6))
        .withColumn("prediction", (probCol >= 0.5).cast("int"))
  }

  def fit(df: DataFrame, features: Seq[String], isPos: Column,
          binsPerFeature: Int = 4, numParams: Int = 5, maxPoints: Int = 5,
          iterations: Int = 10): Sheet = {
    // 1. exact equal-frequency thresholds, one aggregation for all
    val probs = (1 until binsPerFeature).map(_.toDouble / binsPerFeature)
    val pctAggs = features.map(f => percentile_approx(col(f).cast("double"),
      lit(probs.toArray), lit(Int.MaxValue)).as(f))
    val pctRow = df.agg(pctAggs.head, pctAggs.tail: _*).head()
    val cuts: Seq[(String, Double)] = features.zipWithIndex.flatMap {
      case (f, i) => pctRow.getSeq[Double](i).distinct.map(t => (f, t))
    }
    val indicators = cuts.zipWithIndex.map { case ((f, t), i) =>
      (s"i$i", f, t)
    }

    // 2. one full-batch logistic fit over all indicators (0/1 ⊂ [0,1]
    // keeps logRegGD inside its scaled-long envelope)
    val wRow = SGD.logRegGD(df,
      indicators.map { case (n, f, t) =>
        n -> (when(col(f) >= t, 1.0).otherwise(0.0): Column) },
      isPos, iterations, lr = 1.0).head()
    val weighted = indicators.map { case (n, f, t) =>
      (f, t, wRow.getAs[Double](s"w_$n"))
    }
    val kept = weighted.sortBy { case (f, t, w) => (-math.abs(w), f, t) }
      .take(numParams).filter(_._3 != 0.0)
    require(kept.nonEmpty, "scoring sheet: all indicator weights are zero")
    val wMax = kept.map(e => math.abs(e._3)).max
    val entries = kept.map { case (f, t, w) =>
      Entry(f, t, math.round(w / wMax * maxPoints).toInt)
    }.filter(_.points != 0)

    // 3. Platt calibration of the integer total (scaled into [−1, 1]
    // for the deterministic GD's envelope)
    val scale = (entries.map(e => math.abs(e.points)).sum max 1).toDouble
    val pts = entries.map(e => when(col(e.feature) >= e.threshold, e.points)
      .otherwise(0)).reduce(_ + _)
    val cal = Calibration.plattCalibrate(df,
      pts.cast("double") / scale, isPos, iters = iterations).head()
    Sheet(entries, scale, cal.getDouble(0), cal.getDouble(1))
  }

  /** The sheet as a small DataFrame (for inspection / the query path). */
  def sheetDF(spark: org.apache.spark.sql.SparkSession, s: Sheet): DataFrame = {
    import spark.implicits._
    s.entries.toDF("feature", "threshold", "points")
      .withColumn("threshold", round(col("threshold"), 6))
      .orderBy(col("feature"), col("threshold"))
  }
}
