package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Orange's uniform Learner/Model API (reference Orange/base.py:43-513:
  * `Learner(Table) → Model`, `Model(data) → predictions`) over Spark.
  *
  * Three families:
  *  - aggregation-based learners (NaiveBayes from contingencies — the
  *    reference builds it the same way, classification/naive_bayes.py;
  *    Majority; MeanRegressor): the "model" is a small DataFrame of
  *    parameters, prediction is a broadcast join + scalar expressions —
  *    fully distributed, no iteration, oracle-verifiable.
  *  - iterative learners (k-means, SGD, softmax, boosting): full-batch
  *    rounds on the [[Rounds]] kernel, oracle-verifiable too.
  *  - evaluation: metric expressions + hash-based k-fold CV.
  */
object Learners {

  trait Model { def predict(df: DataFrame): DataFrame }
  trait Learner { def fit(train: DataFrame): Model }

  /** Majority classifier (Orange/classification/majority.py): predicts
    * the most frequent target value; ties → smallest label. */
  final case class Majority(target: String) extends Learner {
    def fit(train: DataFrame): Model = {
      val m = train.groupBy(col(target)).count()
        .orderBy(col("count").desc, col(target).asc).limit(1)
        .select(col(target).as("__majority"))
      df => df.crossJoin(broadcast(m)).withColumn("prediction", col("__majority"))
        .drop("__majority")
    }
  }

  /** Mean regressor (Orange/regression/mean.py). */
  final case class MeanRegressor(target: String) extends Learner {
    def fit(train: DataFrame): Model = {
      val m = train.agg((sum(col(target).cast(DecimalType(38, 6)))
        .cast(DoubleType) / count(col(target))).as("__mean"))
      df => df.crossJoin(broadcast(m)).withColumn("prediction", col("__mean"))
        .drop("__mean")
    }
  }

  /** Naive Bayes over discrete features, built from contingency tables
    * with Laplace smoothing — same construction as the reference
    * (classification/naive_bayes.py fits from contingencies §2.4).
    *
    * Model = one small probability table per feature + the class prior;
    * prediction = broadcast-join each table and argmax over summed log
    * probabilities. log() terms are per-row doubles in a fixed order →
    * deterministic, so this learner is oracle-verifiable end-to-end. */
  final case class NaiveBayes(features: Seq[String], target: String)
      extends Learner {

    def fit(train: DataFrame): Model = {
      val n = train.count().toDouble
      val classes = train.select(col(target)).distinct()
        .collect().map(_.get(0).toString).sorted
      val k = classes.length
      val prior = train.groupBy(col(target).as("__c"))
        .agg(count(lit(1)).as("__nc"))
      val featTables = features.map { f =>
        val nv = train.select(col(f)).distinct().count().toDouble
        // p(v|c) = (n_vc + 1) / (n_c + n_values)   (Laplace)
        val vc = train.groupBy(col(f).as("__v"), col(target).as("__c"))
          .agg(count(lit(1)).as("__nvc"))
        f -> (vc, nv)
      }.toMap
      df => {
        // join per (feature, class) log-likelihoods for every class
        var out = df
        val classCols = classes.zipWithIndex.map { case (c, ci) =>
          // log p(c)
          val pc = prior.filter(col("__c") === c)
          out = out.crossJoin(broadcast(
            pc.select((col("__nc") + 0.0).as(s"__nc_$ci"))))
          var scoreExpr: Column = log((col(s"__nc_$ci")) / n)
          features.zipWithIndex.foreach { case (f, fi) =>
            val (vc, nv) = featTables(f)
            val tbl = vc.filter(col("__c") === c)
              .select(col("__v").as(s"__v_${ci}_$fi"),
                col("__nvc").as(s"__nvc_${ci}_$fi"))
            out = out.join(broadcast(tbl),
              out(f) === col(s"__v_${ci}_$fi"), "left_outer")
            scoreExpr = scoreExpr + log(
              (coalesce(col(s"__nvc_${ci}_$fi"), lit(0L)) + 1.0) /
                (col(s"__nc_$ci") + nv))
          }
          scoreExpr.as(s"__score_$ci")
        }
        val withScores = out.select(out.columns.map(col).toIndexedSeq ++ classCols: _*)
        // argmax with ties → first (classes sorted asc)
        val best = classes.indices.map(ci => col(s"__score_$ci"))
          .reduce((a, b) => greatest(a, b))
        val pred = classes.zipWithIndex.reverse
          .foldLeft(lit(null).cast("string")) { case (els, (c, ci)) =>
            when(col(s"__score_$ci") === best, c).otherwise(els)
          }
        withScores.withColumn("prediction", pred)
          .drop(withScores.columns.filter(_.startsWith("__")).toIndexedSeq: _*)
      }
    }
  }

  // --- Evaluation (Orange/evaluation/scoring.py) -------------------------

  object Scoring {
    /** Classification accuracy (scoring.py:156). */
    def ca(actual: Column, pred: Column): Column =
      sum(when(actual === pred, 1L).otherwise(0L)).cast(DoubleType) / count(lit(1))

    /** Per-class precision/recall/F1 from counts (scoring.py:207-225). */
    def precision(actual: Column, pred: Column, cls: String): Column =
      sum(when(pred === cls && actual === cls, 1L).otherwise(0L)).cast(DoubleType) /
        sum(when(pred === cls, 1L).otherwise(0L))
    def recall(actual: Column, pred: Column, cls: String): Column =
      sum(when(pred === cls && actual === cls, 1L).otherwise(0L)).cast(DoubleType) /
        sum(when(actual === cls, 1L).otherwise(0L))
    def f1(actual: Column, pred: Column, cls: String): Column = {
      val p = precision(actual, pred, cls); val r = recall(actual, pred, cls)
      lit(2.0) * p * r / (p + r)
    }

    /** Specificity = TN / (TN + FP) (scoring.py:340). */
    def specificity(actual: Column, pred: Column, cls: String): Column =
      sum(when(pred =!= cls && actual =!= cls, 1L).otherwise(0L)).cast(DoubleType) /
        sum(when(actual =!= cls, 1L).otherwise(0L))

    /** Matthews correlation coefficient, binary one-vs-rest on `cls`
      * (scoring.py:394, sklearn matthews_corrcoef). Pure integer counts
      * until one final double expression → deterministic. */
    def mcc(actual: Column, pred: Column, cls: String): Column = {
      val tp = sum(when(pred === cls && actual === cls, 1L).otherwise(0L)).cast(DoubleType)
      val tn = sum(when(pred =!= cls && actual =!= cls, 1L).otherwise(0L)).cast(DoubleType)
      val fp = sum(when(pred === cls && actual =!= cls, 1L).otherwise(0L)).cast(DoubleType)
      val fn = sum(when(pred =!= cls && actual === cls, 1L).otherwise(0L)).cast(DoubleType)
      (tp * tn - fp * fn) /
        sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    }

    /** Binary log-loss of probability `p` for actual-positive indicator
      * (scoring.py:288, sklearn log_loss): −mean(y·ln p + (1−y)·ln(1−p)),
      * p clipped to [1e-15, 1−1e-15]. Terms are per-row doubles summed
      * through the deterministic decimal path. */
    def logLoss(isPos: Column, p: Column): Column = {
      val eps = 1e-15
      val pc = least(greatest(p, lit(eps)), lit(1.0 - eps))
      -sum(round(when(isPos, log(pc)).otherwise(log(lit(1.0) - pc)), 12)
        .cast(DecimalType(38, 14))).cast(DoubleType) / count(lit(1))
    }

    /** Regression metrics (scoring.py:403-461) via exact decimal sums. */
    private def dsum(c: Column) = sum(c.cast(DecimalType(38, 6))).cast(DoubleType)
    def mse(actual: Column, pred: Column): Column =
      dsum((actual - pred) * (actual - pred)) / count(lit(1))
    def rmse(actual: Column, pred: Column): Column = sqrt(mse(actual, pred))
    def mae(actual: Column, pred: Column): Column =
      dsum(abs(actual - pred)) / count(lit(1))
    def r2(actual: Column, pred: Column): Column = {
      val ssRes = dsum((actual - pred) * (actual - pred))
      val ssTot = dsum(actual * actual) - dsum(actual) * dsum(actual) / count(lit(1))
      lit(1.0) - ssRes / ssTot
    }

    /** MAPE / SMAPE / CV(RMSE) (scoring.py:403-461). Per-row ratio terms
      * go through the rounded-decimal sum so engines agree. */
    private def rsum(c: Column) =
      sum(round(c, 12).cast(DecimalType(38, 14))).cast(DoubleType)
    def mape(actual: Column, pred: Column): Column =
      rsum(abs((actual - pred) / actual)) / count(lit(1))
    def smape(actual: Column, pred: Column): Column =
      rsum(lit(2.0) * abs(actual - pred) / (abs(actual) + abs(pred))) /
        count(lit(1))
    def cvrmse(actual: Column, pred: Column): Column =
      rmse(actual, pred) / (dsum(actual) / count(lit(1)))

    /** ROC AUC from a real-valued score, positives vs the rest
      * (scoring.py:226, sklearn roc_auc_score) — the Mann–Whitney rank
      * statistic with midranks for ties:
      * AUC = Σ_s nPos(s)·(cumNeg(&lt;s) + nNeg(s)/2) / (nPos·nNeg).
      *
      * Scale shape: ONE groupBy on the score (map-side combined) reduces
      * the corpus to its distinct score values; the running-total window
      * then orders only that grouped table — bounded by score cardinality
      * (round scores to ≤6 decimals upstream), never a per-row global
      * rank. Integer counts throughout, one final division. */
    /** Snap a floating-point score onto the 1e-6 grid BEFORE it becomes
      * the threshold-window ordering key: the per-score window input is
      * then bounded by score-range × 10⁶ by construction, not by a
      * caller contract. Integer/decimal scores already live on their
      * type's own grid and pass through unchanged (so their emitted
      * threshold keeps its exact type). */
    private def onGrid(df: DataFrame, score: Column): Column =
      df.select(score.as("__g")).schema.head.dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => round(score, 6)
        case _ => score
      }

    def auc(df: DataFrame, isPos: Column, score0: Column): DataFrame = {
      val score = onGrid(df, score0)
      val byScore = df.groupBy(score.as("__s")).agg(
        sum(when(isPos, 1L).otherwise(0L)).as("__np"),
        sum(when(isPos, 0L).otherwise(1L)).as("__nn"))
      val w = Window.orderBy(col("__s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byScore
        .withColumn("__cumn", sum(col("__nn")).over(w) - col("__nn"))
        .agg((sum(col("__np") * col("__cumn")).cast(DoubleType) +
              sum(col("__np") * col("__nn")).cast(DoubleType) / 2.0)
          .as("__u"),
          sum(col("__np")).as("__p"), sum(col("__nn")).as("__n"))
        .select(round(col("__u") /
          (col("__p").cast(DoubleType) * col("__n")), 6).as("auc"))
    }

    /** ROC curve points (reference Orange/evaluation/performance_curves
      * .py + widgets/evaluate/owrocanalysis.py): one (threshold, fpr,
      * tpr) row per distinct score, descending threshold semantics
      * ("predict positive when score ≥ t"). Scale shape: groupBy on the
      * score FIRST (map-side combined, one scan), window only over the
      * tiny per-score table — same device as [[auc]]. */
    def rocCurve(df: DataFrame, isPos: Column, score: Column): DataFrame =
      thresholdCounts(df, isPos, score)
        .select(col("threshold"),
          round(col("__fp").cast(DoubleType) / col("__n"), 6).as("fpr"),
          round(col("__tp").cast(DoubleType) / col("__p"), 6).as("tpr"))
        .orderBy(col("threshold").desc)

    /** Shared scaffold for the threshold-sweep curves: per distinct
      * score (the threshold grid), cumulative __tp/__fp when predicting
      * positive at score >= threshold, plus the totals __p/__n. One
      * map-side-combined groupBy; the windows run over the tiny grouped
      * table only — the 100 TB shape all three curves inherit. */
    private def thresholdCounts(df: DataFrame, isPos: Column,
                                score0: Column): DataFrame = {
      val score = onGrid(df, score0)
      val byScore = df.groupBy(score.as("threshold")).agg(
        sum(when(isPos, 1L).otherwise(0L)).as("__np"),
        sum(when(isPos, 0L).otherwise(1L)).as("__nn"))
      val desc = Window.orderBy(col("threshold").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      byScore
        .withColumn("__tp", sum(col("__np")).over(desc))
        .withColumn("__fp", sum(col("__nn")).over(desc))
        .withColumn("__p", sum(col("__np")).over(tot))
        .withColumn("__n", sum(col("__nn")).over(tot))
    }

    /** Cumulative-gains / lift curve (widgets/evaluate/owliftcurve.py):
      * per distinct score threshold, the population fraction contacted
      * (rate), the fraction of all positives captured (gain), and
      * lift = gain / rate. Same grouped-then-window shape as [[rocCurve]]. */
    def liftCurve(df: DataFrame, isPos: Column, score: Column): DataFrame = {
      val crows = col("__tp") + col("__fp")
      val all = col("__p") + col("__n")
      thresholdCounts(df, isPos, score)
        .select(col("threshold"),
          round(crows.cast(DoubleType) / all, 6).as("rate"),
          round(col("__tp").cast(DoubleType) / col("__p"), 6).as("gain"),
          round((col("__tp").cast(DoubleType) / col("__p")) /
                (crows.cast(DoubleType) / all), 6).as("lift"))
        .orderBy(col("threshold").desc)
    }

    /** Full threshold-sweep performance zoo (evaluation/
      * performance_curves.py `Curves`: ca/f1/sensitivity/specificity/
      * ppv/npv/fpr per threshold — a row is classified positive when its
      * score >= threshold). Same grouped-then-window shape as
      * [[rocCurve]]: the fact table is reduced to per-distinct-score
      * counts first (map-side combine), and the cumulative window runs
      * over that tiny grouped table only — the 100 TB shape. Ratios whose
      * denominator is empty (npv at the minimum threshold when no row
      * scores below it) are emitted NULL instead of the reference's
      * copy-the-neighbor patch (performance_curves.py:139-143). */
    def performanceCurves(df: DataFrame, isPos: Column,
                          score: Column): DataFrame = {
      val w = thresholdCounts(df, isPos, score)
      val tp = col("__tp").cast(DoubleType)
      val fp = col("__fp").cast(DoubleType)
      val p = col("__p").cast(DoubleType)
      val n = col("__n").cast(DoubleType)
      val fn = p - tp
      val tn = n - fp
      def safe(num: Column, den: Column): Column =
        when(den === 0d, lit(null).cast(DoubleType))
          .otherwise(round(num / den, 6))
      w.select(col("threshold"),
          round((tp + tn) / (p + n), 6).as("ca"),
          round(lit(2d) * tp / (lit(2d) * tp + fp + fn), 6).as("f1"),
          round(tp / p, 6).as("sens"),
          round(tn / n, 6).as("spec"),
          safe(tp, tp + fp).as("ppv"),
          safe(tn, tn + fn).as("npv"),
          round(fp / n, 6).as("fpr"))
        .orderBy(col("threshold").desc)
    }

    /** Calibration / reliability curve (widgets/evaluate/
      * owcalibrationplot.py): bucket predicted probability into
      * `bins` equal-width cells, emit mean predicted vs observed
      * positive rate per cell. ONE map-side-combined aggregation. */
    def calibrationCurve(df: DataFrame, isPos: Column, p: Column,
                         bins: Int): DataFrame = {
      val bin = least(floor(p * bins).cast("long"), lit(bins - 1L))
      df.groupBy(bin.as("bin")).agg(
          round(sum(round(p, 12).cast(DecimalType(38, 14)))
            .cast(DoubleType) / count(lit(1)), 6).as("mean_pred"),
          round(sum(when(isPos, 1L).otherwise(0L)).cast(DoubleType) /
            count(lit(1)), 6).as("frac_pos"),
          count(lit(1)).as("n"))
        .orderBy(col("bin"))
    }
  }

  /** Hash-based k-fold assignment (Orange CrossValidation,
    * evaluation/testing.py:568): deterministic, distributed, no sort. */
  def foldOf(key: Column, k: Int): Column = pmod(key, lit(k.toLong))

  /** k-fold CV of a learner: per fold, fit on the other folds, score CA
    * on the held-out fold. Aggregation-based learners only (each fold
    * fit is a couple of small aggregations). */
  def crossValidateCA(df: DataFrame, learnerOf: () => Learner,
                      target: String, foldKey: Column, k: Int): DataFrame =
    crossValidateCAFolds(df.withColumn("__fold", foldOf(foldKey, k)),
      learnerOf, target, k)

  /** [[crossValidateCA]] over a pre-assigned `__fold` column — used by the
    * stratified protocol, whose fold assignment needs a rank pass. */
  def crossValidateCAFolds(withFold: DataFrame, learnerOf: () => Learner,
                           target: String, k: Int): DataFrame = {
    val perFold = (0 until k).map { f =>
      val train = withFold.filter(col("__fold") =!= f)
      val test = withFold.filter(col("__fold") === f)
      val model = learnerOf().fit(train)
      model.predict(test)
        .agg(lit(f).as("fold"),
          Scoring.ca(col(target), col("prediction")).as("ca"),
          count(lit(1)).as("n_test"))
    }
    perFold.reduce(_.unionByName(_))
  }

  // --- Sampling protocols (Orange/evaluation/testing.py) -----------------

  /** TestOnTestData (testing.py:712): fit on `train`, score CA on `test`. */
  def testOnTestCA(train: DataFrame, test: DataFrame, learner: Learner,
                   target: String): DataFrame =
    learner.fit(train).predict(test)
      .agg(round(Scoring.ca(col(target), col("prediction")), 6).as("ca"),
        count(lit(1)).as("n_test"))

  /** ShuffleSplit (testing.py:654): `k` independent seeded splits; each
    * puts a row in train iff hash(key, seed) mod 100 < trainPct. The
    * split is a pure row-local expression (no shuffle, no sort) and the
    * same md5-derived hash the oracle can recompute. */
  def shuffleSplitCA(df: DataFrame, learnerOf: () => Learner, target: String,
                     key: Column, k: Int, trainPct: Int): DataFrame =
    (0 until k).map { s =>
      val bucket = pmod(graft.core.Tables.hashVal32(
        concat(key.cast("string"), lit(s"_$s"))), lit(100L))
      testOnTestCA(df.filter(bucket < trainPct),
          df.filter(bucket >= trainPct), learnerOf(), target)
        .select(lit(s).as("split"), col("ca"), col("n_test"))
    }.reduce(_.unionByName(_))

  /** LeaveOneOut (testing.py:638) for the Majority learner, closed form:
    * removing a row only decrements its own class's count, so the
    * held-out prediction depends only on the row's own class —
    * argmax_c (n_c − [c = own]), ties → smallest label. The reference
    * refits per row (n fits — cannot scale); for count-based models that
    * loop collapses to this exact algebra: one k-row aggregate collected,
    * then a per-row expression. */
  def leaveOneOutMajorityCA(df: DataFrame, target: String): DataFrame = {
    val counts = df.groupBy(col(target)).count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).sortBy(_._1)
    // per possible own-class o, the LOO prediction is a constant
    val predOf = counts.map { case (o, _) =>
      o -> counts.map { case (c, n) => (c, n - (if (c == o) 1L else 0L)) }
        .sortBy { case (c, n) => (-n, c) }.head._1
    }
    val predExpr = predOf.reverse.foldLeft(lit(null).cast("string")) {
      case (els, (o, p)) => when(col(target) === o, p).otherwise(els)
    }
    df.withColumn("prediction", predExpr)
      .agg(round(Scoring.ca(col(target), col("prediction")), 6).as("ca"),
        count(lit(1)).as("n_test"))
  }

  /** TestOnTrainingData (testing.py:779): fit and score on the SAME
    * table — the optimistic-bias protocol, kept for parity. */
  def testOnTrainingCA(df: DataFrame, learner: Learner,
                       target: String): DataFrame =
    testOnTestCA(df, df, learner, target)

  /** CrossValidationFeature (testing.py:610): folds are the values of a
    * discrete feature — fit on the other values, score the held-out
    * value. Fold count = feature cardinality (bounded, discrete), so the
    * per-fold loop stays a plan-size concern, not a data-size one. */
  def crossValidateByFeatureCA(df: DataFrame, learnerOf: () => Learner,
                               target: String, foldFeature: String): DataFrame = {
    val folds = df.select(col(foldFeature).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    folds.map { f =>
      val train = df.filter(col(foldFeature).cast("string") =!= f)
      val test = df.filter(col(foldFeature).cast("string") === f)
      learnerOf().fit(train).predict(test)
        .agg(lit(f).as("fold"),
          round(Scoring.ca(col(target), col("prediction")), 6).as("ca"),
          count(lit(1)).as("n_test"))
    }.reduce(_.unionByName(_))
  }

  // Model as SAM for concise learner bodies
  import scala.language.implicitConversions
  implicit def fnToModel(f: DataFrame => DataFrame): Model = new Model {
    def predict(df: DataFrame): DataFrame = f(df)
  }
}
