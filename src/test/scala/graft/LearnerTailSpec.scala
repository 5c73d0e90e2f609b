package graft

import org.apache.spark.sql.functions._
import graft.ml.{Calibration, CurveFit, PLS}

/** PLS1 / CurveFit / Calibration semantics (reference regression/pls.py,
  * regression/curvefit.py, classification/calibration.py). */
class LearnerTailSpec extends SparkSpec {
  import spark.implicits._

  test("PLS with A = d components equals OLS on exact linear data") {
    // y = 1 + 2 x1 - 3 x2, no noise → OLS (and PLS at full rank) exact
    val df = (1 to 50).map { i =>
      val x1 = i * 0.7; val x2 = math.sin(i) * 4
      (x1, x2, 1.0 + 2.0 * x1 - 3.0 * x2)
    }.toDF("x1", "x2", "y")
    val m = PLS.fit(df, Seq("x1", "x2"), "y", 2)
    assert(math.abs(m.intercept - 1.0) < 1e-6, s"intercept ${m.intercept}")
    assert(math.abs(m.beta.head - 2.0) < 1e-6 && math.abs(m.beta(1) + 3.0) < 1e-6,
      s"beta ${m.beta}")
    val maxErr = m.predict(df)
      .select(max(abs(col("prediction") - col("y")))).first().getDouble(0)
    assert(maxErr < 1e-6)
  }

  test("PLS is deterministic across repeated fits and repartitionings") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    val m1 = PLS.fit(df, Seq("l_quantity", "l_discount"), "l_extendedprice", 2)
    val m2 = PLS.fit(df.repartition(7), Seq("l_quantity", "l_discount"),
      "l_extendedprice", 2)
    assert(m1 == m2)
  }

  test("PLS with 1 component explains less than full rank") {
    val df = (1 to 60).map { i =>
      (i * 1.0, (i % 7) * 2.0, 3.0 * i + 5.0 * (i % 7))
    }.toDF("x1", "x2", "y")
    def sse(a: Int) = {
      val m = PLS.fit(df, Seq("x1", "x2"), "y", a)
      m.predict(df).select(sum(pow(col("prediction") - col("y"), 2)))
        .first().getDouble(0)
    }
    assert(sse(2) < sse(1))
    assert(sse(2) < 1e-6) // full rank on exact linear data
  }

  test("Gauss-Newton recovers exact exponential parameters and matches " +
       "the linearized closed form") {
    val df = (1 to 40).map(i => (i * 0.1, 2.0 * math.exp(0.5 * i * 0.1)))
      .toDF("x", "y")
    val fitted = CurveFit.fitGaussNewton(
      df, col("y"),
      th => lit(th.head) * exp(lit(th(1)) * col("x")),
      th => Seq(exp(lit(th(1)) * col("x")),
        lit(th.head) * col("x") * exp(lit(th(1)) * col("x"))),
      init = Seq(1.0, 0.1), iters = 12)
    assert(math.abs(fitted.params.head - 2.0) < 1e-4, s"a=${fitted.params.head}")
    assert(math.abs(fitted.params(1) - 0.5) < 1e-4, s"b=${fitted.params(1)}")
    // sse sums 6-decimal-rounded terms → resolution ~n·5e-7
    assert(fitted.sse < 1e-4)
    val lin = CurveFit.fitExpLinearized(df, col("x"), col("y")).first()
    // outputs are rounded to 6 decimals; detSum(x·ln y) adds ~n·5e-13
    assert(math.abs(lin.getDouble(0) - 2.0) < 1e-5)
    assert(math.abs(lin.getDouble(1) - 0.5) < 1e-5)
  }

  test("optimizeThresholdCA picks the perfect separator, ties -> 0.5") {
    // perfectly separable at p = 0.6
    val sep = Seq((0.1, 0), (0.2, 0), (0.4, 0), (0.6, 1), (0.8, 1), (0.9, 1))
      .toDF("p", "y")
    val r = Calibration.optimizeThresholdCA(sep, col("y") === 1, col("p")).first()
    assert(r.getDouble(0) == 0.6 && r.getDouble(1) == 1.0)
    // all-positive data: only θ = min prob classifies everything as 1
    // (CA = 1, unique max) — no tie to break
    val allPos = Seq((0.2, 1), (0.45, 1), (0.7, 1)).toDF("p", "y")
    val rp = Calibration.optimizeThresholdCA(allPos, col("y") === 1, col("p")).first()
    assert(rp.getDouble(0) == 0.2)
    // genuine tie: (0.4,0),(0.6,1) — θ=0.6 gives CA=1... construct a
    // 2-way CA tie instead: probs {0.3,0.7}, one pos at 0.3 and one neg
    // at 0.7 (anti-correlated): θ=0.3 → CA=1/2, θ=0.7 → CA=1/2 → tie,
    // |0.7-0.5| < |0.3-0.5| is false (equal) → smallest θ wins
    val tie = Seq((0.3, 1), (0.7, 0)).toDF("p", "y")
    val rt = Calibration.optimizeThresholdCA(tie, col("y") === 1, col("p")).first()
    assert(rt.getDouble(1) == 0.5)
    assert(rt.getDouble(0) == 0.3) // equidistant from 0.5 → smallest
  }

  test("Platt calibration learns a positive slope on monotone data") {
    val df = (1 to 200).map { i =>
      val s = i / 200.0
      (s, if (s > 0.5) 1 else 0)
    }.toDF("s", "y")
    val w = Calibration.plattCalibrate(df, col("s"), col("y") === 1,
      iters = 20).first()
    // weights row: (w_score, w_bias, accuracy-ish) — slope must be
    // positive for monotone-increasing outcomes
    assert(w.getDouble(0) > 0.0)
  }

  test("TestOnTrainingData of Majority equals the majority-class share") {
    val df = (Seq.fill(7)("a") ++ Seq.fill(3)("b")).toDF("cls")
    val r = graft.ml.Learners.testOnTrainingCA(df,
      graft.ml.Learners.Majority("cls"), "cls").first()
    assert(r.getDouble(0) == 0.7 && r.getLong(1) == 10L)
  }

  test("CrossValidationFeature: one row per fold value, leak-free majority") {
    // fold feature g: value 'x' rows are all class a; the rest majority b.
    // Training on g<>'x' must predict b, so fold 'x' scores CA 0.
    val df = (Seq.fill(4)(("x", "a")) ++ Seq.fill(5)(("y", "b")) ++
      Seq.fill(5)(("z", "b"))).toDF("g", "cls")
    val rows = graft.ml.Learners.crossValidateByFeatureCA(df,
        () => graft.ml.Learners.Majority("cls"), "cls", "g")
      .as[(String, Double, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(rows.keySet == Set("x", "y", "z"))
    assert(rows("x")._1 == 0.0) // leak-free: trained majority is b
    assert(rows("y")._1 == 1.0 && rows("z")._1 == 1.0)
  }

  test("scoring sheet: separable outcome yields a high-accuracy integer sheet") {
    // outcome is exactly x >= 50 — one indicator should dominate
    val df = (1 to 100).map(i => (i.toDouble, (i % 13).toDouble,
      if (i >= 50) 1 else 0)).toDF("x", "z", "y")
    val sheet = graft.ml.ScoringSheet.fit(df, Seq("x", "z"), col("y") === 1,
      binsPerFeature = 4, numParams = 3, maxPoints = 5, iterations = 15)
    assert(sheet.entries.nonEmpty &&
      sheet.entries.forall(e => math.abs(e.points) <= 5))
    val scored = sheet.predict(df)
    val acc = scored.select(avg((col("prediction") === col("y")).cast("int")))
      .first().getDouble(0)
    assert(acc >= 0.9, s"sheet accuracy $acc")
    // the dominant indicator is an x-threshold near the class boundary
    val top = sheet.entries.maxBy(e => math.abs(e.points))
    assert(top.feature == "x", s"dominant entry $top")
  }

  test("scoring sheet is deterministic across partitionings") {
    val df = spark.read.parquet(s"$sf/customer.parquet")
    val a = graft.ml.ScoringSheet.fit(df, Seq("c_acctbal", "c_nationkey"),
      col("c_mktsegment") === "BUILDING")
    val b = graft.ml.ScoringSheet.fit(df.repartition(9),
      Seq("c_acctbal", "c_nationkey"), col("c_mktsegment") === "BUILDING")
    assert(a == b)
  }

  test("softmax regression separates the embedding labels better than chance") {
    // ml_softmax_regression's fit: 16 embedding coordinates, 10 classes
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val rows = graft.ml.Softmax.fit(e,
      (0 until 16).map(i =>
        (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
      col("label"), numClasses = 10, iterations = 20, lr = 10.0,
      lambda = 1.0).collect()
    val acc = rows.head.getAs[Double]("accuracy")
    assert(acc > 1.5 / rows.length, s"training accuracy $acc not above chance")
  }
}
