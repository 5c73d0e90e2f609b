package graft.ml

import java.math.BigInteger
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{OperatorSpec, SparkSpec}
import graft.core.Tables

/** Pins for the shared round kernel: the exact accumulator across its
  * spill boundary and against Catalyst's scaledLongSum, the HALF_UP
  * roundings against Catalyst's `round`, the envelope, SGD's refusals,
  * and cache release by every learner that runs on it. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def exactSum(ts: Seq[Long]) =
    ts.foldLeft(BigInteger.ZERO)((s, t) => s.add(BigInteger.valueOf(t)))

  test("Acc sums stay exact past ±2^63 and across merges") {
    val big = Long.MaxValue >> 1
    val pos = Seq(big, big, 1L, big, -3L, big, 7L)
    val neg = pos.map(-_)
    assert(exactSum(pos).bitLength > 63)
    val a = new Rounds.Acc(2)
    pos.foreach(a.add(0, _)); neg.foreach(a.add(1, _))
    assert(a.exact(0) == exactSum(pos) && a.exact(1) == exactSum(neg))
    // spilled into spilled, spilled into fresh, fresh into spilled
    val b = new Rounds.Acc(2)
    pos.take(3).foreach(b.add(0, _)); neg.take(3).foreach(b.add(1, _))
    a.merge(b)
    assert(a.exact(0) == exactSum(pos ++ pos.take(3)))
    assert(a.exact(1) == exactSum(neg ++ neg.take(3)))
    val c = new Rounds.Acc(2).merge(a)
    val d = new Rounds.Acc(2)
    d.add(0, 5L)
    c.merge(d)
    assert(c.exact(0) == exactSum(pos ++ pos.take(3) :+ 5L))
    assert(c.exact(1) == a.exact(1))
    val n = new Rounds.Acc(1)
    (1 to 5).foreach(_ => n.add(0, 1L))
    assert(n.long(0) == 5L)
  }

  test("Acc values the terms as scaledLongSum's double on adversarial groups") {
    val vals = OperatorSpec.adversarial(spark)
    val driver = vals.select(col("g"), Tables.scaledLongTerm(col("v")))
      .collect().groupBy(_.getString(0)).map { case (g, rs) =>
        val acc = new Rounds.Acc(1)
        rs.foreach(r => acc.add(0, r.getLong(1)))
        g -> acc.value(0, 1e12)
      }
    val got = vals.groupBy("g").agg(Tables.scaledLongSum(col("v")))
      .collect()
    assert(got.length == driver.size)
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(driver(r.getString(0))),
        s"group ${r.getString(0)}: catalyst=${r.getDouble(1)} " +
          s"driver=${driver(r.getString(0))}")
    }
  }

  test("roundScaled is HALF_UP away from zero at exact .5 grid points") {
    // power-of-two grids keep v·grid exact, so each product is a tie
    assert(Rounds.roundScaled(0.5, 1.0) == 1L)
    assert(Rounds.roundScaled(-0.5, 1.0) == -1L)
    assert(Rounds.roundScaled(2.5, 1.0) == 3L) // not ties-to-even
    assert(Rounds.roundScaled(-2.5, 1.0) == -3L)
    assert(Rounds.roundScaled(0.75, 2.0) == 2L)
    assert(Rounds.roundScaled(-0.75, 2.0) == -2L)
    // the largest double below 0.5 is no tie: no floor(t + 0.5) bump
    assert(Rounds.roundScaled(0.49999999999999994, 1.0) == 0L)
    assert(Rounds.roundScaled(-0.49999999999999994, 1.0) == 0L)
  }

  test("roundScaled fails on NaN and past 2^62 instead of saturating") {
    assert(Rounds.roundScaled(-4.6e6, 1e12) == -4600000000000000000L)
    for (v <- Seq(4.62e6, -4.62e6, 1e300, Double.NaN, Double.PositiveInfinity))
      intercept[ArithmeticException](Rounds.roundScaled(v, 1e12))
  }

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("SGD fits leave no persisted RDD behind") {
    val df = (1 to 200).map(i =>
      (i / 200.0, (i * 7 % 200) / 200.0, if (i % 3 == 0) 1.0 else 0.0))
      .toDF("a", "b", "y")
    val before = persisted
    val narrow = Seq(("a", col("a")), ("b", col("b")))
    val wide = (0 until 9).map(i => (s"w$i", col("a") * (i / 9.0)))
    for (feats <- Seq[Seq[(String, Column)]](narrow, wide)) {
      val out = SGD.linearGD(df, feats, col("y"), 2, 0.5, SGD.LogisticLoss)
      assert(persisted == before)
      out.collect()
      assert(persisted == before)
    }
  }

  private lazy val sgdInput = (1 to 50).map(i =>
    (Option(i / 50.0), if (i % 2 == 0) 1.0 else 0.0)).toDF("a", "y")
  private def sgdFit(df: org.apache.spark.sql.DataFrame, a: Column, y: Column) =
    SGD.linearGD(df, Seq(("a", a)), y, 2, 0.5, SGD.LogisticLoss)

  test("SGD refuses a NULL cell and leaves no persisted RDD behind") {
    val before = persisted
    for ((df, y) <- Seq(
        (sgdInput.union(Seq((Option.empty[Double], 1.0)).toDF("a", "y")), col("y")),
        (sgdInput, when(col("a") > 0.5, col("y")))))
    {
      val e = intercept[IllegalArgumentException](sgdFit(df, col("a"), y))
      assert(e.getMessage.contains("filter or impute NULLs first"), e.getMessage)
      assert(persisted == before)
    }
  }

  test("SGD refuses |x| > 1 and NaN, and leaves no persisted RDD behind") {
    val before = persisted
    val wide = (0 until 9).map(i => (s"w$i", col("a") * (i / 4.0)))
    val over = intercept[IllegalArgumentException](
      SGD.linearGD(sgdInput, wide, col("y"), 2, 0.5, SGD.HingeLoss))
    assert(over.getMessage.contains("SGD envelope: max|x|=2.0 (pre-scale features to [-1,1])"),
      over.getMessage)
    assert(persisted == before)
    val nan = intercept[IllegalArgumentException](
      sgdFit(sgdInput, when(col("a") > 0.9, lit(Double.NaN)).otherwise(col("a")), col("y")))
    assert(nan.getMessage.contains("max|x|=NaN"), nan.getMessage)
    assert(persisted == before)
  }

  test("envelope propagates NaN, wherever it sits in the chunk") {
    val sc = spark.sparkContext
    // stride 2, width 1: the second slot of each row is outside the envelope
    for (ch <- Seq(Array(0.5, 9.0, Double.NaN, 0.0, 0.25, 0.0),
                   Array(Double.NaN, 0.0, 0.75, 0.0)))
      assert(Rounds.envelope(sc.parallelize(Seq(ch), 1), 2, 1)._2.isNaN)
    assert(Rounds.envelope(sc.parallelize(Seq(Array(0.5, 0.0), Array(Double.NaN, 0.0),
      Array(-0.75, 9.0)), 3), 2, 1) match { case (n, m) => n == 3 && m.isNaN })
    assert(Rounds.envelope(sc.parallelize(Seq(Array(0.5, 9.0, -0.75, 9.0)), 1), 2, 1) ==
      ((2L, 0.75)))
  }

  test("roundHalfUp is Catalyst's round(v, 6) at decimal ties") {
    // 0.5000005 is 3,000,003 / 6,000,000: a tie of the shortest decimal
    // repr whose exact binary value lies below it
    val ties = Seq(0.5000005, 5e-7, 0.1234565, -0.5000005, 2.5e-6)
    val spark6 = ties.toDF("v").select(round(col("v"), 6)).collect().map(_.getDouble(0))
    assert(ties.map(Rounds.roundHalfUp(_, 6)) == spark6.toSeq)
    assert(Rounds.roundHalfUp(3000003.0 / 6000000.0, 6) == 0.500001)
    assert(new java.math.BigDecimal(0.5000005)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue == 0.5)
    assert(Rounds.roundHalfUp(Double.NaN, 6).isNaN)
    assert(Rounds.roundHalfUp(Double.NegativeInfinity, 6) == Double.NegativeInfinity)
  }

  test("roundScaled(t, 1e12) is Catalyst's scaledLongTerm: round(t * 1e12, 0) as a long") {
    val rnd = new scala.util.Random(7)
    // seeded ties: t·10¹² lands on or next to k + 0.5; then magnitudes
    // whose product passes 2⁵² (≈ 4.5e15), where every double is integral
    val ties = (1 to 400).flatMap { _ =>
      val t = (rnd.nextInt(2000000) - 1000000 + 0.5) / 1e12
      Seq(t, math.nextUp(t), math.nextDown(t))
    }
    val big = (1 to 200).map(_ => (rnd.nextDouble() * 4e6 + 4.6e3) * (if (rnd.nextBoolean()) 1 else -1))
    val ts = ties ++ big ++ Seq(0.0, -0.0, 0.5e-12, -0.5e-12, 4503.6, 4.6e6)
    val catalyst = ts.toDF("t").select(Tables.scaledLongTerm(col("t")))
      .collect().map(_.getLong(0))
    ts.zip(catalyst).foreach { case (t, c) =>
      assert(Rounds.roundScaled(t, 1e12) == c, s"t=$t")
    }
  }

  test("Softmax drops NULL/NaN rows, and leaves no persisted RDD behind") {
    val df = (0 until 60).map(i => (i / 60.0, (i % 3).toDouble)).toDF("x", "y")
    def fit(d: org.apache.spark.sql.DataFrame, x: Column) =
      Softmax.fit(d, Seq(("x", x)), col("y"), numClasses = 3,
        iterations = 2, lr = 1.0, lambda = 1.0)
    val before = persisted
    val dirty = df.union(Seq((Some(0.1), None), (None, Some(1.0)),
      (Some(Double.NaN), Some(2.0))).toDF("x", "y"))
    assert(fit(dirty, col("x")).collect().toSeq ==
      fit(df, col("x")).collect().toSeq)
    assert(persisted == before)
    val e = intercept[IllegalArgumentException](fit(df, col("x") * 3.0))
    assert(e.getMessage.contains("softmax envelope: maxAbs="))
    assert(persisted == before)
    intercept[IllegalArgumentException](fit(df.filter(lit(false)), col("x")))
    assert(persisted == before)
  }

  test("AdaBoost leaves no persisted RDD behind, also after a bad label") {
    val df = (1 to 40).map(i => (i.toDouble, if (i <= 20) 1.0 else -1.0))
      .toDF("x", "y")
    val cands = AdaBoost.candidates(Seq("x" -> Seq(10.0, 20.0)))
    def fit(y: Column) =
      AdaBoost.fitStumps(df, Map("x" -> col("x")), y, cands, rounds = 2)
    val before = persisted
    assert(fit(col("y")).collect().length == 2)
    assert(persisted == before)
    val e = intercept[Exception](fit(col("y") + 1.0))
    assert(e.getMessage.contains("AdaBoost cache expects ±1 values"))
    assert(persisted == before)
  }

  test("GradBoost leaves no persisted RDD behind, also after a bad label") {
    val df = (1 to 40).map(i => (i.toDouble, if (i <= 20) 1.0 else 0.0))
      .toDF("x", "y")
    val cands = GradBoost.splits(Seq("x" -> Seq(10.0, 20.0)))
    def fit(y: Column) = GradBoost.fitLogistic(df, Seq("x" -> col("x")), y,
      cands, rounds = 2, lr = 0.5)
    val before = persisted
    assert(fit(col("y")).collect().length == 2)
    assert(persisted == before)
    val e = intercept[Exception](fit(col("y") * 2.0))
    assert(e.getMessage.contains("GradBoost cache expects binary columns"))
    assert(persisted == before)
  }
}
