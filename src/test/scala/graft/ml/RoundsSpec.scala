package graft.ml

import java.math.BigInteger
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{OperatorSpec, SparkSpec}
import graft.core.Tables

/** Pins for the shared round kernel: the exact accumulator across its
  * spill boundary and against Catalyst's scaledLongSum, the HALF_UP
  * rounding, and cache release by every learner that runs on it. */
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

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  test("SGD fits leave no persisted RDD behind") {
    val df = (1 to 200).map(i =>
      (i / 200.0, (i * 7 % 200) / 200.0, if (i % 3 == 0) 1.0 else 0.0))
      .toDF("a", "b", "y")
    val before = persisted
    val narrow = Seq(("a", col("a")), ("b", col("b")))
    // k > 8: the envelope pass runs on the chunk cache
    val wide = (0 until 9).map(i => (s"w$i", col("a") * (i / 9.0)))
    // outside the envelope: the aggregate fallback
    val outside = Seq(("a", col("a") * 3.0))
    for (feats <- Seq[Seq[(String, Column)]](narrow, wide, outside)) {
      val out = SGD.linearGD(df, feats, col("y"), 2, 0.5, SGD.LogisticLoss)
      assert(persisted == before)
      out.collect()
      assert(persisted == before)
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
