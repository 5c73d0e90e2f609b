package graft

import org.apache.spark.sql.functions._
import graft.ml.SGD

/** Pluggable-loss GD semantics (reference Orange/classification/sgd.py,
  * Orange/regression/svm.py LinearSVR): convergence on toy data plus the
  * partition-independence that backs the DuckDB-twin oracle claim. */
class SGDLossSpec extends SparkSpec {
  import spark.implicits._

  test("hinge GD separates a linearly separable toy set") {
    // y = +1 iff x > 0.5; margin ~0.4 — easily separable
    val df = ((1 to 40).map(i => (i / 100.0 + 0.6, 1)) ++
      (1 to 40).map(i => (i / 100.0, -1))).toDF("x", "y")
    val out = SGD.linearGD(df, Seq(("x", col("x"))), col("y"),
      iterations = 30, lr = 1.0, SGD.HingeLoss).first()
    assert(out.getAs[Double]("accuracy") == 1.0, out.toString)
  }

  test("epsilon-insensitive GD tracks a noiseless linear relation") {
    // y = 0.8 x; SVR subgradient walks MSE down monotonically-ish
    val df = (1 to 100).map(i => (i / 100.0, 0.8 * i / 100.0)).toDF("x", "y")
    // sign-only subgradient ⇒ constant-magnitude steps lr·mean(x): lr
    // must be small enough that the oscillation band around the tube is
    // narrow, or MSE never settles (lr=0.3 measured 0.08 after 25 iters)
    def mse(iters: Int) = SGD.linearGD(df, Seq(("x", col("x"))), col("y"),
      iters, lr = 0.05, SGD.EpsilonInsensitiveLoss(0.02))
      .first().getAs[Double]("mse")
    val m0 = mse(1); val m1 = mse(40)
    assert(m1 < m0, s"mse did not improve: $m0 -> $m1")
    assert(m1 < 0.02, s"mse too high after 40 iters: $m1")
  }

  test("SVR/hinge fits are invariant to repartitioning") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    def fitOn(d: org.apache.spark.sql.DataFrame) = SGD.linearGD(
      d, Seq(("qty", col("l_quantity") / 50.0)),
      col("l_extendedprice") / 100000.0,
      iterations = 5, lr = 0.5, SGD.EpsilonInsensitiveLoss(0.05))
      .first().toSeq
    assert(fitOn(df) == fitOn(df.repartition(13)))
  }

  test("chunked cache crosses the 2^16-row chunk boundary bit-exactly") {
    // 70_000 rows in ONE partition forces a full 65 536-row chunk plus
    // a trimmed 4 464-row tail; 7 partitions keep every chunk partial.
    // The gradient sums are integer and order-independent, so both
    // layouts — and both code paths through the chunk iterator — must
    // produce identical weights and metric.
    val n = 70000
    val df = spark.range(n).select(
      ((col("id") % 997).cast("double") / 997.0).as("x"),
      when(col("id") % 997 > 498, 1.0).otherwise(-1.0).as("y"))
    def fitOn(parts: Int) = SGD.linearGD(
      df.repartition(parts), Seq(("x", col("x"))), col("y"),
      iterations = 3, lr = 0.5, SGD.HingeLoss).first().toSeq
    assert(fitOn(1) == fitOn(7))
  }

  test("a fit is t + 3 jobs: envelope, t rounds, metric, consume; no join or aggregate") {
    val df = (1 to 120).map(i => (i / 120.0, (i * 7 % 120) / 120.0,
      if (i % 3 == 0) 1.0 else 0.0)).toDF("a", "b", "y")
    val narrow = Seq(("a", col("a")), ("b", col("b")))
    val wide = (0 until 9).map(i => (s"w$i", col("b") * (i / 9.0)))
    val iterations = 4
    for (feats <- Seq(narrow, wide); loss <- Seq(SGD.LogisticLoss, SGD.SquaredLoss)) {
      val (jobs, ps) = probe(s"sgd-${feats.size}-${loss.metricName}") {
        Bench.consume(SGD.linearGD(df, feats, col("y"), iterations, 0.5, loss))
      }
      assert(jobs == iterations + 3, ps.mkString("\n"))
      // the projection behind the cache and the consume
      assert(ps.size == 2, ps.mkString("\n"))
      for (p <- ps; op <- Seq("Join", "Aggregate", "Exchange")) assert(!p.contains(op), p)
    }
  }

  test("empty input: zero weights and a NULL metric") {
    val empty = Seq.empty[(Double, Double)].toDF("x", "y")
    for (loss <- Seq(SGD.HingeLoss, SGD.EpsilonInsensitiveLoss(0.05))) {
      val out = SGD.linearGD(empty, Seq(("x", col("x"))), col("y"), 3, 0.5, loss)
      assert(out.schema.map(f => (f.name, f.nullable)) ==
        Seq(("w_x", false), ("intercept", false), (loss.metricName, true)))
      assert(out.collect().map(_.toSeq).toSeq == Seq(Seq(0.0, 0.0, null)))
    }
  }

  test("the MSE pass is the Catalyst round(scaledLongSum((z - y)^2) / n, 6)") {
    val df = (1 to 300).map(i => ((i * 37 % 300) / 300.0, (i % 11) / 7.0))
      .toDF("x", "y")
    val fit = SGD.linearGD(df, Seq(("x", col("x"))), col("y"), 5, 0.5,
      SGD.SquaredLoss).first()
    val z = col("x") * lit(fit.getDouble(0)) + lit(fit.getDouble(1))
    val want = df.agg(round(graft.core.Tables.scaledLongSum((z - col("y")) * (z - col("y"))) /
      lit(300.0), 6)).first().getDouble(0)
    assert(fit.getDouble(2) == want && want > 0.0)
    assert(fit.schema("mse").nullable && !fit.schema("intercept").nullable)
  }
}
