package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.core.Tables
import graft.ml.OneClassSVM

/** One-class SVM via RFF + linear subgradient descent
  * (outlier_detection.py:17-180 semantics): outlier ranking,
  * determinism, bit-equality with the Catalyst loop the round kernel
  * replaced, the jobs a fit launches and cache release. */
class OneClassSVMSpec extends SparkSpec {
  import spark.implicits._

  /** The Catalyst formulation of [[OneClassSVM.fitPredict]]'s loop that
    * the round kernel replaced: each round crossJoins a one-row weight
    * frame, flags violators and aggregates their detSum gradients. */
  private def catalystFitPredict(df: DataFrame, xs: Seq[(String, Column)],
                                 nu: Double, d: Int, gamma: Double,
                                 iterations: Int, lr: Double = 0.1): DataFrame = {
    val spark = df.sparkSession
    val feats = OneClassSVM.rffFeatures(xs.map(_._2), d, gamma)
    val base = df.select(col("*") +: feats: _*).cache()
    val n = base.count()
    val wSchema = StructType((0 until d).map(j =>
      StructField(s"wc$j", DoubleType, nullable = false)))
    def wDF(w: Array[Double]) = spark.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(w.toSeq)), wSchema)
    def margin = (0 until d).map(j => col(s"z$j") * col(s"wc$j")).reduce(_ + _)
    var w = Array.fill(d)(1.0 / d)
    var rho = 0.0
    val inv = 1.0 / (nu * n)
    for (_ <- 1 to iterations) {
      val withM = base.crossJoin(broadcast(wDF(w)))
        .withColumn("__viol", (margin < rho).cast("int"))
      val aggs = (0 until d).map(j =>
        Tables.detSum(when(col("__viol") === 1, col(s"z$j")).otherwise(0.0))
          .as(s"g$j")) :+ sum(col("__viol")).as("nv")
      val row = withM.agg(aggs.head, aggs.tail: _*).head()
      val nv = row.getLong(d)
      w = w.zipWithIndex.map { case (wi, j) =>
        val g = wi - inv * (if (row.isNullAt(j)) 0.0 else row.getDouble(j))
        math.rint((wi - lr * g) * 1e10) / 1e10 }
      rho = math.rint((rho - lr * (-1.0 + inv * nv)) * 1e10) / 1e10
    }
    val k = math.max(1, math.floor(nu * n).toInt)
    val mCol = base.crossJoin(broadcast(wDF(w)))
      .select(margin.as("__m")).orderBy(col("__m").asc_nulls_last).limit(k)
      .agg(max(col("__m"))).head()
    rho = math.rint(mCol.getDouble(0) * 1e10) / 1e10
    val out = base.crossJoin(broadcast(wDF(w)))
      .withColumn("score", round(margin - rho, 6))
      .withColumn("is_outlier", (col("score") < 0).cast("int"))
      .drop((0 until d).map(j => s"wc$j"): _*)
      .drop((0 until d).map(j => s"z$j"): _*)
      .collect()
    base.unpersist()
    spark.createDataFrame(java.util.Arrays.asList(out: _*), df.schema
      .add("score", DoubleType).add("is_outlier", "int"))
  }

  /** 80 rows in a blob, a NULL feature (id 100) and ±Inf features
    * (ids 101, 102). */
  private def withBadRows = {
    val xs = (1 to 80).map(i =>
      (i.toLong, Option(math.sin(i * 0.7) * 0.3), math.cos(i * 1.3) * 0.3))
    (xs ++ Seq((100L, Option.empty[Double], 0.1),
      (101L, Some(Double.PositiveInfinity), 0.1),
      (102L, Some(Double.NegativeInfinity), -0.2))).toDF("id", "x", "y")
  }
  private val xy = Seq(("x", col("x")), ("y", col("y")))

  /** (id, score bits or None, is_outlier or None) by id. */
  private def bits(df: DataFrame) =
    df.select("id", "score", "is_outlier").collect().map(r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).sortBy(_._1).toSeq

  test("bit-equal to the Catalyst loop; NULL and ±Inf rows count but never violate") {
    val df = withBadRows.repartition(3)
    val ref = catalystFitPredict(df, xy, nu = 0.1, d = 8, gamma = 1.0,
      iterations = 12)
    val got = OneClassSVM.fitPredict(df, xy, nu = 0.1, d = 8, gamma = 1.0,
      iterations = 12)
    assert(got.schema == ref.schema)
    val g = bits(got)
    assert(g == bits(ref))
    assert(g.size == 83)
    val byId = g.map(r => r._1 -> r).toMap
    assert(byId(100L)._2.isEmpty && byId(100L)._3.isEmpty) // NULL score
    for (id <- Seq(101L, 102L)) // NaN score, never an outlier
      assert(byId(id)._2.exists(b => java.lang.Double.longBitsToDouble(b).isNaN) &&
        byId(id)._3.contains(0))
    // scores are not all equal: the weights moved
    assert(g.flatMap(_._2).distinct.size > 10)
  }

  test("fit plans its projection and the rank-k plan: one job per round") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val iterations = 4
    val (jobs, ps) = probe("ocsvm-fit") {
      Bench.consume(OneClassSVM.fitPredict(withBadRows, xy, nu = 0.1, d = 8,
        gamma = 1.0, iterations = iterations))
    }
    assert(sc.getPersistentRDDs.keySet == before)
    // three SQL executions: the projection behind the cache, the rank-k
    // ρ and the consume; no join anywhere and nothing per round
    assert(ps.size == 3, ps.mkString("\n"))
    assert(ps.head.contains("DeserializeToObject"), ps.head)
    assert(ps(1).contains("TakeOrdered"), ps(1))
    assert(ps(2).contains("OverwriteByExpression"), ps(2))
    for (p <- ps) assert(!p.contains("Join"), p)
    for (p <- Seq(ps.head, ps(2)); op <- Seq("TakeOrdered", "Aggregate", "Exchange"))
      assert(!p.contains(op), p)
    // the count pass, one pass per round, the rank-k plan, the consume
    assert(jobs == 1 + iterations + 1 + 1, ps.mkString("\n"))
  }

  test("rank-k rho skips NULL margins, and an all-NULL input is refused") {
    // 12 NULL-feature rows of 62: k = floor(0.1 * 62) = 6 < 12, so
    // NULLs sorted first would fill the whole rank-k window
    val xs = (1 to 50).map(i => (i.toLong, Option(math.sin(i * 0.7) * 0.3)))
    val df = (xs ++ (51 to 62).map(i => (i.toLong, Option.empty[Double])))
      .toDF("id", "x")
    val scores = OneClassSVM.fitPredict(df, Seq(("x", col("x"))), nu = 0.1,
        d = 8, gamma = 1.0, iterations = 6)
      .select("id", "score").collect()
    assert(scores.count(_.isNullAt(1)) == 12)
    // ρ is the 6th smallest non-NULL margin: it scores 0, the 5 below
    // it score negative
    val s = scores.filterNot(_.isNullAt(1)).map(_.getDouble(1)).sorted
    assert(s.take(5).forall(_ < 0) && s(5) == 0.0 && s(6) > 0, s.take(8).mkString(", "))
    val allNull = Seq((1L, Option.empty[Double]), (2L, Option.empty[Double])).toDF("id", "x")
    val e = intercept[IllegalArgumentException](
      OneClassSVM.fitPredict(allNull, Seq(("x", col("x"))), d = 4, iterations = 1))
    assert(e.getMessage.contains("every margin is NULL"), e.getMessage)
  }

  test("planted far outliers score below the dense blob") {
    val inliers = (1 to 200).map(i =>
      (i.toLong, math.sin(i * 0.7) * 0.1, math.cos(i * 1.3) * 0.1))
    val outliers = Seq((901L, 5.0, -5.0), (902L, -6.0, 6.0), (903L, 7.0, 7.0))
    val df = (inliers ++ outliers).toDF("id", "x", "y")
    val out = OneClassSVM.fitPredict(df,
        Seq(("x", col("x")), ("y", col("y"))), nu = 0.05, d = 32,
        gamma = 0.5)
      .select("id", "score", "is_outlier")
      .as[(Long, Double, Int)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // every planted outlier scores below every inlier's median zone
    val inScores = out.filter(_._1 < 900).map(_._2)
    val outScores = Seq(901L, 902L, 903L).map(byId(_)._2)
    assert(outScores.max < inScores.min)
    assert(Seq(901L, 902L, 903L).forall(byId(_)._3 == 1))
    // the dense blob is mostly inliers (ν bounds the outlier share)
    val flagged = out.count(_._3 == 1)
    assert(flagged <= out.length * 0.2)
  }

  test("deterministic across runs and partitionings") {
    val df1 = (1 to 100).map(i => (i.toLong, math.sin(i * 0.9)))
      .toDF("id", "x")
    val df2 = df1.repartition(7)
    val a = OneClassSVM.fitPredict(df1, Seq(("x", col("x"))), d = 16)
      .select("id", "score").as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = OneClassSVM.fitPredict(df2, Seq(("x", col("x"))), d = 16)
      .select("id", "score").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }
}
