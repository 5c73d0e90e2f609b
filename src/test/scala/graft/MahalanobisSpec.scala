package graft

import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.operators.OutlierOps

/** General N-D Mahalanobis (distance.py:807-868) vs the cofactor closed
  * forms used by the oracle queries, plus inverse correctness. */
class MahalanobisSpec extends SparkSpec {
  import spark.implicits._

  test("robust MCD unmasks an injected outlier cluster the plain covariance hides") {
    import org.apache.spark.sql.functions.col
    // 200 inliers on a deterministic unit disc + 50 tight outliers near
    // (8,8): 20% contamination shifts the plain mean and inflates the
    // covariance along the cluster axis until the cluster's own md2
    // drops below the χ²₂(0.975)=7.3778 envelope (self-masking).
    val pts = (0 until 200).map { i =>
      val a = 2 * math.Pi * i / 200.0
      val r = 0.2 + 0.8 * ((i * 37) % 200) / 200.0
      (i.toLong, r * math.cos(a), r * math.sin(a))
    } ++ (0 until 50).map(i =>
      ((200 + i).toLong, 8.0 + 0.01 * i, 8.0 - 0.01 * i))
    val df = pts.toDF("id", "x", "y")

    val plainFlagged = OutlierOps.mahalanobisND(df, Seq("x", "y"))
      .filter(col("md2") > 7.3778 && col("id") >= 200).count()
    assert(plainFlagged == 0, s"cluster not masked under plain cov: $plainFlagged")

    val robust = OutlierOps.robustMahalanobis(df, Seq("x", "y"))
    val flagged = robust.filter(col("is_outlier") === 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert((200L until 250L).forall(flagged), "robust fit missed injected outliers")
    val inlierFlags = flagged.count(_ < 200L)
    assert(inlierFlags <= 10, s"too many inliers flagged: $inlierFlags")
  }

  test("robust MCD is deterministic under repartitioning") {
    import org.apache.spark.sql.functions.{col, round => rnd}
    val pts = (0 until 300).map { i =>
      (i.toLong, (i % 17) / 17.0, ((i * 7) % 13) / 13.0)
    }
    val df = pts.toDF("id", "x", "y")
    val a = OutlierOps.robustMahalanobis(df, Seq("x", "y"))
      .select(col("id"), rnd(col("md2_robust"), 8)).collect().map(_.toSeq).toSet
    val b = OutlierOps.robustMahalanobis(df.repartition(7), Seq("x", "y"))
      .select(col("id"), rnd(col("md2_robust"), 8)).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("Gauss-Jordan inverse: A * inv(A) == I") {
    val a = Array(
      Array(4.0, 1.0, 0.5), Array(1.0, 3.0, 0.2), Array(0.5, 0.2, 2.0))
    val inv = OutlierOps.invertGaussJordan(a)
    for (i <- 0 until 3; j <- 0 until 3) {
      val e = (0 until 3).map(k => a(i)(k) * inv(k)(j)).sum
      assert(math.abs(e - (if (i == j) 1.0 else 0.0)) < 1e-12, s"($i,$j)=$e")
    }
  }

  test("mahalanobisND matches the 2-D closed form") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    // both scores on the SAME rows ((l_orderkey, l_linenumber) is not
    // unique in the synthetic lineitem — a key join would cross-match)
    val nd = OutlierOps.mahalanobisND(df, Seq("x", "y"))
    val stats = df.agg(
      exactMean(col("x")).as("mx"), exactMean(col("y")).as("my"),
      exactVarSamp(col("x")).as("vx"), exactVarSamp(col("y")).as("vy"),
      exactCovarSamp(col("x"), col("y")).as("cxy"))
    val dx = col("x") - col("mx"); val dy = col("y") - col("my")
    val det = col("vx") * col("vy") - col("cxy") * col("cxy")
    val maxDiff = nd.crossJoin(broadcast(stats))
      .withColumn("md2c", (dx * dx * col("vy") - dx * dy * col("cxy") * 2.0
        + dy * dy * col("vx")) / det)
      .select(max(abs(col("md2") - col("md2c")))).first().getDouble(0)
    assert(maxDiff < 1e-8, s"max |nd - closed| = $maxDiff")
  }

  test("mahalanobisND's moments are bit-equal to the all-decimal exactMean / exactCovarSamp") {
    // l_extendedprice² (≈ 1.3e10) leaves the 2.25e9 fast-grid envelope;
    // on the 684 rows above 92500 the fast-grid Σy² misses the decimal
    // one by 1e-6, which moves var(y) by 1.4e-6
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_quantity").cast("double").as("x"),
        col("l_extendedprice").cast("double").as("y"),
        col("l_discount").cast("double").as("z"))
    val fs = Seq("x", "y", "z")
    def bits(v: Double) = java.lang.Double.doubleToRawLongBits(v)
    for (df <- Seq(li, li.filter(col("y") > 92500))) {
      val (means, cov) = OutlierOps.mahalanobisMoments(df, fs)
      val want = df.agg(exactMean(col(fs.head)), fs.tail.map(f => exactMean(col(f))) ++
        (for (a <- fs; b <- fs) yield exactCovarSamp(col(a), col(b))): _*).first()
      for (i <- fs.indices) assert(bits(means(i)) == bits(want.getDouble(i)), fs(i))
      for (i <- fs.indices; j <- fs.indices)
        assert(bits(cov(i)(j)) == bits(want.getDouble(3 + 3 * i + j)),
          s"cov(${fs(i)}, ${fs(j)}) = ${cov(i)(j)}, decimal ${want.getDouble(3 + 3 * i + j)}")
    }
  }

  test("mahalanobisND on independent unit-variance features ~ squared z-norm") {
    // x ~ {-1, 1}, y ~ {-2, 2} independent: Σ = diag(var x, var y);
    // md2 of (1, 2) = 1/vx + 4/vy
    val df = (for { x <- Seq(-1.0, 1.0); y <- Seq(-2.0, 2.0) } yield (x, y))
      .toDF("x", "y")
    val got = OutlierOps.mahalanobisND(df, Seq("x", "y"))
      .filter(col("x") === 1.0 && col("y") === 2.0)
      .select(col("md2")).first().getDouble(0)
    // sample variance with ddof=1: vx = 4/3, vy = 16/3
    val want = 1.0 / (4.0 / 3) + 4.0 / (16.0 / 3)
    assert(math.abs(got - want) < 1e-12, s"$got vs $want")
  }
}
