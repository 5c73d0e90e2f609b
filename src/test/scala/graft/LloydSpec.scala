package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.ml.Lloyd

/** Pins for deterministic Lloyd k-means: partitioning determinism,
  * count consistency, Lloyd's monotone-inertia property, the round
  * kernel's tie rule, bit-equality with the Catalyst final-assignment
  * plan, the seeding, the schema, the envelope and id checks, the jobs
  * a fit launches, and cache release. */
class LloydSpec extends SparkSpec {

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def fitOn(parts: Int, iters: Int) =
    Lloyd.fit(emb.repartition(parts), col("vec_id"),
      (0 until 4).map(i =>
        (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
      k = 4, iterations = iters)

  test("lloyd trajectory is partition-order independent") {
    val a = fitOn(1, 8).collect().map(_.toSeq).toSeq
    val b = fitOn(13, 8).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("lloyd sizes cover the table and inertia does not increase") {
    val n = emb.count()
    val r1 = fitOn(4, 1).collect()
    val r8 = fitOn(4, 8).collect()
    assert(r8.map(_.getAs[Long]("size")).sum == n)
    val i1 = r1.map(_.getAs[Double]("inertia")).sum
    val i8 = r8.map(_.getAs[Double]("inertia")).sum
    assert(i8 <= i1 + 1e-6, s"inertia rose: 1-iter $i1 -> 8-iter $i8")
    // centroids sit on the 10-decimal grid the oracle rounds to
    val cs = r8.flatMap(r => (0 until 4).map(i => r.getAs[Double](s"c_e$i")))
    assert(cs.forall(v => (math.rint(v * 1e10) / 1e10) == v))
  }

  // seeds are ids 0 and 1; id 2 sits at exactly the same distance
  // (0.0625) from both
  private def tie = {
    import spark.implicits._
    Seq((0L, 0.0), (1L, 0.5), (2L, 0.25)).toDF("id", "x")
  }

  test("a row equidistant from two centroids joins the lower cluster") {
    val out = Lloyd.fit(tie, col("id"), Seq(("x", col("x"))),
      k = 2, iterations = 1).collect()
    // tie to cluster 0 in round 1: centroids 0.125 and 0.5 (to cluster
    // 1 it would be 0 and 0.375, and id 2 would end in cluster 1)
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getDouble(3))).toSeq ==
      Seq((0, 2L, 0.125), (1, 1L, 0.5)))
  }

  test("features outside |x| <= 1 fail the envelope check") {
    val e = intercept[IllegalArgumentException] {
      Lloyd.fit(tie, col("id"), Seq(("x", col("x") * 3.0)),
        k = 2, iterations = 1)
    }
    assert(e.getMessage.contains("lloyd envelope: max|x|=1.5"))
  }

  test("fit leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = fitOn(4, 3)
    assert(sc.getPersistentRDDs.keySet == before)
    out.collect()
    assert(sc.getPersistentRDDs.keySet == before)
    intercept[IllegalArgumentException] {
      Lloyd.fit(tie, col("id"), Seq(("x", col("x") * 3.0)), 2, 1)
    }
    assert(sc.getPersistentRDDs.keySet == before)
  }

  private def feats4 = (0 until 4).map(i =>
    (s"e$i", element_at(col("embedding"), i + 1).cast("double")))

  /** The Catalyst final-assignment plan `fit` ran before its final pass
    * moved onto the round kernel, evaluated over the centroids of `out`
    * (every cluster non-empty): first-minimum argmin over a crossJoin
    * with the centroids, count and round(detSumFast(own distance), 6)
    * per cluster, the centroids echoed. */
  private def reference(df: DataFrame, idCol: Column,
                        feats: Seq[(String, Column)], out: Array[Row]): DataFrame = {
    val k = out.length
    val d = feats.size
    val xCols = feats.map { case (n, _) => s"x_$n" }
    val base = df.select(idCol.as("id") +:
      feats.map { case (n, f) => f.cast("double").as(s"x_$n") }: _*)
      .na.drop()
    val centDF = spark.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(out.toSeq.flatMap(r =>
        (0 until d).map(j => r.getDouble(3 + j))))),
      StructType((0 until k).flatMap(c => (0 until d).map(j =>
        StructField(s"cc_${c}_$j", DoubleType, nullable = false)))))
    def distOf(c: Int): Column = (0 until d).map { j =>
      val e = col(xCols(j)) - col(s"cc_${c}_$j"); e * e
    }.reduce(_ + _)
    val ds = array((0 until k).map(distOf): _*)
    val grouped = base.crossJoin(broadcast(centDF))
      .select((array_position(ds, array_min(ds)) - 1).cast("int").as("cluster"),
        ds.as("__ds"))
      .groupBy("cluster").agg(
        count(lit(1)).as("size"),
        round(Tables.detSumFast(
          element_at(col("__ds"), col("cluster") + 1)), 6).as("inertia"))
    val centCols = feats.zipWithIndex.map { case ((n, _), j) =>
      (0 until k - 1).foldRight(col(s"cc_${k - 1}_$j")) { (c, rest) =>
        when(col("cluster") === c, col(s"cc_${c}_$j")).otherwise(rest)
      }.as(s"c_$n")
    }
    grouped.crossJoin(broadcast(centDF))
      .select(col("cluster") +: col("size") +: col("inertia") +: centCols: _*)
      .coalesce(1).sortWithinPartitions("cluster")
  }

  private def bits(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case v: Double => java.lang.Double.doubleToRawLongBits(v)
    case v => v
  })

  /** `fit` and [[reference]] agree bit for bit, schema included. */
  private def assertMatchesReference(df: DataFrame, idCol: Column,
                                     feats: Seq[(String, Column)], k: Int,
                                     iterations: Int): Array[Row] = {
    val fitted = Lloyd.fit(df, idCol, feats, k, iterations)
    val out = fitted.collect()
    assert(out.length == k, "every cluster must be non-empty")
    val ref = reference(df, idCol, feats, out)
    assert(fitted.schema == ref.schema)
    assert(bits(out) == bits(ref.collect()))
    out
  }

  test("final pass is bit-identical to the Catalyst final-assignment plan") {
    assertMatchesReference(emb.repartition(3), col("vec_id"), feats4, 4, 8)
    assertMatchesReference(emb, col("vec_id"), (0 until 8).map(i =>
      (s"e$i", element_at(col("embedding"), i + 1).cast("double"))), 5, 6)
  }

  test("inertia stays exact once the grid sum passes 2^53") {
    import spark.implicits._
    // k = 1 and every feature sum is exactly 0, so the centroid is 0.0
    // and each row's own distance is x²: 10000 rows at x² = 1 (10¹² grid
    // units each), pairs at 499e-6, 31e-6, 6e-6 (2·(249001 + 961 + 36)
    // units) and a zero-sum triple worth 2 + 1 + 0 units. Σk =
    // 10000·10¹² + 499999 is odd above 2⁵³, so it is no double: it rounds
    // to …500000, where ÷10¹² then lands on the tie 10000.0000005 and
    // round(…, 6) goes up. The exact sum reads 10000.000000499998.
    val xs = Seq.fill(5000)(Seq(1.0, -1.0)).flatten ++
      Seq(499e-6, -499e-6, 31e-6, -31e-6, 6e-6, -6e-6, 1.5e-6, -1e-6, -5e-7)
    val df = xs.zipWithIndex.map { case (x, i) => ((i * 7919L) % xs.size, x) }
      .toDF("id", "x").repartition(5)
    val out = assertMatchesReference(df, col("id"), Seq(("x", col("x"))), 1, 2)
    assert(out.head.getLong(1) == xs.size)
    assert(out.head.getDouble(3) == 0.0)
    val grid = df.agg(sum(floor(round(col("x") * col("x"), 12) * 1e12 + 0.5)
      .cast("decimal(38,0)"))).head.getDecimal(0).toBigInteger
    assert(grid == new java.math.BigInteger("10000000000499999"))
    assert(out.head.getDouble(2) == 10000.0)
    // the same sum valued as a rounded double ÷ grid would differ
    val twice = java.math.BigDecimal.valueOf(grid.doubleValue / 1e12)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(twice == 10000.000001)
  }

  test("the result schema is pinned") {
    val got = fitOn(2, 2).schema
    assert(got == StructType(Seq(
      StructField("cluster", IntegerType, nullable = true),
      StructField("size", LongType, nullable = false),
      StructField("inertia", DoubleType, nullable = true)) ++
      (0 until 4).map(i => StructField(s"c_e$i", DoubleType, nullable = false))))
  }

  test("seeds are the k lowest ids across partitions") {
    import spark.implicits._
    // 200 ids shuffled over 13 partitions; with no rounds the centroids
    // are the seeds, so they read back as the features of ids 1000-1002
    def x(id: Long) = ((id * 7919) % 1000) / 1000.0
    val df = (0 until 200).map(i => 1000L + (i * 37) % 200)
      .map(id => (id, x(id))).toDF("id", "x").repartition(13)
    val out = Lloyd.fit(df, col("id"), Seq(("x", col("x"))), k = 3,
      iterations = 0).collect()
    assert(out.map(_.getDouble(3)).toSeq == Seq(x(1000), x(1001), x(1002)))
  }

  test("a non-integral id or an id of 2^53 fails loudly") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val str = intercept[IllegalArgumentException] {
      Lloyd.fit(Seq(("a", 0.1), ("b", 0.2)).toDF("id", "x"), col("id"),
        Seq(("x", col("x"))), 1, 1)
    }
    assert(str.getMessage.contains("lloyd: id column must be integral, not string"))
    val big = intercept[IllegalArgumentException] {
      Lloyd.fit(Seq((0L, 0.1), (1L << 53, 0.2), (1L, 0.3)).toDF("id", "x"),
        col("id"), Seq(("x", col("x"))), 2, 1)
    }
    assert(big.getMessage.contains("max|id|=9.007199254740992E15"))
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("fit plans only its projection: its passes are jobs, no SQL query") {
    import spark.implicits._
    val df = (0 until 60).map(i => (i.toLong, (i * 7 % 60) / 60.0,
      (i * 11 % 60) / 60.0)).toDF("id", "a", "b")
    val iterations = 3
    val (jobs, ps) = probe("lloyd-fit") {
      Bench.consume(Lloyd.fit(df, col("id"),
        Seq(("a", col("a")), ("b", col("b"))), k = 3, iterations))
    }
    // first pass, the rounds, final pass, consume
    assert(jobs == iterations + 3)
    // two SQL executions: the projection behind the cache (Dataset.rdd
    // registers one, with no job of its own) and the consume; no seed
    // query, no join and no aggregate
    assert(ps.size == 2, ps.mkString("\n"))
    assert(ps.head.contains("DeserializeToObject"), ps.head)
    assert(ps(1).contains("OverwriteByExpression"), ps(1))
    for (p <- ps; op <- Seq("TakeOrdered", "Join", "Aggregate", "Exchange"))
      assert(!p.contains(op), p)
  }
}
