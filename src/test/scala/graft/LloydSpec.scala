package graft

import org.apache.spark.sql.functions._
import graft.ml.Lloyd

/** Pins for deterministic Lloyd k-means: partitioning determinism,
  * count consistency, Lloyd's monotone-inertia property, the round
  * kernel's tie rule, the envelope check and cache release. */
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
}
