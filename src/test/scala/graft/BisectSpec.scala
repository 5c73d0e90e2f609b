package graft

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Deterministic bisecting k-means (Bisect) + CN2-SD weighted covering
  * — invariant pins for the round-7 oracle devices (the strong check is
  * the DuckDB oracle; these pin semantics on the small fixture), plus
  * Bisect's schema, its id check, the jobs a fit launches and cache
  * release. */
class BisectSpec extends SparkSpec {

  private def emb = Tables.load(spark, sf, "embeddings")
  private def feats = (0 until 6).map(i =>
    (s"e$i", element_at(col("embedding"), i + 1).cast("double")))

  test("bisect produces k clusters partitioning all rows") {
    val total = emb.count()
    val out = graft.ml.Bisect.fit(emb, col("vec_id"), feats, 5, 4).collect()
    assert(out.length == 5)
    assert(out.map(_.getLong(1)).sum == total)
    assert(out.map(_.getInt(0)).sorted.sameElements(0 until 5))
  }

  test("bisect is deterministic across partitionings") {
    val a = graft.ml.Bisect.fit(emb, col("vec_id"), feats, 4, 3)
      .collect().map(_.toSeq).toSeq
    val b = graft.ml.Bisect.fit(emb.repartition(7), col("vec_id"), feats, 4, 3)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  // seeds are ids 0 and 1; id 2 sits at exactly the same distance
  // (0.0625) from both
  private def tie = {
    import spark.implicits._
    Seq((0L, 0.0), (1L, 0.5), (2L, 0.25)).toDF("id", "x")
  }

  test("bisect sends a row equidistant from both children to the parent") {
    val out = graft.ml.Bisect.fit(tie, col("id"), Seq(("x", col("x"))), 2, 1)
      .collect()
    // tie to the parent in the iteration: centroids 0.125 and 0.5, so
    // id 2 stays with id 0 (to the new child it would be 0 and 0.375)
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0, 2L, 0L), (1, 1L, 1L)))
  }

  test("a child left empty by its split is left out") {
    import spark.implicits._
    // every row sits on both seeds, so every tie stays with the parent
    val same = (0L until 4L).map(i => (i, 0.5)).toDF("id", "x")
    val out = graft.ml.Bisect.fit(same, col("id"), Seq(("x", col("x"))), 2, 2)
      .collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0, 4L, 0L)))
  }

  test("bisect result schema") {
    import org.apache.spark.sql.types._
    assert(graft.ml.Bisect.fit(tie, col("id"), Seq(("x", col("x"))), 2, 1)
      .schema == StructType(Seq(
        StructField("cluster", IntegerType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("min_id", LongType, nullable = true))))
  }

  test("bisect plans only its projection: (k-1)(iterations+2) jobs") {
    import spark.implicits._
    val df = (0 until 60).map(i => (i.toLong, (i * 7 % 60) / 60.0,
      (i * 11 % 60) / 60.0)).toDF("id", "a", "b")
    val (k, iterations) = (3, 2)
    val (jobs, ps) = probe("bisect-fit") {
      Bench.consume(graft.ml.Bisect.fit(df, col("id"),
        Seq(("a", col("a")), ("b", col("b"))), k, iterations))
    }
    // per split the seed pass, the rounds and a census; then the consume
    assert(jobs == (k - 1) * (iterations + 2) + 1)
    // the projection behind the cache and the consume, nothing else
    assert(ps.size == 2, ps.mkString("\n"))
    assert(ps.head.contains("DeserializeToObject"), ps.head)
    for (p <- ps; op <- Seq("TakeOrdered", "Join", "Aggregate", "Exchange"))
      assert(!p.contains(op), p)
  }

  test("at k = 1 the min id must be exact as a double") {
    import spark.implicits._
    val ok = graft.ml.Bisect.fit(Seq((5L, 0.1), (3L, 0.2)).toDF("id", "x"),
      col("id"), Seq(("x", col("x"))), 1, 1).collect()
    assert(ok.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0, 2L, 3L)))
    val e = intercept[IllegalArgumentException] {
      graft.ml.Bisect.fit(Seq((-(1L << 53), 0.1), (3L, 0.2)).toDF("id", "x"),
        col("id"), Seq(("x", col("x"))), 1, 1)
    }
    assert(e.getMessage.contains("is not below 2^53"))
  }

  test("bisect fails the envelope check and leaves no persisted RDD") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      graft.ml.Bisect.fit(tie, col("id"), Seq(("x", col("x") * 3.0)), 2, 1)
    }
    assert(e.getMessage.contains("bisect envelope: max|x|=1.5"))
    assert(sc.getPersistentRDDs.keySet == before)
    val out = graft.ml.Bisect.fit(emb, col("vec_id"), feats, 4, 3)
    assert(sc.getPersistentRDDs.keySet == before)
    out.collect()
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("cn2SD: positive-WRAcc rules, gamma-decayed weights, default last") {
    val base = Tables.load(spark, sf, "lineitem").select(
      col("l_returnflag").cast("string").as("flag"),
      floor((col("l_quantity") - 1) / 10).cast("int").cast("string")
        .as("qty_bin"),
      col("l_linestatus").as("cls"))
    val out = graft.ml.Rules.cn2SD(base, Seq("flag", "qty_bin"), "cls",
      maxRules = 3).collect()
    val rules = out.dropRight(1)
    val dflt = out.last
    assert(dflt.getString(1) == "_default")
    assert(rules.forall(_.getDouble(4) > 0)) // wracc > 0
    // orders contiguous from 1
    assert(out.map(_.getInt(0)).toSeq == (1 to out.length))
    // weighted covering keeps total weight below the row count once a
    // rule fired (weights only ever shrink)
    assert(dflt.getDouble(5) <= base.count().toDouble)
  }

  test("hierarchical clusterMoments assigns every row to one of k clusters") {
    val out = graft.ml.Hierarchical.clusterMoments(
      emb, "vec_id", (0 until 4).map(i =>
        (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
      nClusters = 4, sampleN = 30)
    assert(out.count() == emb.count())
    val clusters = out.select("cluster").distinct().collect()
      .map(_.getInt(0)).sorted
    assert(clusters.sameElements(0 until 4))
  }
}
