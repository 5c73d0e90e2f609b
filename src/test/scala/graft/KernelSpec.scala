package graft

import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Edge-case pins for the hand-written per-row kernels: the fused
  * MinHash signature (MinhashExpr) and the bounded top-k aggregate
  * (TopKAgg) — the two places where a buffer-management bug could
  * corrupt results without any oracle noticing at fixture scale — plus
  * a codegen pin: the iforest and minhash kernels stay inside
  * whole-stage codegen. */
class KernelSpec extends SparkSpec {
  import spark.implicits._
  import graft.text.DedupOps

  private def sigsOf(texts: Seq[String]): Seq[Seq[Long]] = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    DedupOps.minhashSignaturesFast(df, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
      .map(r => (1 to 16).map(j => r.getLong(j)).toSeq).toSeq
  }

  test("fused minhash kernel equals the per-shingle hash composition") {
    // reference values computed the slow way: explicit shingles, each
    // hashed with Spark's own xxhash64, then the 16 permutation mins
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "naïve café ünïcode ✓ tokens stretch the reused byte buffer",
      ("long document " * 200).trim, // forces buffer growth + reuse
      "exactly three tokens")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val slow = df
      .select(col("doc_id"), explode(graft.text.TextOps.shingles(col("text"), 3)).as("sh"))
      .withColumn("h", pmod(xxhash64(col("sh")), lit(4294967296L)))
      .groupBy("doc_id")
      .agg(DedupOps.MinhashParams.zipWithIndex.map { case ((a, b), j) =>
        min(pmod(col("h") * a + b, lit(DedupOps.MinhashP))).as(s"m$j")
      }.head, DedupOps.MinhashParams.zipWithIndex.tail.map { case ((a, b), j) =>
        min(pmod(col("h") * a + b, lit(DedupOps.MinhashP))).as(s"m$j")
      }: _*)
      .orderBy("doc_id").collect()
      .map(r => (1 to 16).map(j => r.getLong(j)).toSeq).toSeq
    assert(sigsOf(texts) == slow)
  }

  test("minhash kernel drops sub-n-token docs and handles token reuse across windows") {
    val out = graft.text.DedupOps.minhashSignaturesFast(
      Seq((1L, "only two"), (2L, "a b c"), (3L, "x x x x"))
        .toDF("doc_id", "text"), "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 3L)) // doc 1 has < 3 tokens
  }

  test("minhash kernel skips null tokens exactly like concat_ws") {
    // caller-built arrays may carry nulls (containsNull = true); the
    // kernel must produce the same bytes concat_ws(" ", ...) would —
    // null skipped with NO separator — so the documented composition
    // equivalence holds even for null-bearing inputs
    import graft.text.DedupOps
    val toks = Seq(
      Seq("a", null, "b", "c"),          // null mid-window
      Seq(null, "x", "y", "z", null),    // nulls at both ends
      Seq("p", "q", "r"))                // null-free control
    val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "toks")
    def collectSigs(c: org.apache.spark.sql.Column) = {
      val sig = df.select(col("doc_id"), c.as("s"))
      sig.orderBy("doc_id").collect()
        .map(r => r.getSeq[Long](1).toSeq).toSeq
    }
    val fused = collectSigs(graft.functions.MinhashExpr.minhashSigs(
      col("toks"), 3, DedupOps.MinhashParams, DedupOps.MinhashP, xx = true))
    // slow path: windows of 3 via explicit slices, concat_ws (which skips
    // nulls), Spark's own xxhash64, then the 16 permutation mins
    val slow = toks.map { ts =>
      val shingles = ts.sliding(3).map(w =>
        w.filter(_ != null).mkString(" ")).toSeq
      val hs = shingles.map { s =>
        val h = df.sparkSession.sql(
          s"SELECT pmod(xxhash64('${s}'), 4294967296)").head().getLong(0)
        h
      }
      DedupOps.MinhashParams.map { case (a, b) =>
        hs.map(h => java.lang.Math.floorMod(h * a + b, DedupOps.MinhashP)).min
      }
    }
    assert(fused == slow)
  }

  test("TopKPairs keeps the k smallest with (key, id) tie-break, any partitioning") {
    val rows = Seq(
      (1L, 5.0, 10L), (1L, 5.0, 9L), (1L, 4.0, 50L), (1L, 6.0, 1L),
      (1L, 4.0, 51L), (2L, 1.0, 7L))
      .toDF("g", "d", "id").repartition(7)
    val got = rows.groupBy(col("g"))
      .agg(graft.functions.TopKAgg.topKPairs(col("d"), col("id"), 3).as("nn"))
      .select(col("g"), col("nn"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getDouble(0), e.getLong(1))))
      .toMap
    // k smallest by (d, id): (4.0,50),(4.0,51),(5.0,9) — ties by id
    assert(got(1L) == Seq((4.0, 50L), (4.0, 51L), (5.0, 9L)))
    assert(got(2L) == Seq((1.0, 7L))) // group smaller than k
  }

  test("TopKPairs skips NULL keys") {
    val got = Seq((1L, Some(2.0), 1L), (1L, None, 2L), (1L, Some(1.0), 3L))
      .toDF("g", "d", "id")
      .groupBy(col("g"))
      .agg(graft.functions.TopKAgg.topKPairs(col("d"), col("id"), 5).as("nn"))
      .select(col("nn")).head()
      .getSeq[org.apache.spark.sql.Row](0).map(e => (e.getDouble(0), e.getLong(1)))
    assert(got == Seq((1.0, 3L), (2.0, 1L)))
  }

  /** For every ProjectExec of `plan` that evaluates an expression of
    * class `kernel`: whether it sits inside a whole-stage codegen span
    * (under a WholeStageCodegenExec with no InputAdapter between). */
  private def kernelProjects(plan: SparkPlan, kernel: Class[_],
                             inStage: Boolean = false): Seq[Boolean] =
    plan match {
      case a: AdaptiveSparkPlanExec => kernelProjects(a.executedPlan, kernel, inStage)
      case q: QueryStageExec => kernelProjects(q.plan, kernel)
      case w: WholeStageCodegenExec => kernelProjects(w.child, kernel, inStage = true)
      case i: InputAdapter => kernelProjects(i.child, kernel)
      case p =>
        val own = p match {
          case pr: ProjectExec
              if pr.projectList.exists(_.find(kernel.isInstance).isDefined) =>
            Seq(inStage)
          case _ => Nil
        }
        own ++ p.children.flatMap(kernelProjects(_, kernel, inStage))
    }

  /** Runs `body` with codegen fallback off: a Janino rejection of a
    * stage's generated code then fails the action instead of silently
    * running the interpreted plan. */
  private def withoutCodegenFallback(body: => Unit): Unit = {
    val key = "spark.sql.codegen.fallback"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      // a plan cached by an earlier test would serve the rows without
      // compiling the stage
      spark.catalog.clearCache()
      body
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("iforest and minhash kernels compile inside whole-stage codegen") {
    withoutCodegenFallback {
      val scored = graft.ml.IsolationForest.scoreColumn(
        graft.core.Tables.load(spark, sf, "lineitem"),
        Seq("l_quantity", "l_extendedprice"), Seq("l_orderkey", "l_linenumber"),
        "s", nTrees = 5)
      val sigs = DedupOps.minhashSignaturesFast(
        graft.core.Tables.load(spark, sf, "documents"), "doc_id", "text", 3)
      for ((df, kernel) <- Seq(
          scored -> classOf[graft.ml.IsolationForest.ScoreExpr],
          sigs -> classOf[graft.functions.MinhashSigs])) {
        assert(df.collect().nonEmpty, kernel.getSimpleName)
        val plan = df.queryExecution.executedPlan
        val spans = kernelProjects(plan, kernel)
        assert(spans.nonEmpty && spans.forall(identity),
          s"${kernel.getSimpleName} outside whole-stage codegen:\n$plan")
      }
    }
  }

  test("the softsign softmax input scan compiles inside whole-stage codegen") {
    // ml_mlp_embeddings' fit: 16 softsign features of 16 embedding
    // coordinates, each projected once into the chunk cache
    withoutCodegenFallback {
      val feats = graft.ml.KernelSVM.softsignFeatures(
        (0 until 16).map(i => element_at(col("embedding"), i + 1).cast("double")),
        16, 1.0).zipWithIndex.map { case (f, j) => (s"z$j", f) }
      val out = graft.ml.Softmax.fit(
        graft.core.Tables.load(spark, sf, "embeddings"), feats, col("label"),
        numClasses = 10, iterations = 1, lr = 10.0, lambda = 1.0)
      assert(out.collect().length == 10)
    }
  }
}
