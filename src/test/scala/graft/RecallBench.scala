package graft

import org.apache.spark.sql.functions._
import graft.similarity.SimilarityOps

/** ANN recall@k at production nprobe (r13 ask #2 — the Jégou-style
  * recall/speed evaluation the IVF/PQ doc comments cite): brute-force
  * cosine top-k on a query sample is the ground truth; `ann_ivf`
  * (IVF exact-score) and `ann_ivf_pq` (IVF + PQ-ADC) are measured at
  * nprobe ≪ nlist.
  *
  * Usage: `RecallBench <sfDir> <nQueries> <k> <nlist> <np1,np2,…> [m1,m2,…]`.
  * Emits one JSON line per configuration:
  * `{"op":…,"nlist":…,"nprobe":…,"k":…,"recall":…,"warm_sec":…}` plus
  * a `bruteforce` baseline row. Timings are the second (warm) run.
  * The optional m list sweeps the PQ code budget (subvector count) for
  * the ivf_pq / rerank rows; ann_ivf is m-independent and runs once per
  * nprobe. */
object RecallBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nQ = if (args.length > 1) args(1).toInt else 500
    val k = if (args.length > 2) args(2).toInt else 10
    val nlist = if (args.length > 3) args(3).toInt else 64
    val nprobes = (if (args.length > 4) args(4) else "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val ms = (if (args.length > 5) args(5) else "4")
      .split(",").map(_.trim.toInt).toSeq
    // shortlist must exceed the largest ADC-tie cohort (≈ corpus/nlist
    // on tightly clustered corpora — SimilaritySpec's generator pin)
    val shortlist = if (args.length > 6) args(6).toInt else 10 * k
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val n = e.count()
    val dim = e.select(size(col("embedding"))).as[Int].head()
    val step = math.max(1L, n / nQ)
    val q = e.filter(pmod(xxhash64(col("vec_id")), lit(step)) === 0).cache()
    val qn = q.count()
    println(s"[recall] corpus=$n dim=$dim queries=$qn k=$k nlist=$nlist")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet

    // ground truth: brute-force exact top-k
    val (_, bfCold) = timed(
      SimilarityOps.topKCosine(q, e, "vec_id", "embedding", dim, k).count())
    val (bf, bfWarm) = timed(pairs(
      SimilarityOps.topKCosine(q, e, "vec_id", "embedding", dim, k)))
    println(f"""{"op":"bruteforce","k":$k,"recall":1.0,"cold_sec":$bfCold%.2f,"warm_sec":$bfWarm%.2f}""")

    for (np <- nprobes) {
      def ivf = SimilarityOps.ivfTopKCosine(
        q, e, "vec_id", "embedding", dim, k, nlist, np)
      val (_, c1) = timed(ivf.count())
      val (got, w1) = timed(pairs(ivf))
      val r1 = (got intersect bf).size.toDouble / bf.size
      println(f"""{"op":"ann_ivf","nlist":$nlist,"nprobe":$np,"k":$k,"recall":$r1%.4f,"cold_sec":$c1%.2f,"warm_sec":$w1%.2f}""")

      // m = 0 skips the PQ rows
      for (m <- ms.filter(_ > 0)) {
        def ivfpq = SimilarityOps.ivfPqTopKCosine(
          q, e, "vec_id", "embedding", dim, k, nlist, np, m = m)
        val (_, c2) = timed(ivfpq.count())
        val (got2, w2) = timed(pairs(ivfpq))
        val r2 = (got2 intersect bf).size.toDouble / bf.size
        println(f"""{"op":"ann_ivf_pq","nlist":$nlist,"nprobe":$np,"m":$m,"k":$k,"recall":$r2%.4f,"cold_sec":$c2%.2f,"warm_sec":$w2%.2f}""")

        def ivfpqr = SimilarityOps.ivfPqRerankTopKCosine(
          q, e, "vec_id", "embedding", dim, k, nlist, np,
          shortlist = shortlist, m = m)
        val (_, c3) = timed(ivfpqr.count())
        val (got3, w3) = timed(pairs(ivfpqr))
        val r3 = (got3 intersect bf).size.toDouble / bf.size
        println(f"""{"op":"ann_ivf_pq_rerank","nlist":$nlist,"nprobe":$np,"m":$m,"k":$k,"shortlist":$shortlist,"recall":$r3%.4f,"cold_sec":$c3%.2f,"warm_sec":$w3%.2f}""")
      }
    }
    spark.stop()
  }
}
