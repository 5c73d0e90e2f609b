package graft
import org.apache.spark.sql.SparkSession

/** Benchmark runner. Prints ONE JSON line (driver contract) and ALSO writes
  * the same JSON to a file (default BENCH.json, override with
  * SPARK_GRAFT_BENCH_OUT) because the driver's tail-capture truncates long
  * lines mid-map.
  *
  * Queries run in sorted-name order (Map iteration order reshuffles whenever
  * a query is added, which moved JIT/codegen warm-up costs between queries
  * and produced phantom 4x per-round "regressions"). Each query is executed
  * 1 + [[WarmRuns]] times: the first (cold) execution pays codegen+JIT and
  * is reported under "queries_cold"; the headline "queries" value is the
  * median warm execution. Warm values are comparable round-over-round and
  * to isolated runs (SPARK_GRAFT_BENCH_ONLY=q1,q2); the "basis" field
  * records the protocol.
  */
object Bench {
  /** Warm executions per query; the reported warm value is their median.
    * A single warm sweep was lightning-prone: in-sweep neighbor garbage
    * inflated individual queries 3-6× (r15's ann_ivf_pq 4.68×
    * adjudicated as contamination; r16 repro: dist_corr_matrix 41.8 s
    * in-sweep vs 6.5 s isolated). The median of 3 absorbs a single
    * strike (OPTIMIZATION_r16.md). */
  private val WarmRuns = 3

  /** The one session every query-running main (Bench, Verify, Explain,
    * RecallBench) and the test suite use; callers set their own log
    * level. Shuffle partitions = cores (the r1-r16 protocol). */
  def session(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects;
      // read as int64 nanoseconds and convert with exact integer math
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ContextCleaner frees broadcast/shuffle blocks only after a GC;
      // the 30 min default periodicGC never fires within one bench run,
      // so 148 queries' broadcasts pile up in the 8g heap and GC thrash
      // contaminates later queries' timings (measured 2.4 s → 227 s on
      // the same query between runs). Clean aggressively instead.
      .config("spark.cleaner.periodicGC.interval", "30s")
      // The status stores retain 1000 jobs/stages/executions by default
      // EVEN WITH THE UI DISABLED; a ~500-execution sweep accumulates
      // hundreds of MB of plan-graph/metric state in the 8g heap, and
      // later queries' times degrade from the memory pressure (the
      // r15/r16 in-sweep contamination: queries measured 3-6x their
      // isolated wall mid-sweep). Measurement hygiene, not query
      // tuning: the computation per query is unchanged.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "4")
      .getOrCreate()

  /** The bench consumer: materialize EVERY operator of the plan.
    *
    * `df.count()` is the WRONG consumer for timing an operator:
    * Catalyst legally rewrites count-only plans — it eliminated the
    * final docs⟕stats join of `dedup_exact_substring` (provably unique
    * right ⇒ non-duplicating ⇒ unreferenced ⇒ dropped) and timed a
    * 0.2 s scan as the ~35 s operator (r13), and a whole-deck audit
    * found it drops EVERY join of `pipeline_corpus_curation` and
    * `dedup_incremental_batch` and prunes aggregate branches from the
    * score_* family. The noop v2 sink accepts all columns, so nothing
    * is pruned, no join or sort is eliminable, and the timing covers
    * the full operator set the user's query runs — closing the hazard
    * as a class (BenchFidelitySpec pins the canary shape). */
  def consume(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Between-query hygiene, shared by Bench and Verify: drop the cached
    * plans a query left, then every persisted RDD.
    *
    * clearCache only covers SQL caches — localCheckpoint/persist RDD
    * blocks a query leaked stay resident until the async cleaner's next
    * GC, and measurably slowed the SECOND (warm) execution of
    * checkpoint-heavy queries below the first (memory pressure +
    * eviction). BLOCKING: with blocking=false the block removal races
    * the next execution — the r16 full-sweep medians showed checkpoint-
    * heavy queries' WARM runs consistently slower than their own cold
    * run (ml_lpa_communities 2.5 s cold → 5.9 s warm median). The wait
    * lands between queries, outside any timed region. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // absolute default: the driver's working directory is not guaranteed
    // to be the repo root, and a relative BENCH.json landing elsewhere is
    // indistinguishable from "no full map written"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH.json")
    // FIRST line of output = where the full per-query map will be —
    // survives even if the tail capture is flooded by shutdown warnings
    println(s"""{"bench_out":"$outPath"}""")
    Console.out.flush()
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, String) = {
      val t0 = System.nanoTime()
      // a query that DIES must not time as ~0 s and vanish: record the
      // error so a contaminated run (e.g. a transient DAGScheduler fault
      // mid-bench) is self-diagnosing from BENCH.json alone instead of
      // needing the judge to re-time suspects in isolation
      val err =
        try { Bench.consume(fn(spark, sfDir)); null }
        catch { case t: Throwable =>
          (Option(t.getMessage).getOrElse(t.getClass.getName))
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160) }
      val dt = (System.nanoTime() - t0) / 1e9
      releaseCaches(spark)
      (dt, err)
    }

    var sinceGC = 0
    // SPARK_GRAFT_BENCH_ONLY (comma list) restricts the sweep — the
    // curated heavy-query median runs at sf10+ time a subset in the
    // same sorted-order/warm protocol as the full sweep
    val onlyFilter = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.trim).filter(_.nonEmpty)
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      onlyFilter match {
        case Some(l) =>
          val want = l.split(",").map(_.trim).filter(_.nonEmpty).toSet
          val missing = want -- all.toSet
          require(missing.isEmpty,
            s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${missing.toSeq.sorted.mkString(",")}")
          all.filter(want)
        case None => all
      }
    }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val (cold, errC) = time(fn)
      val warms = (1 to WarmRuns).map(_ => time(fn))
      val warm = warms.map(_._1).sorted.apply((WarmRuns - 1) / 2)
      val errW = warms.map(_._2).find(_ != null).orNull
      sinceGC += 1
      if (sinceGC >= 5) { System.gc(); sinceGC = 0 }
      (name, cold, warm, if (errW != null) errW else errC)
    }
    def jmap(vals: Seq[(String, Double)]): String =
      vals.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val warmQs = jmap(results.map(r => (r._1, r._3)))
    val coldQs = jmap(results.map(r => (r._1, r._2)))
    val total = results.map(_._3).sum
    val totalCold = results.map(_._2).sum
    // per-query errors (normally {}): any entry here means that query's
    // timing is garbage and the run was contaminated
    val errs = results.filter(_._4 != null)
      .map(r => "\"" + r._1 + "\":\"" + r._4 + "\"")
      .mkString("{", ",", "}")
    // "basis" tells artifact consumers that warm values are a median, not
    // a single sweep (noise-dominated: r11 drifted +24% on frozen code)
    val basis = s"median_of_$WarmRuns"
    // a SPARK_GRAFT_BENCH_ONLY subset total must never masquerade as a
    // full-sweep total: stamp the active filter + query count into the
    // artifact so a filtered run is self-identifying
    val onlyStamp = onlyFilter.map(l => s""","only":"$l"""").getOrElse("")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","basis":"$basis","n_queries":${results.size}$onlyStamp,"queries":$warmQs,"queries_cold":$coldQs,"total_cold":$totalCold,"errors":$errs,"sf":"$sfDir"}"""
    // create parent dirs: a missing directory in SPARK_GRAFT_BENCH_OUT
    // must not throw AFTER a 27-minute sweep has already run (it did,
    // r17 — the whole run's timings were lost at this line)
    Option(java.nio.file.Paths.get(outPath).toAbsolutePath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The driver captures only the LAST ~2000 chars of sbt output, so the
    // compact line stays short (top-8 slowest, ~600 chars — fits the
    // window with room for stray warnings). Since r17 the forked JVM
    // writes sbt's stdout fd directly (StdoutOutput, no forwarding
    // thread to race at exit), so ONE post-stop print suffices; the r8
    // right-end-truncation defense of printing twice is gone with its
    // cause.
    val slowest = results.sortBy(-_._3).take(8).map(r => (r._1, r._3))
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","basis":"$basis","queries":${jmap(slowest)},"n_queries":${results.size}$onlyStamp,"n_errors":${results.count(_._4 != null)},"total_cold":$totalCold,"sf":"$sfDir","full":"$outPath"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath.stripSuffix(".json") + "_compact.json"),
      compact.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // silence Spark's loggers BEFORE the final output: the r11 artifact
    // was nulled by a benign async accessNonExistentAccumulatorError
    // stack trace (ContextCleaner racing locally-checkpointed RDDs)
    // interleaving into the stdout the driver parses — after this point
    // nothing but the compact line may reach the stream
    spark.sparkContext.setLogLevel("OFF")
    // stop FIRST, then print exactly once: the compact line must be the
    // literal last line of bare JSON on stdout for the driver's tail
    // parser (PERF_r15/r16 parsed:null — the old two-copy print plus
    // sbt's [info] prefix/[success] trailer defeated it; build.sbt now
    // uses StdoutOutput + showSuccess:=false so the forked JVM writes
    // this fd directly and nothing follows it)
    spark.stop()
    println(compact)
    Console.out.flush()
  }
}
