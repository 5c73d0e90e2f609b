package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, SparkEntry}

/** The measured JVM of one benchmark run: one closed-loop client that
  * runs a workload's queries in sorted-name order through the engine's
  * public entry points only (`SparkEntry.queries` builds, `Bench.consume`
  * executes with the noop sink).
  *
  * Protocol:
  *   1. set-up: create the session, register the input tables, run one
  *      untimed cold pass. One untimed warm pass follows, then the set-up
  *      is repeated `setups - 1` times, each after stopping the session
  *      and emptying the codegen cache, so each one pays session start,
  *      planning and compilation again.
  *   2. `warmup` untimed warm passes, then warm passes back to back
  *      until `seconds` have passed and at least `minpasses` ran. With
  *      tracing, passes alternate untraced and traced (at least four);
  *      only traced ones feed the per-layer counters.
  *   3. full GC, then the retained heap.
  *   4. one untimed check pass that writes every query's output as
  *      parquet for the fingerprint gate.
  * Raw samples go to `<out>/raw.json` and spans to `<out>/spans.jsonl`;
  * the wrapper script derives the metrics from them.
  *
  * Arguments are key=value: workload, data, out, local, queries
  * (comma list), seconds, trace (0|1), cores, setups, warmup,
  * minpasses. */
object Harness {
  final case class Exec(query: String, pass: Int, phase: String, traced: Boolean,
      startS: Double, buildS: Double, execS: Double,
      error: Option[String], layers: Map[String, Double]) {
    def wallS: Double = buildS + execS
  }

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val opt = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val localDir = opt("local")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val setups = opt("setups").toInt
    // traced runs alternate untraced and traced passes in the order
    // U T T U, so both kinds sit equally far down the JIT warm-up slope
    val minPasses = if (trace) math.max(4, opt("minpasses").toInt)
      else opt("minpasses").toInt
    val warmup = opt("warmup").toInt
    val all = SparkEntry.queries
    val names = opt("queries").split(",").toSeq.sorted
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val fns = names.map(n => n -> all(n))
    def since(t: Long): Double = (System.nanoTime() - t) / 1e9

    val tracer = if (trace) Some(new Tracer) else None
    val cg0 = if (trace) Some(Tracer.codegen()) else None
    val execs = mutable.ArrayBuffer.empty[Exec]
    val setupS = mutable.ArrayBuffer.empty[Double]
    var sinceGC = 0

    def cleanup(spark: SparkSession): Unit = {
      // Bench's hygiene between queries: drop cached plans and block
      // until leaked persist/checkpoint blocks are gone
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      sinceGC += 1
      if (sinceGC >= 5) { System.gc(); sinceGC = 0 }
    }

    def run(spark: SparkSession, name: String,
            fn: (SparkSession, String) => DataFrame,
            pass: Int, stage: String, traced: Boolean): Exec = {
      val sc = spark.sparkContext
      def phase(p: String): Unit =
        if (traced) sc.setLocalProperty(Tracer.Phase, p)
      if (traced) tracer.get.begin()
      val cg = if (traced) Tracer.codegen() else null
      val gc = gcSeconds()
      val t0 = System.nanoTime()
      var buildS = -1.0
      val error =
        try {
          phase("build")
          val df = fn(spark, data)
          buildS = since(t0)
          phase("exec")
          Bench.consume(df)
          None
        } catch { case t: Throwable => Some(message(t)) }
      val wall = since(t0)
      phase(null)
      if (buildS < 0) buildS = wall
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val d = Tracer.codegen() - cg
          val own = Map(
            "codegen_classes" -> d.classes.toDouble,
            "codegen_compile_s" -> d.compileS,
            "codegen_bytes" -> d.bytes.toDouble,
            "gc_s" -> (gcSeconds() - gc),
            "leaked_persists" -> sc.getPersistentRDDs.size.toDouble)
          tracer.get.take(spark) ++ own
        }
      cleanup(spark)
      Exec(name, pass, stage, traced, (t0 - entry) / 1e9, buildS, wall - buildS,
        error, layers)
    }

    // set-up: the session, the input views, one cold pass. The phases
    // of each repetition are kept: until the session exists (for the
    // first one: JVM start, the query catalog and Spark's start),
    // input registration, the cold pass.
    var spark: SparkSession = null
    val setupPhases = mutable.ArrayBuffer.empty[Map[String, Double]]
    def setUp(rep: Int): Unit = {
      val t0 = if (rep == 0) entry else System.nanoTime()
      if (rep > 0) {
        spark.stop()
        Tracer.clearCodegenCache()
      }
      spark = session(cores, localDir)
      val t1 = System.nanoTime()
      registerInputs(spark, data)
      val t2 = System.nanoTime()
      fns.foreach { case (n, fn) =>
        execs += run(spark, n, fn, -1 - rep, "setup", false) }
      val t3 = System.nanoTime()
      setupS += (t3 - t0) / 1e9
      setupPhases += Map("session_s" -> (t1 - t0) / 1e9,
        "register_s" -> (t2 - t1) / 1e9, "cold_pass_s" -> (t3 - t2) / 1e9)
    }

    var pass = 0
    def warmUp(): Unit = {
      fns.foreach { case (n, fn) => execs += run(spark, n, fn, pass, "warmup", false) }
      pass += 1
    }

    // 1. the set-ups, with one untimed warm pass after the first so that
    // the later ones start from JIT-compiled driver code
    setUp(0)
    val setupCodegen = cg0.map(Tracer.codegen() - _)
    warmUp()
    (1 until setups).foreach(setUp)

    // 2. untimed warm-up passes, then the timed warm passes
    (0 until warmup).foreach(_ => warmUp())
    val t0 = System.nanoTime()
    val first = pass
    while (pass < first + minPasses || since(t0) < seconds) {
      val traced = trace && Set(1, 2).contains((pass - first) % 4)
      if (traced) tracer.get.attach(spark)
      fns.foreach { case (n, fn) => execs += run(spark, n, fn, pass, "warm", traced) }
      if (traced) tracer.get.detach(spark)
      pass += 1
    }

    // 3. retained heap after a full GC
    System.gc()
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val codeCacheMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum / 1048576.0

    // 4. check pass
    val check = fns.map { case (n, fn) =>
      val err =
        try {
          fn(spark, data).write.mode("overwrite").parquet(s"$out/check/$n")
          None
        } catch { case t: Throwable => Some(message(t)) }
      cleanup(spark)
      n -> err
    }.toMap

    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }

    spark.sparkContext.setLogLevel("OFF")
    spark.stop()

    val raw = Map(
      "workload" -> workload, "trace" -> trace, "cores" -> cores,
      "queries" -> names, "setup_s" -> setupS.toSeq,
      "setup_phases" -> setupPhases.toSeq,
      "setup_codegen" -> setupCodegen.map(c => Map("classes" -> c.classes,
        "compile_s" -> c.compileS, "bytes" -> c.bytes)),
      "heap_mb" -> heapMb, "code_cache_mb" -> codeCacheMb,
      "executions" -> execs.toSeq.map(e => Map(
        "query" -> e.query, "pass" -> e.pass, "phase" -> e.phase,
        "traced" -> e.traced,
        "build_s" -> e.buildS, "exec_s" -> e.execS, "wall_s" -> e.wallS,
        "error" -> e.error, "layers" -> e.layers)),
      "check" -> check, "oracle_sql" -> oracles)
    write(s"$out/raw.json", Json(raw))
    // build, plan (Catalyst phases of the consuming write, known only
    // when traced) and execute follow each other within an execution
    write(s"$out/spans.jsonl", execs.zipWithIndex.flatMap { case (e, id) =>
      val plan = e.layers.getOrElse("plan_s", 0.0)
      Seq(("build", e.startS, e.buildS),
        ("plan", e.startS + e.buildS, plan),
        ("execute", e.startS + e.buildS + plan, e.execS - plan)).map {
        case (span, start, dur) => Json(Map("execution" -> id,
          "workload" -> workload, "phase" -> e.phase, "pass" -> e.pass,
          "query" -> e.query, "span" -> span,
          "start_s" -> start, "dur_s" -> dur))
      }
    }.mkString("", "\n", "\n"))
    sys.exit(0)
  }

  /** A session with `graft.Bench`'s settings, its files kept under
    * `localDir`. */
  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Registers every input table as a temporary view, which lists the
    * files and reads their parquet footers. */
  def registerInputs(spark: SparkSession, data: String): Unit =
    new java.io.File(data).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.foreach { f =>
        spark.read.parquet(s"$data/$f")
          .createOrReplaceTempView(f.stripSuffix(".parquet"))
      }

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum / 1e3

  def message(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}".take(300)

  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the raw-sample files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
