package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge

import graft.streaming.{LocalCheckpointFileManager, StreamOps}

/** Watermark-TTL'd band-dedup state (the r11 carried ask): the
  * (band, sig) bucket state must be EVICTED once the watermark passes
  * last-seen + TTL — bounding state by the TTL window instead of the
  * full ingest history — while dedup inside the window stays exact.
  *
  * Differential device: two micro-batches (maxFilesPerTrigger-style
  * sequential file feed). Batch 1 carries document A (event time 100 s)
  * and a watermark-pusher W (event time 10⁶ s); batch 2 replays A's
  * text at event time 10⁶+100 s.
  *  - TTL = 10 s  → after batch 1 the watermark (10⁶−10) is past A's
  *    expiry (110): A's buckets are evicted, the replay is re-admitted,
  *    n_buckets per band = 3. Eviction is thus OBSERVED, not assumed.
  *  - TTL = 3650 days → watermark never reaches any expiry: the replay
  *    dedups exactly as the unbounded r10 state did, n_buckets = 2 —
  *    in-window results unchanged.
  * The oracle-compared fixtures drain in one micro-batch (single
  * parquet file), where the watermark only moves after the batch, so
  * their global-dedup results are unchanged at ANY TTL.
  *
  * The remaining cases pin the drive's plumbing: the no-fork
  * checkpoint-file manager writes the tree Spark's default manager
  * writes, a drained stream hands the session's settings back, a repeat
  * drain reuses the classes the first one compiled, the caller's session
  * keeps its own artifact isolation, and the session-window drive
  * removes its temporary source copy. */
class StreamingTtlSpec extends SparkSpec {
  import spark.implicits._

  private val textA = "alpha beta gamma delta epsilon zeta"
  private val textW = "one two three four five six seven"

  private def writeBatch(dir: String, name: String,
                         rowsIn: Seq[(Long, String)]): Unit = {
    val stage = Files.createTempDirectory(s"graft_ttl_$name").toString
    rowsIn.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val f = Files.list(java.nio.file.Paths.get(stage)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    Files.copy(java.nio.file.Paths.get(f),
      java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  /** Run the band-dedup core over two sequential micro-batches and
    * return (per-band bucket counts, final dedup-state row count). */
  private def run(ttl: String, tag: String): (Map[Int, Long], Long) = {
    val inDir = Files.createTempDirectory(s"graft_ttl_in_$tag").toString
    writeBatch(inDir, "b1", Seq((100L, textA), (1000000L, textW)))
    val schema = spark.read.parquet(inDir).schema
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val dedup = StreamOps.minhashBandDedupStream(docs, bands = 4, rows = 2,
      fastHash = true, stateTtl = ttl,
      eventTime = timestamp_seconds(col("doc_id")))
    val sink = s"ttl_sink_$tag"
    val q = dedup.writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      writeBatch(inDir, "b2", Seq((1000100L, textA)))
      q.processAllAvailable()
      val counts = spark.table(sink).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val stateRows = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq)
        .filter(_.operatorName.toLowerCase.contains("dedupe"))
        .map(_.numRowsTotal).sum
      (counts, stateRows)
    } finally q.stop()
  }

  test("expired (band,sig) keys are evicted and re-admitted past the TTL") {
    val (counts, stateRows) = run("10 seconds", "small")
    assert(counts.keySet == Set(0, 1, 2, 3))
    assert(counts.values.forall(_ == 3L),
      s"expected the replayed doc re-admitted after eviction (3/band), got $counts")
    // A and W both expired by the final watermark — only the replay's
    // 4 band keys may remain
    assert(stateRows <= 4L, s"dedup state not bounded by the TTL: $stateRows rows")
  }

  test("inside the TTL window the dedup result is unchanged (exact)") {
    val (counts, stateRows) = run("3650 days", "large")
    assert(counts.keySet == Set(0, 1, 2, 3))
    assert(counts.values.forall(_ == 2L),
      s"expected in-window dedup to drop the replay (2/band), got $counts")
    // nothing expires: both originals' keys are retained
    assert(stateRows == 8L, s"expected 8 retained state rows, got $stateRows")
  }

  /** Relative name → (POSIX mode, bytes; empty for a directory) of every
    * entry under `root`, with the random part of a temp-file name
    * masked. */
  private def tree(root: JPath): Map[String, (String, Seq[Byte])] =
    Using.resource(Files.walk(root)) { entries =>
      entries.iterator.asScala.filter(_ != root).map { p =>
        val name = root.relativize(p).toString
          .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")
        val mode = java.nio.file.attribute.PosixFilePermissions
          .toString(Files.getPosixFilePermissions(p))
        name -> (mode,
          if (Files.isDirectory(p)) Seq.empty[Byte]
          else Files.readAllBytes(p).toSeq)
      }.toMap
    }

  test("the no-fork checkpoint manager writes the tree Spark's default writes") {
    val conf = spark.sessionState.newHadoopConf()
    conf.unset(LocalCheckpointFileManager.ClassKey)
    def write(mk: (Path, org.apache.hadoop.conf.Configuration) =>
        CheckpointFileManager): JPath = {
      val root = Files.createTempDirectory("graft_ckpt_")
      def p(rel: String) = new Path(root.resolve(rel).toUri)
      val fm = mk(new Path(root.toUri), conf)
      fm match {
        case m: LocalCheckpointFileManager => assert(
          m.underlying.isInstanceOf[LocalCheckpointFileManager.NoFork],
          s"a local path fell back to ${m.underlying.getClass}")
        case _ =>
      }
      def put(rel: String, text: String, overwrite: Boolean) = {
        val out = fm.createAtomic(p(rel), overwrite)
        out.write(text.getBytes("UTF-8"))
        out
      }
      fm.mkdirs(p("offsets/state/0"))
      put("offsets/0", "v1\n{}", overwrite = false).close()
      put("offsets/state/0/1.delta", "delta one", overwrite = false).close()
      put("offsets/0", "v1\n{\"rewritten\":1}", overwrite = true).close()
      put("offsets/1", "never lands", overwrite = false).cancel()
      val clash = put("offsets/state/0/1.delta", "clash", overwrite = false)
      intercept[FileAlreadyExistsException](clash.close())
      root
    }
    val roots = Seq(write(CheckpointFileManager.create),
      write(new LocalCheckpointFileManager(_, _)))
    try {
      val Seq(expected, got) = roots.map(tree)
      assert(expected.keySet.exists(_.endsWith(".1.delta.crc")),
        s"expected Hadoop checksum files, got ${expected.keySet}")
      assert(got.keySet == expected.keySet)
      assert(got == expected)
      assert(!got.contains("offsets/1"))
    } finally roots.foreach(r =>
      org.apache.commons.io.FileUtils.deleteDirectory(r.toFile))
  }

  test("a drained stream restores the session's stream settings") {
    val keys = Seq("spark.sql.shuffle.partitions",
      LocalCheckpointFileManager.ClassKey,
      "spark.sql.artifact.isolation.enabled")
    def drain(tag: String) = StreamOps.tumblingWindowAgg(spark, sf,
      "1 hour", s"ttl_conf_sink_$tag").count()
    // explicit values only: getOption would answer a registered default
    def explicit = { val all = spark.conf.getAll; keys.map(all.get) }
    val before = explicit
    assert(before.tail.forall(_.isEmpty))
    drain("unset")
    assert(explicit == before)
    val preset = Seq("3", classOf[org.apache.spark.sql.execution.streaming
      .checkpointing.FileSystemBasedCheckpointFileManager].getName, "true")
    keys.zip(preset).foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      drain("preset")
      assert(explicit == preset.map(Some(_)))
    } finally keys.zip(before).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a repeat drain compiles no new classes") {
    // a drain's query runs in a cloned session; under per-session
    // artifact isolation its tasks got a new class loader each time, so
    // the codegen cache missed on every task-side class (13 here)
    def drain() = StreamOps.statefulUserStats(spark, sf, "ttl_repeat_sink")
      .count()
    drain()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    drain()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"the repeat drain compiled $compiled classes")
  }

  test("a session whose first action is a drain keeps its own artifact state") {
    val fresh = spark.newSession()
    StreamOps.tumblingWindowAgg(fresh, sf, "1 hour", "ttl_fresh_sink")
    assert(SqlBridge.artifactIsolated(fresh),
      "the drain fixed the caller's session to the drain's isolation setting")
  }

  test("sessionWindowAgg leaves no temporary source directory behind") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def sessDirs = Using.resource(Files.list(tmp)) { ps =>
      ps.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_sess_")).toSet
    }
    val before = sessDirs
    val out = StreamOps.sessionWindowAgg(spark, sf, gapSeconds = 1800,
      minEvents = 2, "ttl_sess_sink")
    assert(out.count() > 0)
    assert((sessDirs -- before).isEmpty)
  }
}
