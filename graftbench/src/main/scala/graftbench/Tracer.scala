package graftbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.sql.graftbench.BusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced passes, fed by Spark's own
  * listeners: a SparkListener (jobs, stages, tasks, shuffle, spill,
  * cached blocks), a QueryExecutionListener (Catalyst phase times from
  * each execution's QueryPlanningTracker) and a StreamingQueryListener
  * (micro-batches and state stores). The harness reads and resets the
  * counters once per query execution, after draining the listener bus.
  *
  * Jobs are split into the build and the execute step by the
  * `graftbench.phase` local property the harness sets around each step. */
final class Tracer {
  private val counts = mutable.Map.empty[String, Double]
  private def add(k: String, v: Double): Unit = counts.synchronized {
    counts(k) = counts.getOrElse(k, 0.0) + v
  }

  // cached RDD blocks currently held, for the storage peak
  private val blocks = mutable.Map.empty[String, Long]
  private var storage = 0L
  private var storagePeak = 0L
  // final state-store size of each streaming run
  private val stateRows = mutable.Map.empty[java.util.UUID, Long]
  // Catalyst seconds of the latest execution: the plan span
  @volatile private var lastPlanS = 0.0

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.Phase))).getOrElse("exec")
      add(s"jobs_$phase", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("stages", 1)
      add("tasks", e.stageInfo.numTasks)
      if (e.stageInfo.numTasks == 1) add("single_task_stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        add("task_s", m.executorRunTime / 1e3)
        add("cpu_s", m.executorCpuTime / 1e9)
        add("task_gc_s", m.jvmGCTime / 1e3)
        add("input_rows", m.inputMetrics.recordsRead)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) blocks.synchronized {
        val key = info.blockId.name
        storage -= blocks.getOrElse(key, 0L)
        if (info.storageLevel.isValid && info.memSize > 0) {
          blocks(key) = info.memSize
          storage += info.memSize
        } else blocks.remove(key)
        storagePeak = math.max(storagePeak, storage)
      }
    }
  }

  val sqlListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def s(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    add("executions", 1)
    add("analysis_s", s("analysis"))
    add("optimizer_s", s("optimization"))
    add("planning_s", s("planning"))
    lastPlanS = s("analysis") + s("optimization") + s("planning")
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("batches", 1)
      add("batch_s", Option(p.durationMs.get("triggerExecution"))
        .map(_.doubleValue / 1e3).getOrElse(0.0))
      add("state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      stateRows.synchronized {
        stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }

  /** Registers the three listeners on `spark` unless they already are,
    * the same guard as a strategy that injects itself once. */
  def attach(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (!BusAccess.registered(sc, sparkListener)) sc.addSparkListener(sparkListener)
    if (!BusAccess.registered(spark, sqlListener))
      spark.listenerManager.register(sqlListener)
    if (!spark.streams.listListeners().contains(streamListener))
      spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** Starts a query's measurement: the storage peak restarts from what
    * is cached now. */
  def begin(): Unit = blocks.synchronized { storagePeak = storage }

  /** Drains the listener bus and returns the counters gathered since the
    * last call, then clears them. */
  def take(spark: SparkSession): Map[String, Double] = {
    BusAccess.drain(spark.sparkContext)
    val out = counts.synchronized {
      val m = counts.toMap
      counts.clear()
      m
    }
    val rows = stateRows.synchronized {
      val n = stateRows.values.sum
      stateRows.clear()
      n
    }
    val peak = blocks.synchronized(storagePeak)
    val plan = lastPlanS
    lastPlanS = 0.0
    out ++ Map("state_rows" -> rows.toDouble,
      "storage_peak_bytes" -> peak.toDouble, "plan_s" -> plan)
  }
}

object Tracer {
  val Phase = "graftbench.phase"

  /** Codegen counters since JVM start: compiled classes, compile seconds
    * and generated-class bytecode bytes. */
  final case class Codegen(classes: Long, compileS: Double, bytes: Long) {
    def -(o: Codegen): Codegen =
      Codegen(classes - o.classes, compileS - o.compileS, bytes - o.bytes)
  }

  /** Wraps a histogram's reservoir to also keep the exact sum of its
    * samples; Spark keeps only a decaying sample of class sizes. */
  final class SummingReservoir(inner: Reservoir) extends Reservoir {
    val total = new LongAdder
    override def size(): Int = inner.size()
    override def update(v: Long): Unit = { total.add(v); inner.update(v) }
    override def getSnapshot: Snapshot = inner.getSnapshot
  }

  private lazy val bytecode: SummingReservoir = {
    val h = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    f.get(h) match {
      case s: SummingReservoir => s
      case r: Reservoir =>
        val s = new SummingReservoir(r)
        f.set(h, s)
        s
    }
  }

  def codegen(): Codegen = Codegen(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime / 1e9, bytecode.total.sum)

  /** Empties Spark's JVM-wide cache of compiled classes, so the next
    * set-up compiles its plans again as a fresh session would. */
  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }
}
