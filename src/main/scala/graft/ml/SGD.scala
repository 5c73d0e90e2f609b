package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Gradient-descent linear models (reference Orange/classification/sgd.py
  * and Orange/regression/svm.py — sklearn SGDClassifier/SGDRegressor/
  * LinearSVR, full-batch variant) with pluggable loss.
  *
  * Each iteration is ONE distributed aggregation: the loss gradient
  * Σ r(w·x, y)·x reduces map-side, the tiny weight vector lives on the
  * driver — the classic Spark iterative-ML shape (same as MLlib's own
  * optimizers). Inside the scaled envelope it is one [[Rounds.pass]]
  * over the [[Rounds]] chunk cache; outside it, a Catalyst aggregate.
  *
  * Oracle-exactness (unusual for an iterative fit): gradients go through
  * order-independent sums and the weights are rounded to 10 decimals
  * after every step, which snaps Spark's and DuckDB's trajectories to
  * the same values — the SQL twin unrolls the iterations as chained
  * CTEs. Features should be pre-scaled to ~[0,1] so per-term libm ulp
  * error stays far below the rounding grid. Supported losses: logistic
  * (σ(z)−y residual), ε-insensitive (LinearSVR subgradient sign(z−y)
  * outside the tube), hinge (SVC subgradient −y when y·z<1).
  */
object SGD {

  /** A GD loss = per-row gradient residual r (gradient is Σ r·x) plus
    * the final training metric, in both Column and DuckDB-SQL form.
    * The residual must be branch-deterministic: comparisons only on
    * values both engines compute bit-identically (z is a fixed-order
    * dot product of 10-decimal-rounded weights with parquet doubles). */
  sealed trait GDLoss {
    def residual(z: Column, y: Column): Column
    /** JVM twin of [[residual]] for the wide-feature partition-local
      * gradient path — must branch identically to the Column form. */
    def residualJvm(z: Double, y: Double): Double
    def residualSql(z: String, y: String): String
    def metricName: String
    /** aggregated training metric; `gsum` is the order-independent sum */
    def metric(z: Column, y: Column, gsum: Column => Column,
               n: Long): Column
    def metricSql(z: String, y: String, gsum: String => String): String
  }

  /** Logistic loss, y ∈ {0,1}: r = σ(z) − y; metric = accuracy. */
  case object LogisticLoss extends GDLoss {
    private def p(z: Column) = lit(1.0) / (lit(1.0) + exp(-z))
    def residual(z: Column, y: Column): Column = p(z) - y
    def residualJvm(z: Double, y: Double): Double =
      1.0 / (1.0 + math.exp(-z)) - y
    def residualSql(z: String, y: String): String =
      s"(1.0 / (1.0 + EXP(-($z)))) - ($y)"
    def metricName = "accuracy"
    def metric(z: Column, y: Column, gsum: Column => Column,
               n: Long): Column = {
      val correct = (when(p(z) > 0.5, 1).otherwise(0) === y).cast("int")
      round(sum(correct) / count(lit(1)), 6)
    }
    def metricSql(z: String, y: String, gsum: String => String): String =
      s"ROUND(SUM(CASE WHEN (CASE WHEN (1.0 / (1.0 + EXP(-($z)))) > 0.5 " +
      s"THEN 1 ELSE 0 END) = ($y) THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)"
  }

  /** ε-insensitive loss (LinearSVR, reference Orange/regression/svm.py):
    * r = sign(z−y) outside the ε-tube, 0 inside; metric = MSE (through
    * the order-independent sum so both engines agg identically). */
  final case class EpsilonInsensitiveLoss(eps: Double) extends GDLoss {
    def residual(z: Column, y: Column): Column = {
      val e = z - y
      when(abs(e) > eps, signum(e)).otherwise(lit(0.0))
    }
    def residualJvm(z: Double, y: Double): Double = {
      val e = z - y
      if (math.abs(e) > eps) math.signum(e) else 0.0
    }
    def residualSql(z: String, y: String): String =
      s"(CASE WHEN ABS(($z) - ($y)) > $eps " +
      s"THEN CAST(SIGN(($z) - ($y)) AS DOUBLE) ELSE 0.0 END)"
    def metricName = "mse"
    def metric(z: Column, y: Column, gsum: Column => Column,
               n: Long): Column =
      round(gsum((z - y) * (z - y)) / lit(n.toDouble), 6)
    def metricSql(z: String, y: String, gsum: String => String): String =
      s"ROUND(${gsum(s"(($z) - ($y)) * (($z) - ($y))")} / COUNT(*), 6)"
  }

  /** Squared loss (MSE regression, ½(z−y)² so the gradient residual is
    * plain z−y); metric = MSE. Residuals are unbounded in principle —
    * callers scale y to ~[0,1] like the features, which keeps |r·x|
    * orders below the 2^52/1e12 exactness bound of the scaled-long
    * grid. */
  case object SquaredLoss extends GDLoss {
    def residual(z: Column, y: Column): Column = z - y
    def residualJvm(z: Double, y: Double): Double = z - y
    def residualSql(z: String, y: String): String = s"(($z) - ($y))"
    def metricName = "mse"
    def metric(z: Column, y: Column, gsum: Column => Column,
               n: Long): Column =
      round(gsum((z - y) * (z - y)) / lit(n.toDouble), 6)
    def metricSql(z: String, y: String, gsum: String => String): String =
      s"ROUND(${gsum(s"(($z) - ($y)) * (($z) - ($y))")} / COUNT(*), 6)"
  }

  /** Hinge loss (linear SVC subgradient), y ∈ {−1,+1}:
    * r = −y when y·z < 1 else 0; metric = sign accuracy. */
  case object HingeLoss extends GDLoss {
    def residual(z: Column, y: Column): Column =
      when(y * z < 1.0, -y).otherwise(lit(0.0))
    def residualJvm(z: Double, y: Double): Double =
      if (y * z < 1.0) -y else 0.0
    def residualSql(z: String, y: String): String =
      s"(CASE WHEN ($y) * ($z) < 1.0 THEN -($y) ELSE 0.0 END)"
    def metricName = "accuracy"
    def metric(z: Column, y: Column, gsum: Column => Column,
               n: Long): Column = {
      val correct = (when(z > 0, 1).otherwise(-1) === y).cast("int")
      round(sum(correct) / count(lit(1)), 6)
    }
    def metricSql(z: String, y: String, gsum: String => String): String =
      s"ROUND(SUM(CASE WHEN (CASE WHEN ($z) > 0 THEN 1 ELSE -1 END) = " +
      s"($y) THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)"
  }

  /** A derived-feature generator for wide fits whose k model features
    * are cheap functions of a much smaller raw column set (RFF cosines,
    * random-projection activations). The chunked cache then stores the
    * RAW doubles only — (nRaw+1)/(k+1) of the feature-cache bytes — and
    * `expandChunk` rebuilds a feature chunk (stride k+1, label in the
    * last slot) from a raw chunk (stride nRaw+1). The expansion MUST be
    * bit-identical to the Column feature expressions (same fold order,
    * same java.lang.Math calls Catalyst codegen emits), so whether the
    * expanded chunks are persisted or recomputed per pass is purely a
    * memory/CPU trade — results cannot differ. */
  final class FeatureGen(val raw: Seq[Column],
                         val expandChunk: Array[Double] => Array[Double])
    extends Serializable

  /** Build a [[FeatureGen]] from a per-row expansion:
    * expandRow(in, inOff, out, outOff) reads nRaw raw doubles at inOff
    * and writes the k feature doubles at outOff (the label copy is
    * handled here). */
  def featureGen(raw: Seq[Column], k: Int,
                 expandRow: (Array[Double], Int, Array[Double], Int) => Unit)
      : FeatureGen = {
    val nRaw = raw.size
    val inStride = nRaw + 1
    val outStride = k + 1
    val f = (in: Array[Double]) => {
      val m = in.length / inStride
      val out = new Array[Double](m * outStride)
      var r = 0
      while (r < m) {
        expandRow(in, r * inStride, out, r * outStride)
        out(r * outStride + k) = in(r * inStride + nRaw)
        r += 1
      }
      out
    }
    new FeatureGen(raw, f)
  }

  /** Above this estimated feature-cache size the gen path stops
    * persisting expanded chunks and recomputes them per pass — the
    * single-box guard for fits whose expanded features dwarf memory
    * (sf100 rehearsal: 600M rows × 33 doubles ≈ 158 GB expanded vs
    * 9.6 GB raw). The default is HEAP-AWARE: half the JVM's max heap,
    * capped at 24 GB — a fixed constant near the heap size lets a
    * cache that "fits the budget" still OOM the executor, because
    * MemoryStore accounts unroll memory only every few elements and a
    * 17 MB-chunk cache build overshoots the storage pool across 32
    * concurrent tasks before spill engages (measured: 15.8 GB cache,
    * 24 GB heap → executor OOM; same cache, 48 GB heap → fine). On a
    * real cluster the per-executor slice of the cache shrinks with the
    * executor count while maxMemory is per-executor, so the same rule
    * holds. Overridable via `graft.sgd.featCacheMaxBytes`. */
  private def defaultFeatCacheMaxBytes: Long =
    math.min(24L << 30, Runtime.getRuntime.maxMemory / 2)

  /** Full-batch GD over `loss`.
    * @param feats (name, expression) pairs, pre-scaled to ~[0,1]
    * @param y     label expression (0/1 logistic, real SVR, ±1 hinge)
    * @param gen   optional raw-column generator for the wide JVM cache
    *              (honored for logistic/hinge wide fits — the losses
    *              whose final metric also runs on the JVM cache)
    * @return one row: final weights, intercept, training metric. */
  def linearGD(df: DataFrame, feats: Seq[(String, Column)], y: Column,
               iterations: Int, lr: Double, loss: GDLoss,
               gen: Option[FeatureGen] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val k = feats.size
    // materialize features once; weights enter as a broadcast row rather
    // than literals so every iteration reuses the SAME physical plan —
    // literal weights would force a whole-stage-codegen recompile per
    // step (measured 3 s/iteration vs ~0.3 s with a stable plan)
    // narrow fits cache the columnar projection (iterations re-scan it);
    // wide fits (k > 8) skip it — their cache is the Rounds chunk cache
    // below, and materializing a 65-column columnar cache first costs
    // ~10 s at sf0.1 for nothing. Lazy: the gen recompute branch never
    // materializes the full feature projection at all.
    lazy val base = {
      val b = df.select(feats.map { case (n, f) => f.as(s"x_$n") } :+
        y.cast("double").as("y"): _*)
      if (feats.size <= 8) b.cache() else b
    }
    // gen honored only where EVERY data pass runs on the JVM cache: the
    // wide path, and losses whose final metric has a JVM twin below
    // (logistic/hinge sign-accuracy). Other losses fall through to the
    // plain wide cache unchanged.
    val genOpt = gen.filter(_ =>
      k > 8 && (loss == LogisticLoss || loss == HingeLoss))
    val wSchema = StructType((0 to k).map(i =>
      StructField(s"wc$i", DoubleType, nullable = false)))
    def wDF(w: Array[Double]) = spark.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(w.toSeq)), wSchema)
    def zOf = feats.zipWithIndex.map { case ((n, _), i) =>
      col(s"x_$n") * col(s"wc$i") }.reduce(_ + _) + col(s"wc$k")

    // order-independent gradient sums via SCALED LONGS, not decimals:
    // per-row residual and features are bounded in [−1,1], so
    // round(t·10¹²) is exact in a double, and integer addition is
    // associative (partition-order free) and whole-stage-codegen fast,
    // where DECIMAL(38) accumulation measured ~2 s per 600k-row pass.
    // The envelope is VERIFIED, not assumed: one pre-pass checks the row
    // count and per-feature |x| bound; outside it, gradients fall back to
    // detSum's DECIMAL(38) accumulation (equally order-independent).
    // Wide fits (k > 8, e.g. RFF kernels) keep their data in the
    // [[Rounds]] chunk cache: a single aggregate with k+1 expressions
    // exceeds the codegen field cap, so HashAggregate silently drops to
    // interpreted per-expression eval (measured 16 s/iteration at k=64,
    // sf0.1 vs ~0.2 s here). NULL cells are counted while the cache is
    // built, so the JVM path VERIFIES null-freedom instead of assuming
    // the caller pre-dropped them.
    lazy val nullAcc = spark.sparkContext.longAccumulator("graft.sgd.nulls")
    val caches = scala.collection.mutable.ArrayBuffer.empty[RDD[Array[Double]]]
    def cacheOf(src: DataFrame) = { caches += Rounds.doubles(src, nullAcc); caches.last }
    // Gen path: when the EXPANDED feature cache fits the budget, build
    // it straight from the Column expressions — one materialization
    // with the feature math inside the codegen'd scan, byte-identical
    // to the non-gen wide path (the earlier raw-chunks-then-JVM-expand
    // fast branch paid a second materialization for the same doubles:
    // +78% on ml_svm_rbf at sf1m). Only past the budget does the raw
    // chunk cache + per-pass JVM expansion kick in — the single-box
    // survival path when expanded features dwarf memory. KernelSVMSpec
    // pins Column expansion ≡ JVM expansion bit-for-bit, so the branch
    // choice is invisible in results. The branch decision costs one
    // column-pruned count of the (pre-filtered) input.
    lazy val genCache: (RDD[Array[Double]],
                        Option[Array[Double] => Array[Double]]) = {
      val g = genOpt.get
      val maxBytes = spark.conf.getOption("graft.sgd.featCacheMaxBytes")
        .map(_.toLong).getOrElse(defaultFeatCacheMaxBytes)
      if (df.count() * (k + 1) * 8L <= maxBytes)
        (cacheOf(base), None)
      else {
        val rawBase = df.select(
          g.raw.zipWithIndex.map { case (c, i) => c.as(s"r_$i") } :+
          y.cast("double").as("y"): _*)
        // hand later passes the expansion FUNCTION only — FeatureGen
        // itself holds Columns (not serializable) and must never enter
        // a task closure
        (cacheOf(rawBase), Some(g.expandChunk))
      }
    }
    lazy val arrRdd: RDD[Array[Double]] =
      if (genOpt.isDefined) genCache._1 else cacheOf(base)
    // the feature chunks every JVM pass reads (stride k+1): the cache,
    // or the per-pass expansion of the gen path's raw cache
    lazy val chunks: RDD[Array[Double]] =
      (if (genOpt.isDefined) genCache._2 else None)
        .fold(arrRdd)(f => arrRdd.map(f))

    try {
      // Wide fits also run the envelope pass on the chunk cache: a
      // k+1-field max/abs aggregate pays the same interpreted-eval bill
      // the wide gradient would (measured ~12 s at k=64/sf0.1 vs ~1 s).
      // The doubles compared are identical, so the branch decision is
      // too. The pass builds the cache, and with it the null count — a
      // nullable label/feature drops the fit to the aggregate path whose
      // sums skip nulls correctly.
      val (nRows, maxAbs, nullFree) =
        if (k > 8) {
          val (n, mx) = Rounds.envelope(chunks, k + 1, k)
          (n, mx, nullAcc.value == 0L)
        } else {
          val preCols = count(lit(1)).as("n") +:
            (feats.map { case (n, _) => max(abs(col(s"x_$n"))).as(s"m_$n") } ++
             feats.map { case (n, _) => count(col(s"x_$n")).as(s"c_$n") } :+
             count(col("y")).as("c_y"))
          val pre = base.agg(preCols.head, preCols.tail: _*).head()
          // null max(abs(x)) (empty table / all-null feature) ⇒ outside
          // envelope
          val m = (1 to k).map(i =>
            if (pre.isNullAt(i)) Double.PositiveInfinity else pre.getDouble(i))
            .foldLeft(0.0)(math.max)
          val nTot = pre.getLong(0)
          val nf = (0 to k).forall(i => pre.getLong(k + 1 + i) == nTot)
          (nTot, m, nf)
        }
      // per-TERM envelope only: |r·x| ≤ 1 keeps round(t·10¹²) exact in a
      // double at ANY row count; the sums cannot overflow (the JVM path's
      // Rounds.Acc spills into BigInteger, the aggregate path sums in
      // DECIMAL(38,0), the oracle's SUM(BIGINT) in HUGEINT), so the row
      // count does not gate the fast branch — on either side.
      val scaledSafe = nRows > 0 && maxAbs <= 1.0
      def gradSum(c: Column): Column =
        if (scaledSafe) scaledLongSum(c) else detSum(c)

      // The JVM gradient accumulates the SAME scaled-long sums (the dot
      // product adds terms before the intercept in the exact order of
      // the Column expression). Narrow fits use it too — the
      // per-iteration DataFrame agg costs ~1 s in scheduling/codegen
      // overhead vs ~0.2 s here — but only when the features are verified
      // null-free: Row.getDouble reads NULL as 0.0, which would silently
      // differ from the aggregate path's null-skipping sums.
      val useJvm = scaledSafe && nullFree
      // caller outside the JVM envelope with an uncached wide projection:
      // the DataFrame fallback loop re-scans base per iteration
      if (k > 8 && !useJvm) base.cache()
      def gradJvm(w: Array[Double]): Array[Double] = {
        val kk = k; val ll = loss
        val acc = Rounds.pass(chunks, w, k + 1) { (ww, ch, a) =>
          var off = 0
          while (off < ch.length) {
            var z = 0.0; var i = 0
            while (i < kk) { z += ch(off + i) * ww(i); i += 1 }
            z += ww(kk)
            val r = ll.residualJvm(z, ch(off + kk))
            if (r != 0.0) {
              var j = 0
              while (j < kk) {
                a.add(j, Rounds.roundScaled(r * ch(off + j), 1e12)); j += 1
              }
              a.add(kk, Rounds.roundScaled(r, 1e12))
            }
            off += kk + 1
          }
        }
        Array.tabulate(k + 1)(acc.value(_, 1e12))
      }

      var w = Array.fill(k + 1)(0.0) // weights + intercept, zero init
      for (_ <- 1 to iterations if nRows > 0) {
        val g: Int => Double =
          if (useJvm) { val a = gradJvm(w); a(_) }
          else {
            val withR = base.crossJoin(broadcast(wDF(w)))
              .select(col("*"),
                loss.residual(zOf, col("y")).as("r")) // evaluated once per row
            val aggs = feats.map { case (n, _) =>
              gradSum(col("r") * col(s"x_$n")) } :+ gradSum(col("r"))
            val row = withR.agg(aggs.head, aggs.tail: _*).head()
            row.getDouble(_)
          }
        w = w.zipWithIndex.map { case (wi, i) =>
          math.rint((wi - lr * g(i) / nRows) * 1e10) / 1e10 }
      }
      // wide path: sign-accuracy metric on the cached arrays too — the
      // 65-column crossJoin+agg pays the same interpreted-eval bill as the
      // gradient did; integer correct-counts are partition-order exact and
      // the final rounding replicates Spark round()'s HALF_UP.
      val jvmAccuracy: Option[Double] =
        if (useJvm && nRows > 0 &&
            (loss == LogisticLoss || loss == HingeLoss)) {
          val kk = k; val isLog = loss == LogisticLoss
          val ct = Rounds.pass(chunks, w, 2) { (ww, ch, a) =>
            var off = 0
            while (off < ch.length) {
              var z = 0.0; var i = 0
              while (i < kk) { z += ch(off + i) * ww(i); i += 1 }
              z += ww(kk)
              val pred =
                if (isLog) { if (1.0 / (1.0 + math.exp(-z)) > 0.5) 1.0 else 0.0 }
                else { if (z > 0) 1.0 else -1.0 }
              if (pred == ch(off + kk)) a.add(0, 1L)
              a.add(1, 1L)
              off += kk + 1
            }
          }
          Some(new java.math.BigDecimal(ct.long(0).toDouble / ct.long(1))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
        } else None
      val outCols = feats.zipWithIndex.map { case ((name, _), i) =>
        lit(w(i)).as(s"w_$name") } :+
        lit(w(k)).as("intercept") :+
        jvmAccuracy.map(a => lit(a))
          .getOrElse(loss.metric(zOf, col("y"), gradSum, nRows))
          .as(loss.metricName)
      val out =
        if (jvmAccuracy.isDefined) // constants only — no data pass needed
          base.limit(1).crossJoin(broadcast(wDF(w)))
            .agg(outCols.head, outCols.tail: _*)
        else base.crossJoin(broadcast(wDF(w)))
          .agg(outCols.head, outCols.tail: _*)
      spark.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally {
      caches.foreach(_.unpersist(false))
      base.unpersist()
    }
  }

  /** DuckDB twin of [[linearGD]]: iterations unrolled as chained CTEs.
    * `featsSql` = (name, sqlExpr) with the same scaling; `table`/`ySql`
    * mirror the Spark inputs. `prelude` optionally prepends extra CTEs
    * (e.g. a MATERIALIZED feature table the RFF fits reference by
    * column, so the 32 cosine expressions aren't textually inlined into
    * every weight update of every iteration) — it must end with a
    * trailing comma. */
  def linearGDSql(table: String, featsSql: Seq[(String, String)],
                  ySql: String, iterations: Int, lr: Double,
                  loss: GDLoss, prelude: String = ""): String = {
    // twin of the Spark side's gradient sum, INCLUDING the envelope
    // check: the env CTE evaluates the same nRows/max|x| predicate the
    // Spark side pre-computes, so both engines pick the same branch —
    // scaled-long inside the envelope, detSum's DECIMAL(38,14) outside.
    def scaledSum(t: String) = {
      // exact sum → correctly rounded DOUBLE, THEN the grid division,
      // like the Spark side's BigInteger spill at any magnitude
      val fast = scaledLongSumSql(t)
      val slow =
        s"CAST(SUM(CAST(ROUND(($t), 12) AS DECIMAL(38,14))) AS DOUBLE)"
      s"(CASE WHEN (SELECT safe FROM env) THEN $fast ELSE $slow END)"
    }
    val names = featsSql.map(_._1)
    val wCols = names.map(n => s"w_$n") :+ "b"
    val init = wCols.map(c => s"CAST(0.0 AS DOUBLE) AS $c").mkString(", ")
    def z(it: String) = featsSql.map { case (n, e) =>
      s"$it.w_$n * ($e)" }.mkString(" + ") + s" + $it.b"
    val steps = (1 to iterations).map { i =>
      val prev = s"it${i - 1}"
      val r = loss.residualSql(z(prev), ySql)
      val upd = featsSql.map { case (n, e) =>
        s"ROUND(MIN($prev.w_$n) - $lr * ${scaledSum(s"($r) * ($e)")} / COUNT(*), 10) AS w_$n"
      } :+
        s"ROUND(MIN($prev.b) - $lr * ${scaledSum(r)} / COUNT(*), 10) AS b"
      // MATERIALIZED: each step is a 1-row table; letting the inliner
      // expand the 30-deep chain instead blows DuckDB's max tree depth
      // once the feature count is large (32 RFF columns)
      s"it$i AS MATERIALIZED (SELECT ${upd.mkString(",\n  ")} FROM $table CROSS JOIN $prev)"
    }
    val last = s"it$iterations"
    val metric = loss.metricSql(z(last), ySql, scaledSum)
    val envAbs = featsSql.map { case (_, e) => s"ABS($e)" }.mkString(", ")
    // row-count clause dropped in lockstep with the Spark side: DuckDB
    // SUM(BIGINT) accumulates in HUGEINT (overflow-free at any n), so
    // only the per-term |x| ≤ 1 bound gates the fast branch
    val env = s"env AS (SELECT COUNT(*) >= 1 AND " +
      s"COALESCE(MAX(GREATEST($envAbs)), 1e300) <= 1.0 AS safe FROM $table)"
    s"""WITH $prelude$env,
       |it0 AS (SELECT $init),
       |${steps.mkString(",\n")}
       |SELECT ${names.map(n => s"MIN($last.w_$n) AS w_$n").mkString(", ")},
       |  MIN($last.b) AS intercept, $metric AS ${loss.metricName}
       |FROM $table CROSS JOIN $last""".stripMargin
  }

  /** Logistic-loss GD (reference Orange/classification/sgd.py), y ∈
    * {0,1} — kept as the named entry point used by ScoringSheet /
    * Calibration. */
  def logRegGD(df: DataFrame, feats: Seq[(String, Column)], y: Column,
               iterations: Int, lr: Double): DataFrame =
    linearGD(df, feats, y, iterations, lr, LogisticLoss)

  /** DuckDB twin of [[logRegGD]]. */
  def logRegGDSql(table: String, featsSql: Seq[(String, String)],
                  ySql: String, iterations: Int, lr: Double): String =
    linearGDSql(table, featsSql, ySql, iterations, lr, LogisticLoss)
}
