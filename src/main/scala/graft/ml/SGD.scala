package graft.ml

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
  * optimizers).
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
    // wide fits (k > 8) skip it — their cache is the primitive-array RDD
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
    // round(t·10¹²) is exact in a double and Σ over ≤8·10⁶ rows fits a
    // long (8e6·1e12 ≪ 2⁶³) — integer addition is associative
    // (partition-order free) and whole-stage-codegen fast, where
    // DECIMAL(38) accumulation measured ~2 s per 600k-row pass.
    // The envelope is VERIFIED, not assumed: one pre-pass checks the row
    // count and per-feature |x| bound; outside it, gradients fall back to
    // detSum's DECIMAL(38) accumulation (equally order-independent).
    // Primitive-array cache for wide fits (k > 8, e.g. RFF kernels):
    // a single aggregate with k+1 expressions exceeds the codegen field
    // cap, so HashAggregate silently drops to interpreted per-expression
    // eval (measured 16 s/iteration at k=64, sf0.1 vs ~0.2 s here).
    // Math.round (post-JDK-8041734) is EXACT half-up-toward-+inf on the
    // real value of the double — no floor(t+0.5) double-rounding bump at
    // 0.49999999999999994 and no ties-to-even drift at |t| ≥ 2^52;
    // negating for t < 0 gives HALF_UP away from zero, matching Spark
    // round()'s BigDecimal convention. (Residual divergence class: Spark
    // rounds the SHORTEST decimal repr, DuckDB ROUND goes through
    // floating-point ×10^s — a product landing within 1 ulp of an exact
    // .5 grid line can still split engines; the [0,1] pre-scaling
    // convention keeps per-term error far below the 1e-12 grid.)
    def roundScaled(v: Double): Long = {
      val t = v * 1e12
      if (t >= 0) Math.round(t) else -Math.round(-t)
    }
    // Row.getDouble reads a NULL as 0.0 silently — count nulls while
    // building the cache so the wide path can VERIFY null-freedom
    // instead of assuming the caller pre-dropped them (task retries can
    // only over-count, which errs toward the safe aggregate fallback).
    lazy val nullAcc = spark.sparkContext.longAccumulator("graft.sgd.nulls")
    // Chunked columnar cache: flat primitive chunks of up to 2¹⁶ rows
    // (row-major, stride k+1; the last chunk per partition is trimmed)
    // instead of one Array[Double] per row. The per-row form carried
    // ~32 B of object header + cache-entry overhead on top of the 24 B
    // payload — at the sf100 rehearsal 600M rows spilled a ~34 GB cache
    // past the 28.6 GiB store and EVERY epoch re-read the spill (28×
    // for 10× data); flat chunks hold the same doubles at payload cost
    // with sequential-scan locality. Rows keep their partition order
    // and per-row arithmetic, so the gradient sums are bit-identical.
    def buildChunks(src: DataFrame, stride: Int)
        : org.apache.spark.rdd.RDD[Array[Double]] = {
      val acc = nullAcc
      val st = stride
      val chunkRows = 1 << 16
      val r = src.rdd.mapPartitions { rows =>
        new Iterator[Array[Double]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Array[Double] = {
            val buf = new Array[Double](chunkRows * st)
            var n = 0
            while (n < chunkRows && rows.hasNext) {
              val row = rows.next()
              val off = n * st
              var i = 0
              while (i < st) {
                if (row.isNullAt(i)) { acc.add(1L); buf(off + i) = 0.0 }
                else buf(off + i) = row.getDouble(i)
                i += 1
              }
              n += 1
            }
            if (n == chunkRows) buf
            else java.util.Arrays.copyOf(buf, n * st)
          }
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
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
    lazy val genCache: (org.apache.spark.rdd.RDD[Array[Double]],
                        Option[Array[Double] => Array[Double]]) = {
      val g = genOpt.get
      val maxBytes = spark.conf.getOption("graft.sgd.featCacheMaxBytes")
        .map(_.toLong).getOrElse(defaultFeatCacheMaxBytes)
      if (df.count() * (k + 1) * 8L <= maxBytes)
        (buildChunks(base, k + 1), None)
      else {
        val rawBase = df.select(
          g.raw.zipWithIndex.map { case (c, i) => c.as(s"r_$i") } :+
          y.cast("double").as("y"): _*)
        // hand later passes the expansion FUNCTION only — FeatureGen
        // itself holds Columns (not serializable) and must never enter
        // a task closure
        (buildChunks(rawBase, g.raw.size + 1), Some(g.expandChunk))
      }
    }
    lazy val arrRdd: org.apache.spark.rdd.RDD[Array[Double]] =
      if (genOpt.isDefined) genCache._1 else buildChunks(base, k + 1)
    def passExpand: Option[Array[Double] => Array[Double]] =
      if (genOpt.isDefined) genCache._2 else None

    // Wide fits also run the envelope pass on the primitive-array cache:
    // a k+1-field max/abs aggregate pays the same interpreted-eval bill
    // the wide gradient would (measured ~12 s at k=64/sf0.1 vs ~1 s).
    // The doubles compared are identical, so the branch decision is too.
    // Null-freedom comes from the accumulator counted while building
    // arrRdd (forced by its count()) — a nullable label/feature drops
    // the fit to the aggregate path whose sums skip nulls correctly.
    val (nRows, maxAbs, nullFree) =
      if (k > 8) {
        val kk = k
        val ex = passExpand
        val (n, mx) = arrRdd.mapPartitions { it0 =>
          val it = ex.fold(it0)(f => it0.map(f))
          var n = 0L; var mx = 0.0
          val stride = kk + 1
          while (it.hasNext) {
            val ch = it.next(); val m = ch.length / stride
            n += m
            var r = 0
            while (r < m) {
              val off = r * stride
              var i = 0
              while (i < kk) {
                val a = math.abs(ch(off + i)); if (a > mx) mx = a; i += 1
              }
              r += 1
            }
          }
          Iterator.single((n, mx))
        }.treeReduce((a, b) => (a._1 + b._1, math.max(a._2, b._2)))
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
    // per-TERM envelope only (the r8 AdaBoost lesson, applied here in
    // round 10 after the sf10 rehearsal found ml_svm_rbf pinned on the
    // DECIMAL fallback for 30 interpreted passes over 60M rows):
    // |r·x| ≤ 1 keeps round(t·10¹²) exact in a double at ANY row count;
    // accumulator overflow — the real reason the old 8·10⁶ row cap
    // existed — is gone because the JVM path spills its per-partition
    // longs into BigIntegers and the aggregate path sums the scaled
    // longs in DECIMAL(38,0) (exact, order-independent). The oracle's
    // fast branch is already overflow-free (DuckDB SUM(BIGINT)
    // accumulates in HUGEINT); its env predicate drops the row clause
    // in lockstep.
    val scaledSafe = nRows > 0 && maxAbs <= 1.0
    def gradSum(c: Column): Column =
      if (scaledSafe)
        (sum(round(c * 1e12, 0).cast("long").cast("decimal(38,0)"))
          .cast("double") / lit(1e12)).cast("double")
      else detSum(c)

    // The JVM gradient accumulates the SAME scaled-long sums
    // partition-locally (long addition is associative, so it is
    // partition-order independent exactly like the sum-of-rounded-longs
    // aggregate; roundScaled matches Spark round()'s HALF_UP away from
    // zero, and the dot product adds terms before the intercept in the
    // exact order of the Column expression). Narrow fits use it too —
    // the per-iteration DataFrame agg costs ~1 s in scheduling/codegen
    // overhead vs ~0.2 s here — but only when the features are verified
    // null-free: Row.getDouble reads NULL as 0.0, which would silently
    // differ from the aggregate path's null-skipping sums.
    val useJvm = scaledSafe && nullFree
    // caller outside the JVM envelope with an uncached wide projection:
    // the DataFrame fallback loop re-scans base per iteration
    if (k > 8 && !useJvm) base.cache()
    def gradJvm(w: Array[Double]): Array[Double] = {
      val kk = k; val ll = loss
      val ex = passExpand
      val bw = spark.sparkContext.broadcast(w)
      // long accumulators with BigInteger spill (AdaBoost's device):
      // integer addition stays order-independent and the sum exact at
      // ANY row count — the fixed-point grid, not the row count, is the
      // envelope
      val SpillAt = Long.MaxValue >> 1
      val acc = arrRdd.mapPartitions { it0 =>
        val it = ex.fold(it0)(f => it0.map(f))
        val ww = bw.value
        val a = new Array[Long](kk + 1)
        val big = Array.fill(kk + 1)(java.math.BigInteger.ZERO)
        def spill(i: Int): Unit = {
          big(i) = big(i).add(java.math.BigInteger.valueOf(a(i)))
          a(i) = 0L
        }
        val stride = kk + 1
        while (it.hasNext) {
          val ch = it.next(); val m = ch.length / stride
          var rr = 0
          while (rr < m) {
            val off = rr * stride
            var z = 0.0; var i = 0
            while (i < kk) { z += ch(off + i) * ww(i); i += 1 }
            z += ww(kk)
            val r = ll.residualJvm(z, ch(off + kk))
            if (r != 0.0) {
              var j = 0
              while (j < kk) {
                a(j) += roundScaled(r * ch(off + j))
                if (a(j) > SpillAt || a(j) < -SpillAt) spill(j)
                j += 1
              }
              a(kk) += roundScaled(r)
              if (a(kk) > SpillAt || a(kk) < -SpillAt) spill(kk)
            }
            rr += 1
          }
        }
        var i = 0
        while (i <= kk) { spill(i); i += 1 }
        Iterator.single(big)
      }.treeReduce { (p, q) =>
        var i = 0; while (i <= kk) { p(i) = p(i).add(q(i)); i += 1 }; p
      }
      bw.destroy()
      // bigTotal → correctly-rounded double, then the grid division —
      // the same two steps as the oracle's Tables.scaledLongSumSql
      acc.map(_.doubleValue() / 1e12)
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
        val ex = passExpand
        val bw = spark.sparkContext.broadcast(w)
        val (c, t) = arrRdd.mapPartitions { it0 =>
          val it = ex.fold(it0)(f => it0.map(f))
          val ww = bw.value; var c = 0L; var t = 0L
          val stride = kk + 1
          while (it.hasNext) {
            val ch = it.next(); val m = ch.length / stride
            var rr = 0
            while (rr < m) {
              val off = rr * stride
              var z = 0.0; var i = 0
              while (i < kk) { z += ch(off + i) * ww(i); i += 1 }
              z += ww(kk)
              val pred =
                if (isLog) { if (1.0 / (1.0 + math.exp(-z)) > 0.5) 1.0 else 0.0 }
                else { if (z > 0) 1.0 else -1.0 }
              if (pred == ch(off + kk)) c += 1
              t += 1
              rr += 1
            }
          }
          Iterator.single((c, t))
        }.treeReduce((a, b) => (a._1 + b._1, a._2 + b._2))
        bw.destroy()
        Some(new java.math.BigDecimal(c.toDouble / t)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
      } else None
    if (useJvm || k > 8) arrRdd.unpersist(false) // forced if ever built
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
    val result = out.collect()
    base.unpersist()
    spark.createDataFrame(
      java.util.Arrays.asList(result: _*), out.schema)
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
