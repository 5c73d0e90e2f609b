package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.core.Tables.scaledLongSumSql

/** Gradient-descent linear models (reference Orange/classification/sgd.py
  * and Orange/regression/svm.py — sklearn SGDClassifier/SGDRegressor/
  * LinearSVR, full-batch variant) with pluggable loss.
  *
  * Each iteration is ONE distributed aggregation: the loss gradient
  * Σ r(w·x, y)·x reduces map-side, the tiny weight vector lives on the
  * driver — the classic Spark iterative-ML shape (same as MLlib's own
  * optimizers). The input is projected once into the [[Rounds]] chunk
  * cache; the envelope, every round and the training metric are each
  * one [[Rounds.pass]] over it, and the result row is built on the
  * driver. Input outside the envelope (|x| > 1, NaN, NULL) is refused.
  *
  * Oracle-exactness (unusual for an iterative fit): gradients go through
  * order-independent sums and the weights are rounded to 10 decimals
  * after every step, which snaps Spark's and DuckDB's trajectories to
  * the same values — the SQL twin unrolls the iterations as chained
  * CTEs. Features must be pre-scaled to [-1,1] so per-term libm ulp
  * error stays far below the rounding grid. Supported losses: logistic
  * (σ(z)−y residual), ε-insensitive (LinearSVR subgradient sign(z−y)
  * outside the tube), hinge (SVC subgradient −y when y·z<1), squared.
  */
object SGD {

  /** A GD loss = per-row gradient residual r (gradient is Σ r·x) plus
    * the final training metric, on the JVM and in DuckDB-SQL form.
    * The residual must be branch-deterministic: comparisons only on
    * values both engines compute bit-identically (z is a fixed-order
    * dot product of 10-decimal-rounded weights with parquet doubles). */
  sealed trait GDLoss {
    def residual(z: Double, y: Double): Double
    def residualSql(z: String, y: String): String
    def metricName: String
    /** The row's term of the metric's exact sum, on the grid [[metricGrid]]. */
    def metricTerm(z: Double, y: Double): Long
    def metricGrid: Double
    def metricSql(z: String, y: String): String
  }

  /** Training accuracy: the share of rows whose prediction equals y. */
  sealed trait AccuracyMetric extends GDLoss {
    def predict(z: Double): Double
    def predictSql(z: String): String
    def metricName = "accuracy"
    def metricTerm(z: Double, y: Double): Long = if (predict(z) == y) 1L else 0L
    def metricGrid = 1.0
    def metricSql(z: String, y: String): String =
      s"ROUND(SUM(CASE WHEN (${predictSql(z)}) = " +
      s"($y) THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)"
  }

  /** Training MSE through the order-independent scaled-long sum, so
    * both engines add identical terms. */
  sealed trait MseMetric extends GDLoss {
    def metricName = "mse"
    def metricTerm(z: Double, y: Double): Long = {
      val e = z - y
      Rounds.roundScaled(e * e, 1e12)
    }
    def metricGrid = 1e12
    def metricSql(z: String, y: String): String =
      s"ROUND(${scaledLongSumSql(s"(($z) - ($y)) * (($z) - ($y))")} / COUNT(*), 6)"
  }

  /** Logistic loss, y ∈ {0,1}: r = σ(z) − y; metric = accuracy. */
  case object LogisticLoss extends AccuracyMetric {
    def residual(z: Double, y: Double): Double = 1.0 / (1.0 + math.exp(-z)) - y
    def residualSql(z: String, y: String): String =
      s"(1.0 / (1.0 + EXP(-($z)))) - ($y)"
    def predict(z: Double): Double = if (1.0 / (1.0 + math.exp(-z)) > 0.5) 1.0 else 0.0
    def predictSql(z: String): String =
      s"CASE WHEN (1.0 / (1.0 + EXP(-($z)))) > 0.5 THEN 1 ELSE 0 END"
  }

  /** ε-insensitive loss (LinearSVR, reference Orange/regression/svm.py):
    * r = sign(z−y) outside the ε-tube, 0 inside; metric = MSE. */
  final case class EpsilonInsensitiveLoss(eps: Double) extends MseMetric {
    def residual(z: Double, y: Double): Double = {
      val e = z - y
      if (math.abs(e) > eps) math.signum(e) else 0.0
    }
    def residualSql(z: String, y: String): String =
      s"(CASE WHEN ABS(($z) - ($y)) > $eps " +
      s"THEN CAST(SIGN(($z) - ($y)) AS DOUBLE) ELSE 0.0 END)"
  }

  /** Squared loss (MSE regression, ½(z−y)² so the gradient residual is
    * plain z−y); metric = MSE. Residuals are unbounded in principle —
    * callers scale y to ~[0,1] like the features, which keeps |r·x|
    * orders below the 2^52/1e12 exactness bound of the scaled-long
    * grid. */
  case object SquaredLoss extends MseMetric {
    def residual(z: Double, y: Double): Double = z - y
    def residualSql(z: String, y: String): String = s"(($z) - ($y))"
  }

  /** Hinge loss (linear SVC subgradient), y ∈ {−1,+1}:
    * r = −y when y·z < 1 else 0; metric = sign accuracy. */
  case object HingeLoss extends AccuracyMetric {
    def residual(z: Double, y: Double): Double = if (y * z < 1.0) -y else 0.0
    def residualSql(z: String, y: String): String =
      s"(CASE WHEN ($y) * ($z) < 1.0 THEN -($y) ELSE 0.0 END)"
    def predict(z: Double): Double = if (z > 0) 1.0 else -1.0
    def predictSql(z: String): String = s"CASE WHEN ($z) > 0 THEN 1 ELSE -1 END"
  }

  /** A derived-feature generator for wide fits whose k model features
    * are cheap functions of a much smaller raw column set (RFF cosines,
    * random-projection activations). Past the [[featCacheMaxBytes]]
    * budget the chunk cache stores the RAW doubles only — (nRaw+1)/(k+1)
    * of the feature-cache bytes — and
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
    * 9.6 GB raw). It is HEAP-AWARE: half the JVM's max heap, capped at
    * 24 GB — a fixed constant near the heap size lets a cache that
    * "fits the budget" still OOM the executor, because MemoryStore
    * accounts unroll memory only every few elements and a 17 MB-chunk
    * cache build overshoots the storage pool across 32 concurrent
    * tasks before spill engages (measured: 15.8 GB cache, 24 GB heap →
    * executor OOM; same cache, 48 GB heap → fine). On a real cluster
    * the per-executor slice of the cache shrinks with the executor
    * count while maxMemory is per-executor, so the same rule holds. */
  private[graft] def featCacheMaxBytes: Long =
    math.min(24L << 30, Runtime.getRuntime.maxMemory / 2)

  /** z = w·x + b of the row at `off`: the products added left to right
    * in ascending feature order, then the intercept — the order of the
    * SQL twin's expression. */
  private def score(w: Array[Double], ch: Array[Double], off: Int): Double = {
    val k = w.length - 1
    var z = 0.0
    var i = 0
    while (i < k) { z += ch(off + i) * w(i); i += 1 }
    z + w(k)
  }

  /** Full-batch GD over `loss`.
    * @param feats (name, expression) pairs, pre-scaled to [-1,1]
    * @param y     label expression (0/1 logistic, real SVR, ±1 hinge)
    * @param gen   optional raw-column generator for the chunk cache
    * @return one row: final weights, intercept, training metric (NULL
    *         on empty input). Fails on a NULL feature or label cell and
    *         on max|x| > 1 or NaN. */
  def linearGD(df: DataFrame, feats: Seq[(String, Column)], y: Column,
               iterations: Int, lr: Double, loss: GDLoss,
               gen: Option[FeatureGen] = None): DataFrame =
    linearGDWithin(df, feats, y, iterations, lr, loss, gen, featCacheMaxBytes)

  /** [[linearGD]] with the gen path's expanded-cache budget given. */
  private[graft] def linearGDWithin(df: DataFrame, feats: Seq[(String, Column)],
      y: Column, iterations: Int, lr: Double, loss: GDLoss,
      gen: Option[FeatureGen], cacheMaxBytes: Long): DataFrame = {
    val spark = df.sparkSession
    val k = feats.size
    // NULL cells are counted while the cache is built: Row.getDouble
    // would read them as 0.0
    val nulls = spark.sparkContext.longAccumulator("graft.sgd.nulls")
    def cacheOf(xs: Seq[Column]) =
      Rounds.doubles(df.select(xs :+ y.cast("double").as("y"): _*), nulls)
    // Gen path: when the EXPANDED feature cache fits the budget, build
    // it straight from the Column expressions — one materialization
    // with the feature math inside the codegen'd scan (the earlier
    // raw-chunks-then-JVM-expand branch paid a second materialization
    // for the same doubles: +78% on ml_svm_rbf at sf1m). Only past the
    // budget does the raw chunk cache + per-pass JVM expansion kick in
    // — the single-box survival path when expanded features dwarf
    // memory. KernelSVMSpec pins the two branches bit-equal, so the
    // choice is invisible in results; it costs one column-pruned count
    // of the input. The passes get the expansion FUNCTION only —
    // FeatureGen holds Columns and must never enter a task closure.
    val (cache, expand) = gen match {
      case Some(g) if df.count() * (k + 1) * 8L > cacheMaxBytes =>
        (cacheOf(g.raw.zipWithIndex.map { case (c, i) => c.as(s"r_$i") }),
          Some(g.expandChunk))
      case _ =>
        (cacheOf(feats.map { case (n, f) => f.cast("double").as(s"x_$n") }), None)
    }
    // the feature chunks every pass reads (stride k+1)
    val chunks = expand.fold(cache)(f => cache.map(f))
    val (w, metric) = try {
      val (n, maxAbs) = Rounds.envelope(chunks, k + 1, k)
      require(nulls.value == 0L,
        s"SGD: ${nulls.value} NULL feature/label cells (filter or impute NULLs first)")
      // per-TERM envelope only: |r·x| ≤ 1 keeps round(t·10¹²) exact in
      // a double at ANY row count (the Rounds.Acc sums cannot overflow;
      // the twin's SUM(BIGINT) accumulates in HUGEINT)
      require(maxAbs <= 1.0,
        s"SGD envelope: max|x|=$maxAbs (pre-scale features to [-1,1])")
      var w = Array.fill(k + 1)(0.0) // weights + intercept, zero init
      for (_ <- 1 to iterations if n > 0) {
        val g = Rounds.pass(chunks, w, k + 1) { (ws, ch, a) =>
          var off = 0
          while (off < ch.length) {
            val r = loss.residual(score(ws, ch, off), ch(off + k))
            if (r != 0.0) {
              var j = 0
              while (j < k) {
                a.add(j, Rounds.roundScaled(r * ch(off + j), 1e12)); j += 1
              }
              a.add(k, Rounds.roundScaled(r, 1e12))
            }
            off += k + 1
          }
        }
        w = Array.tabulate(k + 1)(i =>
          math.rint((w(i) - lr * g.value(i, 1e12) / n) * 1e10) / 1e10)
      }
      // the metric's exact sum over the final weights, then Catalyst's
      // round(sum / n, 6)
      val metric = if (n == 0) None else {
        val m = Rounds.pass(chunks, w, 1) { (ws, ch, a) =>
          var off = 0
          while (off < ch.length) {
            a.add(0, loss.metricTerm(score(ws, ch, off), ch(off + k)))
            off += k + 1
          }
        }
        Some(Rounds.roundHalfUp(m.value(0, loss.metricGrid) / n, 6))
      }
      (w, metric)
    } finally cache.unpersist(false)

    // an accuracy is non-NULL whenever there are rows; the mse column
    // is declared nullable either way, the query outputs' schema
    val schema = StructType(
      feats.map { case (n, _) => StructField(s"w_$n", DoubleType, nullable = false) } :+
      StructField("intercept", DoubleType, nullable = false) :+
      StructField(loss.metricName, DoubleType,
        nullable = metric.isEmpty || loss.isInstanceOf[MseMetric]))
    spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row.fromSeq(w.toSeq :+ metric.getOrElse(null))), 1), schema)
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
    val names = featsSql.map(_._1)
    val wCols = names.map(n => s"w_$n") :+ "b"
    val init = wCols.map(c => s"CAST(0.0 AS DOUBLE) AS $c").mkString(", ")
    def z(it: String) = featsSql.map { case (n, e) =>
      s"$it.w_$n * ($e)" }.mkString(" + ") + s" + $it.b"
    val steps = (1 to iterations).map { i =>
      val prev = s"it${i - 1}"
      val r = loss.residualSql(z(prev), ySql)
      val upd = featsSql.map { case (n, e) =>
        s"ROUND(MIN($prev.w_$n) - $lr * ${scaledLongSumSql(s"($r) * ($e)")} / COUNT(*), 10) AS w_$n"
      } :+
        s"ROUND(MIN($prev.b) - $lr * ${scaledLongSumSql(r)} / COUNT(*), 10) AS b"
      // MATERIALIZED: each step is a 1-row table; letting the inliner
      // expand the 30-deep chain instead blows DuckDB's max tree depth
      // once the feature count is large (32 RFF columns)
      s"it$i AS MATERIALIZED (SELECT ${upd.mkString(",\n  ")} FROM $table CROSS JOIN $prev)"
    }
    val last = s"it$iterations"
    val metric = loss.metricSql(z(last), ySql)
    s"""WITH ${prelude}it0 AS (SELECT $init),
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
