package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

/** Table loading + deterministic-arithmetic helpers.
  *
  * The engine's correctness gate is a differential compare against a DuckDB
  * oracle, so every aggregate we emit must be *bit-deterministic* across
  * engines. Double-precision SUM is order-dependent under parallel
  * execution; we therefore route sums through DECIMAL(38,6) (exact integer
  * arithmetic, associative, hence partition-order independent) and cast
  * back to double. Variance/correlation are then derived from those exact
  * sums with a fixed closed formula instead of the engines' (different)
  * streaming algorithms.
  *
  * Scale note: decimal sums are whole-stage-codegen'd in Spark and shuffle
  * exactly like double sums (map-side partial aggregation), so the 100 TB
  * plan shape is unchanged — only the accumulator type widens.
  */
object Tables {

  val AllTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one fixture table from an sf directory. Parquet → columnar scan
    * with predicate pushdown + column pruning for free.
    *
    * events.ts has been generated both as int64 epoch NANOSECONDS (read
    * as LONG under the nanosAsLong conf) and as a parquet µs timestamp;
    * normalize to the int64-nanos form every downstream window/gap
    * computation assumes — exact integer arithmetic, no double epoch()
    * precision loss above 2^53 ns. Sessions pin UTC, so the NTZ→LTZ cast
    * is wall-clock-preserving. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema.fieldNames.contains("ts") &&
        df.schema("ts").dataType != LongType)
      df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    else df
  }

  // ---------------------------------------------------------------------
  // Deterministic aggregate building blocks (oracle-exact)
  // ---------------------------------------------------------------------

  private val Dec = DecimalType(38, 6)

  /** Frees the block-manager storage behind an EAGER
    * `df.localCheckpoint(...)` result. Iterative operators (BPE merge
    * rounds, label propagation and Louvain moves, connected components,
    * the quantizer's centroid refinement, CN2 covering weights)
    * re-checkpoint a frame every round; without this, every superseded
    * round's blocks linger until driver GC happens to collect the RDD
    * reference — at sweep scale that's hundreds of orphaned block sets
    * inflating NEIGHBORING queries' wall time (the r15 in-sweep
    * contamination).
    * Only call on frames whose checkpoint is fully superseded: a
    * locally-checkpointed RDD cannot be recomputed after unpersist, so
    * any surviving reference would fail loudly rather than respill. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Order-independent exact sum of a double column. */
  def exactSum(c: Column): Column = sum(c.cast(Dec)).cast(DoubleType)

  /** Exact mean = exact sum / non-null count (single double division). */
  def exactMean(c: Column): Column = exactSum(c) / count(c)

  /** Sample variance (ddof=1, Orange's convention — reference
    * Orange/widgets/data/owgroupby.py:60-96) from exact sums:
    * (Σx² − (Σx)²/n) / (n−1). Deterministic across engines. */
  def exactVarSamp(c: Column): Column = {
    val s  = exactSum(c)
    val ss = sum((c * c).cast(Dec)).cast(DoubleType)
    val n  = count(c)
    (ss - s * s / n) / (n - lit(1))
  }

  def exactStdSamp(c: Column): Column = sqrt(exactVarSamp(c))

  /** Pearson correlation from exact sums — fixed closed formula, identical
    * bit pattern in Spark and DuckDB. */
  def exactCorr(x: Column, y: Column): Column = {
    val n   = count(x).cast(DoubleType)
    val sx  = exactSum(x);       val sy  = exactSum(y)
    val sxx = exactSum(x * x);   val syy = exactSum(y * y)
    val sxy = exactSum(x * y)
    (n * sxy - sx * sy) /
      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
  }

  /** Sample covariance from exact sums. */
  def exactCovarSamp(x: Column, y: Column): Column = {
    val n   = count(x).cast(DoubleType)
    val sx  = exactSum(x); val sy = exactSum(y)
    val sxy = exactSum(x * y)
    (sxy - sx * sy / n) / (n - lit(1))
  }

  /** Order-independent sum of small double terms: round each term to 12
    * decimals, sum as DECIMAL — deterministic across engines up to the
    * per-term libm ulp (absorbed by the rounding). Used wherever a sum of
    * *derived* doubles (entropy terms, distances, densities) feeds an
    * oracle-compared result. */
  def detSum(term: Column): Column =
    sum(round(term, 12).cast(DecimalType(38, 14))).cast(DoubleType)

  /** Split-radix digit sums of a long column, recombined exactly in
    * DECIMAL(38,0) per GROUP (three scalar ops, never per row): the
    * device shared by [[exactSumFast]], [[detSumFast]] and
    * [[scaledLongSum]]. Per-row digits are ≤ 2²¹, so a digit sum
    * only overflows past ~2⁴¹ rows per group. */
  private def gridDigitSum(k: Column): Column = {
    val m = lit((1L << 21) - 1)
    val dec = DecimalType(38, 0)
    val hi = sum(shiftright(k, 42)).cast(dec) * lit(1L << 42)
    val mid = sum(shiftright(k, 21).bitwiseAND(m)).cast(dec) * lit(1L << 21)
    val lo = sum(k.bitwiseAND(m)).cast(dec)
    hi + mid + lo
  }

  /** Opt-in fast path of [[exactSum]] — bit-identical (same
    * NULL/NaN/Inf skips, same correctly-rounded double) while
    * |c| < 2.25·10⁹ (= 2⁵¹/10⁶). Spark's double→DECIMAL(38,6) cast is
    * HALF_UP at scale 6 of the double's SHORTEST DECIMAL REPR
    * (BigDecimal(Double.toString)), and round(c, 6) applies the very
    * same operation before converting back to double — so
    * round(c, 6)·10⁶ sits within |k|·2⁻⁵² < 0.5 of the cast's integer k
    * and the half-up floor recovers k exactly (the proven detSumFast
    * recovery, at scale 6). The digit sums recombine Σk exactly and the
    * string-exponent cast parses correctly rounded — the same double the
    * decimal sum produced. Hot path: codegen'd long adds instead of a
    * per-row BigDecimal allocation.
    *
    * The bound is NOT widenable by splitting off the integer part:
    * beyond 2⁵¹ the rounded double physically cannot carry k's digits
    * (ulp > 10⁻⁶), and subtracting the integer part changes the
    * shortest-repr digits the cast sees (1.0000025 − 1 =
    * 2.4999999999…e-6 — a DIFFERENT half-up image). Sites with terms
    * beyond the envelope (extendedprice² ≈ 1.3·10¹⁰) keep THAT one sum
    * on the decimal path — see the mixed-moment helpers below. */
  def exactSumFast(c: Column): Column = {
    // same branch-free non-finite guard as detSumFast: c + c·0 is the
    // bit-exact identity on finite terms and sends ±Inf/NaN through NaN
    // to 0 (additive identity — the decimal cast's NULL-skip, modulo the
    // all-non-finite-group 0-vs-NULL deviation documented there); NULLs
    // propagate and are skipped identically. A when()-guard suppressed
    // codegen subexpression elimination across the digit sums.
    val k = floor(round(c + c * lit(0.0), 6) * lit(1e6) + lit(0.5))
    concat(gridDigitSum(k).cast(StringType), lit("E-6")).cast(DoubleType)
  }

  /** [[exactMean]] on the [[exactSumFast]] grid (same division).
    * Caller bound: |c| < 2.25·10⁹. */
  def exactMeanFast(c: Column): Column = exactSumFast(c) / count(c)

  /** [[exactVarSamp]] with Σc on the [[exactSumFast]] grid and Σc²
    * selectable: pass sqFast = false when |c|² can exceed the 2.25·10⁹
    * envelope (money-scale columns) — that one sum then stays on the
    * decimal path, bit-identical either way. */
  def exactVarSampFast(c: Column, sqFast: Boolean = true): Column = {
    val s  = exactSumFast(c)
    val ss = if (sqFast) exactSumFast(c * c)
             else sum((c * c).cast(Dec)).cast(DoubleType)
    val n  = count(c)
    (ss - s * s / n) / (n - lit(1))
  }

  def exactStdSampFast(c: Column, sqFast: Boolean = true): Column =
    sqrt(exactVarSampFast(c, sqFast))

  /** [[exactCorr]] with per-moment grid selection: sx/sy/sxy always ride
    * the fast grid (caller bound: |x|, |y|, |x·y| < 2.25·10⁹); pass
    * xxFast/yyFast = false for a side whose SQUARE exceeds the envelope. */
  def exactCorrFast(x: Column, y: Column, xxFast: Boolean = true,
                    yyFast: Boolean = true): Column = {
    val n   = count(x).cast(DoubleType)
    val sx  = exactSumFast(x);       val sy  = exactSumFast(y)
    val sxx = if (xxFast) exactSumFast(x * x) else exactSum(x * x)
    val syy = if (yyFast) exactSumFast(y * y) else exactSum(y * y)
    val sxy = exactSumFast(x * y)
    (n * sxy - sx * sy) /
      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
  }

  /** [[exactCovarSamp]] on the [[exactSumFast]] grid.
    * Caller bound: |x|, |y|, |x·y| < 2.25·10⁹. */
  def exactCovarSampFast(x: Column, y: Column): Column = {
    val n   = count(x).cast(DoubleType)
    val sx  = exactSumFast(x); val sy = exactSumFast(y)
    val sxy = exactSumFast(x * y)
    (sxy - sx * sy / n) / (n - lit(1))
  }

  /** Opt-in fast path of [[detSum]] for callers whose terms are
    * PROVABLY pre-scaled small: bit-identical while
    * max|term|·10¹² < 2⁵¹ (i.e. |term| ≲ 2.2·10³). Callers must argue
    * the bound at the call site — the r16 ScoringSpec fixture showed
    * raw-magnitude terms (LOF reach distances ~10⁹) silently saturate
    * the long grid where the decimal path stays exact, so this is NOT
    * a drop-in replacement for the general-purpose detSum. */
  def detSumFast(term: Column): Column = {
    // Bit-identical fast path of the decimal formulation
    //   sum(round(term, 12).cast(DecimalType(38, 14))).cast(double).
    // round(term, 12) is exactly k·10⁻¹² for an integer k (the shortest
    // decimal repr of the rounded double IS k·10⁻¹² while |k| ≲ 2⁵¹, so
    // the decimal cast recovers precisely k at scale 14), hence the
    // decimal sum is Σk·10⁻¹². The fast path recovers k per row as a
    // LONG — d·10¹² lands within |k|·2⁻⁵² ≪ 0.5 of k, so the half-up
    // floor is exact — and sums three radix-2²¹ digits as plain longs:
    // whole-stage-codegen primitive adds instead of a precision-38
    // decimal agg buffer that boxes a BigDecimal per row (measured ~3×
    // on moment scans, see scaledLongSum). The digit sums recombine in
    // DECIMAL (exact, per GROUP not per row) and Σk·10⁻¹² converts
    // through the string-exponent cast, which parses correctly rounded —
    // the same double the decimal cast produced.
    // Branch-free non-finite guard: t + t·0 is the bit-exact identity on
    // finite terms (t·0 = ±0, t ± 0 = t) and maps ±Inf/NaN to NaN, which
    // the floor→long cast lands at 0 — an additive identity, the same
    // net sum as the decimal path's NULL-skip whenever the group has any
    // finite term (the ADVICE r16 Inf corruption is gone; an ALL-
    // non-finite group yields 0 where decimal yields NULL — the
    // documented pre-r17 deviation, unreachable at the audited sites).
    // A CASE/when guard here (the first r17 cut) defeated codegen
    // subexpression elimination and re-evaluated the moment polynomial
    // once per digit sum: ml_linear_regression 3.8 → 8.2 s at sf1m.
    // Digit sums overflow only past 2⁴² rows per group.
    concat(gridDigitSum(detSumTerm(term)).cast(StringType), lit("E-12"))
      .cast(DoubleType)
  }

  /** The per-row grid long [[detSumFast]] adds (a non-finite term lands
    * at 0). Callers that sum the terms outside Catalyst (the one-class
    * SVM) take them from this column, like [[scaledLongTerm]]. */
  def detSumTerm(term: Column): Column =
    floor(round(term + term * lit(0.0), 12) * lit(1e12) + lit(0.5))

  /** detSum with an explicit rounding scale. Use a COARSER scale for
    * large-magnitude terms: round(t, 12) on |t| ≳ 10⁴ makes t·10¹²
    * exceed 2⁵³, where DuckDB's float-path ROUND loses ulps that
    * Spark's decimal-semantics ROUND doesn't — the engines then
    * disagree. Pick scale so max|t|·10^scale < 2⁵³.
    *
    * Deliberately NOT on the split-radix long fast path: coarse-scale
    * callers exist precisely because their terms are large (up to the
    * 2⁵³ grid edge, beyond the long path's 2⁵¹ exact-recovery bound),
    * and they all sum GROUP-level rows (dozens–thousands), where the
    * decimal accumulator costs nothing measurable. */
  def detSum(term: Column, scale: Int): Column =
    sum(round(term, scale).cast(DecimalType(38, scale + 2))).cast(DoubleType)

  /** Exact, overflow-proof sum of round(c·10¹²) at long speed: the
    * scaled long is decomposed into three radix-2²¹ digits (signed top
    * digit via arithmetic shift — x ≡ (x≫42)·2⁴² + ((x≫21)&M)·2²¹ +
    * (x&M) in two's complement), each digit summed as a plain long.
    * Per-row digit magnitude ≤ 2²¹, so a digit sum only overflows past
    * 2⁴² ≈ 4.4·10¹² rows PER GROUP; the three digit sums recombine in
    * DECIMAL(38,0) (three scalar ops per group, never per row). The
    * result is bit-identical to sum(x::DECIMAL(38,0)) — both are exact
    * integer sums — but the hot path stays in whole-stage codegen long
    * arithmetic with no per-row Decimal allocation (~3× on the corr
    * moment scans; sum(long) itself wrapped at the sf10 rehearsal's
    * 60M rows where Σ|term|·10¹² first passed 2⁶³). */
  def scaledLongSum(c: Column): Column =
    (gridDigitSum(scaledLongTerm(c)).cast(DoubleType) / lit(1e12)).cast(DoubleType)

  /** DuckDB-SQL twin of [[scaledLongSum]] over the SQL term `t`.
    * DuckDB sums the BIGINT terms as an exact HUGEINT; the sum converts
    * to DOUBLE through VARCHAR, because the decimal-string parse is
    * correctly rounded at any magnitude, like Spark's DECIMAL→DOUBLE,
    * while DuckDB 1.0's direct HUGEINT→DOUBLE cast can miss by an ulp
    * for negative sums and sums ≥ 2⁶⁴ (pinned by
    * tools/test_scaled_sum_sql.py). A BIGINT cast of the sum would
    * overflow past 2⁶³. */
  def scaledLongSumSql(t: String): String =
    s"(CAST(CAST(SUM(CAST(ROUND(($t) * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12)"

  /** The per-row term [[scaledLongSum]] adds: round(c·10¹²) as a long,
    * with Spark's HALF_UP `round`. Callers that sum the terms outside
    * Catalyst (the Lloyd round kernel) take them from this column, so
    * the rounding is never re-implemented. */
  def scaledLongTerm(c: Column): Column = round(c * lit(1e12), 0).cast(LongType)

  // ---------------------------------------------------------------------
  // Portable string hash (same value in Spark and in DuckDB oracle SQL)
  // ---------------------------------------------------------------------

  /** 32-bit unsigned integer from the first 8 hex chars of md5(s).
    * Spark side parses the hex directly via conv(); the oracle side
    * (hashVal32Sql) reconstructs the identical integer with an
    * instr-based nibble sum. Used for MinHash permutations, SimHash
    * bits and seeded "random" tie-breaks. */
  def hashVal32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast(LongType)

  /** DuckDB-SQL twin of [[hashVal32]]: Σ nibble(i)·16^(8−i) over the
    * first 8 hex chars of md5. */
  def hashVal32Sql(sExpr: String): String =
    (1 to 8).map { i =>
      s"(instr('0123456789abcdef', substring(md5($sExpr), $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
    }.mkString("(", " + ", ")")

  /** [[hashVal32]] read from hex chars [off, off+8) of the SAME digest —
    * one md5 yields several near-independent 32-bit draws (offsets up to
    * 25 fit the 32-char digest). Callers that need k hashes per row pay
    * ONE md5 instead of k: within a single projection Spark's
    * subexpression elimination evaluates the shared md5 once. */
  def hashVal32At(s: Column, off: Int): Column =
    conv(substring(md5(s), off, 8), 16, 10).cast(LongType)

  /** DuckDB-SQL twin of [[hashVal32At]]. */
  def hashVal32AtSql(sExpr: String, off: Int): String =
    (0 until 8).map { i =>
      s"(instr('0123456789abcdef', substring(md5($sExpr), ${off + i}, 1)) - 1) * ${math.pow(16, 7 - i).toLong}"
    }.mkString("(", " + ", ")")
}
