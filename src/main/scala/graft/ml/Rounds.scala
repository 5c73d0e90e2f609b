package graft.ml

import java.math.{BigInteger, RoundingMode}
import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/** The round kernel of the hand-written JVM learners: [[Lloyd]],
  * [[Bisect]] (its splits run Lloyd's seed and rounds), [[OneClassSVM]],
  * [[SGD]], [[Softmax]], [[AdaBoost]] and [[GradBoost]]. Each learner
  * keeps only its per-row arithmetic and its driver-side update; this
  * object owns the rest:
  *
  *  - ONE CHUNK CACHE: the learner's input, projected once by Catalyst,
  *    persisted as row-major primitive chunks of up to 2¹⁶ rows — a
  *    double form ([[doubles]]) and a packed-bit form for binary columns
  *    ([[bits]]). One flat array per chunk instead of one object per
  *    row: the per-row form paid ~32 B of header per row, which at the
  *    sf100 rehearsal's 600M rows spilled a 34 GB cache past the store
  *    and re-read the spill every round. Chunks keep the partition's row
  *    order and every row's doubles, so the sums below see the same
  *    terms.
  *  - ONE EXACT ACCUMULATOR ([[Acc]]): integer slots that live in longs
  *    and spill into BigInteger before they could overflow, so a sum of
  *    grid terms is exact and order-independent at ANY row count. Its
  *    `value` is the exact integer, correctly rounded to a double, then
  *    divided by the grid — the two steps of
  *    [[graft.core.Tables.scaledLongSum]] and of its SQL twin, which
  *    round twice once the sum passes 2⁵³. Its `detSum` parses "Σk
  *    E-12" and rounds once, as [[graft.core.Tables.detSumFast]] does.
  *  - ONE ROUNDING ([[roundScaled]]) of a term onto its integer grid,
  *    and one driver-side twin of Catalyst's `round` ([[roundHalfUp]])
  *    for the results.
  *  - ONE PASS ([[pass]]): one job per round over the cache, plus the
  *    count + max|x| [[envelope]] pass. Lloyd and Bisect fold their
  *    envelope and seeding into one first pass and count their clusters
  *    in a final pass, so k-means plans no Catalyst query after the
  *    projection.
  *
  * The caller releases the cache it built, in a `finally`. */
private[ml] object Rounds {

  private val ChunkRows = 1 << 16

  /** `df`'s double columns as persisted chunks of stride
    * `df.schema.size`. With `dropNa`, a row holding a NULL or NaN is
    * skipped (`na.drop()`'s rule, applied while chunking instead of by a
    * Catalyst filter that re-evaluates every projected expression);
    * otherwise a NULL reads 0.0 and counts into `nulls` (Row.getDouble
    * would read it as 0.0 silently). Task retries can only over-count. */
  def doubles(df: DataFrame, nulls: LongAccumulator = null,
              dropNa: Boolean = false): RDD[Array[Double]] = {
    val st = df.schema.size
    df.rdd.mapPartitions { rows =>
      new Iterator[Array[Double]] {
        def hasNext: Boolean = rows.hasNext
        def next(): Array[Double] = {
          val buf = new Array[Double](ChunkRows * st)
          var n = 0
          while (n < ChunkRows && rows.hasNext) {
            val row = rows.next()
            val off = n * st
            var keep = true
            var i = 0
            while (i < st) {
              if (row.isNullAt(i)) {
                if (dropNa) keep = false
                else if (nulls != null) nulls.add(1L)
                buf(off + i) = 0.0
              } else {
                val v = row.getDouble(i)
                if (dropNa && v.isNaN) keep = false
                buf(off + i) = v
              }
              i += 1
            }
            if (keep) n += 1
          }
          if (n == ChunkRows) buf else java.util.Arrays.copyOf(buf, n * st)
        }
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Longs per row of a [[bits]] chunk of `width` columns. */
  def words(width: Int): Int = (width + 63) >> 6

  /** `df`'s binary double columns as persisted chunks of packed bits,
    * [[words]] longs per row: 1.0 sets the bit, `clear` clears it, and
    * any other value fails the task with `bad(value)`. The values are
    * unchanged, only stored in a 64th of the space (the sf10
    * rehearsal's 16-double form was 7.7 GB and spilled). */
  def bits(df: DataFrame, clear: Double,
           bad: Double => String): RDD[Array[Long]] = {
    val w = df.schema.size
    val nw = words(w)
    df.rdd.mapPartitions { rows =>
      new Iterator[Array[Long]] {
        def hasNext: Boolean = rows.hasNext
        def next(): Array[Long] = {
          val buf = new Array[Long](ChunkRows * nw)
          var n = 0
          while (n < ChunkRows && rows.hasNext) {
            val row = rows.next()
            val off = n * nw
            var i = 0
            while (i < w) {
              val v = row.getDouble(i)
              if (v == 1.0) buf(off + (i >> 6)) |= 1L << (i & 63)
              else if (v != clear) throw new IllegalArgumentException(bad(v))
              i += 1
            }
            n += 1
          }
          if (n == ChunkRows) buf else java.util.Arrays.copyOf(buf, n * nw)
        }
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Column `i` of the [[bits]] row at `off`. */
  @inline def bit(ch: Array[Long], off: Int, i: Int): Boolean =
    ((ch(off + (i >> 6)) >>> (i & 63)) & 1L) != 0L

  /** round(v·grid) as a long, HALF_UP away from zero on the product's
    * exact value: Math.round (post-JDK-8041734) is exact half-up toward
    * +∞ — no floor(t+0.5) bump at 0.49999999999999994, no ties-to-even
    * drift past 2⁵² — and negating for t < 0 gives away-from-zero, the
    * convention of DuckDB's ROUND. NOT Catalyst's `round`, which rounds
    * the product's shortest decimal repr: learners whose terms Catalyst
    * computes (Lloyd's [[graft.core.Tables.scaledLongTerm]]) keep them.
    * A NaN product or one past 2⁶² in magnitude (a diverged fit) fails,
    * as Catalyst's ANSI cast of the rounded product to a long does,
    * instead of saturating and overflowing an [[Acc]] slot. */
  def roundScaled(v: Double, grid: Double): Long = {
    val t = v * grid
    if (!(math.abs(t) <= Acc.MaxTerm))
      throw new ArithmeticException(s"$v on the $grid grid is NaN or past 2^62")
    if (t >= 0) Math.round(t) else -Math.round(-t)
  }

  /** Catalyst's `round(v, scale)` on a double: HALF_UP at `scale` of
    * the SHORTEST decimal repr (BigDecimal.valueOf), not of the exact
    * binary value — the two differ at decimal ties: 0.5000005 is
    * 0.500001 here and 0.5 by `new BigDecimal(v)`. NaN and ±Inf pass
    * through, as in Catalyst. */
  def roundHalfUp(v: Double, scale: Int): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v).setScale(scale, RoundingMode.HALF_UP).doubleValue

  /** Exact integer sums in `n` slots. A slot stays a long while
    * |sum| ≤ 2⁶² and spills into a BigInteger past that, so any term
    * with |t| ≤ 2⁶² adds without overflow. */
  final class Acc(n: Int) extends Serializable {
    private val lo = new Array[Long](n)
    private var hi: Array[BigInteger] = _

    def add(i: Int, t: Long): Unit = {
      val s = lo(i) + t
      if (s > Acc.SpillAt || s < -Acc.SpillAt) spill(i, s) else lo(i) = s
    }

    private def spill(i: Int, s: Long): Unit = {
      if (hi == null) hi = Array.fill(n)(BigInteger.ZERO)
      hi(i) = hi(i).add(BigInteger.valueOf(s))
      lo(i) = 0L
    }

    def merge(o: Acc): Acc = {
      if (o.hi != null) {
        if (hi == null) hi = o.hi
        else { var i = 0; while (i < n) { hi(i) = hi(i).add(o.hi(i)); i += 1 } }
      }
      var i = 0
      while (i < n) { add(i, o.lo(i)); i += 1 }
      this
    }

    /** Slot `i`'s exact sum. */
    def exact(i: Int): BigInteger =
      if (hi == null) BigInteger.valueOf(lo(i))
      else hi(i).add(BigInteger.valueOf(lo(i)))

    /** Slot `i` as a count. */
    def long(i: Int): Long = exact(i).longValueExact

    /** Slot `i`'s sum of grid terms as a double: the exact integer,
      * correctly rounded (BigInteger.doubleValue, like Spark's
      * DECIMAL→DOUBLE and the SQL twins' VARCHAR→DOUBLE), then ÷ grid. */
    def value(i: Int, grid: Double): Double = exact(i).doubleValue / grid

    /** Slot `i`'s sum of [[graft.core.Tables.detSumTerm]] grid longs as
      * [[graft.core.Tables.detSumFast]] returns it: "Σk E-12" parsed. */
    def detSum(i: Int): Double =
      java.lang.Double.parseDouble(exact(i).toString + "E-12")
  }

  object Acc {
    private val SpillAt = Long.MaxValue >> 1
    /** 2⁶²: the largest term magnitude `add` takes without overflow. */
    private[Rounds] val MaxTerm = (1L << 62).toDouble
  }

  /** One round: broadcasts `state`, folds every chunk of a partition
    * into one `slots`-slot [[Acc]] with `fold(state, chunk, acc)`, merges
    * the partitions' accumulators in one job and destroys the broadcast.
    * Slot sums are exact integers, so the result does not depend on the
    * partitioning. */
  def pass[C, S: ClassTag](chunks: RDD[C], state: S, slots: Int)(
      fold: (S, C, Acc) => Unit): Acc = {
    val bc = chunks.sparkContext.broadcast(state)
    try chunks.aggregate(new Acc(slots))(
      (acc, ch) => { fold(bc.value, ch, acc); acc }, _ merge _)
    finally bc.destroy()
  }

  /** (rows, max |x|) over the first `width` doubles of every
    * `stride`-wide row — the count + envelope pass; 0.0 when empty, NaN
    * when any of them is NaN (as Catalyst's `max` ranks NaN highest). */
  def envelope(chunks: RDD[Array[Double]], stride: Int,
               width: Int): (Long, Double) =
    chunks.aggregate((0L, 0.0))({ case ((n0, mx0), ch) =>
      var mx = mx0
      var off = 0
      while (off < ch.length) {
        var i = 0
        while (i < width) {
          mx = math.max(mx, math.abs(ch(off + i))); i += 1
        }
        off += stride
      }
      (n0 + ch.length / stride, mx)
    }, { case ((n1, m1), (n2, m2)) => (n1 + n2, math.max(m1, m2)) })
}
