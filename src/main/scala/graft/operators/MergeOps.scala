package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Orange's Merge Data operator (reference:
  * Orange/widgets/data/owmergedata.py:553-592) — a single equi-join in
  * three modes — plus the row-id semi/anti joins of Select-by-Data-Index
  * (owselectbydataindex.py:13).
  *
  * Spark-first notes:
  *   - We emit a plain `join` and let Catalyst pick broadcast vs
  *     sort-merge; callers can wrap the small side in `broadcast()`.
  *     Orange's own implementation is always a driver-side hash dict —
  *     the broadcast-hash plan is its true distributed analogue.
  *   - Orange rejects duplicate right-side keys ("1:N at most",
  *     owmergedata.py:453-495). `assertUniqueKeys` reproduces that as a
  *     cheap pre-join aggregation (count>1 → error), optional because at
  *     100 TB you usually *know* the dim table is unique.
  *   - NaN keys never match in Orange (owmergedata.py:558-561) — SQL
  *     equi-join on NULL has the same semantics for free.
  */
object MergeOps {

  /** "Append columns (left outer)" — owmergedata.py:553-572. */
  def mergeLeft(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_outer")

  /** "Concatenate tables, merge rows (full outer)" — owmergedata.py:582-592. */
  def mergeOuter(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "full_outer")

  /** Orange's duplicate-key rejection (owmergedata.py:453-495): throws if
    * any key occurs more than once. One aggregation, short-circuits via
    * limit(1) so it never collects more than one row. */
  def assertUniqueKeys(df: DataFrame, keys: Seq[String]): Unit = {
    val dup = df.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty, s"duplicate join keys on ${keys.mkString(",")}")
  }

  /** Select by Data Index: keep rows of `data` whose id occurs in
    * `subset` (semi) or doesn't (anti) — owselectbydataindex.py:13. */
  def semiJoin(data: DataFrame, subset: DataFrame, keys: Seq[String]): DataFrame =
    data.join(subset, keys, "left_semi")

  def antiJoin(data: DataFrame, subset: DataFrame, keys: Seq[String]): DataFrame =
    data.join(subset, keys, "left_anti")

  /** Salted equi-join for skewed keys — the tool for the case broadcast
    * can't solve: BOTH sides too large to broadcast and a handful of hot
    * keys funneling through single reducers. Every left row gets a
    * deterministic salt in [0, salts); the right side replicates once
    * per salt; the join key becomes (keys…, salt), so a hot key's rows
    * spread over `salts` reducers instead of one. Semantically
    * transparent (the oracle is the plain join) — pay `salts`× right-side
    * replication to cut the hot reducer by the same factor. Prefer
    * broadcast when one side fits (PlanSpec's 3-way join), and AQE's
    * skewedJoin for moderate skew; explicit salting is the deliberate
    * fallback when neither applies at 100 TB. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltFrom: Column, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(salts > 0)
    // right/full outer would emit each unmatched right row `salts` times
    // (the right side is replicated per salt before joining)
    require(Set("inner", "left", "left_outer", "leftouter")
      .contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left joins only, got $joinType")
    val l = left.withColumn("__salt",
      pmod(xxhash64(saltFrom), lit(salts.toLong)).cast("int"))
    val r = right.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    l.join(r, keys :+ "__salt", joinType).drop("__salt")
  }

  /** As-of join — for each left row, the most recent right row with the
    * same key and time <= the left row's time. Spark has no native asof
    * operator; rather than a custom SparkPlan, this composes existing
    * ops (the preferred tier): tag both sides, union, and run ONE
    * `last(value, ignoreNulls)` window per key in (time, side, tiebreak)
    * order — right rows deposit their value, left rows pick up the most
    * recent deposit. Cost = one shuffle on the key and a per-key sort,
    * the same partitioning a sort-merge join would need, with no range
    * explosion; skew on hot keys is bounded by the per-key sort, not a
    * pair blowup. Ties at equal time resolve right-before-left (the
    * standard asof "backward" inclusive semantics), then by `tiebreak`.
    * Right columns other than (key, time, value, tiebreak) are dropped —
    * project what you need into `value` first (use a struct for several).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               time: String, value: String,
               tiebreak: String): DataFrame = {
    val l = left.withColumn("__side", lit(1))
      .withColumn("__v", lit(null).cast(right.schema(value).dataType))
    val r = right.select(col(key), col(time), col(tiebreak),
        col(value).as("__v"))
      .withColumn("__side", lit(0))
    val leftCols = left.columns
    val w = Window.partitionBy(col(key))
      .orderBy(col(time).asc, col("__side").asc, col(tiebreak).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.select((leftCols.map(col) :+ col("__side") :+ col("__v")).toIndexedSeq: _*)
      .unionByName(r.select(
        (leftCols.map(c => if (c == key || c == time || c == tiebreak) col(c)
          else lit(null).cast(left.schema(c).dataType).as(c))
          :+ col("__side") :+ col("__v")).toIndexedSeq: _*))
      .withColumn("__asof", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__v")
      .withColumnRenamed("__asof", s"asof_$value")
  }

  /** As-of join, pandas `merge_asof(direction='nearest', tolerance=…)`
    * semantics: each left row takes the right row minimizing |Δtime|
    * within `tolerance`; distance ties pick the backward (earlier)
    * side, equal-time ties the largest `tiebreak` (the [[asofJoin]]
    * convention). Composed from TWO union-window passes — the
    * backward window and its time-reversed twin — over one key
    * shuffle; both windows share the hash partitioning, so the plan is
    * one exchange + two per-key sorts, never a time-range join
    * explosion. Adds `nearest_<value>` and the signed `nearest_dt`
    * (right − left), both null when nothing lies within tolerance. */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String,
                      time: String, value: String, tiebreak: String,
                      tolerance: Long): DataFrame = {
    val vType = right.schema(value).dataType
    val tType = right.schema(time).dataType
    val rv = struct(col(time).cast(tType).as("t"), col("__v").as("v"))
    val nullRv = lit(null).cast(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t", tType),
        org.apache.spark.sql.types.StructField("v", vType))))
    val leftCols = left.columns
    val l = left.withColumn("__side", lit(1)).withColumn("__rv", nullRv)
    val r = right.select(col(key), col(time), col(tiebreak),
        col(value).as("__v"))
      .withColumn("__side", lit(0)).withColumn("__rv", rv)
    val unioned = l
      .select((leftCols.map(col) :+ col("__side") :+ col("__rv"))
        .toIndexedSeq: _*)
      .unionByName(r.select(
        (leftCols.map(c =>
          if (c == key || c == time || c == tiebreak) col(c)
          else lit(null).cast(left.schema(c).dataType).as(c))
          :+ col("__side") :+ col("__rv")).toIndexedSeq: _*))
    val wb = Window.partitionBy(col(key))
      .orderBy(col(time).asc, col("__side").asc, col(tiebreak).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col(key))
      .orderBy(col(time).desc, col("__side").asc, col(tiebreak).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val db = col(time) - col("__b.t")   // ≥ 0 when backward match exists
    val df = col("__f.t") - col(time)   // ≥ 0 when forward match exists
    unioned
      .withColumn("__b", last(col("__rv"), ignoreNulls = true).over(wb))
      .withColumn("__f", last(col("__rv"), ignoreNulls = true).over(wf))
      .filter(col("__side") === 1)
      .withColumn(s"nearest_$value",
        when(col("__b").isNotNull && db <= tolerance &&
            (col("__f").isNull || df > tolerance || db <= df),
          col("__b.v"))
        .when(col("__f").isNotNull && df <= tolerance, col("__f.v")))
      .withColumn("nearest_dt",
        when(col("__b").isNotNull && db <= tolerance &&
            (col("__f").isNull || df > tolerance || db <= df), -db)
        .when(col("__f").isNotNull && df <= tolerance, df))
      .drop("__side", "__rv", "__b", "__f")
  }

  /** Venn-diagram disjoint-region counts over n keyed inputs
    * (widgets/visualize/owvenndiagram.py get_disjoint: for each of the
    * 2^n − 1 inclusion masks, the number of distinct keys present in
    * exactly that combination of inputs).
    *
    * Scale shape: each input collapses to its distinct keys tagged with
    * bit 2^i (map-side combine), the union groups by key ONCE summing the
    * bits (n inputs of any size → one shuffle on the key), and the final
    * mask→count agg is over distinct keys only. No joins, no 2^n passes —
    * the reference materializes 2^n Python sets; here every region falls
    * out of one bitmask aggregation. */
  def vennCounts(inputs: Seq[DataFrame], key: String): DataFrame = {
    require(inputs.nonEmpty && inputs.size <= 62, "1..62 inputs")
    val tagged = inputs.zipWithIndex.map { case (df, i) =>
      df.select(col(key).cast("string").as("__key"))
        .where(col("__key").isNotNull)
        .distinct()
        .select(col("__key"), lit(1L << i).as("__bit"))
    }
    tagged.reduce(_.unionByName(_))
      .groupBy(col("__key"))
      .agg(sum(col("__bit")).as("mask"))
      .groupBy(col("mask"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("mask"))
  }
}
