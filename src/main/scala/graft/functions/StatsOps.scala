package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Statistics operators: basic stats, distributions, contingency,
  * correlations, FDR — reference: Orange/statistics/basic_stats.py:18-60,
  * distribution.py:32-334, contingency.py:31-300, util.py:224-380,757;
  * widgets owcorrelations.py:266, owfeaturestatistics.py:737.
  *
  * All are single aggregation passes (one shuffle max). Basic stats over
  * N columns is ONE scan with N×5 aggregate expressions — the same shape
  * Orange's `stats()` computes per-block, but distributed.
  */
object StatsOps {

  /** Per-column min/max/mean/var/#nan/#non-nan (basic_stats.py:18-60) in a
    * single pass; output = one row with `<col>_<stat>` columns.
    * Moments ride the exactSumFast long grid (caller bound:
    * |column| < 2.25e9); the variance's SQUARE sum additionally needs
    * |column|² inside the envelope — name such columns in `sqFast`
    * (money-scale squares like extendedprice² ≈ 1.3e10 exceed it and
    * keep that one sum decimal). */
  def basicStats(df: DataFrame, cols: Seq[String],
                 sqFast: Set[String] = Set.empty): DataFrame = {
    val aggs = cols.flatMap { c =>
      val v = col(c)
      Seq(
        min(v).as(s"${c}_min"),
        max(v).as(s"${c}_max"),
        exactMeanFast(v).as(s"${c}_mean"),
        exactVarSampFast(v, sqFast = sqFast(c)).as(s"${c}_var"),
        (count(lit(1)) - count(v)).as(s"${c}_nans"),
        count(v).as(s"${c}_nonnans"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Distribution of a column: (value, weighted count) sorted by value
    * (distribution.py:32-334). */
  def distribution(df: DataFrame, c: String,
                   weight: Option[String] = None): DataFrame = {
    // long-grid fast sum: weights are 1.0 (or caller-audited small) —
    // far inside the 4.6e12 envelope
    val w = weight.map(col(_)).getOrElse(lit(1.0))
    df.groupBy(col(c)).agg(exactSumFast(w).as("freq")).orderBy(col(c))
  }

  /** Contingency: counts over a (rowVar, colVar) pair, long form —
    * scalable version of the reference's dense matrix
    * (contingency.py:31-300). */
  def contingency(df: DataFrame, rowVar: String, colVar: String): DataFrame =
    df.groupBy(col(rowVar), col(colVar)).agg(count(lit(1)).as("n"))

  /** Sieve / mosaic display statistics (widgets/visualize/owsieve.py:45-54,
    * owmosaic.py): per contingency cell, the expected count under
    * independence, the Pearson residual (obs − exp)/√exp and its χ²
    * contribution. The fact table collapses to the contingency first;
    * marginals come from windows over that tiny grouped table — the
    * 100 TB shape (observed cell combos only, like the reference's
    * contingency-based computation). */
  def sieveResiduals(df: DataFrame, rowVar: String,
                     colVar: String): DataFrame = {
    val cont = contingency(df, rowVar, colVar)
    val byRow = Window.partitionBy(col(rowVar))
    val byCol = Window.partitionBy(col(colVar))
    val tot = Window.partitionBy()
    val e = (sum(col("n")).over(byRow) * sum(col("n")).over(byCol))
      .cast("double") / sum(col("n")).over(tot)
    cont
      .withColumn("expected", round(e, 6))
      .withColumn("residual",
        round((col("n") - e) / sqrt(e), 6))
      .withColumn("chisq",
        round(pow(col("n") - e, 2) / e, 6))
      .orderBy(col(rowVar), col(colVar))
  }

  /** Benjamini–Hochberg FDR correction (statistics/util.py:757):
    * given (key, pvalue) rows, adjusted = min over j>=i of p_j*n/j,
    * computed with two windows (rank + reverse running min). */
  def fdrBH(df: DataFrame, key: String, p: String): DataFrame = {
    val n = Window.partitionBy()
    val byP = Window.orderBy(col(p).asc, col(key).asc)
    val rev = Window.orderBy(col(p).desc, col(key).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__n", count(lit(1)).over(n))
      .withColumn("__i", row_number().over(byP))
      .withColumn("__raw", col(p) * col("__n") / col("__i"))
      .withColumn("fdr", least(min(col("__raw")).over(rev), lit(1.0)))
      .select(col(key), col(p), col("fdr"))
  }

  /** Entropy-based feature scores from a contingency (InfoGain/GainRatio/
    * Gini — preprocess/score.py:298-337): pure aggregations over the
    * (feature value × class) count table. Returns one row per metric. */
  def infoGain(df: DataFrame, feature: String, target: String): DataFrame = {
    val cont = df.groupBy(col(feature), col(target)).agg(count(lit(1)).as("n"))
    val tot  = cont.agg(sum("n").as("total"))
    val byF  = cont.groupBy(col(feature)).agg(sum("n").as("nf"))
    val byC  = cont.groupBy(col(target)).agg(sum("n").as("nc"))
    // H(C) − Σ_f p(f) H(C|f); all exact integer counts → double math at end
    val hC = byC.crossJoin(tot)
      .select((-(col("nc") / col("total")) * log2(col("nc") / col("total"))).as("t"))
      .agg(sum("t").as("h_class"))
    val hCgivenF = cont.join(byF, feature).crossJoin(tot)
      .select((col("nf") / col("total") *
        (-(col("n") / col("nf")) * log2(col("n") / col("nf")))).as("t"))
      .agg(sum("t").as("h_cond"))
    hC.crossJoin(hCgivenF)
      .select((col("h_class") - col("h_cond")).as("info_gain"),
              col("h_class"), col("h_cond"))
  }

  /** Gain ratio = InfoGain / H(feature) (score.py:308-325, Quinlan 1986;
    * H(feature)=0 falls back to 1 as in the reference). One row:
    * (gain_ratio, info_gain, h_attr). Same contingency shuffle shape as
    * [[infoGain]]; all sums via detSum for oracle bit-stability. */
  def gainRatio(df: DataFrame, feature: String, target: String): DataFrame =
    gainRatioFromCont(df.groupBy(col(feature).as("f"), col(target).as("c"))
      .agg(count(lit(1)).as("n")))

  /** gainRatio over a pre-computed (f, c, n) contingency — lets callers
    * scoring MANY features share one grouping-sets scan instead of one
    * contingency shuffle per feature (see multiFeatureContingency). */
  def gainRatioFromCont(cont: DataFrame): DataFrame = {
    val tot  = cont.agg(sum("n").as("total"))
    val byF  = cont.groupBy(col("f")).agg(sum("n").as("nf"))
    val byC  = cont.groupBy(col("c")).agg(sum("n").as("nc"))
    val hC = byC.crossJoin(tot).agg(
      detSum(-(col("nc") / col("total")) * log2(col("nc") / col("total")))
        .as("h_class"))
    val hCond = cont.join(byF, "f").crossJoin(tot).agg(
      detSum((col("nf") / col("total")) *
        (-(col("n") / col("nf")) * log2(col("n") / col("nf")))).as("h_cond"))
    val hAttr = byF.crossJoin(tot).agg(
      detSum(-(col("nf") / col("total")) * log2(col("nf") / col("total")))
        .as("h_attr"))
    hC.crossJoin(hCond).crossJoin(hAttr).select(
      round((col("h_class") - col("h_cond")) /
        when(col("h_attr") === 0, 1.0).otherwise(col("h_attr")), 6)
        .as("gain_ratio"),
      round(col("h_class") - col("h_cond"), 6).as("info_gain"),
      round(col("h_attr"), 6).as("h_attr"))
  }

  /** Every per-feature (feature-value, class) contingency in ONE scan and
    * ONE shuffle via GROUPING SETS — the wide-scoring shape (owrank.py
    * scores every feature of the domain; a separate contingency per
    * feature would re-scan the fact table |features| times). The shared
    * result is ≤ Σ_f |values(f)|·|classes| rows, checkpointed once; the
    * returned per-feature slices are cheap filters on it, keyed by
    * grouping_id so genuine NULL feature values can't collide with the
    * grouping-set placeholder NULLs. */
  def multiFeatureContingency(df: DataFrame, feats: Seq[String],
                              target: String): Map[String, DataFrame] = {
    val gcols = feats.map(col) :+ col(target)
    val sets  = feats.map(f => Seq(col(f), col(target)))
    val cont = df.groupingSets(sets, gcols: _*)
      .agg(count(lit(1)).as("n"), grouping_id().as("__gid"))
      .localCheckpoint(eager = true)
    val k = feats.size
    val all = (1 << (k + 1)) - 1 // every column excluded
    feats.zipWithIndex.map { case (f, i) =>
      // bit weight of column j in grouping_id is 2^(k−j), target is bit 0
      val gid = all - (1 << (k - i)) - 1
      f -> cont.filter(col("__gid") === gid)
        .select(col(f).as("f"), col(target).as("c"), col("n"))
    }.toMap
  }

  /** Gini gain = Gini(class) − Σ_f p(f)·Gini(class|f) (score.py:328-337,
    * `_gini` at score.py:245-250). One row:
    * (gini_gain, gini_class, gini_cond). */
  def giniGain(df: DataFrame, feature: String, target: String): DataFrame =
    giniGainFromCont(df.groupBy(col(feature).as("f"), col(target).as("c"))
      .agg(count(lit(1)).as("n")))

  /** giniGain over a pre-computed (f, c, n) contingency (see gainRatioFromCont). */
  def giniGainFromCont(cont: DataFrame): DataFrame = {
    val tot  = cont.agg(sum("n").as("total"))
    val byF  = cont.groupBy(col("f")).agg(sum("n").as("nf"))
    val byC  = cont.groupBy(col("c")).agg(sum("n").as("nc"))
    val gClass = byC.crossJoin(tot).agg(
      (lit(1.0) - detSum((col("nc") / col("total")) * (col("nc") / col("total"))))
        .as("gini_class"))
    // Σ_f nf/total · (1 − Σ_c (n/nf)²)  =  Σ_f nf/total − Σ_{f,c} n²/(nf·total)
    val gCond = cont.join(byF, "f").crossJoin(tot).agg(
      (lit(1.0) - detSum(col("n") * col("n") / (col("nf") * col("total"))))
        .as("gini_cond"))
    gClass.crossJoin(gCond).select(
      round(col("gini_class") - col("gini_cond"), 6).as("gini_gain"),
      round(col("gini_class"), 6).as("gini_class"),
      round(col("gini_cond"), 6).as("gini_cond"))
  }
}
