package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.queries.SqlGen._

/** Depth-2 decision-tree induction over discrete features (reference
  * Orange/tree.py — Orange's own `SklTreeLearner` / `TreeLearner` on
  * discretized inputs; multiway ID3-style splits on entropy, which is
  * what Orange's tree does for discrete attributes).
  *
  * The induction is expressed as pure contingency algebra so it is
  * oracle-verifiable:
  *
  *  - level 1: ONE map-side-combined groupBy builds the (feature, value,
  *    class) contingency; the split criterion H(class|feature) is a
  *    detSum over that tiny table; argmin via a window rank over
  *    (#features) rows.
  *  - level 2: same shape conditioned on the root branch — groupBy
  *    (branch, feature, value, class), rank per branch.
  *  - leaves: majority class per (branch, child value) from the same
  *    contingency — no further scan.
  *
  * Scale shape: two corpus scans total (one per level), each reducing to
  * a contingency of ~|features|·|values|·|classes| rows; every window
  * runs over that reduced table, never the corpus. Tie-breaks are pinned
  * by rounding the entropy to 10 decimals and ordering (h ASC, feature
  * ASC), identical in the SQL twin.
  */
object DecisionTree {

  /** Fit the depth-2 tree and emit its leaves:
    * (root_feature, root_value, leaf_feature, leaf_value, n, majority,
    * n_majority). `feats` are (name, discrete expression) pairs — cast
    * to string internally; `cls` is the discrete class expression. */
  def depth2(df: DataFrame, feats: Seq[(String, Column)],
             cls: Column): DataFrame = {
    val base = df.select(
      feats.map { case (n, c) => c.cast("string").as(s"f_$n") } :+
        cls.cast("string").as("cls"): _*)
      .filter(col("cls").isNotNull)

    // one scan → long form (feature name, value, class)
    val long1 = base.select(explode(array(feats.map { case (n, _) =>
      struct(lit(n).as("fname"), col(s"f_$n").as("fval"))
    }: _*)).as("fv"), col("cls"))
      .select(col("fv.fname"), col("fv.fval"), col("cls"))

    // Eagerly checkpoint the contingency: it is TINY
    // (|features|·|values|·|classes| rows) but consumed by several
    // downstream subtrees (entropy ranks, the leaf join), and without
    // materialization Catalyst inlines the whole corpus scan into each
    // consumer — the physical plan held 8 parquet scans / 24 exchanges
    // for a conceptually 2-scan induction (r16 plan audit). With the
    // two contingencies pinned, the corpus is scanned exactly twice.
    val cont1 = long1.groupBy(col("fname"), col("fval"), col("cls"))
      .agg(count(lit(1)).as("nvc"))
      .localCheckpoint(true)
    val wV1 = Window.partitionBy(col("fname"), col("fval"))
    val wF1 = Window.partitionBy(col("fname"))
    val h1 = cont1
      .withColumn("nv", sum(col("nvc")).over(wV1))
      .withColumn("nt", sum(col("nvc")).over(wF1))
      .groupBy(col("fname"))
      .agg(round(detSum(-(col("nvc") / col("nt")) *
        log2(col("nvc") / col("nv"))), 10).as("h_cond"))
    val pick1 = h1
      .withColumn("rk", row_number().over(
        Window.orderBy(col("h_cond").asc, col("fname").asc)))
      .filter(col("rk") === 1)
      .select(col("fname").as("root_feat"))

    // branch value of the dynamically chosen root, per row
    val base2 = base.crossJoin(broadcast(pick1))
      .withColumn("root_val", coalesce(feats.map { case (n, _) =>
        when(col("root_feat") === n, col(s"f_$n")) }: _*))

    val long2 = base2.select(col("root_feat"), col("root_val"), col("cls"),
      explode(array(feats.map { case (n, _) =>
        struct(lit(n).as("fname"), col(s"f_$n").as("fval"))
      }: _*)).as("fv"))
      .filter(col("fv.fname") =!= col("root_feat"))
      .select(col("root_feat"), col("root_val"),
        col("fv.fname"), col("fv.fval"), col("cls"))

    val cont2 = long2
      .groupBy(col("root_feat"), col("root_val"), col("fname"),
        col("fval"), col("cls"))
      .agg(count(lit(1)).as("nvc"))
      .localCheckpoint(true) // second (and last) corpus scan
    val wV2 = Window.partitionBy(col("root_val"), col("fname"), col("fval"))
    val wF2 = Window.partitionBy(col("root_val"), col("fname"))
    val h2 = cont2
      .withColumn("nv", sum(col("nvc")).over(wV2))
      .withColumn("nt", sum(col("nvc")).over(wF2))
      .groupBy(col("root_val"), col("fname"))
      .agg(round(detSum(-(col("nvc") / col("nt")) *
        log2(col("nvc") / col("nv"))), 10).as("h_cond"))
    val pick2 = h2
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("root_val"))
          .orderBy(col("h_cond").asc, col("fname").asc)))
      .filter(col("rk") === 1)
      .select(col("root_val"), col("fname").as("leaf_feat"))

    val joined = cont2.as("c").join(pick2.as("p"),
        col("c.root_val") === col("p.root_val") &&
        col("c.fname") === col("p.leaf_feat"))
      .select(col("c.root_feat").as("root_feature"),
        col("c.root_val").as("root_value"),
        col("p.leaf_feat").as("leaf_feature"),
        col("c.fval").as("leaf_value"),
        col("c.cls").as("cls"), col("c.nvc").as("nvc"))
    val leafW = Window.partitionBy(col("root_value"), col("leaf_value"))
    joined
      .withColumn("n", sum(col("nvc")).over(leafW))
      .withColumn("rk", row_number().over(
        leafW.orderBy(col("nvc").desc, col("cls").asc)))
      .filter(col("rk") === 1)
      .select(col("root_feature"), col("root_value"), col("leaf_feature"),
        col("leaf_value"), col("n"), col("cls").as("majority"),
        col("nvc").as("n_majority"))
      .orderBy(col("root_value"), col("leaf_value"))
  }

  /** DuckDB twin of [[depth2]]: the same contingency/entropy/rank
    * pipeline as chained CTEs — identical detSum grid and tie order. */
  def depth2Sql(table: String, feats: Seq[(String, String)],
                clsSql: String): String = {
    val longSel = feats.map { case (n, e) =>
      s"SELECT '$n' AS fname, CAST(($e) AS VARCHAR) AS fval, " +
        s"CAST(($clsSql) AS VARCHAR) AS cls FROM $table " +
        s"WHERE ($clsSql) IS NOT NULL"
    }.mkString("\n  UNION ALL\n  ")
    val term = "-(nvc * 1.0 / nt) * LOG2(nvc * 1.0 / nv)"
    s"""WITH long1 AS (
       |  $longSel),
       |cont1 AS (
       |  SELECT fname, fval, cls, COUNT(*) AS nvc
       |  FROM long1 GROUP BY 1, 2, 3),
       |ext1 AS (
       |  SELECT *,
       |    SUM(nvc) OVER (PARTITION BY fname, fval) AS nv,
       |    SUM(nvc) OVER (PARTITION BY fname) AS nt
       |  FROM cont1),
       |h1 AS (
       |  SELECT fname, ROUND(${sqlDetSum(term)}, 10) AS h_cond
       |  FROM ext1 GROUP BY fname),
       |pick1 AS (
       |  SELECT fname AS root_feat FROM h1
       |  ORDER BY h_cond ASC, fname ASC LIMIT 1),
       |base2 AS (
       |  SELECT CASE ${feats.map { case (n, e) =>
           s"WHEN root_feat = '$n' THEN CAST(($e) AS VARCHAR)" }
           .mkString(" ")} END AS root_val,
       |    root_feat, CAST(($clsSql) AS VARCHAR) AS cls,
       |    ${feats.map { case (n, e) =>
           s"CAST(($e) AS VARCHAR) AS f_$n" }.mkString(", ")}
       |  FROM $table CROSS JOIN pick1
       |  WHERE ($clsSql) IS NOT NULL),
       |long2b AS (
       |  ${feats.map { case (n, _) =>
           s"SELECT root_feat, root_val, '$n' AS fname, f_$n AS fval, cls " +
           s"FROM base2 WHERE root_feat <> '$n'" }
           .mkString("\n  UNION ALL\n  ")}),
       |cont2 AS (
       |  SELECT root_feat, root_val, fname, fval, cls, COUNT(*) AS nvc
       |  FROM long2b GROUP BY 1, 2, 3, 4, 5),
       |ext2 AS (
       |  SELECT *,
       |    SUM(nvc) OVER (PARTITION BY root_val, fname, fval) AS nv,
       |    SUM(nvc) OVER (PARTITION BY root_val, fname) AS nt
       |  FROM cont2),
       |h2 AS (
       |  SELECT root_val, fname, ROUND(${sqlDetSum(term)}, 10) AS h_cond
       |  FROM ext2 GROUP BY root_val, fname),
       |pick2 AS (
       |  SELECT root_val, fname AS leaf_feat FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY root_val
       |      ORDER BY h_cond ASC, fname ASC) AS rk FROM h2)
       |  WHERE rk = 1),
       |leaves AS (
       |  SELECT c.root_feat AS root_feature, c.root_val AS root_value,
       |    p.leaf_feat AS leaf_feature, c.fval AS leaf_value, c.cls,
       |    c.nvc,
       |    CAST(SUM(c.nvc) OVER (PARTITION BY c.root_val, c.fval)
       |      AS BIGINT) AS n,
       |    ROW_NUMBER() OVER (PARTITION BY c.root_val, c.fval
       |      ORDER BY c.nvc DESC, c.cls ASC) AS rk
       |  FROM cont2 c
       |  JOIN pick2 p ON p.root_val = c.root_val AND p.leaf_feat = c.fname)
       |SELECT root_feature, root_value, leaf_feature, leaf_value, n,
       |  cls AS majority, nvc AS n_majority
       |FROM leaves WHERE rk = 1
       |ORDER BY root_value, leaf_value""".stripMargin
  }

  /** Depth-2 REGRESSION tree (reference Orange/regression/tree.py:16
    * `TreeLearner` — Orange's own inducer at its binarize=False
    * default, tested at Orange/tests/test_tree.py:24
    * `test_regression`): multiway splits on discrete features scored
    * by the grouped-MSE decrease of
    * Orange/classification/_tree_scorers.pyx:323 `compute_grouped_MSE`
    *   score(f) = (Σ_v s_v²/n_v − (Σs_v)²/Σn_v) / N
    * where the Σ run over attribute values with ≥ `minLeaf` rows, N is
    * the node size including rows outside valid groups (the scorer's
    * missing-value punishment), and fewer than 2 valid groups scores 0
    * (the nvalid guard). Leaves predict the node MEAN (tree.py mean
    * leaves), argmax over features with ties → feature name ascending.
    *
    * Same two-scan contingency shape as [[depth2]]: each level reduces
    * the corpus to per-(feature, value) moment sums (n_v, Σy — ONE
    * map-side-combined groupBy), and every score/rank runs over that
    * tiny table. The inter terms s_v²/n_v go through the coarse
    * detSum(·, 6) grid (|t| can reach Σy·max y, too big for the 1e-12
    * grid — see Tables.detSum(scale)); leaf means are exact-decimal
    * sums rounded at 6. Deviation shared by both twins and the
    * classification twin: the depth-2 shape always splits, where the
    * reference would stop at a node whose best score is ≤ 0. Emits
    * (root_feature, root_value, leaf_feature, leaf_value, n, mean). */
  def depth2Regression(df: DataFrame, feats: Seq[(String, Column)],
                       y: Column, minLeaf: Int = 1): DataFrame = {
    val base = df.select(
      feats.map { case (n, c) => c.cast("string").as(s"f_$n") } :+
        y.cast("double").as("yy"): _*)
      .filter(col("yy").isNotNull)

    val long1 = base.select(explode(array(feats.map { case (n, _) =>
      struct(lit(n).as("fname"), col(s"f_$n").as("fval"))
    }: _*)).as("fv"), col("yy"))
      .select(col("fv.fname"), col("fv.fval"), col("yy"))

    // per-(feature, value) moment sums — null feature values KEPT as
    // their own group here (they stay outside the scored groups but
    // inside N, the missing-x punishment) so that the node total can
    // be derived from this same tiny table instead of a separate
    // corpus subtree. Eagerly checkpointed: it is |features|·|values|
    // rows but consumed by scores, totals and leaves — without
    // materialization Catalyst inlined the corpus scan into every
    // consumer (18 parquet scans / 34 exchanges for this conceptually
    // 2-scan induction, 32.6 s cold; r16 plan audit).
    val mom1all = long1
      .groupBy(col("fname"), col("fval"))
      // exactSumFast grid: |yy| is a fixture column ≤ money scale
      // (≪ 2.25e9) — this is the per-row corpus agg of the induction
      .agg(count(lit(1)).as("nv"), exactSumFast(col("yy")).as("sv"))
      .localCheckpoint(true)
    val mom1 = mom1all.filter(col("fval").isNotNull)
    // |base| = Σ nv over any one feature's groups (nulls included)
    val tot = mom1all.filter(col("fname") === feats.head._1)
      .agg(sum(col("nv")).cast("double").as("n_all"))
    val sc1 = mom1.filter(col("nv") >= minLeaf)
      .groupBy(col("fname"))
      .agg(detSum(col("sv") * col("sv") / col("nv"), 6).as("inter"),
        detSum(col("sv"), 6).as("ssum"),
        sum(col("nv")).cast("double").as("nn"),
        count(lit(1)).as("nvalid"))
      .crossJoin(broadcast(tot))
      .withColumn("score", when(col("nvalid") < 2, lit(0.0)).otherwise(
        round((col("inter") - col("ssum") * col("ssum") / col("nn")) /
          col("n_all"), 10)))
    val pick1 = sc1
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("fname").asc)))
      .filter(col("rk") === 1)
      .select(col("fname").as("root_feat"))

    val base2 = base.crossJoin(broadcast(pick1))
      .withColumn("root_val", coalesce(feats.map { case (n, _) =>
        when(col("root_feat") === n, col(s"f_$n")) }: _*))
      .filter(col("root_val").isNotNull)

    val long2 = base2.select(col("root_feat"), col("root_val"), col("yy"),
      explode(array(feats.map { case (n, _) =>
        struct(lit(n).as("fname"), col(s"f_$n").as("fval"))
      }: _*)).as("fv"))
      .filter(col("fv.fname") =!= col("root_feat"))
      .select(col("root_feat"), col("root_val"),
        col("fv.fname"), col("fv.fval"), col("yy"))

    // null-fval groups kept for the same reason as level 1; second
    // (and last) corpus scan
    val mom2all = long2
      .groupBy(col("root_feat"), col("root_val"), col("fname"),
        col("fval"))
      .agg(count(lit(1)).as("nv"), exactSumFast(col("yy")).as("sv"))
      .localCheckpoint(true)
    val mom2 = mom2all.filter(col("fval").isNotNull)
    // every base2 row contributes exactly (|feats|−1) long2 rows, so
    // the per-branch node size falls out of the same checkpointed table
    val tot2 = mom2all.groupBy(col("root_val"))
      .agg((sum(col("nv")) / lit(feats.size - 1)).cast("double")
        .as("n_all2"))
    val sc2 = mom2.filter(col("nv") >= minLeaf)
      .groupBy(col("root_val"), col("fname"))
      .agg(detSum(col("sv") * col("sv") / col("nv"), 6).as("inter"),
        detSum(col("sv"), 6).as("ssum"),
        sum(col("nv")).cast("double").as("nn"),
        count(lit(1)).as("nvalid"))
      .join(tot2, "root_val")
      .withColumn("score", when(col("nvalid") < 2, lit(0.0)).otherwise(
        round((col("inter") - col("ssum") * col("ssum") / col("nn")) /
          col("n_all2"), 10)))
    val pick2 = sc2
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("root_val"))
          .orderBy(col("score").desc, col("fname").asc)))
      .filter(col("rk") === 1)
      .select(col("root_val"), col("fname").as("leaf_feat"))

    mom2.as("m").join(pick2.as("p"),
        col("m.root_val") === col("p.root_val") &&
        col("m.fname") === col("p.leaf_feat"))
      .select(col("m.root_feat").as("root_feature"),
        col("m.root_val").as("root_value"),
        col("p.leaf_feat").as("leaf_feature"),
        col("m.fval").as("leaf_value"),
        col("m.nv").as("n"),
        round(col("m.sv") / col("m.nv"), 6).as("mean"))
      .orderBy(col("root_value"), col("leaf_value"))
  }

  /** DuckDB twin of [[depth2Regression]]: the same moment/score/rank
    * pipeline as chained CTEs — identical coarse detSum grid, score
    * rounding and tie order. */
  def depth2RegressionSql(table: String, feats: Seq[(String, String)],
                          ySql: String, minLeaf: Int = 1): String = {
    val longSel = feats.map { case (n, e) =>
      s"SELECT '$n' AS fname, CAST(($e) AS VARCHAR) AS fval, " +
        s"CAST(($ySql) AS DOUBLE) AS yy FROM $table " +
        s"WHERE ($ySql) IS NOT NULL"
    }.mkString("\n  UNION ALL\n  ")
    def scoreSql(nAll: String) =
      s"""CASE WHEN COUNT(*) < 2 THEN 0.0 ELSE
         |      ROUND((${sqlDetSum("sv * sv / nv", 6)}
         |        - ${sqlDetSum("sv", 6)} * ${sqlDetSum("sv", 6)}
         |          / CAST(SUM(nv) AS DOUBLE)) / MAX($nAll), 10)
         |    END AS score""".stripMargin
    s"""WITH long1 AS (
       |  $longSel),
       |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_all FROM $table
       |  WHERE ($ySql) IS NOT NULL),
       |mom1 AS (
       |  SELECT fname, fval, COUNT(*) AS nv, ${sqlSum("yy")} AS sv
       |  FROM long1 WHERE fval IS NOT NULL GROUP BY 1, 2),
       |sc1 AS (
       |  SELECT fname,
       |    ${scoreSql("t.n_all")}
       |  FROM mom1 CROSS JOIN tot t WHERE nv >= $minLeaf
       |  GROUP BY fname),
       |pick1 AS (SELECT fname AS root_feat FROM sc1
       |  ORDER BY score DESC, fname ASC LIMIT 1),
       |base2 AS (
       |  SELECT CASE ${feats.map { case (n, e) =>
           s"WHEN root_feat = '$n' THEN CAST(($e) AS VARCHAR)" }
           .mkString(" ")} END AS root_val,
       |    root_feat, CAST(($ySql) AS DOUBLE) AS yy,
       |    ${feats.map { case (n, e) =>
           s"CAST(($e) AS VARCHAR) AS f_$n" }.mkString(", ")}
       |  FROM $table CROSS JOIN pick1
       |  WHERE ($ySql) IS NOT NULL),
       |b2 AS (SELECT * FROM base2 WHERE root_val IS NOT NULL),
       |tot2 AS (SELECT root_val, CAST(COUNT(*) AS DOUBLE) AS n_all2
       |  FROM b2 GROUP BY root_val),
       |long2 AS (
       |  ${feats.map { case (n, _) =>
           s"SELECT root_feat, root_val, '$n' AS fname, f_$n AS fval, yy " +
           s"FROM b2 WHERE root_feat <> '$n'" }
           .mkString("\n  UNION ALL\n  ")}),
       |mom2 AS (
       |  SELECT root_feat, root_val, fname, fval, COUNT(*) AS nv,
       |    ${sqlSum("yy")} AS sv
       |  FROM long2 WHERE fval IS NOT NULL GROUP BY 1, 2, 3, 4),
       |sc2 AS (
       |  SELECT root_val, fname,
       |    ${scoreSql("t.n_all2")}
       |  FROM mom2 JOIN tot2 t USING (root_val) WHERE nv >= $minLeaf
       |  GROUP BY root_val, fname),
       |pick2 AS (SELECT root_val, fname AS leaf_feat FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY root_val
       |    ORDER BY score DESC, fname ASC) AS rk FROM sc2)
       |  WHERE rk = 1)
       |SELECT m.root_feat AS root_feature, m.root_val AS root_value,
       |  p.leaf_feat AS leaf_feature, m.fval AS leaf_value, m.nv AS n,
       |  ROUND(m.sv / m.nv, 6) AS mean
       |FROM mom2 m JOIN pick2 p ON p.root_val = m.root_val
       |  AND p.leaf_feat = m.fname
       |ORDER BY root_value, leaf_value""".stripMargin
  }
}
