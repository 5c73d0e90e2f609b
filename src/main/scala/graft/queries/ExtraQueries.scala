package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Tables._
import graft.queries.SqlGen._

/** Remaining SURVEY §2 widget-operators: Purge (remove constant/unused),
  * Randomize (column shuffle), Create Instance, Rank / SelectBestFeatures. */
object ExtraQueries {

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def cust(s: SparkSession, d: String) = Tables.load(s, d, "customer")

  val all: Seq[Q] = Seq(

    Q("purge_remove_constant", // preprocess/remove.py:13-120 RemoveConstant:
      // per-column distinct/null profile → drop decision, one agg pass.
      (s, d) => {
        val p = Tables.load(s, d, "part")
        val cols = Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        val aggs = cols.flatMap { c => Seq(
          countDistinct(col(c)).as(s"${c}_distinct"),
          (count(lit(1)) - count(col(c))).as(s"${c}_nulls"))
        }
        val wide = p.agg(aggs.head, aggs.tail: _*)
        // long form: (column, n_distinct, n_nulls, keep)
        val rows = cols.map { c =>
          wide.select(lit(c).as("column_name"),
            col(s"${c}_distinct").as("n_distinct"),
            col(s"${c}_nulls").as("n_nulls"),
            (col(s"${c}_distinct") > 1).as("keep"))
        }
        rows.reduce(_.union(_)).orderBy(col("column_name"))
      },
      Some {
        val cols = Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        cols.map { c =>
          s"""SELECT '$c' AS column_name, COUNT(DISTINCT $c) AS n_distinct,
             |COUNT(*) - COUNT($c) AS n_nulls,
             |COUNT(DISTINCT $c) > 1 AS keep FROM part""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    Q("purge_remove_sparse", // preprocess/preprocess.py:572 RemoveSparse:
      // drop features whose zero-or-missing count exceeds a proportion
      // threshold (filter0 semantics). ONE wide aggregation profiles
      // every feature; the keep decision is pure arithmetic on it.
      (s, d) => {
        val cols = Seq("l_quantity", "l_discount", "l_tax")
        val thr = 0.05 // proportion, reference default
        val li = Tables.load(s, d, "lineitem")
        val aggs = count(lit(1)).as("n_rows") +: cols.map { c =>
          sum(when(col(c) === 0 || col(c).isNull, 1L).otherwise(0L))
            .as(s"${c}_sparse")
        }
        val wide = li.agg(aggs.head, aggs.tail: _*)
        cols.map { c =>
          wide.select(lit(c).as("column_name"),
            col(s"${c}_sparse").as("n_sparse"),
            (col(s"${c}_sparse") <= col("n_rows") * thr).as("keep"))
        }.reduce(_.union(_)).orderBy(col("column_name"))
      },
      Some {
        val cols = Seq("l_quantity", "l_discount", "l_tax")
        cols.map { c =>
          s"""SELECT '$c' AS column_name,
             |CAST(SUM(CASE WHEN $c = 0 OR $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_sparse,
             |SUM(CASE WHEN $c = 0 OR $c IS NULL THEN 1 ELSE 0 END)
             |  <= COUNT(*) * 0.05 AS keep
             |FROM lineitem""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    Q("select_random_features", // preprocess/fss.py:106
      // SelectRandomFeatures: keep a seeded random k of the features.
      // "Random" is the engine's portable md5 device (hashVal32 of
      // feature name + seed), so the draw is reproducible on any
      // cluster AND recomputable by the oracle — selection is a
      // data-independent domain transform, exactly like the reference
      // (it samples attribute NAMES, never scans rows).
      (s, d) => {
        import s.implicits._
        val feats = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax", "l_linenumber")
        val k = 2
        val hv = Tables.hashVal32(concat(col("feature"), lit("_seed7")))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("hv").asc, col("feature").asc)
        feats.toDF("feature")
          .withColumn("hv", hv)
          .withColumn("rank", row_number().over(w))
          .withColumn("selected", col("rank") <= k)
          .orderBy(col("feature"))
      },
      Some {
        val feats = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax", "l_linenumber")
        val values = feats.map(f => s"('$f')").mkString(", ")
        s"""WITH f(feature) AS (VALUES $values),
           |h AS (SELECT feature,
           |  ${Tables.hashVal32Sql("feature || '_seed7'")} AS hv FROM f),
           |r AS (SELECT feature, hv,
           |  ROW_NUMBER() OVER (ORDER BY hv ASC, feature ASC) AS rank
           |  FROM h)
           |SELECT feature, hv, rank, rank <= 2 AS selected
           |FROM r ORDER BY feature""".stripMargin
      }),

    Q("randomize_shuffle", // owrandomize.py: permute a column independently
      // of the rest — deterministic permutation via two row_number orders,
      // both through RankOps' two-pass distributed rank (a global
      // Window.orderBy would funnel the whole table through one task).
      (s, d) => {
        val base = cust(s, d)
        val left = graft.functions.RankOps.rowNumber(
          base.select(col("c_custkey"), col("c_mktsegment")),
          Seq(col("c_custkey")), "__rn")
        val perm = graft.functions.RankOps.rowNumber(
          base.select(col("c_acctbal")),
          Seq(md5(col("c_acctbal").cast("string")), col("c_acctbal")), "__rn")
        left.join(perm, "__rn")
          .select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal").as("shuffled_acctbal"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment, shuffled_acctbal FROM (
             |  SELECT c_custkey, c_mktsegment,
             |    ROW_NUMBER() OVER (ORDER BY c_custkey) AS rn
             |  FROM customer) a
             |JOIN (
             |  SELECT c_acctbal AS shuffled_acctbal,
             |    ROW_NUMBER() OVER (ORDER BY md5(CAST(c_acctbal AS VARCHAR)),
             |                                c_acctbal) AS rn
             |  FROM customer) b USING (rn)
             |ORDER BY c_custkey""".stripMargin)),

    Q("create_instance", // owcreateinstance.py: synthesize a mean/median row
      (s, d) => {
        val c = cust(s, d).select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val synth = cust(s, d).agg(
          lit(-1L).as("c_custkey"), lit("synthetic#mean").as("c_name"),
          exactMeanFast(col("c_acctbal")).as("c_acctbal")) // acctbal ≤ ~1.1e4: fast grid
        c.unionByName(synth).orderBy(col("c_custkey"))
      },
      Some(s"""SELECT c_custkey, c_name, c_acctbal FROM customer
              |UNION ALL
              |SELECT -1 AS c_custkey, 'synthetic#mean' AS c_name,
              |  ${sqlMean("c_acctbal")} AS c_acctbal FROM customer
              |ORDER BY c_custkey""".stripMargin)),

    Q("rank_features", // owrank.py + SelectBestFeatures (fss.py:16-104):
      // the Rank widget's three default scorers (InfoGain / GainRatio /
      // Gini, score.py:298-337) per discretized feature, ranked by gain.
      (s, d) => {
        val base = li(s, d)
          .withColumn("qty_bin", floor(col("l_quantity") / 10).cast("int").cast("string"))
          .withColumn("disc_bin", floor(col("l_discount") * 50).cast("int").cast("string"))
        val feats = Seq("l_returnflag", "qty_bin", "disc_bin")
        // ONE grouping-sets scan builds all three contingencies; the
        // entropy/gini algebra then runs over tiny checkpointed slices
        val conts = graft.functions.StatsOps
          .multiFeatureContingency(base, feats, "l_linestatus")
        val scores = feats.map { f =>
          val gr = graft.functions.StatsOps.gainRatioFromCont(conts(f))
            .select(col("info_gain"), col("gain_ratio"))
          val gi = graft.functions.StatsOps.giniGainFromCont(conts(f))
            .select(col("gini_gain"))
          gr.crossJoin(gi).select(lit(f).as("feature"), col("info_gain"),
            col("gain_ratio"), col("gini_gain"))
        }.reduce(_.union(_))
        scores.withColumn("rank",
            row_number().over(Window.orderBy(col("info_gain").desc, col("feature"))))
          .orderBy(col("rank"))
      },
      Some {
        import graft.queries.SqlGen.sqlDetSum
        def scorers(fexpr: String, fname: String) =
          s"""SELECT '$fname' AS feature,
             |  ROUND(h_class - h_cond, 6) AS info_gain,
             |  ROUND((h_class - h_cond) /
             |    (CASE WHEN h_attr = 0 THEN 1.0 ELSE h_attr END), 6) AS gain_ratio,
             |  ROUND(gini_class - gini_cond, 6) AS gini_gain
             |FROM (
             |  WITH cont AS (SELECT $fexpr AS f, l_linestatus AS c, COUNT(*) AS n
             |                FROM lineitem GROUP BY 1, 2),
             |  tot AS (SELECT SUM(n) AS total FROM cont),
             |  byf AS (SELECT f, SUM(n) AS nf FROM cont GROUP BY f),
             |  byc AS (SELECT c, SUM(n) AS nc FROM cont GROUP BY c)
             |  SELECT
             |    (SELECT ${sqlDetSum("-(nc * 1.0 / total) * log2(nc * 1.0 / total)")}
             |     FROM byc CROSS JOIN tot) AS h_class,
             |    (SELECT ${sqlDetSum("(nf * 1.0 / total) * (-(n * 1.0 / nf) * log2(n * 1.0 / nf))")}
             |     FROM cont JOIN byf USING (f) CROSS JOIN tot) AS h_cond,
             |    (SELECT ${sqlDetSum("-(nf * 1.0 / total) * log2(nf * 1.0 / total)")}
             |     FROM byf CROSS JOIN tot) AS h_attr,
             |    (SELECT 1.0 - ${sqlDetSum("(nc * 1.0 / total) * (nc * 1.0 / total)")}
             |     FROM byc CROSS JOIN tot) AS gini_class,
             |    (SELECT 1.0 - ${sqlDetSum("n * 1.0 * n / (nf * 1.0 * total)")}
             |     FROM cont JOIN byf USING (f) CROSS JOIN tot) AS gini_cond)""".stripMargin
        val parts = Seq(
          scorers("l_returnflag", "l_returnflag"),
          scorers("CAST(CAST(FLOOR(l_quantity / 10) AS INT) AS VARCHAR)", "qty_bin"),
          scorers("CAST(CAST(FLOOR(l_discount * 50) AS INT) AS VARCHAR)", "disc_bin"))
        s"""SELECT feature, info_gain, gain_ratio, gini_gain,
           |  ROW_NUMBER() OVER (ORDER BY info_gain DESC, feature) AS rank
           |FROM (${parts.mkString("\nUNION ALL\n")})
           |ORDER BY rank""".stripMargin
      }),

    Q("groupby_weighted", // §1.1 weights W: weighted mean/sum/count per
      // group (statistics/util.py weighted kernels; W = l_quantity here).
      (s, d) => li(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          // fast grid: price·qty ≤ 5.9e6 ≪ 2.25e9
          exactSumFast(col("l_extendedprice") * col("l_quantity")).as("wsum"),
          exactSumFast(col("l_quantity")).as("wtotal"),
          (exactSumFast(col("l_extendedprice") * col("l_quantity")) /
            exactSumFast(col("l_quantity"))).as("wmean"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some(s"""SELECT l_returnflag,
              |  ${sqlSum("l_extendedprice * l_quantity")} AS wsum,
              |  ${sqlSum("l_quantity")} AS wtotal,
              |  ${sqlSum("l_extendedprice * l_quantity")} / ${sqlSum("l_quantity")} AS wmean,
              |  COUNT(*) AS n
              |FROM lineitem GROUP BY l_returnflag
              |ORDER BY l_returnflag""".stripMargin)),

    Q("hconcat_zip", // table.py:1416-1439 horizontal concat: zip columns
      // of two equal-length tables by stable row id (here the shared key).
      (s, d) => {
        val left = Tables.load(s, d, "customer")
          .select(col("c_custkey").as("__id"), col("c_name"), col("c_acctbal"))
        val right = Tables.load(s, d, "customer")
          .select(col("c_custkey").as("__id"),
            col("c_mktsegment"), col("c_nationkey"))
        left.join(right, "__id")
          .orderBy(col("__id"))
      },
      Some("""SELECT a.c_custkey AS __id, a.c_name, a.c_acctbal,
             |  b.c_mktsegment, b.c_nationkey
             |FROM customer a JOIN customer b ON a.c_custkey = b.c_custkey
             |ORDER BY __id""".stripMargin)),

    Q("edit_domain_recode", // oweditdomain.py: rename variable + recode
      // values via the compute_value Mapping transform.
      (s, d) => {
        import graft.core.ComputeValue._
        val ord = Tables.load(s, d, "orders")
        domainTransform(ord, Seq(
            Derived("okey", Identity("o_orderkey")),
            Derived("priority", Mapping("o_orderpriority", Map(
              "1-URGENT" -> "urgent", "2-HIGH" -> "high",
              "3-MEDIUM" -> "medium"), Some("other")))))
          .groupBy(col("priority")).agg(count(lit(1)).as("n"),
            min(col("okey")).as("min_key"))
          .orderBy(col("priority"))
      },
      Some("""SELECT CASE o_orderpriority
             |  WHEN '1-URGENT' THEN 'urgent' WHEN '2-HIGH' THEN 'high'
             |  WHEN '3-MEDIUM' THEN 'medium' ELSE 'other' END AS priority,
             |  COUNT(*) AS n, MIN(o_orderkey) AS min_key
             |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin)),

    Q("correlation_tstat", // owcorrelations.py:266 pairwise Pearson + the
      // t statistic t = r·sqrt((n−2)/(1−r²)) feeding its p-values.
      (s, d) => {
        val pairs = Seq(
          ("l_quantity", "l_extendedprice"),
          ("l_quantity", "l_discount"),
          ("l_extendedprice", "l_tax"))
        // fast grid for every moment except extendedprice² (1.3e10 >
        // the 2.25e9 envelope) — that one sum stays decimal per pair
        // (quantity ≤ 51, discount ≤ 0.1, tax ≤ 0.08, price ≤ ~1.14e5)
        def corrOf(x: String, y: String) = exactCorrFast(col(x), col(y),
          xxFast = x != "l_extendedprice", yyFast = y != "l_extendedprice")
        pairs.map { case (x, y) =>
          li(s, d).agg(
            lit(s"$x~$y").as("pair"),
            round(corrOf(x, y), 6).as("r"),
            round(corrOf(x, y) *
              sqrt((count(lit(1)) - 2) /
                (lit(1.0) - corrOf(x, y) * corrOf(x, y))),
              4).as("t_stat"))
        }.reduce(_.unionByName(_)).orderBy(col("pair"))
      },
      Some {
        def block(x: String, y: String) =
          s"""SELECT '$x~$y' AS pair,
             |  ROUND(${sqlCorr(x, y)}, 6) AS r,
             |  ROUND(${sqlCorr(x, y)} * SQRT((COUNT(*) - 2) /
             |    (1.0 - ${sqlCorr(x, y)} * ${sqlCorr(x, y)})), 4) AS t_stat
             |FROM lineitem""".stripMargin
        Seq(("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
          ("l_extendedprice", "l_tax"))
          .map { case (x, y) => block(x, y) }
          .mkString("", "\nUNION ALL\n", "\nORDER BY pair")
      }),

    Q("outliers_isolation_forest", // outlier_detection.py IsolationForest:
      // driver fit on ψ-subsamples (the algorithm's own design),
      // broadcast ensemble, distributed scoring. Hash-driven induction
      // (PortableHash keyed by tree + node path) makes the forest a pure
      // function of the deterministic 512-row sample, so the oracle
      // rebuilds the identical model with md5 expressions: level-wise
      // node CTEs (stats → att/split decisions → child assignment) for
      // depths 0..8, then an unrolled per-depth walk of all rows.
      (s, d) => graft.ml.IsolationForest.scoreColumn(
          li(s, d), Seq("l_quantity", "l_extendedprice"),
          Seq("l_orderkey", "l_linenumber"), "if_score", nTrees = 50)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("if_score"), 6).as("if_score"))
        .orderBy(col("if_score").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20),
      Some(IsolationForestSql.oracle(nTrees = 50, fitRows = 512)))
  )
}
