package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CN2 rule induction (reference Orange/classification/rules.py) — the
  * distributed evaluator for its inner loop.
  *
  * CN2 beam-searches single conditions (feature = value), scoring each
  * candidate rule by Laplace accuracy (rules.py LaplaceAccuracyEvaluator):
  * (majority-class covered + 1) / (covered + #classes). The evaluation of
  * ALL candidate rules is one aggregation pass per feature (contingency),
  * so each beam iteration is shuffle-bounded, not candidate-bounded.
  * This implements the evaluator + top-k selection; the outer
  * separate-and-conquer loop (remove covered, repeat) composes it.
  */
object Rules {

  /** Evaluate every (feature = value ⇒ majority class) rule; return the
    * top-k by Laplace accuracy (ties → feature, value asc). */
  def bestRules(df: DataFrame, features: Seq[String], classCol: String,
                k: Int): DataFrame = {
    val nClasses = df.agg(countDistinct(col(classCol)).as("k_cls"))
    val perFeature = features.map { f =>
      df.groupBy(col(f).cast("string").as("value"), col(classCol).as("c"))
        .agg(count(lit(1)).as("nc"))
        .select(lit(f).as("feature"), col("value"), col("c"), col("nc"))
    }.reduce(_.unionByName(_))
    val wRule = Window.partitionBy(col("feature"), col("value"))
      .orderBy(col("nc").desc, col("c").asc)
    val rules = perFeature
      .withColumn("covered", sum(col("nc")).over(
        Window.partitionBy(col("feature"), col("value"))))
      .withColumn("rn", row_number().over(wRule))
      .filter(col("rn") === 1)
      .crossJoin(broadcast(nClasses))
      .select(col("feature"), col("value"), col("c").as("predicted"),
        col("nc").as("n_correct"), col("covered"),
        round((col("nc") + 1) / (col("covered") + col("k_cls")), 6)
          .as("laplace"))
    rules
      .withColumn("rank", row_number().over(Window.orderBy(
        col("laplace").desc, col("feature").asc, col("value").asc)))
      .filter(col("rank") <= k)
      .orderBy(col("rank"))
  }

  private case class CN2Rule(order: Int, feature: String, value: String,
                             predicted: String, nCorrect: Long,
                             covered: Long, laplace: Double)

  // ---- joint-contingency collapse --------------------------------------
  // Rows with identical (feature-values, class) tuples are
  // indistinguishable to every covering predicate, so the covering loops
  // run on the joint contingency instead of the row table: ONE groupBy
  // scan (map-side partial aggregation, ≤ Π|values|·|classes| groups
  // leave the cluster) and the whole trajectory — per-round contingency,
  // argmax, removal/decay, stop — replays in driver arithmetic that is
  // operation-for-operation identical to the row-level loop (integer
  // counts sum exactly; a DECIMAL(38,14) sum of n equal row weights
  // equals the n·w product in exact decimal arithmetic). When the joint
  // space exceeds JointCap (high-cardinality features), the per-round
  // distributed scan loop below takes over unchanged.
  private[ml] val JointCap = 1 << 20

  /** (feature values, class, count) per live joint-contingency cell.
    * The collect cap scales inversely with feature count — each cell
    * carries one boxed string per feature, so bounding cells·features
    * (not cells alone) keeps the driver copy inside the tiny-collect
    * envelope for wide feature sets too. */
  private def jointTuples(df: DataFrame, features: Seq[String],
      classCol: String): Option[Array[(IndexedSeq[String], String, Long)]] = {
    val cap = JointCap / math.max(1, features.length)
    val rows = df.groupBy(
        features.map(f => col(f).cast("string").as(f)) :+
          col(classCol).cast("string").as("__cls"): _*)
      .agg(count(lit(1)).as("__n"))
      .limit(cap + 1).collect()
    if (rows.length > cap) None
    else Some(rows.map { r =>
      (features.indices.map(i =>
         if (r.isNullAt(i)) null else r.getString(i)): IndexedSeq[String],
       if (r.isNullAt(features.size)) null else r.getString(features.size),
       r.getLong(features.size + 1))
    })
  }

  /** CN2 ordered decision list via separate-and-conquer
    * (rules.py:896-1007 `find_rules` + `exclusive_cover_and_remove`;
    * CN2Learner appends a default majority rule): loop — evaluate every
    * (feature = value ⇒ majority class) rule on the REMAINING rows,
    * keep the Laplace-best, remove its covered rows, repeat until no
    * candidate covers `minCovered` rows or `maxRules` rules exist.
    *
    * Scale shape: each iteration is ONE grouping-sets contingency scan
    * (StatsOps.multiFeatureContingency — map-side partial, no row ever
    * leaves the cluster); the candidate table is ≤ Σ|values|·|classes|
    * rows, so rule selection is driver-side closed form (the accepted
    * tiny-aggregate pattern). Ties pin (laplace desc, feature asc,
    * value asc) and majority pins (count desc, class asc), so the
    * trajectory — and the unrolled-CTE oracle [[cn2OrderedSql]] — are
    * deterministic. The default rule mimics the reference: majority
    * over the ORIGINAL data (fit_storage passes the unconsumed X,Y,W). */
  def cn2Ordered(df0: DataFrame, features: Seq[String], classCol: String,
                 maxRules: Int, minCovered: Long = 1L): DataFrame = {
    val df = dropNullClass(df0, classCol)
    jointTuples(df, features, classCol) match {
      case Some(t) =>
        cn2OrderedLocal(df.sparkSession, t, features, maxRules, minCovered)
      case None => cn2OrderedRows(df, features, classCol, maxRules, minCovered)
    }
  }

  /** Class labels must be non-null for every cn2* variant: the covering
    * loops sort and tie-break on the class string (a null would NPE) and
    * the reference discretizes away missing targets before rule
    * induction. Enforced once here for all three entry points. */
  private def dropNullClass(df: DataFrame, classCol: String): DataFrame =
    df.filter(col(classCol).isNotNull)

  /** Covering replay on the collected joint contingency — identical
    * trajectory to [[cn2OrderedRows]], one cluster scan total. */
  private def cn2OrderedLocal(spark: org.apache.spark.sql.SparkSession,
      tuples: Array[(IndexedSeq[String], String, Long)],
      features: Seq[String], maxRules: Int, minCovered: Long): DataFrame = {
    val kCls = tuples.iterator.filter(_._2 != null).map(_._2).toSet.size
    def majority(rows: Seq[(String, Long)]): (String, Long) =
      rows.minBy { case (c, n) => (-n, c) }
    val rules = scala.collection.mutable.ArrayBuffer.empty[CN2Rule]
    var live = tuples
    var stop = false
    while (!stop && rules.size < maxRules) {
      val byRule = features.zipWithIndex.flatMap { case (f, fi) =>
        live.iterator.filter(t => t._1(fi) != null && t._2 != null)
          .map(t => ((t._1(fi), t._2), t._3)).toSeq
          .groupMapReduce(_._1)(_._2)(_ + _).toSeq
          .groupBy(_._1._1).toSeq
          .map { case (v, cells) =>
            val perCls = cells.map { case ((_, c), n) => (c, n) }
            val covered = perCls.map(_._2).sum
            val (cls, nc) = majority(perCls)
            CN2Rule(rules.size + 1, f, v, cls, nc, covered,
              (nc + 1.0) / (covered + kCls))
          }
      }.filter(_.covered >= minCovered)
      if (byRule.isEmpty) stop = true
      else {
        val best = byRule.minBy(r => (-r.laplace, r.feature, r.value))
        rules += best
        val fi = features.indexOf(best.feature)
        live = live.filter(t => !(t._1(fi) != null && t._1(fi) == best.value))
      }
    }
    // default rule = majority classifier over the original data
    val clsCounts = tuples.iterator.map(t => (t._2, t._3)).toSeq
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
    val total = clsCounts.map(_._2).sum
    val (dc, dn) = majority(clsCounts)
    rules += CN2Rule(rules.size + 1, "_default", "", dc, dn, total,
      (dn + 1.0) / (total + kCls))
    cn2RulesDf(spark, rules.toSeq)
  }

  private def cn2RulesDf(spark: org.apache.spark.sql.SparkSession,
                         rules: Seq[CN2Rule]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("rule_order", IntegerType, nullable = false),
      StructField("feature", StringType, nullable = false),
      StructField("value", StringType, nullable = false),
      StructField("predicted", StringType, nullable = false),
      StructField("n_correct", LongType, nullable = false),
      StructField("covered", LongType, nullable = false),
      StructField("laplace", DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(rules.map(r => Row(r.order, r.feature,
        r.value, r.predicted, r.nCorrect, r.covered, Rounds.roundHalfUp(r.laplace, 6))): _*),
      schema)
  }

  private def cn2OrderedRows(df: DataFrame, features: Seq[String],
      classCol: String, maxRules: Int, minCovered: Long): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(
      features.map(f => col(f).cast("string").as(f)) :+
        col(classCol).cast("string").as("__cls"): _*).cache()
    val kCls = base.agg(countDistinct(col("__cls")).as("k")).head().getLong(0)
    def majority(rows: Seq[(String, Long)]): (String, Long) =
      rows.minBy { case (c, n) => (-n, c) }
    val rules = scala.collection.mutable.ArrayBuffer.empty[CN2Rule]
    var remaining = base
    var stop = false
    while (!stop && rules.size < maxRules) {
      val conts = graft.functions.StatsOps
        .multiFeatureContingency(remaining, features, "__cls")
      val cand = features.flatMap { f =>
        conts(f).collect().iterator
          .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
          .map(r => (f, r.getString(0), r.getString(1), r.getLong(2)))
      }
      val byRule = cand.groupBy(t => (t._1, t._2)).toSeq
        .map { case ((f, v), rows) =>
          val covered = rows.map(_._4).sum
          val (cls, nc) = majority(rows.map(t => (t._3, t._4)))
          CN2Rule(rules.size + 1, f, v, cls, nc, covered,
            (nc + 1.0) / (covered + kCls))
        }
        .filter(_.covered >= minCovered)
      if (byRule.isEmpty) stop = true
      else {
        val best = byRule.minBy(r => (-r.laplace, r.feature, r.value))
        rules += best
        remaining = remaining.filter(!(col(best.feature) <=> lit(best.value)))
      }
    }
    // default rule = majority classifier over the original data
    val clsCounts = base.groupBy(col("__cls")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val total = clsCounts.map(_._2).sum
    val (dc, dn) = majority(clsCounts)
    rules += CN2Rule(rules.size + 1, "_default", "", dc, dn, total,
      (dn + 1.0) / (total + kCls))
    base.unpersist()
    cn2RulesDf(spark, rules.toSeq)
  }

  /** DuckDB twin of [[cn2Ordered]]: the covering loop unrolled as CTE
    * rounds (the AdaBoost device) — cont_i contingency over rem_{i-1},
    * best_i Laplace-argmax with the same tie pins, rem_i filtered by a
    * CASE dispatch on best_i's data-dependent (feature, value). An
    * empty best_i empties every later rem via the cross join, matching
    * the driver loop's stop. CTEs are MATERIALIZED: each rem is
    * referenced once per feature branch, so inlining would expand the
    * rem chain |features|^maxRules times (DuckDB planner blow-up). */
  def cn2OrderedSql(table: String, feats: Seq[(String, String)],
                    clsSql: String, maxRules: Int,
                    minCovered: Long = 1L): String = {
    val featCols = feats.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    def caseRm(b: String, r: String): String =
      s"CASE $b.feature " +
        feats.dropRight(1).map { case (n, _) =>
          s"WHEN '$n' THEN $r.$n = $b.value" }.mkString(" ") +
        s" ELSE $r.${feats.last._1} = $b.value END"
    val iters = (1 to maxRules).map { i =>
      val rem = s"rem${i - 1}"
      val cont = feats.map { case (n, _) =>
        s"SELECT '$n' AS feature, $n AS value, __cls AS c, COUNT(*) AS nc " +
          s"FROM $rem GROUP BY 2, 3"
      }.mkString("\n  UNION ALL\n  ")
      s"""cont$i AS MATERIALIZED (
         |  $cont),
         |best$i AS MATERIALIZED (
         |  SELECT feature, value, c AS predicted, nc AS n_correct, covered,
         |         (nc + 1.0) / (covered + (SELECT k FROM kc)) AS lap
         |  FROM (SELECT feature, value, c, nc,
         |          CAST(SUM(nc) OVER (PARTITION BY feature, value) AS BIGINT) AS covered,
         |          ROW_NUMBER() OVER (PARTITION BY feature, value
         |                             ORDER BY nc DESC, c ASC) AS rn
         |        FROM cont$i)
         |  WHERE rn = 1 AND covered >= $minCovered
         |  ORDER BY lap DESC, feature ASC, value ASC LIMIT 1),
         |rem$i AS MATERIALIZED (
         |  SELECT r.* FROM $rem r, best$i b
         |  WHERE NOT (${caseRm("b", "r")}))""".stripMargin
    }
    val rulesUnion = (1 to maxRules).map { i =>
      if (i == 1) s"SELECT 1 AS rule_order, * FROM best1"
      else s"SELECT $i, * FROM best$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH base0 AS MATERIALIZED (
       |  SELECT $featCols, $clsSql AS __cls FROM $table),
       |kc AS (SELECT CAST(COUNT(DISTINCT __cls) AS BIGINT) AS k FROM base0),
       |rem0 AS (SELECT * FROM base0),
       |${iters.mkString(",\n")},
       |rules AS MATERIALIZED (
       |  $rulesUnion),
       |dflt AS (
       |  SELECT CAST((SELECT COUNT(*) FROM rules) + 1 AS INT) AS rule_order,
       |         '_default' AS feature, '' AS value, c AS predicted,
       |         nc AS n_correct, covered,
       |         (nc + 1.0) / (covered + (SELECT k FROM kc)) AS lap
       |  FROM (SELECT __cls AS c, CAST(COUNT(*) AS BIGINT) AS nc,
       |               CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS covered,
       |               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, __cls ASC) AS rn
       |        FROM base0 GROUP BY __cls) WHERE rn = 1)
       |SELECT rule_order, feature, value, predicted, n_correct, covered,
       |       ROUND(lap, 6) AS laplace
       |FROM (SELECT * FROM rules UNION ALL SELECT * FROM dflt)
       |ORDER BY rule_order""".stripMargin
  }

  /** CN2 UNORDERED rule set (rules.py find_rules with a target class per
    * class + CN2UnorderedLearner): for each class c — over the ORIGINAL
    * data — loop: evaluate every (feature = value ⇒ c) rule by Laplace
    * accuracy toward c, keep the best, remove its covered POSITIVES
    * (covered ∧ y = c, rules.py exclusive_cover_and_remove with
    * target_class), repeat. Classes induce independently, so rules may
    * overlap across classes — prediction is a weighted vote
    * ([[cn2PredictUnordered]]). Same contingency-scan + driver-argmax
    * shape and tie pins as [[cn2Ordered]]; oracle = per-(class, round)
    * CTE unrolling ([[cn2UnorderedSql]]). */
  def cn2Unordered(df0: DataFrame, features: Seq[String], classCol: String,
                   maxPerClass: Int, minCovered: Long = 1L): DataFrame = {
    val df = dropNullClass(df0, classCol)
    jointTuples(df, features, classCol) match {
      case Some(t) =>
        cn2UnorderedLocal(df.sparkSession, t, features, maxPerClass, minCovered)
      case None =>
        cn2UnorderedRows(df, features, classCol, maxPerClass, minCovered)
    }
  }

  private final case class URule(cls: String, order: Int, feature: String,
                                 value: String, nCorrect: Long,
                                 covered: Long, laplace: Double)

  private def cn2URulesDf(spark: org.apache.spark.sql.SparkSession,
                          rules: Seq[URule]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("cls", StringType, nullable = false),
      StructField("rule_order", IntegerType, nullable = false),
      StructField("feature", StringType, nullable = false),
      StructField("value", StringType, nullable = false),
      StructField("n_correct", LongType, nullable = false),
      StructField("covered", LongType, nullable = false),
      StructField("laplace", DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(rules.map(r => Row(r.cls, r.order,
        r.feature, r.value, r.nCorrect, r.covered, Rounds.roundHalfUp(r.laplace, 6))): _*),
      schema)
  }

  /** Per-class covering replay on the joint contingency — identical
    * trajectory to [[cn2UnorderedRows]], one cluster scan total. */
  private def cn2UnorderedLocal(spark: org.apache.spark.sql.SparkSession,
      tuples: Array[(IndexedSeq[String], String, Long)],
      features: Seq[String], maxPerClass: Int, minCovered: Long): DataFrame = {
    val kCls = tuples.iterator.filter(_._2 != null).map(_._2).toSet.size
    val classes = tuples.iterator.map(_._2).toSeq.distinct.sorted
    val rules = scala.collection.mutable.ArrayBuffer.empty[URule]
    for (c <- classes) {
      var live = tuples
      var stop = false
      var order = 0
      while (!stop && order < maxPerClass) {
        val byRule = features.zipWithIndex.flatMap { case (f, fi) =>
          live.iterator.filter(t => t._1(fi) != null && t._2 != null)
            .map(t => ((t._1(fi), t._2), t._3)).toSeq
            .groupMapReduce(_._1)(_._2)(_ + _).toSeq
            .groupBy(_._1._1).toSeq
            .map { case (v, cells) =>
              val covered = cells.map(_._2).sum
              val ncc = cells.collectFirst {
                case ((_, cls), n) if cls == c => n }.getOrElse(0L)
              URule(c, order + 1, f, v, ncc, covered,
                (ncc + 1.0) / (covered + kCls))
            }
        }.filter(r => r.covered >= minCovered && r.nCorrect >= 1)
        if (byRule.isEmpty) stop = true
        else {
          val best = byRule.minBy(r => (-r.laplace, r.feature, r.value))
          rules += best
          order += 1
          val fi = features.indexOf(best.feature)
          live = live.filter(t =>
            !(t._1(fi) != null && t._1(fi) == best.value && t._2 == c))
        }
      }
    }
    // trailing default rule — global majority (rules.py fit_storage)
    val clsCounts = tuples.iterator.map(t => (t._2, t._3)).toSeq
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
    val total = clsCounts.map(_._2).sum
    val (dc, dn) = clsCounts.minBy { case (cc, n) => (-n, cc) }
    rules += URule("_default", 1, "_default", dc, dn, total,
      (dn + 1.0) / (total + kCls))
    cn2URulesDf(spark, rules.toSeq)
  }

  private def cn2UnorderedRows(df: DataFrame, features: Seq[String],
      classCol: String, maxPerClass: Int, minCovered: Long): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(
      features.map(f => col(f).cast("string").as(f)) :+
        col(classCol).cast("string").as("__cls"): _*).cache()
    val kCls = base.agg(countDistinct(col("__cls")).as("k")).head().getLong(0)
    val classes = base.select(col("__cls")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    final case class UR(cls: String, order: Int, feature: String,
                        value: String, nCorrect: Long, covered: Long,
                        laplace: Double)
    val rules = scala.collection.mutable.ArrayBuffer.empty[UR]
    for (c <- classes) {
      var remaining = base
      var stop = false
      var order = 0
      while (!stop && order < maxPerClass) {
        val conts = graft.functions.StatsOps
          .multiFeatureContingency(remaining, features, "__cls")
        val cand = features.flatMap { f =>
          conts(f).collect().iterator
            .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
            .map(r => (f, r.getString(0), r.getString(1), r.getLong(2)))
        }
        val byRule = cand.groupBy(t => (t._1, t._2)).toSeq
          .map { case ((f, v), rows) =>
            val covered = rows.map(_._4).sum
            val ncc = rows.collectFirst {
              case (_, _, cls, n) if cls == c => n }.getOrElse(0L)
            UR(c, order + 1, f, v, ncc, covered,
              (ncc + 1.0) / (covered + kCls))
          }
          .filter(r => r.covered >= minCovered && r.nCorrect >= 1)
        if (byRule.isEmpty) stop = true
        else {
          val best = byRule.minBy(r => (-r.laplace, r.feature, r.value))
          rules += best
          order += 1
          remaining = remaining.filter(
            !(col(best.feature) <=> lit(best.value) &&
              col("__cls") <=> lit(c)))
        }
      }
    }
    // trailing default rule — global majority (rules.py fit_storage)
    val clsCounts = base.groupBy(col("__cls")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val total = clsCounts.map(_._2).sum
    val (dc, dn) = clsCounts.minBy { case (cc, n) => (-n, cc) }
    // the default row carries the majority CLASS in `value`
    rules += UR("_default", 1, "_default", dc, dn, total,
      (dn + 1.0) / (total + kCls))
    base.unpersist()
    cn2URulesDf(spark,
      rules.toSeq.map(r => URule(r.cls, r.order, r.feature, r.value,
        r.nCorrect, r.covered, r.laplace)))
  }

  /** DuckDB twin of [[cn2Unordered]]: the per-class covering loops
    * unrolled as (class × round) CTE rounds. `classes` are the literal
    * class values of the fixture (the engine derives them from data;
    * the oracle needs them at SQL-generation time). */
  def cn2UnorderedSql(table: String, feats: Seq[(String, String)],
                      clsSql: String, classes: Seq[String],
                      maxPerClass: Int, minCovered: Long = 1L): String = {
    val featCols = feats.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    def caseRm(b: String, r: String): String =
      s"CASE $b.feature " +
        feats.dropRight(1).map { case (n, _) =>
          s"WHEN '$n' THEN $r.$n = $b.value" }.mkString(" ") +
        s" ELSE $r.${feats.last._1} = $b.value END"
    val blocks = classes.zipWithIndex.flatMap { case (c, ci) =>
      (1 to maxPerClass).map { i =>
        val rem = if (i == 1) s"base0" else s"rem_${ci}_${i - 1}"
        val cont = feats.map { case (n, _) =>
          s"SELECT '$n' AS feature, $n AS value, " +
            s"CAST(COUNT(*) AS BIGINT) AS covered, " +
            s"CAST(SUM(CASE WHEN __cls = '$c' THEN 1 ELSE 0 END) AS BIGINT) AS ncc " +
            s"FROM $rem GROUP BY 2"
        }.mkString("\n  UNION ALL\n  ")
        s"""cont_${ci}_$i AS MATERIALIZED (
           |  $cont),
           |best_${ci}_$i AS MATERIALIZED (
           |  SELECT feature, value, ncc, covered,
           |         (ncc + 1.0) / (covered + (SELECT k FROM kc)) AS lap
           |  FROM cont_${ci}_$i
           |  WHERE covered >= $minCovered AND ncc >= 1
           |  ORDER BY lap DESC, feature ASC, value ASC LIMIT 1),
           |rem_${ci}_$i AS MATERIALIZED (
           |  SELECT r.* FROM $rem r, best_${ci}_$i b
           |  WHERE NOT (${caseRm("b", "r")} AND r.__cls = '$c'))""".stripMargin
      }
    }
    val rulesUnion = classes.zipWithIndex.flatMap { case (c, ci) =>
      (1 to maxPerClass).map { i =>
        s"SELECT '$c' AS cls, $i AS rule_order, feature, value, " +
          s"ncc AS n_correct, covered, lap FROM best_${ci}_$i"
      }
    }.mkString("\n  UNION ALL ")
    s"""WITH base0 AS MATERIALIZED (
       |  SELECT $featCols, $clsSql AS __cls FROM $table),
       |kc AS (SELECT CAST(COUNT(DISTINCT __cls) AS BIGINT) AS k FROM base0),
       |${blocks.mkString(",\n")},
       |rules AS MATERIALIZED (
       |  $rulesUnion),
       |dflt AS (
       |  SELECT '_default' AS cls, 1 AS rule_order, '_default' AS feature,
       |         c AS value, nc AS n_correct, covered,
       |         (nc + 1.0) / (covered + (SELECT k FROM kc)) AS lap
       |  FROM (SELECT __cls AS c, CAST(COUNT(*) AS BIGINT) AS nc,
       |               CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS covered,
       |               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, __cls ASC) AS rn
       |        FROM base0 GROUP BY __cls) WHERE rn = 1)
       |SELECT cls, rule_order, feature, value, n_correct, covered,
       |       ROUND(lap, 6) AS laplace
       |FROM (SELECT * FROM rules UNION ALL SELECT * FROM dflt)
       |ORDER BY cls, rule_order, feature, value""".stripMargin
  }

  /** DuckDB-faithful ROUND(x, s): half away from zero on the scaled FP
    * product (std::round semantics). */
  private def rAway(v: Double, pow: Double): Double = {
    val p = v * pow
    (if (p >= 0) math.floor(p + 0.5) else math.ceil(p - 0.5)) / pow
  }

  /** CN2-SD subgroup discovery (rules.py:1377-1423 CN2SDLearner,
    * Lavrač et al. JMLR 2004): weighted covering — covered examples are
    * NOT removed, their weight multiplies by γ=0.7 — with the Weighted
    * Relative Accuracy evaluator (rules.py:203-226, target class None:
    * p_cond·(p_tp − p_class) when p_tp > p_class, else
    * (p_tp − p_class)/max(p_cond, 1e-6), all from the CURRENT weighted
    * distributions). The loop stops at `maxRules` or when no rule has
    * positive WRAcc; a default weighted-majority rule closes the list
    * (generate_default_rule receives the post-covering weights).
    *
    * Scale shape: per round one weighted contingency scan per feature
    * (map-side partial k·|values| groups) + one prior scan; selection
    * is driver-side on the ≤ Σ|values|·|classes| candidate table. Weights
    * stay on the 1e-12 grid (γ-multiplications round per step) and all
    * weight reductions go through DECIMAL(38,14) sums, so the whole
    * trajectory — including the data-dependent stop — replays exactly
    * in the unrolled-CTE oracle [[cn2SDSql]]. */
  def cn2SD(df0: DataFrame, features: Seq[String], classCol: String,
            maxRules: Int, gamma: Double = 0.7): DataFrame = {
    val df = dropNullClass(df0, classCol)
    jointTuples(df, features, classCol) match {
      case Some(t) =>
        cn2SDLocal(df.sparkSession, t, features, maxRules, gamma)
      case None => cn2SDRows(df, features, classCol, maxRules, gamma)
    }
  }

  /** Weighted-covering replay on the joint contingency. All joint cells
    * of a tuple share one weight (covering predicates only test feature
    * values), and a DECIMAL(38,14) sum of n equal row weights is exactly
    * the decimal product n·round14(w) — so every detW the row loop takes
    * from the cluster is reproduced here in exact decimal arithmetic and
    * the double-precision WRAcc/γ-decay steps run the identical
    * operation sequence. One cluster scan total. */
  private def cn2SDLocal(spark: org.apache.spark.sql.SparkSession,
      tuples: Array[(IndexedSeq[String], String, Long)],
      features: Seq[String], maxRules: Int, gamma: Double): DataFrame = {
    import java.math.{BigDecimal => JBD}
    // live state: joint cell -> current weight (double, 1e-12 grid)
    val w = Array.fill(tuples.length)(1.0)
    // detW twin: Σ_rows cast(w as DECIMAL(38,14)) = n · round14(w)
    def cellSum(i: Int): JBD =
      JBD.valueOf(w(i)).setScale(14, java.math.RoundingMode.HALF_UP)
        .multiply(JBD.valueOf(tuples(i)._3))
    def groupSum(idx: Iterator[Int]): Double =
      idx.foldLeft(JBD.ZERO)((a, i) => a.add(cellSum(i))).doubleValue()
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Double, Double, Double)]
    var stop = false
    var rnd = 0
    while (!stop && rnd < maxRules) {
      rnd += 1
      val pri = tuples.indices.groupBy(i => tuples(i)._2)
        .map { case (c, idx) => (c, groupSum(idx.iterator)) }
      val ps = {
        var acc = JBD.ZERO
        pri.toSeq.sortBy(_._1).foreach { case (_, v) =>
          acc = acc.add(JBD.valueOf(v)) }
        acc.doubleValue()
      }
      val perFeat = features.zipWithIndex.flatMap { case (f, fi) =>
        tuples.indices.filter(i => tuples(i)._1(fi) != null)
          .groupBy(i => (tuples(i)._1(fi), tuples(i)._2)).toSeq
          .map { case ((v, c), idx) => (f, v, c, groupSum(idx.iterator)) }
      }
      val cand = perFeat.groupBy(t => (t._1, t._2)).toSeq
        .map { case ((f, v), rows) =>
          val dsum = {
            var acc = JBD.ZERO
            rows.sortBy(_._3).foreach(t => acc = acc.add(JBD.valueOf(t._4)))
            acc.doubleValue()
          }
          val (modus, s) = rows.map(t => (t._3, t._4))
            .minBy { case (c, sw) => (-sw, c) }
          val pcond = dsum / ps
          val ptp = s / dsum
          val pcls = pri(modus) / ps
          val q = if (ptp > pcls) pcond * (ptp - pcls)
                  else (ptp - pcls) / math.max(pcond, 1e-6)
          (f, v, modus, s, dsum, q)
        }
        .filter(_._6 > 0)
      if (cand.isEmpty) stop = true
      else {
        val b = cand.minBy(t => (-t._6, t._1, t._2))
        rules += ((rnd, b._1, b._2, b._3,
          rAway(b._6, 1e6), rAway(b._5, 1e6), rAway(b._4, 1e6)))
        val fi = features.indexOf(b._1)
        tuples.indices.foreach { i =>
          if (tuples(i)._1(fi) != null && tuples(i)._1(fi) == b._2)
            // Spark round(w*γ, 12): shortest-repr decimal of the double
            // product, HALF_UP to 12 places, back to double
            w(i) = JBD.valueOf(w(i) * gamma)
              .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
        }
      }
    }
    // default rule: weighted majority with the POST-covering weights
    val pri = tuples.indices.groupBy(i => tuples(i)._2)
      .map { case (c, idx) => (c, groupSum(idx.iterator)) }.toSeq
    val psF = {
      var acc = JBD.ZERO
      pri.sortBy(_._1).foreach { case (_, v) => acc = acc.add(JBD.valueOf(v)) }
      acc.doubleValue()
    }
    val (dc, dw) = pri.minBy { case (c, wt) => (-wt, c) }
    rules += ((rules.size + 1, "_default", "", dc, 0.0,
      rAway(psF, 1e6), rAway(dw, 1e6)))
    cn2SDRulesDf(spark, rules.toSeq)
  }

  private def cn2SDRulesDf(spark: org.apache.spark.sql.SparkSession,
      rules: Seq[(Int, String, String, String, Double, Double, Double)])
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("rule_order", IntegerType, nullable = false),
      StructField("feature", StringType, nullable = false),
      StructField("value", StringType, nullable = false),
      StructField("predicted", StringType, nullable = false),
      StructField("wracc", DoubleType, nullable = false),
      StructField("covered_w", DoubleType, nullable = false),
      StructField("correct_w", DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(rules.map(r =>
        Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7)): _*), schema)
  }

  private def cn2SDRows(df: DataFrame, features: Seq[String],
      classCol: String, maxRules: Int, gamma: Double): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val wDec = DecimalType(38, 14)
    def detW = sum(col("__w").cast(wDec)).cast("double")
    var cur = df.select(
        features.map(f => col(f).cast("string").as(f)) :+
          col(classCol).cast("string").as("__cls"): _*)
      .withColumn("__w", lit(1.0))
      .localCheckpoint(eager = true)
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Double, Double, Double)]
    var stop = false
    var rnd = 0
    while (!stop && rnd < maxRules) {
      rnd += 1
      val pri = cur.groupBy(col("__cls")).agg(detW.as("pw"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      val ps = {
        var acc = java.math.BigDecimal.ZERO
        pri.toSeq.sortBy(_._1).foreach { case (_, v) =>
          acc = acc.add(java.math.BigDecimal.valueOf(v)) }
        acc.doubleValue()
      }
      val perFeat = features.map { f =>
        cur.groupBy(col(f).as("v"), col("__cls").as("c")).agg(detW.as("s"))
          .collect().filter(!_.isNullAt(0))
          .map(r => (f, r.getString(0), r.getString(1), r.getDouble(2)))
      }
      val cand = perFeat.flatten.groupBy(t => (t._1, t._2)).toSeq
        .map { case ((f, v), rows) =>
          val dsum = {
            var acc = java.math.BigDecimal.ZERO
            rows.sortBy(_._3).foreach(t =>
              acc = acc.add(java.math.BigDecimal.valueOf(t._4)))
            acc.doubleValue()
          }
          val (modus, s) = rows.map(t => (t._3, t._4))
            .minBy { case (c, sw) => (-sw, c) }
          val pcond = dsum / ps
          val ptp = s / dsum
          val pcls = pri(modus) / ps
          val q = if (ptp > pcls) pcond * (ptp - pcls)
                  else (ptp - pcls) / math.max(pcond, 1e-6)
          (f, v, modus, s, dsum, q)
        }
        .filter(_._6 > 0)
      if (cand.isEmpty) stop = true
      else {
        val b = cand.minBy(t => (-t._6, t._1, t._2))
        rules += ((rnd, b._1, b._2, b._3,
          rAway(b._6, 1e6), rAway(b._5, 1e6), rAway(b._4, 1e6)))
        val prevCur = cur
        cur = cur.withColumn("__w",
            when(col(b._1) <=> lit(b._2),
              round(col("__w") * gamma, 12)).otherwise(col("__w")))
          .localCheckpoint(eager = true)
        graft.core.Tables.unpersistLocalCheckpoint(prevCur)
      }
    }
    // default rule: weighted majority with the POST-covering weights
    val pri = cur.groupBy(col("__cls")).agg(detW.as("pw"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val psF = {
      var acc = java.math.BigDecimal.ZERO
      pri.sortBy(_._1).foreach { case (_, v) =>
        acc = acc.add(java.math.BigDecimal.valueOf(v)) }
      acc.doubleValue()
    }
    val (dc, dw) = pri.minBy { case (c, w) => (-w, c) }
    rules += ((rules.size + 1, "_default", "", dc, 0.0,
      rAway(psF, 1e6), rAway(dw, 1e6)))
    val schema = StructType(Seq(
      StructField("rule_order", IntegerType, nullable = false),
      StructField("feature", StringType, nullable = false),
      StructField("value", StringType, nullable = false),
      StructField("predicted", StringType, nullable = false),
      StructField("wracc", DoubleType, nullable = false),
      StructField("covered_w", DoubleType, nullable = false),
      StructField("correct_w", DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(rules.toSeq.map(r =>
        Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7)): _*), schema)
  }

  /** DuckDB twin of [[cn2SD]]: weighted-covering rounds unrolled as
    * (priors → weighted contingency → WRAcc argmax → weight update)
    * CTE quads. An empty best (no positive-WRAcc rule) leaves weights
    * unchanged via the LEFT JOIN, so later rounds recompute the same
    * empty result — matching the driver loop's early stop. */
  def cn2SDSql(table: String, feats: Seq[(String, String)],
               clsSql: String, maxRules: Int,
               gamma: Double = 0.7): String = {
    val featCols = feats.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    def det(t: String) = s"CAST(SUM(CAST(($t) AS DECIMAL(38,14))) AS DOUBLE)"
    def caseCov(b: String, r: String): String =
      s"CASE $b.feature " +
        feats.dropRight(1).map { case (n, _) =>
          s"WHEN '$n' THEN $r.$n = $b.value" }.mkString(" ") +
        s" ELSE $r.${feats.last._1} = $b.value END"
    val iters = (1 to maxRules).map { i =>
      val w = s"w${i - 1}"
      val cont = feats.map { case (n, _) =>
        s"SELECT '$n' AS feature, $n AS value, __cls AS c, " +
          s"${det("__w")} AS s FROM $w WHERE $n IS NOT NULL GROUP BY 2, 3"
      }.mkString("\n  UNION ALL\n  ")
      s"""pri$i AS MATERIALIZED (
         |  SELECT __cls AS c, ${det("__w")} AS pw FROM $w GROUP BY __cls),
         |ps$i AS (SELECT ${det("pw")} AS ps FROM pri$i),
         |cont$i AS MATERIALIZED (
         |  $cont),
         |best$i AS MATERIALIZED (
         |  SELECT feature, value, predicted, correct_w, covered_w, q FROM (
         |    SELECT t.feature, t.value, t.c AS predicted,
         |      t.s AS correct_w, t.dsum AS covered_w,
         |      CASE WHEN t.s / t.dsum > p.pw / x.ps
         |        THEN (t.dsum / x.ps) * (t.s / t.dsum - p.pw / x.ps)
         |        ELSE (t.s / t.dsum - p.pw / x.ps) /
         |          GREATEST(t.dsum / x.ps, 1e-6) END AS q
         |    FROM (SELECT feature, value, c, s,
         |            CAST(SUM(CAST(s AS DECIMAL(38,14)))
         |              OVER (PARTITION BY feature, value) AS DOUBLE) AS dsum,
         |            ROW_NUMBER() OVER (PARTITION BY feature, value
         |              ORDER BY s DESC, c ASC) AS rn
         |          FROM cont$i) t
         |    JOIN pri$i p ON p.c = t.c
         |    CROSS JOIN ps$i x
         |    WHERE t.rn = 1)
         |  WHERE q > 0 ORDER BY q DESC, feature ASC, value ASC LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT ${feats.map { case (n, _) => s"r.$n" }.mkString(", ")},
         |    r.__cls,
         |    CASE WHEN b.feature IS NOT NULL AND (${caseCov("b", "r")})
         |      THEN ROUND(r.__w * $gamma, 12) ELSE r.__w END AS __w
         |  FROM $w r LEFT JOIN best$i b ON TRUE)""".stripMargin
    }
    val rulesUnion = (1 to maxRules).map { i =>
      s"SELECT $i AS rule_order, feature, value, predicted," +
        s" ROUND(q, 6) AS wracc, ROUND(covered_w, 6) AS covered_w," +
        s" ROUND(correct_w, 6) AS correct_w FROM best$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT $featCols, $clsSql AS __cls, CAST(1.0 AS DOUBLE) AS __w
       |  FROM $table),
       |${iters.mkString(",\n")},
       |rules AS MATERIALIZED (
       |  $rulesUnion),
       |dflt AS (
       |  SELECT CAST((SELECT COUNT(*) FROM rules) + 1 AS INT) AS rule_order,
       |    '_default' AS feature, '' AS value, c AS predicted,
       |    0.0 AS wracc, ROUND(ps, 6) AS covered_w, ROUND(pw, 6) AS correct_w
       |  FROM (SELECT p.c, p.pw,
       |          CAST(SUM(CAST(p.pw AS DECIMAL(38,14))) OVER () AS DOUBLE) AS ps,
       |          ROW_NUMBER() OVER (ORDER BY p.pw DESC, p.c ASC) AS rn
       |        FROM (SELECT __cls AS c, ${det("__w")} AS pw
       |              FROM w$maxRules GROUP BY __cls) p)
       |  WHERE rn = 1)
       |SELECT CAST(rule_order AS INT) AS rule_order, feature, value,
       |  predicted, wracc, covered_w, correct_w
       |FROM (SELECT * FROM rules UNION ALL SELECT * FROM dflt)
       |ORDER BY rule_order""".stripMargin
  }

  /** Unordered rule-set prediction (rules.py:1202-1243
    * `unordered_predict`, coverage-weighted vote): every firing rule
    * adds its positive-coverage weight to its class; argmax (tie →
    * class asc); rows no rule fires on take the default class. */
  def cn2PredictUnordered(rules: Seq[(String, String, String, Long)],
                          default: String, df: DataFrame): DataFrame = {
    val classes = rules.map(_._1).distinct.sorted
    val scores = classes.map { c =>
      val contrib = rules.filter(_._1 == c).map { case (_, f, v, w) =>
        when(col(f).cast("string") === lit(v), lit(w.toDouble))
          .otherwise(lit(0.0))
      }
      c -> (if (contrib.isEmpty) lit(0.0) else contrib.reduce(_ + _))
    }
    val anyFire = scores.map(_._2).reduce(_ + _) > 0.0
    val best = scores.tail.foldLeft(
      struct(scores.head._2.as("s"), lit(scores.head._1).as("c"))) {
      case (acc, (c, s)) =>
        when(s > acc.getField("s"), struct(s.as("s"), lit(c).as("c")))
          .otherwise(acc)
    }
    df.withColumn("prediction",
      when(anyFire, best.getField("c")).otherwise(lit(default)))
  }

  /** Decision-list prediction (rules.py:1176-1200 `ordered_predict`):
    * rules fire in order, first match wins; the trailing `_default`
    * rule covers everything. `rules` = ordered (feature, value,
    * predicted) triples as produced by [[cn2Ordered]]. Compiles to one
    * nested CASE — a pure projection, zero shuffle at any scale. */
  def cn2Predict(rules: Seq[(String, String, String)],
                 df: DataFrame): DataFrame = {
    val pred = rules.foldRight(lit(null).cast("string")) {
      case ((f, v, p), acc) =>
        if (f == "_default") lit(p)
        else when(col(f).cast("string") === lit(v), lit(p)).otherwise(acc)
    }
    df.withColumn("prediction", pred)
  }
}
