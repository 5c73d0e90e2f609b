package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables._

/** Gradient-boosted stumps with the logistic loss (reference
  * Orange/ensembles — Orange's GBT family wraps sklearn
  * GradientBoostingClassifier / xgboost / catboost; classification/gb.py,
  * classification/xgb.py, classification/catgb.py). This is the
  * Spark-native, oracle-exact re-expression: Newton-style boosting
  * (Friedman 2001 + the XGBoost gain; arXiv:1603.02754 §2.2) over
  * depth-1 regression stumps on a fixed candidate-threshold grid.
  *
  * Distributed shape: per-round "sample state" (score F_i, probability
  * p_i, residual y_i − p_i, hessian p_i(1−p_i)) is never materialized;
  * each round recomputes it from the picked-stump list (tiny,
  * driver-side) while scoring EVERY candidate split in ONE
  * [[Rounds.pass]] over a [[Rounds]] bit cache — 2K+2 scaled-long sums
  * accumulated partition-locally. R rounds = R passes + 1 accuracy
  * pass; no MLlib fit loop, no per-tree job storm.
  *
  * Oracle-exactness: gradient/hessian sums go through the 1e-12
  * scaled-long grid (order-independent integer addition; terms are
  * bounded by 1 so the envelope holds to ~8e6 rows — beyond that the
  * grid coarsens, see `gridScale`), gains and leaf values round to 10
  * decimals before the argmax / the score update, and both engines walk
  * the identical F = f0 + lr·leaf_1 + lr·leaf_2 + … left-to-right sum,
  * so the CTE-unrolled DuckDB twin ([[fitLogisticSql]]) selects the
  * identical split sequence and leaf values.
  *
  * Hyperparameter surface (the xgb/catgb adapter semantics):
  *  - `lr` = learning_rate (shrinkage on the Newton leaf step);
  *  - `lambda` = L2 on the hessian denominator (XGBoost's λ);
  *  - `subsample` — per-round deterministic row bagging via the
  *    portable md5 hash of (rowKey, round): stochastic gradient
  *    boosting (Friedman 2002) with a replayable "random" source;
  *  - `colsample` — per-round feature subset, a deterministic cyclic
  *    rotation (round r keeps ⌈colsample·F⌉ features starting at
  *    (r−1) mod F): colsample_bytree with a replayable choice.
  */
object GradBoost {

  /** One candidate split: rows with feat ≤ thr go left. */
  final case class Split(feat: String, thr: Double)

  /** Expand per-feature threshold lists in deterministic order. */
  def splits(featThrs: Seq[(String, Seq[Double])]): Seq[Split] =
    for ((f, ts) <- featThrs; t <- ts) yield Split(f, t)

  private def r10(v: Double): Double = math.rint(v * 1e10) / 1e10

  /** Candidate indices allowed in round r (1-based) under colsample:
    * keep ⌈colsample·F⌉ distinct features, cyclically rotated so every
    * feature participates across rounds. Data-independent → inlined
    * identically in the SQL twin. */
  def allowedCands(cands: Seq[Split], feats: Seq[String], r: Int,
                   colsample: Double): Seq[Int] = {
    val nKeep = math.ceil(colsample * feats.size).toInt.max(1)
    val keep = (0 until nKeep).map(i => feats((((r - 1) + i) % feats.size)))
      .toSet
    cands.indices.filter(k => keep.contains(cands(k).feat))
  }

  /** Fit `rounds` Newton stumps; one output row per round:
    * (round, feat, thr, gamma_l, gamma_r, gain, acc) — acc is the final
    * ensemble's training accuracy (repeated per row, rectangular).
    * @param feats  (name, column) in fixed order — raw scale
    * @param y01    label in {0, 1}
    * @param rowKey string column hashed for per-round bagging (only
    *               evaluated when subsample < 1) */
  def fitLogistic(df: DataFrame, feats: Seq[(String, Column)], y01: Column,
                  cands: Seq[Split], rounds: Int, lr: Double,
                  lambda: Double = 1.0, subsample: Double = 1.0,
                  colsample: Double = 1.0,
                  rowKey: Column = lit("")): DataFrame = {
    val spark = df.sparkSession
    val featNames = feats.map(_._1)
    val featCol = feats.toMap
    val kC = cands.size
    val doSub = subsample < 1.0

    // I_k indicator / y / per-round bag-inclusion columns, cached as
    // primitive arrays (the wide-aggregate codegen-collapse lesson:
    // 2K+2 HashAggregate columns fall out of whole-stage codegen)
    val iCols = cands.zipWithIndex.map { case (c, k) =>
      when(featCol(c.feat) <= c.thr, 1.0).otherwise(0.0).as(s"i_$k") }
    // one md5 digest serves 5 rounds of bag draws (32-bit windows at
    // offsets 1,7,13,19,25) — hashing per round made the digest the
    // dominant cache-build cost, same economy as RandomForest.bagFilter
    val subCols = if (doSub) (1 to rounds).map { r =>
      (pmod(hashVal32At(
        concat_ws("#", rowKey, lit("gbbag"), lit((r - 1) / 5)),
        1 + 6 * ((r - 1) % 5)),
        lit(1000)) < lit((subsample * 1000).toInt))
        .cast("double").as(s"s_$r") } else Seq.empty
    val nonNull = feats.map(_._2.isNotNull).reduce(_ && _) && y01.isNotNull
    val base = df.filter(nonNull)
      .select(iCols ++: (y01.cast("double").as("y") +: subCols): _*)
    // Every cached column is binary by construction (split indicators,
    // the {0,1} label, bag-inclusion draws), so the cache is a [[Rounds]]
    // bit cache, bit set ↔ 1.0: the values are unchanged, so every
    // downstream sum — and the CTE oracle — is bit-identical.
    val arr = Rounds.bits(base, clear = 0.0,
      v => s"GradBoost cache expects binary columns, got $v (is y01 in {0,1}?)")
    val nw = Rounds.words(base.schema.size)
    // picked: (candIdx, gammaL, gammaR, gain)
    var picked = Vector.empty[(Int, Double, Double, Double)]
    val acc = try {
      // f0 = ln(p̄/(1−p̄)) from exact long counts (same division shape as
      // the SQL twin: SUM(y)::DOUBLE / COUNT(*))
      val np = Rounds.pass(arr, kC, 2) { (y, ch, a) =>
        var off = 0
        while (off < ch.length) {
          a.add(0, 1L)
          if (Rounds.bit(ch, off, y)) a.add(1, 1L)
          off += nw
        }
      }
      val nRows = np.long(0)
      val pbar = np.long(1).toDouble / nRows.toDouble
      val f0 = r10(math.log(pbar / (1.0 - pbar)))
      // 1e-12 grid while Σ|term|·1e12 stays far from 2^63 (terms ≤ 1);
      // the 100 TB path coarsens to 1e-6 — same branch in the SQL twin
      val grid = if (nRows <= 8000000L) 1e12 else 1e6

      for (r <- 1 to rounds) {
        val allowed = allowedCands(cands, featNames, r, colsample).toArray
        val nA = allowed.length
        val subIdx = if (doSub) kC + r else -1
        val sums = Rounds.pass(arr,
            (picked.map(p => (p._1, p._2, p._3)).toArray, allowed),
            2 + 2 * nA) { case ((pk, al), ch, a) =>
          var off = 0
          while (off < ch.length) {
            if (subIdx < 0 || Rounds.bit(ch, off, subIdx)) {
              var f = f0; var j = 0
              while (j < pk.length) {
                val (kj, gl, gr) = pk(j)
                f += lr * (if (Rounds.bit(ch, off, kj)) gl else gr)
                j += 1
              }
              val p = 1.0 / (1.0 + Math.exp(-f))
              val resid = Rounds.roundScaled(
                (if (Rounds.bit(ch, off, kC)) 1.0 else 0.0) - p, grid)
              val h = Rounds.roundScaled(p * (1.0 - p), grid)
              a.add(0, resid); a.add(1, h)
              var i = 0
              while (i < al.length) {
                if (Rounds.bit(ch, off, al(i))) {
                  a.add(2 + 2 * i, resid); a.add(3 + 2 * i, h)
                }
                i += 1
              }
            }
            off += nw
          }
        }
        val gt = sums.value(0, grid)
        val ht = sums.value(1, grid)
        val scored = (0 until nA).map { i =>
          val gl = sums.value(2 + 2 * i, grid)
          val hl = sums.value(3 + 2 * i, grid)
          val gr = gt - gl; val hr = ht - hl
          val gain = r10(gl * gl / (hl + lambda) + gr * gr / (hr + lambda) -
            gt * gt / (ht + lambda))
          (allowed(i), gain, r10(gl / (hl + lambda)), r10(gr / (hr + lambda)))
        }
        val best = scored.minBy { case (k, g, _, _) => (-g, k) }
        picked :+= ((best._1, best._3, best._4, best._2))
      }

      val ct = Rounds.pass(arr, picked.map(p => (p._1, p._2, p._3)).toArray,
          2) { (pk, ch, a) =>
        var off = 0
        while (off < ch.length) {
          var f = f0; var j = 0
          while (j < pk.length) {
            val (kj, gl, gr) = pk(j)
            f += lr * (if (Rounds.bit(ch, off, kj)) gl else gr)
            j += 1
          }
          if ((f > 0) == Rounds.bit(ch, off, kC)) a.add(0, 1L)
          a.add(1, 1L)
          off += nw
        }
      }
      math.rint(ct.long(0).toDouble / ct.long(1).toDouble * 1e6) / 1e6
    } finally arr.unpersist(false)

    val schema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("feat", StringType, nullable = false),
      StructField("thr", DoubleType, nullable = false),
      StructField("gamma_l", DoubleType, nullable = false),
      StructField("gamma_r", DoubleType, nullable = false),
      StructField("gain", DoubleType, nullable = false),
      StructField("acc", DoubleType, nullable = false)))
    val rows = picked.zipWithIndex.map { case ((k, gl, gr, gain), i) =>
      Row(i + 1, cands(k).feat, cands(k).thr, gl, gr, gain, acc)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** DuckDB twin of [[fitLogistic]]: rounds unrolled as chained CTEs —
    * per round a 2K+2-sum scaled aggregate, the gain rank, and the two
    * Newton leaf values; later rounds rebuild F through CASE dispatch on
    * the earlier 1-row selection CTEs, identical to the Spark loop. */
  def fitLogisticSql(table: String, featsSql: Seq[(String, String)],
                     ySql: String, cands: Seq[Split], rounds: Int,
                     lr: Double, lambda: Double = 1.0,
                     subsample: Double = 1.0, colsample: Double = 1.0,
                     rowKeySql: String = "''"): String = {
    val featNames = featsSql.map(_._1)
    val fSqlMap = featsSql.toMap
    val doSub = subsample < 1.0
    def iSql(c: Split): String =
      s"(CASE WHEN (${fSqlMap(c.feat)}) <= ${c.thr} THEN 1.0 ELSE 0.0 END)"
    def subSql(r: Int): String = {
      val h = hashVal32AtSql(
        s"concat_ws('#', $rowKeySql, 'gbbag', '${(r - 1) / 5}')",
        1 + 6 * ((r - 1) % 5))
      s"(CASE WHEN ($h) % 1000 < ${(subsample * 1000).toInt} THEN 1.0 ELSE 0.0 END)"
    }
    // leaf of the round-j selection, dispatched on sel_j.k
    def leafSel(j: Int): String =
      cands.indices.map(k =>
        s"WHEN $k THEN (CASE WHEN ${iSql(cands(k))} = 1.0 " +
          s"THEN sel_$j.gl ELSE sel_$j.gr END)")
        .mkString(s"(CASE sel_$j.k ", " ", " END)")
    def fSql(upto: Int): String =
      (1 to upto).foldLeft("f0.f0") { (acc, j) => s"$acc + $lr * ${leafSel(j)}" }
    def selJoins(upto: Int): String =
      (1 to upto).map(j => s" CROSS JOIN sel_$j").mkString
    // same grid branch as the Spark side: 1e-12 under 8e6 rows
    def gSum(t: String): String =
      s"(CAST(SUM(CAST(ROUND(($t) * (SELECT g FROM grid), 0) AS BIGINT)) " +
        s"AS BIGINT) / (SELECT g FROM grid))"

    val prelude =
      s"""grid AS MATERIALIZED (SELECT CASE WHEN COUNT(*) <= 8000000
         |    THEN 1e12 ELSE 1e6 END AS g FROM $table),
         |f0 AS MATERIALIZED (SELECT ROUND(LN(pbar / (1.0 - pbar)), 10) AS f0
         |  FROM (SELECT CAST(SUM(CASE WHEN ($ySql) = 1.0 THEN 1 ELSE 0 END)
         |          AS DOUBLE) / COUNT(*) AS pbar FROM $table) t)""".stripMargin

    val roundCtes = (1 to rounds).map { r =>
      val allowed = allowedCands(cands, featNames, r, colsample)
      val f = fSql(r - 1)
      val p = s"(1.0 / (1.0 + EXP(-($f))))"
      val sub = if (doSub) s" * ${subSql(r)}" else ""
      val resid = s"((($ySql) - $p)$sub)"
      val hess = s"(($p * (1.0 - $p))$sub)"
      val sumCols =
        s"${gSum(resid)} AS gt, ${gSum(hess)} AS ht, " +
          allowed.map { k =>
            s"${gSum(s"${iSql(cands(k))} * $resid")} AS g_$k, " +
              s"${gSum(s"${iSql(cands(k))} * $hess")} AS h_$k"
          }.mkString(", ")
      val errs =
        s"errs_$r AS MATERIALIZED (SELECT $sumCols " +
          s"FROM $table CROSS JOIN f0${selJoins(r - 1)})"
      val unp = allowed.map { k =>
        s"""SELECT $k AS k,
           |  ROUND(g_$k * g_$k / (h_$k + $lambda)
           |    + (gt - g_$k) * (gt - g_$k) / ((ht - h_$k) + $lambda)
           |    - gt * gt / (ht + $lambda), 10) AS gain,
           |  ROUND(g_$k / (h_$k + $lambda), 10) AS gl,
           |  ROUND((gt - g_$k) / ((ht - h_$k) + $lambda), 10) AS gr
           |FROM errs_$r""".stripMargin
      }.mkString(s"unp_$r AS MATERIALIZED (", " UNION ALL ", ")")
      val sel =
        s"""sel_$r AS MATERIALIZED (
           |  SELECT k, gain, gl, gr FROM (
           |    SELECT k, gain, gl, gr,
           |      ROW_NUMBER() OVER (ORDER BY gain DESC, k ASC) AS rn
           |    FROM unp_$r) WHERE rn = 1)""".stripMargin
      s"$errs,\n$unp,\n$sel"
    }
    val accCte =
      s"""acc AS MATERIALIZED (
         |  SELECT ROUND(SUM(CASE WHEN (CASE WHEN (${fSql(rounds)}) > 0
         |    THEN 1.0 ELSE 0.0 END) = ($ySql) THEN 1 ELSE 0 END) * 1.0
         |    / COUNT(*), 6) AS acc
         |  FROM $table CROSS JOIN f0${selJoins(rounds)})""".stripMargin
    def candCase(j: Int, proj: Split => String): String =
      cands.indices.map(k => s"WHEN $k THEN ${proj(cands(k))}")
        .mkString(s"(CASE sel_$j.k ", " ", " END)")
    val outRows = (1 to rounds).map { j =>
      s"SELECT $j AS round, ${candCase(j, c => s"'${c.feat}'")} AS feat, " +
        s"${candCase(j, c => c.thr.toString)} AS thr, " +
        s"sel_$j.gl AS gamma_l, sel_$j.gr AS gamma_r, " +
        s"sel_$j.gain AS gain, acc.acc AS acc " +
        s"FROM sel_$j CROSS JOIN acc"
    }
    s"""WITH $prelude,
       |${roundCtes.mkString(",\n")},
       |$accCte
       |${outRows.mkString("\n UNION ALL ")}
       |ORDER BY round""".stripMargin
  }
}
