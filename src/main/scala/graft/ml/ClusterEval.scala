package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** External clustering-evaluation scores (Orange/evaluation/clustering.py).
  * Silhouette is covered by ml_silhouette / ml_silhouette_simplified; this
  * adds AdjustedMutualInfoScore (clustering.py:63, which delegates to
  * sklearn's adjusted_mutual_info_score with the 'arithmetic' average):
  *
  *   AMI = (MI − E[MI]) / ((H(U) + H(V)) / 2 − E[MI])
  *
  * Shape for scale: the ONLY distributed work is the (pred × actual)
  * contingency — one groupBy whose output is k·c rows no matter the input
  * size. MI, H(U), H(V) and the expected-MI correction are then pure
  * driver-side scalar math over that tiny matrix (exactly how the LDA /
  * Mahalanobis closed forms are staged). The exact E[MI] inner sum ranges
  * over the hypergeometric support, O(min(a_i, b_j)) terms per cell; we
  * keep it exact for oracle parity (≈10⁶ scalar terms at sf0.1, <0.1 s).
  * At extreme N the pmf concentrates in O(√N) terms around a_i·b_j/N, so
  * a tail cutoff bounds driver work without moving the 6-decimal result.
  */
object ClusterEval {

  /** ln Γ(x) — Lanczos (g=7, n=9) approximation, |err| < 1e-13 over the
    * arguments used here. Both this and DuckDB's LGAMMA feed exp() inside
    * a pmf in [0,1]; the final 6-decimal rounding absorbs the gap. */
  private[graft] def lgamma(x: Double): Double = {
    val g = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5) {
      math.log(math.Pi / math.sin(math.Pi * x)) - lgamma(1.0 - x)
    } else {
      val z = x - 1.0
      var a = g(0)
      var i = 1
      while (i < 9) { a += g(i) / (z + i); i += 1 }
      val t = z + 7.5
      0.5 * math.log(2.0 * math.Pi) + (z + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  private def r6(x: Double): Double = Rounds.roundHalfUp(x, 6)

  /** One row: (mi, emi, h_u, h_v, ami), each rounded to 6 decimals.
    * Natural-log MI (sklearn's unit). */
  def adjustedMutualInfo(df: DataFrame, pred: Column,
                         actual: Column): DataFrame = {
    val spark = df.sparkSession
    // rows with a missing label are dropped, mirroring the reference's
    // Results filtering (clustering.py from_predicted on finite rows)
    val cells = df.where(pred.isNotNull && actual.isNotNull)
      .groupBy(pred.as("u"), actual.as("v"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.get(0).toString, r.get(1).toString, r.getLong(2)))
      .sortBy(c => (c._1, c._2))
    val aM = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val bM = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val nTot = cells.map(_._3).sum.toDouble

    val mi = cells.map { case (u, v, n) =>
      (n / nTot) * math.log(nTot * n / (aM(u).toDouble * bM(v).toDouble))
    }.sum
    def entropy(m: Iterable[Long]): Double =
      -m.toSeq.sorted.map { c => (c / nTot) * math.log(c / nTot) }.sum
    val hu = entropy(aM.values)
    val hv = entropy(bM.values)

    // E[MI] under the hypergeometric model (sklearn
    // expected_mutual_information): sum over ALL marginal pairs, nij over
    // [max(1, a+b−N), min(a, b)].
    var emi = 0.0
    for (a <- aM.values.toSeq.sorted; b <- bM.values.toSeq.sorted) {
      val ad = a.toDouble; val bd = b.toDouble
      val lo = math.max(1L, a + b - nTot.toLong)
      val hi = math.min(a, b)
      val fixed = lgamma(ad + 1) + lgamma(bd + 1) +
        lgamma(nTot - ad + 1) + lgamma(nTot - bd + 1) - lgamma(nTot + 1)
      var nij = lo
      while (nij <= hi) {
        val nd = nij.toDouble
        val lnPmf = fixed - lgamma(nd + 1) - lgamma(ad - nd + 1) -
          lgamma(bd - nd + 1) - lgamma(nTot - ad - bd + nd + 1)
        emi += (nd / nTot) * math.log(nTot * nd / (ad * bd)) * math.exp(lnPmf)
        nij += 1
      }
    }

    // sklearn's special case: both labelings trivial (one cluster each)
    // scores 1.0; otherwise the normalizer is clamped away from zero so
    // degenerate inputs return a number, not NaN
    val ami =
      if (aM.size == 1 && bM.size == 1) 1.0
      else {
        val denom = math.max((hu + hv) / 2.0 - emi, Double.MinPositiveValue)
        (mi - emi) / denom
      }
    import spark.implicits._
    Seq((r6(mi), r6(emi), r6(hu), r6(hv), r6(ami)))
      .toDF("mi", "emi", "h_u", "h_v", "ami")
  }
}
