package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._
import graft.core.Tables

/** Deterministic bisecting (divisive) k-means — reference
  * Orange/clustering/hierarchical.py's divisive complement, surfaced in
  * MLlib as BisectingKMeans. The MLlib fit is seeded-random and
  * rows-only-checkable; this re-expression pins every choice so the
  * whole trajectory is oracle-exact:
  *
  *   - split target = largest cluster (ties → smallest cluster id),
  *   - 2-means seeds = the two lowest-id members,
  *   - assignment argmin ties → the parent (left) child,
  *   - centroid updates through the scaled-long 1e-12 grid with
  *     10-decimal rounding (the Lloyd device; callers pre-scale
  *     features to |x| ≤ 1), empty children keep their centroid,
  *   - the new child takes cluster id = split number.
  *
  * Scale shape: ONE Catalyst projection into one [[Lloyd.points]] cache
  * of every row (features, grid terms, id); every step after it is one
  * job over that cache, on the [[Rounds]] kernel. The assignment is a
  * split history on the driver — per split, the parent cluster and the
  * two final centroids — that each pass replays per row ([[cluster]]).
  * A split runs Lloyd's first pass (the |x| ≤ 1 envelope, which the
  * first split sees over every row, and the two seeds) and its rounds,
  * unchanged, over a map of the cache that keeps the parent's members;
  * a [[census]] pass then counts every cluster and takes its min id.
  * Jobs: (k − 1)·(iterations + 2), or one census at k = 1, with no
  * join, sort or checkpoint. */
object Bisect {

  /** Split s (history index s − 1) of cluster `parent`: its members
    * nearer `right` than `left` move to cluster s. */
  private final case class Split(parent: Int, left: Array[Double], right: Array[Double])

  /** The cluster of the [[Lloyd.points]] row at `o` after `splits`: a
    * row of a split's parent stays unless it is strictly nearer the new
    * child (a `<=` tie stays with the parent). */
  private def cluster(ch: Array[Double], o: Int, splits: Array[Split]): Int = {
    var c = 0
    var s = 0
    while (s < splits.length) {
      val sp = splits(s)
      if (c == sp.parent &&
          !(Lloyd.dist(ch, o, sp.left) <= Lloyd.dist(ch, o, sp.right))) c = s + 1
      s += 1
    }
    c
  }

  /** Per cluster after `splits`, (rows, min id) over every row of `pts`
    * (`d` features): one job. An empty cluster reads (0, +∞). */
  private def census(pts: RDD[Array[Double]], d: Int,
                     splits: Array[Split]): Array[(Long, Double)] = {
    val k = splits.length + 1
    val st = 2 * d + 1
    val (n, lo) = pts.aggregate(
        (new Array[Long](k), Array.fill(k)(Double.PositiveInfinity)))({
      case ((n, lo), ch) =>
        var o = 0
        while (o < ch.length) {
          val c = cluster(ch, o, splits)
          n(c) += 1
          lo(c) = math.min(lo(c), ch(o + st - 1))
          o += st
        }
        (n, lo)
    }, { case ((n1, l1), (n2, l2)) =>
      (Array.tabulate(k)(c => n1(c) + n2(c)),
        Array.tabulate(k)(c => math.min(l1(c), l2(c))))
    })
    n.zip(lo)
  }

  /** @return one row per non-empty cluster: (cluster, n, min_id),
    *         cluster ids in split order (0 = root remainder, s = split-s
    *         child), built eagerly on the driver, so no cache outlives
    *         the call. The |x| ≤ 1 envelope and |id| < 2⁵³ are checked
    *         by the first split, so at k = 1 (no split) only the min id
    *         is: it must be exact as a double. */
  def fit(df: DataFrame, idCol: Column, feats: Seq[(String, Column)],
          k: Int, iterations: Int): DataFrame = {
    val d = feats.size
    val st = 2 * d + 1
    val xCols = feats.map { case (n, _) => s"x_$n" }
    def r10(v: Double): Double = {
      val p = v * 1e10
      (if (p >= 0) math.floor(p + 0.5) else math.ceil(p - 0.5)) / 1e10
    }
    val pts = Lloyd.points(df.select(idCol.cast("long").as("id") +:
      feats.map { case (n, f) => f.cast("double").as(s"x_$n") }: _*)
      .na.drop(), xCols)
    val sizes = try {
      var splits = Array.empty[Split]
      var sizes: Array[(Long, Double)] = null // the last census
      for (s <- 1 until k) {
        // the largest cluster; before the first split there is only 0
        val chosen = if (s == 1) 0 else sizes.indices.minBy(c => (-sizes(c)._1, c))
        val hist = splits
        val members = pts.map { ch =>
          val out = new Array[Double](ch.length)
          var n = 0
          var o = 0
          while (o < ch.length) {
            if (cluster(ch, o, hist) == chosen) {
              System.arraycopy(ch, o, out, n, st); n += st
            }
            o += st
          }
          java.util.Arrays.copyOf(out, n)
        }
        val seed = Lloyd.seed(members, d, 2, "bisect")
        require(seed.length == 2, s"bisect: cluster $chosen has < 2 members")
        val cent = Lloyd.rounds(members, seed, iterations)((sm, n) => r10(sm / n))
        splits :+= Split(chosen, cent(0), cent(1))
        sizes = census(pts, d, splits)
      }
      if (sizes == null) census(pts, d, splits) else sizes
    } finally pts.unpersist(blocking = false)

    val rows = sizes.indices.filter(c => sizes(c)._1 > 0).map { c =>
      val (n, lo) = sizes(c)
      require(math.abs(lo) < Lloyd.IdLimit,
        s"bisect: min id $lo of cluster $c is not below 2^53, so it is not exact as a double")
      Row(c, n, lo.toLong)
    }
    val schema = StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("min_id", LongType)))
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** DuckDB twin of [[fit]]: splits unroll as (size-argmax → members →
    * seeds → Lloyd iterations → reassignment) CTE blocks. */
  def fitSql(table: String, idSql: String, featsSql: Seq[(String, String)],
             k: Int, iterations: Int): String = {
    val d = featsSql.size
    val names = featsSql.map(_._1)
    def cc(s: Int, it: Int, c: Int, j: Int) = s"c${s}_${it}_${c}_$j"
    def distExpr(s: Int, it: Int, c: Int, pre: String = "") =
      (0 until d).map { j =>
        s"($pre" + s"x_${names(j)} - ${cc(s, it, c, j)}) * " +
          s"($pre" + s"x_${names(j)} - ${cc(s, it, c, j)})"
      }.mkString(" + ")
    val splits = (1 to k - 1).map { s =>
      val prevA = s"a${s - 1}"
      val seedCte =
        s"""sz_$s AS (
           |  SELECT cluster FROM $prevA GROUP BY cluster
           |  ORDER BY COUNT(*) DESC, cluster ASC LIMIT 1),
           |mem_$s AS MATERIALIZED (
           |  SELECT f.* FROM feats f
           |  JOIN $prevA a ON a.id = f.id CROSS JOIN sz_$s
           |  WHERE a.cluster = sz_$s.cluster),
           |sd_$s AS (
           |  SELECT *, ROW_NUMBER() OVER (ORDER BY id) AS rn
           |  FROM (SELECT * FROM mem_$s ORDER BY id LIMIT 2) t),
           |ct_${s}_0 AS (
           |  SELECT ${(0 until 2).flatMap(c => (0 until d).map(j =>
               s"MAX(CASE WHEN rn = ${c + 1} THEN x_${names(j)} END)" +
                 s" AS ${cc(s, 0, c, j)}")).mkString(",\n    ")}
           |  FROM sd_$s)""".stripMargin
      val iterCtes = (1 to iterations).map { it =>
        val p = it - 1
        s"""ai_${s}_$it AS (
           |  SELECT CASE WHEN ${distExpr(s, p, 0)} <= ${distExpr(s, p, 1)}
           |    THEN 0 ELSE 1 END AS child,
           |    ${names.map(n => s"x_$n").mkString(", ")}
           |  FROM mem_$s CROSS JOIN ct_${s}_$p),
           |gr_${s}_$it AS (
           |  SELECT child, COUNT(*) AS n,
           |    ${names.map(n => s"${Tables.scaledLongSumSql(s"x_$n")} AS s_$n")
               .mkString(", ")}
           |  FROM ai_${s}_$it GROUP BY child),
           |ct_${s}_$it AS MATERIALIZED (
           |  SELECT ${(0 until 2).flatMap(c => (0 until d).map(j =>
               s"COALESCE(MAX(CASE WHEN g.child = $c THEN " +
                 s"ROUND(g.s_${names(j)} / g.n, 10) END), " +
                 s"MIN(${cc(s, p, c, j)})) AS ${cc(s, it, c, j)}"))
               .mkString(",\n    ")}
           |  FROM gr_${s}_$it g CROSS JOIN ct_${s}_$p)""".stripMargin
      }
      val newA =
        s"""a$s AS MATERIALIZED (
           |  SELECT a.id,
           |    CASE WHEN m.id IS NULL THEN a.cluster
           |      WHEN ${distExpr(s, iterations, 0, "m.")} <=
           |           ${distExpr(s, iterations, 1, "m.")}
           |      THEN a.cluster ELSE $s END AS cluster
           |  FROM $prevA a
           |  LEFT JOIN mem_$s m ON m.id = a.id
           |  CROSS JOIN ct_${s}_$iterations)""".stripMargin
      (Seq(seedCte) ++ iterCtes ++ Seq(newA)).mkString(",\n")
    }
    s"""WITH feats AS MATERIALIZED (
       |  SELECT $idSql AS id, ${featsSql.map { case (n, e) =>
           s"CAST($e AS DOUBLE) AS x_$n" }.mkString(", ")}
       |  FROM $table
       |  WHERE ${(featsSql.map(_._2) :+ idSql)
           .map(e => s"($e) IS NOT NULL").mkString(" AND ")}),
       |a0 AS (SELECT id, 0 AS cluster FROM feats),
       |${splits.mkString(",\n")}
       |SELECT cluster, COUNT(*) AS n, MIN(id) AS min_id
       |FROM a${k - 1} GROUP BY cluster ORDER BY cluster""".stripMargin
  }
}
