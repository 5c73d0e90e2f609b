package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
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
  * Scale shape: each split caches the split cluster's members and runs
  * its 2-means on Lloyd's round kernel (k = 2, on [[Rounds]]): Lloyd's
  * first pass over the members' persisted points checks the |x| ≤ 1
  * envelope (the first split's members are every row) and takes the two
  * seeds, then one job per iteration, planned once per split — no
  * Catalyst planning or codegen inside the iteration loop. The kernel's
  * first-minimum argmin sends ties to the parent (left) child, as the
  * final `<=` reassignment does. The assignment table updates via an id-keyed join. No global
  * sort, no crossJoin against the corpus — k·E bounded scans total. */
object Bisect {

  /** @return one row per cluster: (cluster, n, min_id), cluster ids in
    *         split order (0 = root remainder, s = split-s child). The k
    *         rows are computed eagerly, so no cache or checkpoint
    *         outlives the call. The |x| ≤ 1 envelope and |id| < 2⁵³ are
    *         checked by the first split, so at k = 1 (no split) they are
    *         not. */
  def fit(df: DataFrame, idCol: Column, feats: Seq[(String, Column)],
          k: Int, iterations: Int): DataFrame = {
    val d = feats.size
    val xCols = feats.map { case (n, _) => s"x_$n" }
    val base = df.select(idCol.cast("long").as("id") +:
      feats.map { case (n, f) => f.cast("double").as(s"x_$n") }: _*)
      .na.drop().cache()
    def r10(v: Double): Double = {
      val p = v * 1e10
      (if (p >= 0) math.floor(p + 0.5) else math.ceil(p - 0.5)) / 1e10
    }
    var asg: DataFrame = null
    try {
      asg = base.select(col("id"), lit(0).as("cluster"))
        .localCheckpoint(eager = true)
      for (s <- 1 until k) {
        val chosen = asg.groupBy("cluster").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getInt(0), r.getLong(1)))
          .minBy { case (c, n) => (-n, c) }._1
        val members = base
          .join(asg.filter(col("cluster") === chosen).select("id"), "id")
          .cache()
        try {
          val pts = Lloyd.points(members, xCols)
          val cent = try {
            val seed = Lloyd.seed(pts, d, 2, "bisect")
            require(seed.length == 2, s"bisect: cluster $chosen has < 2 members")
            Lloyd.rounds(pts, seed, iterations)((sm, n) => r10(sm / n))
          } finally pts.unpersist(blocking = false)
          def dist(child: Int): Column = xCols.zipWithIndex.map { case (x, j) =>
            val e = col(x) - lit(cent(child)(j)); e * e
          }.reduce(_ + _)
          val childAsg = members.select(col("id"),
            when(dist(0) <= dist(1), lit(chosen)).otherwise(lit(s)).as("newc"))
          val prevAsg = asg
          asg = asg.join(childAsg, Seq("id"), "left")
            .select(col("id"),
              coalesce(col("newc"), col("cluster")).as("cluster"))
            .localCheckpoint(eager = true)
          Tables.unpersistLocalCheckpoint(prevAsg)
        } finally members.unpersist()
      }
      val out = asg.groupBy("cluster")
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"))
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(out.collect().sortBy(_.getInt(0)): _*),
        out.schema)
    } finally {
      if (asg != null) Tables.unpersistLocalCheckpoint(asg)
      base.unpersist()
    }
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
