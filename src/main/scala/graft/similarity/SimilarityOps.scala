package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Similarity search over embedding columns (Array[Float]) and the
  * Orange distance set (SURVEY §2.9) on plain columns.
  *
  * Determinism note: dot products are emitted as a fixed left-to-right
  * 64-term sum (the fixture dimension) so Spark and the DuckDB oracle
  * produce identical doubles — no reliance on reduction order.
  *
  * Scale shapes:
  *  - brute-force top-k: queries × corpus equi-free join — broadcast the
  *    (small) query side, rank per query. O(|Q|·|C|) but embarrassingly
  *    parallel and codegen'd; the right baseline.
  *  - LSH-bucketed: sign-of-projection bucket per vector (deterministic
  *    hyperplanes from md5), equi-join on bucket — the 100 TB path.
  */
object SimilarityOps {

  /** Dot product over array<float> vectors — the native codegen'd
    * Catalyst expression (graft.functions.VectorExprs.DotProductF),
    * which accumulates in the same ascending left-to-right order as
    * the explicit 64-term chains the DuckDB oracles spell out, so the
    * doubles agree bit-for-bit. `dim` documents the fixture dimension
    * (every stored vector is exactly dim long; the kernel loops the
    * full array). */
  def dotFixed(a: Column, b: Column, dim: Int): Column =
    graft.functions.VectorExprs.dotF(a, b)

  def norm2Fixed(a: Column, dim: Int): Column =
    graft.functions.VectorExprs.norm2F(a)

  def cosineFixed(a: Column, b: Column, dim: Int): Column =
    dotFixed(a, b, dim) / (norm2Fixed(a, dim) * norm2Fixed(b, dim))

  /** Brute-force top-k cosine neighbors of each query vector.
    * `queries` should be small (it is broadcast). Self-pairs excluded;
    * ties broken by candidate id. */
  def topKCosine(queries: DataFrame, corpus: DataFrame, id: String,
                 vec: String, dim: Int, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFixed(col("__qv"), col("__cv"), dim))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Deterministic ±1 hyperplane component for (plane j, dim i) — an
    * md5-derived constant baked in at plan-build time, so the oracle SQL
    * can embed the identical literal. */
  def planeComponent(j: Int, i: Int): Double =
    graft.core.PortableHash.signOf(s"plane_${j}_$i")

  /** Random-hyperplane LSH bucket id (nPlanes sign bits → int). The
    * planes are literal constants; per row this is nPlanes fixed dot
    * products, fully codegen'd. */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int): Column =
    (0 until nPlanes).map { j =>
      val proj = (1 to dim).map(i =>
        element_at(vec, i).cast("double") * planeComponent(j, i)).reduce(_ + _)
      when(proj > 0, math.pow(2, j).toLong).otherwise(0L)
    }.reduce(_ + _)

  /** LSH-bucketed ANN: join query/corpus on bucket equality, then exact
    * cosine within the bucket. Misses cross-bucket neighbors (approx),
    * but the join is an equi-join → shuffle on bucket id, no crossJoin. */
  def lshTopKCosine(queries: DataFrame, corpus: DataFrame, id: String,
                    vec: String, dim: Int, k: Int, nPlanes: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"),
      lshBucket(col(vec), dim, nPlanes).as("bucket"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv"),
      lshBucket(col(vec), dim, nPlanes).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(c, Seq("bucket")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFixed(col("__qv"), col("__cv"), dim))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Bucket id over one LSH *band* — the sign bits of `planes` (a range
    * of plane indices), so multiple independent bands can be derived
    * from disjoint plane ranges. */
  def lshBandBucket(vec: Column, dim: Int, planes: Range): Column =
    planes.zipWithIndex.map { case (j, bit) =>
      val proj = (1 to dim).map(i =>
        element_at(vec, i).cast("double") * planeComponent(j, i)).reduce(_ + _)
      when(proj > 0, math.pow(2, bit).toLong).otherwise(0L)
    }.reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs — the dedup shape (vs the ANN
    * top-k shape above): ALL pairs with cosine ≥ `threshold`, found via
    * banded random-hyperplane LSH. Each vector gets `bands` bucket keys
    * (disjoint plane ranges of `planesPerBand` sign bits); a pair is a
    * candidate iff it collides in at least one band (union + distinct),
    * then the exact cosine filter keeps true near-dups.
    *
    * Scale shape: the corpus is shuffled on (band, bucket) — an
    * equi-join, never an all-pairs theta join; recall is tuned by
    * `bands` (more bands → more chances to collide) exactly like
    * MinHash-LSH banding in text dedup. Candidates are deduped BEFORE
    * the exact cosine so each surviving pair is scored once. */
  /** Above this estimated candidate-pair count (Σ c·(c−1)/2 over
    * (band, bucket) occupancies) [[cosineNearDupPairs]] fails fast:
    * with FIXED planesPerBand the bucket count is constant, so bucket
    * occupancy — and the within-bucket self-join — grows quadratically
    * with the corpus (measured: 200k uniform vectors at 4 planes/band
    * = ~6G candidates, a disk-filling DNF). The scale knob is
    * `planesPerBand` ∝ log₂(corpus): more, smaller buckets at a recall
    * cost. Overridable via `graft.dedup.maxCosinePairs`. */
  val DefaultMaxCosinePairs: Long = 2_000_000_000L

  def cosineNearDupPairs(corpus: DataFrame, id: String, vec: String,
                         dim: Int, threshold: Double, bands: Int,
                         planesPerBand: Int): DataFrame = {
    // candidate generation is id-only: the wide vector column stays OUT
    // of the (band, bucket) shuffle and the pair dedup — vectors are
    // re-joined by id only for the ≪ n² surviving candidates
    // cached: the guard aggregate below plus BOTH sides of the banded
    // self-join read it — without the cache the full per-band bucket
    // hashing of the corpus is evaluated three times per call (the
    // jaccardPairs retained-shingle device)
    val keyed = (0 until bands).map { b =>
      corpus.select(col(id).as("__id"), lit(b).as("band"),
        lshBandBucket(col(vec), dim,
          b * planesPerBand until (b + 1) * planesPerBand).as("bucket"))
    }.reduce(_.unionByName(_)).cache()
    // fail-fast occupancy guard (the jaccardPairs device): the banded
    // self-join below materializes exactly Σ c·(c−1)/2 candidate rows
    val maxPairs = corpus.sparkSession.conf
      .getOption("graft.dedup.maxCosinePairs").map(_.toLong)
      .getOrElse(DefaultMaxCosinePairs)
    val (estPairs, corpusRows) = {
      val c = col("__c").cast("decimal(19,0)")
      val row = keyed.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("__c"))
        .agg(sum((c * (c - 1) / 2).cast("decimal(38,0)")).as("p"),
          (sum(c) / bands).cast("long").as("n"))
        .head
      (Option(row.getDecimal(0)).map(_.toBigInteger)
         .getOrElse(java.math.BigInteger.ZERO),
       if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    if (estPairs.compareTo(java.math.BigInteger.valueOf(maxPairs)) > 0) {
      keyed.unpersist(false)
      throw new IllegalStateException(
        s"cosineNearDupPairs would materialize ~$estPairs candidate " +
        s"pairs (> $maxPairs, graft.dedup.maxCosinePairs): bucket " +
        s"occupancy is quadratic at fixed planesPerBand ($planesPerBand). " +
        "Raise planesPerBand (buckets ∝ 2^planes, occupancy ∝ " +
        "n/2^planes) or use the ANN top-k family (ann_lsh_bucketed / " +
        "ann_ivf) instead of all-pairs, or raise " +
        "graft.dedup.maxCosinePairs explicitly.")
    }
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // the vector re-join's left side is the CANDIDATE set (≫ corpus when
    // buckets are hot): sort-merge-joining it drags every candidate row
    // through two Exchanges carrying a dim-float payload (measured: 750M
    // candidates × 256 B ≈ a disk-filling 150 GB shuffle at 200k vectors
    // × 8 planes/band). The corpus side is id+vector only — broadcast it
    // whenever it plausibly fits an executor (corpus bytes ≈ n·(8+4·dim)),
    // so candidates stream map-side and the only Exchange left is the
    // pair dedup. Past the broadcast ceiling the corpus is big enough
    // that the guard already forces planesPerBand ∝ log₂(n), keeping
    // candidates ≈ O(corpus) and the shuffle join proportionate.
    val vecBytes = corpusRows * (8L + 4L * dim)
    // heap-aware ceiling (the featCacheMaxBytes rule, ml/SGD.scala):
    // a broadcast relation lives once per EXECUTOR JVM alongside the
    // shuffle/storage pools, and the hashed-relation form costs ~2-3×
    // the raw bytes — a flat 512 MB would be wrong on a 4 GB executor.
    // heap/16 keeps the expanded relation under ~1/5 of that heap. The
    // heap that matters is the executor's (spark.executor.memory), not
    // the driver's — they differ on real clusters; in local mode the
    // executor IS the driver JVM, so its live maxMemory is the truth
    // (and spark.executor.memory may be an inert leftover there).
    val execHeapBytes = {
      val sc = corpus.sparkSession.sparkContext
      if (sc.isLocal) Runtime.getRuntime.maxMemory
      else sc.getConf.getSizeAsBytes("spark.executor.memory",
        Runtime.getRuntime.maxMemory.toString)
    }
    val maxBcast = corpus.sparkSession.conf
      .getOption("graft.dedup.broadcastVecBytes").map(_.toLong)
      .getOrElse(math.min(512L * 1024 * 1024, execHeapBytes / 16))
    def side(n: String) = {
      val v = corpus.select(col(id).as(n), col(vec).as("__v" + n))
      if (vecBytes <= maxBcast) broadcast(v) else v
    }
    cand
      .join(side("id_a"), "id_a")
      .join(side("id_b"), "id_b")
      .withColumn("cosine", cosineFixed(col("__vid_a"), col("__vid_b"), dim))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Zero-expansion broadcast top-`rank` centroid assignment — replaces
    * the crossJoin(centroids) + row_number window the IVF/PQ builders
    * used through round 10. That shape broadcast-joined each row with
    * all nlist centroids and then ran `Window.partitionBy(id)`, which
    * Exchanges + sorts n×nlist EXPANDED rows — every Lloyd round, the
    * dominant ANN-build cost at 100 TB. Here the driver-held centroid
    * list embeds in a fused native kernel
    * ([[graft.functions.CentroidSelect.CentroidArgTop]]): every row
    * scores all centroids in one tight codegen'd loop and emits only
    * the `rank` surviving ids — no Exchange, no sort, no per-centroid
    * struct allocation (an intermediate array(struct(score, id)) +
    * array_max rewrite measured 1.75–3.9× slower than even the old
    * join at sf10; PlanSpec pins the Exchange-free shape).
    *
    * Ordering contract — identical to the old window
    * (score asc|desc, centroid id asc): selection compares with
    * java.lang.Double.compare (Spark's double order, NaN greatest) and
    * keeps the earlier centroid on ties, with ids required ascending.
    * Scores are bit-identical to the Column formulas (see
    * [[graft.functions.CentroidSelect]]). `mode` is one of
    * CentroidSelect.Cos / L2 / D2 over the `vec` array column. */
  private[graft] def assignTopR(df: DataFrame,
                                cents: Seq[(Long, Seq[Double])],
                                vec: Column, mode: Int, asc: Boolean,
                                rank: Int, out: String): DataFrame = {
    val sel = graft.functions.CentroidSelect.argTop(vec, cents, mode,
      asc, rank)
    if (rank == 1) df.withColumn(out, sel)
    else df.withColumn(out, explode(sel))
  }

  /** IVF (inverted-file) ANN — the FAISS-style scale path beside LSH:
    *
    *  1. coarse quantizer: `nlist` centroids seeded from the smallest
    *     vector ids (deterministic), refined by `lloyd` exact Lloyd
    *     iterations (assignment = broadcast-join vs the tiny centroid
    *     table; update = one per-dimension exactSum aggregation);
    *  2. inverted lists: every corpus vector keyed by its nearest
    *     centroid — ONE narrow (list_id, id, vec) table, shuffle on
    *     list_id only;
    *  3. search: each query probes its `nprobe` nearest centroids and
    *     exact-scores only those lists — an equi-join on list_id, so
    *     scanned candidates shrink by ~nlist/nprobe at any corpus size.
    *
    * With nprobe = nlist the result equals brute force exactly
    * (spec-pinned); smaller nprobe trades recall for scan volume. */
  /** Deterministic coarse-quantizer training shared by the whole IVF
    * family: seeds = the nlist smallest-id vectors, then `lloyd` rounds
    * of exact per-dimension DECIMAL means over cosine assignments. The
    * IVF and IVF-PQ paths MUST route through the SAME centroids — until
    * r14 the PQ path routed on the raw seeds (no Lloyd refinement) and
    * measured recall@10 0.758 vs the IVF path's 0.952 at nprobe = 1 on
    * the clustered growth replica: same probes, different lists. With
    * nprobe = nlist (every oracle config) routing is a no-op, so this
    * unification is output-identical for all oracle queries. */
  private[graft] def coarseCentroids(corpus: DataFrame, id: String,
                                     vec: String, dim: Int, nlist: Int,
                                     lloyd: Int): Seq[(Long, Seq[Double])] = {
    val c = corpus.select(col(id).as("cid"), col(vec).as("cv"))
    // seed centroids: nlist smallest ids (deterministic at any partitioning)
    var centroids = c.orderBy(col("cid")).limit(nlist)
      .select(col("cid").cast("long").as("list_id"),
        col("cv").cast("array<double>").as("cent"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      .sortBy(_._1).zipWithIndex
      .map { case ((_, v), i) => (i.toLong, v) }
    // Lloyd refinement: exact per-dimension means of each list
    for (_ <- 1 to lloyd) {
      val assigned = assignTopR(c, centroids,
        col("cv").cast("array<double>"),
        graft.functions.CentroidSelect.Cos, asc = false, 1, "list_id")
      // stays on the DECIMAL mean: this agg feeds a driver collect over
      // ≤ nlist groups and re-codegens EVERY Lloyd round (fresh centroid
      // literals) — the fast grid tripled the aggregate expression count
      // and the janino bill, measurably slowing the whole ann family at
      // fixture scale while saving nothing per row (r17 A/B)
      val dims = (1 to dim).map(i => graft.core.Tables.exactMean(
        element_at(col("cv"), i).cast("double")).as(s"d$i"))
      centroids = assigned.groupBy(col("list_id"))
        .agg(dims.head, dims.tail: _*).collect()
        .map(r => (r.getLong(0), (1 to dim).map(i =>
          r.getDouble(i)).toSeq)).toSeq.sortBy(_._1)
    }
    centroids
  }

  /** Above this nlist the coarse quantizer goes TWO-LEVEL (the FAISS
    * IMI shape, Jégou TPAMI'11 §V): a flat argmax over nlist driver-held
    * centroids costs corpus × nlist × dim flops and O(nlist) driver
    * state — fine at the conventional nlist ≈ √corpus, but SemDeDup's
    * own scale protocol grows nlist ∝ corpus (flat cluster occupancy),
    * which makes flat assignment O(corpus²). The two-level path keeps
    * ~√nlist top cells driver-held and probes only the matched cell's
    * children, so per-row cost and driver state are O(√nlist).
    * Overridable via `graft.ann.flatNlistMax`. */
  val DefaultFlatNlistMax: Int = 4096

  private def flatNlistMax(df: DataFrame): Int =
    df.sparkSession.conf.getOption("graft.ann.flatNlistMax")
      .map(_.toInt).getOrElse(DefaultFlatNlistMax)

  /** Two-level coarse quantizer: `tops` — the FIXED top-level cells
    * (driver-held, ~√nlist of them); `children` — ALL nlist centroids
    * as a DataFrame (top_id, list_id, cent: array<double>, __cn: L2
    * norm), each child routed to its nearest top cell. The driver never
    * holds the full centroid list and Lloyd's per-round reduction stays
    * a distributed groupBy — the two O(nlist) driver terms of the flat
    * path are gone. */
  private[graft] final case class HierQuantizer(
      tops: Seq[(Long, Seq[Double])], children: DataFrame)

  /** Two-level row assignment (rank 1): stage 1 routes each row to its
    * nearest SURVIVING top cell (CentroidArgTop over the ~√nlist
    * driver-held tops — Exchange-free, codegen'd); stage 2
    * broadcast-joins the packed per-cell children (1:1, no expansion)
    * and picks the best child inside the row with the ChildArgTop
    * kernel (ties → smallest list_id, packing-order-independent).
    * Surviving = cells with ≥1 child — Lloyd can empty a cell, and a
    * row routed to an empty cell would otherwise drop on the join. */
  private[graft] def hierAssign1(rows: DataFrame,
                                 tops: Seq[(Long, Seq[Double])],
                                 children: DataFrame, vcol: Column,
                                 out: String): DataFrame = {
    val packed = children.groupBy(col("top_id"))
      .agg(collect_list(struct(col("list_id"), col("cent"), col("__cn")))
        .as("__kids"))
    val surv = packed.select(col("top_id")).collect()
      .map(_.getLong(0)).toSet
    val survTops = tops.filter(t => surv(t._1))
    assignTopR(rows, survTops, vcol,
        graft.functions.CentroidSelect.Cos, asc = false, 1, "__top")
      .join(broadcast(packed.withColumnRenamed("top_id", "__top")),
        Seq("__top"))
      .withColumn(out, graft.functions.CentroidSelect.childArg(
        vcol, col("__kids"), graft.functions.CentroidSelect.Cos,
        asc = false))
      .drop("__top", "__kids")
  }

  /** Trains the two-level quantizer. Determinism mirrors
    * [[coarseCentroids]] exactly where shared: seeds = the nlist
    * smallest-id vectors (list_id = 0-based rank), Lloyd update = exact
    * per-dimension DECIMAL means. The hierarchy: tops = the `ntop`
    * smallest-list_id SEED centroids, FIXED across rounds (the FAISS
    * practice — the quantizer's quantizer doesn't retrain); each round
    * re-routes the (moving) children to their nearest top (cos desc,
    * top_id asc) and assigns rows two-stage. All ties break by id, so
    * the full trajectory replays as SQL CTEs in the DuckDB oracle. */
  private[graft] def hierCentroids(corpus: DataFrame, id: String,
                                   vec: String, dim: Int, nlist: Int,
                                   ntop: Int, lloyd: Int): HierQuantizer = {
    require(ntop >= 1 && ntop <= nlist, s"ntop $ntop out of [1, $nlist]")
    val c = corpus.select(col(id).as("cid"),
      col(vec).cast("array<double>").as("cv"))
    // seeds: one-partition window over nlist rows only (nlist ≪ corpus)
    val w = Window.orderBy(col("cid"))
    var children = c.orderBy(col("cid")).limit(nlist)
      .select((row_number().over(w) - 1).cast("long").as("list_id"),
        col("cv").as("cent"))
      .localCheckpoint(eager = true)
    val tops = children.filter(col("list_id") < ntop)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .toSeq.sortBy(_._1)
    // child L2 norm — same ascending sqrt(Σx²) chain as the kernels
    def cn = sqrt((1 to dim).map(i =>
      element_at(col("cent"), i) * element_at(col("cent"), i))
      .reduce(_ + _))
    def routed(ch: DataFrame): DataFrame =
      assignTopR(ch, tops, col("cent"),
        graft.functions.CentroidSelect.Cos, asc = false, 1, "top_id")
        .withColumn("__cn", cn)
    for (_ <- 1 to lloyd) {
      val assigned = hierAssign1(c, tops, routed(children),
        col("cv"), "list_id")
      val dims = (1 to dim).map(i => graft.core.Tables.exactMean(
        element_at(col("cv"), i)).as(s"d$i")) // decimal: see coarseCentroids
      val prev = children
      children = assigned.groupBy(col("list_id"))
        .agg(dims.head, dims.tail: _*)
        .select(col("list_id"),
          array((1 to dim).map(i => col(s"d$i")): _*).as("cent"))
        .localCheckpoint(eager = true)
      // the new eager checkpoint fully supersedes the previous round's
      // — free its blocks now instead of leaking them until driver GC
      // (the r15 in-sweep contamination source)
      graft.core.Tables.unpersistLocalCheckpoint(prev)
    }
    val out = HierQuantizer(tops, routed(children).localCheckpoint(eager = true))
    graft.core.Tables.unpersistLocalCheckpoint(children)
    out
  }

  /** Coarse routing shared by the whole IVF family: (corpus rows +
    * `list_id` at rank 1, query rows with ONE ROW PER PROBED LIST).
    * Flat below the nlist ceiling — the Exchange-free CentroidArgTop
    * kernel over the driver-held centroid list, bit-unchanged vs the
    * old crossJoin+window. Two-level (IMI) above it or when `ntop` is
    * forced: corpus assignment is the O(√nlist)-per-row two-stage, and
    * query probes are two-stage as well when nprobe < nlist — rank the
    * ~√nlist tops per query (CentroidArgTop over the driver-held tops,
    * Exchange-free), equi-join only the matched cells' children, then
    * keep the top-nprobe children across the probed cells (same
    * (cos desc, list_id asc) order as the flat kernel). Per-query cost
    * is O((√nlist + nprobe)·dim) — the r15 O(queries × nlist)
    * broadcast-and-rank-everything seam is gone. Only nprobe ≥ nlist
    * (the oracle-identity configs, where every list must be probed)
    * keeps the exhaustive rank, which is then exact by construction. */
  private[graft] def coarseRoute(queries: DataFrame, corpus: DataFrame,
                                 id: String, vec: String, dim: Int,
                                 nlist: Int, nprobe: Int, lloyd: Int,
                                 ntop: Int): (DataFrame, DataFrame) = {
    if (ntop == 0 && nlist <= flatNlistMax(corpus)) {
      val centroids = coarseCentroids(corpus, id, vec, dim, nlist, lloyd)
      def assign(df: DataFrame, rank: Int): DataFrame =
        assignTopR(df, centroids, col(vec).cast("array<double>"),
          graft.functions.CentroidSelect.Cos, asc = false, rank, "list_id")
      (assign(corpus, 1), assign(queries, nprobe))
    } else {
      val q = hierCentroids(corpus, id, vec, dim, nlist,
        if (ntop > 0) ntop else math.ceil(math.sqrt(nlist)).toInt, lloyd)
      val qv = col(vec).cast("array<double>")
      val probeCos = graft.functions.VectorExprs.dotD(qv, col("cent")) /
        (graft.functions.VectorExprs.norm2D(qv) * col("__cn"))
      val probes =
        if (nprobe >= nlist)
          // every list is probed — the exhaustive rank IS the answer
          // (no windowed cut needed, each query keeps all children)
          queries.crossJoin(broadcast(q.children.select(col("list_id"))))
        else {
          // stage 1: rank SURVIVING tops per query (a Lloyd round can
          // empty a cell; a probe routed only to empty cells would
          // silently lose its lists on the join below)
          val surv = q.children.select(col("top_id")).distinct()
            .collect().map(_.getLong(0)).toSet
          val survTops = q.tops.filter(t => surv(t._1))
          // probe enough tops to cover ≈ nprobe children on average
          // (each top owns ≈ nlist/ntop children)
          val topsProbed = math.min(survTops.size, math.max(1,
            math.ceil(nprobe.toDouble * survTops.size / nlist).toInt))
          val pw = Window.partitionBy(col(id))
            .orderBy(col("__pc").desc, col("list_id").asc)
          assignTopR(queries, survTops, qv,
              graft.functions.CentroidSelect.Cos, asc = false,
              topsProbed, "__qtop")
            .join(broadcast(q.children.select(
              col("top_id").as("__qtop"), col("list_id"), col("cent"),
              col("__cn"))), Seq("__qtop"))
            .withColumn("__pc", probeCos)
            .withColumn("__pr", row_number().over(pw))
            .filter(col("__pr") <= nprobe)
            .drop("__qtop", "cent", "__cn", "__pc", "__pr")
        }
      (hierAssign1(corpus, q.tops, q.children,
         col(vec).cast("array<double>"), "list_id"),
       probes)
    }
  }

  def ivfTopKCosine(queries: DataFrame, corpus: DataFrame, id: String,
                    vec: String, dim: Int, k: Int, nlist: Int,
                    nprobe: Int, lloyd: Int = 2, ntop: Int = 0): DataFrame = {
    val (invlists, probes) = coarseRoute(queries, corpus, id, vec, dim,
      nlist, nprobe, lloyd, ntop)
    val inv = invlists
      .select(col("list_id"), col(id).as("neighbor_id"), col(vec).as("__cv"))
    val prb = probes
      .select(col(id).as("query_id"), col(vec).as("__qv"), col("list_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    prb.join(inv, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFixed(col("__qv"), col("__cv"), dim))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Product-quantization ANN with an ADC (asymmetric distance
    * computation) scan — the compression leg of the ANN triad
    * (brute force / LSH buckets / IVF lists / PQ codes; Jégou et al.,
    * TPAMI 2011 "Product Quantization for Nearest Neighbor Search").
    *
    * Vectors are unit-normalized (so L2 ranking ≡ cosine ranking), cut
    * into `m` subspaces, and each subvector is replaced by the id of its
    * nearest subspace centroid: dim doubles become m small codes — the
    * memory/bandwidth reduction that makes 10^11-vector corpora
    * scannable. Queries stay exact: per query, a (subspace, code) →
    * partial-L2² lookup table (nq·m·ksub rows, broadcast), and each
    * corpus code row joins the LUT so the ADC distance is the sum of m
    * table lookups — never a full-dimension distance against the corpus.
    *
    * Training mirrors [[ivfTopKCosine]]'s deterministic Lloyd: seed =
    * subvectors of the ksub smallest ids, exact DECIMAL per-dimension
    * means, assignment ties broken by code asc. ADC sums go through
    * detSum so the ranking is partitioning-independent. At scale this
    * composes with IVF (probe lists first, ADC-scan within lists);
    * SimilaritySpec pins determinism and recall against brute force. */
  def pqTopKCosine(queries: DataFrame, corpus: DataFrame, id: String,
                   vec: String, dim: Int, k: Int, m: Int = 4,
                   ksub: Int = 16, lloyd: Int = 2): DataFrame = {
    val (codes, lut) = pqEncode(queries, corpus, id, vec, dim, m, ksub, lloyd)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    codes.join(broadcast(lut), Seq("s", "code"))
      .groupBy(col("query_id"), col("cid").as("neighbor_id"))
      // partial L2² between unit subvectors is ≤ 4 ≪ the 2.2e3
      // fast-grid bound; this agg runs per (query × candidate × m) row
      .agg(round(graft.core.Tables.detSumFast(col("__d2")), 6).as("adc"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rank"))
  }

  /** Shared PQ training/encoding: returns (codes, lut) — corpus codes
    * (cid, s, code) and the per-query partial-distance lookup table
    * (query_id, s, code, __d2). */
  private def pqEncode(queries: DataFrame, corpus: DataFrame, id: String,
                       vec: String, dim: Int, m: Int,
                       ksub: Int, lloyd: Int): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m

    def unit(vcol: Column): Column = {
      val v = vcol.cast("array<double>")
      val n = graft.functions.VectorExprs.norm2D(v)
      transform(v, x => x / n)
    }
    // (cid, s, sv): one row per corpus vector per subspace
    val subCols = (0 until m).map(s =>
      struct(lit(s).as("s"), slice(col("cv"), s * sub + 1, sub).as("sv")))
    val cSub = corpus.select(col(id).as("cid"), unit(col(vec)).as("cv"))
      .select(col("cid"), explode(array(subCols: _*)).as("x"))
      .select(col("cid"), col("x.s").as("s"), col("x.sv").as("sv"))

    // deterministic seeds: subvectors of the ksub smallest ids
    var codebook: Seq[(Int, Int, Seq[Double])] = cSub
      .filter(col("cid").isin(
        corpus.select(col(id)).orderBy(col(id)).limit(ksub)
          .collect().map(_.get(0)).toIndexedSeq: _*))
      .orderBy(col("s"), col("cid"))
      .collect().zipWithIndex
      .map { case (r, i) =>
        (r.getInt(1), i % ksub, r.getSeq[Double](2)) }
      .toSeq

    def cbDF = broadcast(codebook.toDF("s", "code", "cent"))
    def l2sq(a: Column, b: Column): Column = {
      val dot = graft.functions.VectorExprs.dotD(a, b)
      val na = graft.functions.VectorExprs.norm2D(a)
      val nb = graft.functions.VectorExprs.norm2D(b)
      na * na + nb * nb - lit(2.0) * dot
    }
    def assign(df: DataFrame): DataFrame = {
      // per-subspace argmin kernel: CASE on s selects that subspace's
      // literal codebook; CentroidSelect scores the L2² with the exact
      // (na·na + nb·nb) − 2·dot shape and picks (L2² asc, code asc) —
      // the old (cid, s) window's order — with no ksub× join expansion
      // and no Exchange+sort
      val bestPerS = (0 until m).map { s =>
        val cb = codebook.filter(_._1 == s)
          .map { case (_, code, v) => (code.toLong, v) }
        s -> graft.functions.CentroidSelect.argTop(col("sv"), cb,
          graft.functions.CentroidSelect.L2, asc = true, rank = 1)
      }
      val best = bestPerS.tail.foldLeft(
        when(col("s") === bestPerS.head._1, bestPerS.head._2)) {
        case (acc, (s, b)) => acc.when(col("s") === s, b)
      }
      df.withColumn("code", best.cast("int"))
        .select(col("cid"), col("s"), col("code"), col("sv"))
    }
    for (_ <- 1 to lloyd) {
      val dims = (1 to sub).map(i => graft.core.Tables.exactMean(
        element_at(col("sv"), i)).as(s"d$i")) // decimal: see coarseCentroids
      codebook = assign(cSub).groupBy(col("s"), col("code"))
        .agg(dims.head, dims.tail: _*)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1),
          (1 to sub).map(i => r.getDouble(i + 1)).toSeq))
        .toSeq.sortBy(c => (c._1, c._2))
    }
    val codes = assign(cSub).drop("sv")

    // per-query LUT: (query_id, s, code) → partial L2²
    val qSubCols = (0 until m).map(s =>
      struct(lit(s).as("s"), slice(col("qv"), s * sub + 1, sub).as("sv")))
    val lut = queries
      .select(col(id).as("query_id"), unit(col(vec)).as("qv"))
      .select(col("query_id"), explode(array(qSubCols: _*)).as("x"))
      .select(col("query_id"), col("x.s").as("s"), col("x.sv").as("sv"))
      .join(cbDF, Seq("s"))
      .select(col("query_id"), col("s"), col("code"),
        l2sq(col("sv"), col("cent")).as("__d2"))
    (codes, lut)
  }

  /** IVF-PQ composition — the full FAISS production shape: the coarse
    * quantizer routes each query to `nprobe` of `nlist` inverted lists,
    * and the ADC scan then touches ONLY the codes of vectors in probed
    * lists. Candidate count shrinks ~nprobe/nlist before any distance
    * work, and each surviving candidate costs m LUT lookups — the two
    * multiplicative reductions that make 10^11-vector search tractable.
    * With nprobe = nlist the probe is a no-op and the output equals
    * [[pqTopKCosine]] exactly (SimilaritySpec pins this identity, the
    * same device as ann_ivf's nprobe = nlist oracle). Coarse assignment
    * reuses the deterministic smallest-id-seeded Lloyd of
    * [[ivfTopKCosine]] in spirit: one iteration over unit vectors,
    * cosine routing with list-id tiebreak. */
  def ivfPqTopKCosine(queries: DataFrame, corpus: DataFrame, id: String,
                      vec: String, dim: Int, k: Int, nlist: Int,
                      nprobe: Int, m: Int = 4, ksub: Int = 16,
                      lloyd: Int = 2, ntop: Int = 0): DataFrame = {
    // coarse routing: SAME Lloyd-refined quantizer family as
    // ivfTopKCosine (r14 — routing on raw seeds lost 0.19 recall@10 at
    // nprobe=1 on clustered corpora), flat or two-level by the shared
    // coarseRoute rule
    val (corpusAssigned, probedRows) = coarseRoute(queries, corpus, id,
      vec, dim, nlist, nprobe, lloyd, ntop)
    val corpusLists = corpusAssigned.select(col(id).as("cid"), col("list_id"))
    val probed = probedRows.select(col(id).as("query_id"), col("list_id"))
    // candidate pairs = corpus vectors in probed lists only; ADC work
    // below is proportional to candidates, not the corpus
    val candidates = corpusLists.join(probed, Seq("list_id"))
      .select(col("query_id"), col("cid"))
    val (codes, lut) = pqEncode(queries, corpus, id, vec, dim, m, ksub, lloyd)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    codes.join(candidates, Seq("cid"))
      .join(broadcast(lut), Seq("query_id", "s", "code"))
      .groupBy(col("query_id"), col("cid").as("neighbor_id"))
      // partial L2² ≤ 4 ≪ 2.2e3 — fast-grid safe (see pqTopKCosine)
      .agg(round(graft.core.Tables.detSumFast(col("__d2")), 6).as("adc"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rank"))
  }

  /** PQ candidate generation + exact re-rank — the production ANN
    * contract (FAISS's IndexPQ + refine): the ADC scan shortlists
    * `shortlist` candidates per query from codes alone, then ONLY the
    * shortlist rows fetch their full vectors for an exact cosine
    * re-rank. At 10^11 vectors the exact pass touches shortlist·|Q|
    * rows, never the corpus. On the weak-structure synthetic fixture
    * this lifts recall@5 from ~0.17 (raw ADC) to ~0.65 at
    * shortlist = 10% of corpus (SimilaritySpec pins it). */
  def pqRerankTopKCosine(queries: DataFrame, corpus: DataFrame, id: String,
                         vec: String, dim: Int, k: Int, shortlist: Int,
                         m: Int = 4, ksub: Int = 16,
                         lloyd: Int = 2): DataFrame = {
    val cand = pqTopKCosine(queries, corpus, id, vec, dim, shortlist,
      m, ksub, lloyd).select(col("query_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand
      .join(broadcast(queries.select(col(id).as("query_id"),
        col(vec).as("__qv"))), Seq("query_id"))
      .join(corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv")),
        Seq("neighbor_id"))
      .withColumn("cosine", round(cosineFixed(col("__qv"), col("__cv"), dim), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** IVF-PQ shortlist + exact re-rank — the composed FAISS production
    * contract (IndexIVFPQ + refine, the shape Jégou TPAMI'11 §V
    * evaluates): the ADC scan over the PROBED lists shortlists
    * `shortlist` candidates per query from codes alone, then only the
    * shortlist rows fetch full vectors for an exact cosine re-rank.
    * Raw 16-bit ADC codes rank poorly on unstructured corpora
    * (measured recall@10 ≈ 0.01 on the uniform growth replicas, flat
    * in nprobe — quantization-bound); the re-rank restores recall to
    * the IVF candidate ceiling while the exact pass still touches only
    * shortlist·|Q| rows, never the corpus. */
  def ivfPqRerankTopKCosine(queries: DataFrame, corpus: DataFrame,
                            id: String, vec: String, dim: Int, k: Int,
                            nlist: Int, nprobe: Int, shortlist: Int,
                            m: Int = 4, ksub: Int = 16,
                            lloyd: Int = 2, ntop: Int = 0): DataFrame = {
    val cand = ivfPqTopKCosine(queries, corpus, id, vec, dim, shortlist,
      nlist, nprobe, m, ksub, lloyd, ntop)
      .select(col("query_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand
      .join(broadcast(queries.select(col(id).as("query_id"),
        col(vec).as("__qv"))), Seq("query_id"))
      .join(corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv")),
        Seq("neighbor_id"))
      .withColumn("cosine", round(cosineFixed(col("__qv"), col("__cv"), dim), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication for web-scale corpora: k-means-cluster the embedding
    * space, call any WITHIN-cluster pair with cosine ≥ `eps` a semantic
    * duplicate, connect duplicates into groups, and keep exactly one
    * member per group — the paper's "low" policy: the member LEAST
    * similar to its cluster centroid (it retains the most marginal
    * example; ties → smallest id). Complements the LSH near-dup pass
    * (`cosineNearDupPairs` finds lexical twins via random hyperplanes;
    * SemDeDup prunes REGIONS of embedding space, the form of redundancy
    * LAION/CC-scale curation removes).
    *
    * Scale shape: below `graft.ann.flatNlistMax` the quantizer is the
    * shared flat `coarseCentroids` (driver-held) with the Exchange-free
    * CentroidArgTop kernel; ABOVE it — and SemDeDup's own protocol
    * grows nlist ∝ corpus to keep cluster occupancy flat, which would
    * make flat assignment O(corpus²) — it switches to the two-level
    * [[hierCentroids]] quantizer (O(√nlist) per-row cost and driver
    * state). The only corpus shuffles are the pair equi-join ON
    * list_id (pair volume = Σ c·(c−1)/2 over cluster occupancies,
    * guarded by the same fail-fast estimate as the other
    * quadratic-risk dedups — `graft.dedup.maxSemanticPairs`) and the
    * CC rounds over the (sparse) duplicate edges; the estimate is one
    * aggregation and refuses loudly before any blowup.
    *
    * Returns (id, list_id, cent_sim, group_id, keep): cluster, rounded
    * cosine-to-centroid, duplicate-group label (= min member id;
    * singletons label themselves), and the keep flag. */
  def semanticDedup(corpus: DataFrame, id: String, vec: String, dim: Int,
                    nlist: Int, eps: Double, lloyd: Int = 2,
                    ntop: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val rows = corpus.select(col(id).as("__sid"), col(vec).as("__sv"))
    // quantizer choice: flat below the ceiling (O(nlist) driver state,
    // corpus × nlist per-row work — fine at conventional nlist), the
    // two-level IMI shape above it or when `ntop` is forced — REQUIRED
    // here because SemDeDup's own scale protocol grows nlist ∝ corpus,
    // which turns the flat assignment term O(corpus²)
    val (assigned, centDf) =
      if (ntop == 0 && nlist <= flatNlistMax(corpus)) {
        val cents = coarseCentroids(corpus, id, vec, dim, nlist, lloyd)
        import spark.implicits._
        (assignTopR(rows, cents, col("__sv").cast("array<double>"),
           graft.functions.CentroidSelect.Cos, asc = false, 1, "list_id"),
         broadcast(cents.toDF("list_id", "__cent")))
      } else {
        val q = hierCentroids(corpus, id, vec, dim, nlist,
          if (ntop > 0) ntop else math.ceil(math.sqrt(nlist)).toInt, lloyd)
        (hierAssign1(rows, q.tops, q.children,
           col("__sv").cast("array<double>"), "list_id"),
         broadcast(q.children.select(col("list_id"),
           col("cent").as("__cent"))))
      }
    // cosine-to-own-centroid as fixed left-to-right chains (the
    // embedding_centroid_by_label device — identical doubles in the
    // SQL twin), rounded BEFORE ranking on both engines
    val centDot = (1 to dim).map(i =>
      element_at(col("__sv"), i).cast("double") *
        element_at(col("__cent"), i)).reduce(_ + _)
    val centNorm = sqrt((1 to dim).map(i =>
      element_at(col("__cent"), i) * element_at(col("__cent"), i))
      .reduce(_ + _))
    val scored = assigned.join(centDf, Seq("list_id"))
      .withColumn("cent_sim",
        round(centDot / (norm2Fixed(col("__sv"), dim) * centNorm), 6))
      .drop("__cent")
      .localCheckpoint(eager = true)
    // fail-fast pair-volume guard (decimal-safe, one aggregation)
    val maxPairs = spark.conf
      .getOption("graft.dedup.maxSemanticPairs").map(_.toLong)
      .getOrElse(2000000000L)
    // single-job guard: pair estimate AND the hot-cluster diagnostic
    // come from ONE aggregation (struct max = (count, list_id) lexmax),
    // so the refusal path costs no second scan
    val g = scored.groupBy(col("list_id"))
      .agg(count(lit(1)).as("__c"))
      .agg({
        val c = col("__c").cast("decimal(19,0)")
        sum((c * (c - 1) / 2).cast("decimal(38,0)")).as("p")
      }, max(struct(col("__c"), col("list_id"))).as("hot"))
      .head
    val est = Option(g.getDecimal(0)).map(_.toBigInteger)
      .getOrElse(java.math.BigInteger.ZERO)
    if (est.compareTo(java.math.BigInteger.valueOf(maxPairs)) > 0) {
      val hot = g.getStruct(1)
      // suggested override: the exact pair estimate rounded UP to one
      // significant digit — a stable figure to paste into the conf
      // (under the linear protocol pairs ≈ corpus × (occupancy−1)/2,
      // so the estimate itself is the sizing rule's output)
      val mag = java.math.BigInteger.TEN.pow(est.toString.length - 1)
      val sug = est.add(mag.subtract(java.math.BigInteger.ONE))
        .divide(mag).multiply(mag)
      throw new IllegalStateException(
        s"semanticDedup would score ~$est within-cluster pairs " +
        s"(> $maxPairs, graft.dedup.maxSemanticPairs): cluster " +
        s"${hot.getLong(1)} alone holds ${hot.getLong(0)} vectors. " +
        "Raise nlist so corpus/nlist shrinks per-cluster volume, or " +
        "accept the volume explicitly with " +
        s"spark.conf.set(\"graft.dedup.maxSemanticPairs\", \"$sug\").")
    }
    val a = scored.select(col("list_id"), col("__sid").as("__id1"),
      col("__sv").as("__v1"))
    val b = scored.select(col("list_id"), col("__sid").as("__id2"),
      col("__sv").as("__v2"))
    val pairs = a.join(b, Seq("list_id"))
      .filter(col("__id1") < col("__id2"))
      .filter(cosineFixed(col("__v1"), col("__v2"), dim) >= eps)
      .select(col("__id1"), col("__id2"))
    val labels = graft.ml.Clustering.connectedComponentsLSS(
      pairs.select(col("__id1").as("u"), col("__id2").as("v")))
    val w = Window.partitionBy(col("group_id"))
      .orderBy(col("cent_sim").asc, col("__sid").asc)
    scored
      .join(labels.withColumnRenamed("node", "__sid"), Seq("__sid"), "left")
      .withColumn("group_id", coalesce(col("label"), col("__sid")))
      .withColumn("keep", (row_number().over(w) === 1).cast("int"))
      .select(col("__sid").as(id), col("list_id"), col("cent_sim"),
        col("group_id"), col("keep"))
  }

  /** Distance-matrix transformation (widgets/unsupervised/
    * owdistancetransformation.py:30-41, applied normalize-then-invert
    * per commit() at :70-75) over long-format distances. Normalization:
    * none | unit ([0,1]) | sym ([-1,1]) | sigmoid. Inversion: none |
    * neg (−X) | one_minus (1−X) | max_minus (max−X) | reciprocal (1/X).
    * Global min/max come from ONE aggregation broadcast back — distance
    * tables are pair-bounded, never the raw corpus. */
  def transformDistances(df: DataFrame, d: String, out: String,
                         normalize: String = "none",
                         invert: String = "none"): DataFrame = {
    val stats = df.agg(min(col(d)).cast("double").as("__mn"),
      max(col(d)).cast("double").as("__mx"))
    val x = col(d).cast("double")
    val normed = normalize match {
      case "none" => x
      case "unit" => (x - col("__mn")) / (col("__mx") - col("__mn"))
      case "sym" => (x - col("__mn")) / (col("__mx") - col("__mn")) * 2 - 1
      case "sigmoid" => lit(1.0) / (lit(1.0) + exp(-x))
      case other => throw new IllegalArgumentException(other)
    }
    // the reference's max(X)-X takes the max of the matrix it RECEIVES,
    // i.e. post-normalization (commit() normalizes first)
    val normMax = normalize match {
      case "none" => col("__mx")
      case "unit" | "sym" => lit(1.0)
      case "sigmoid" => lit(1.0) / (lit(1.0) + exp(-col("__mx")))
    }
    val inverted = invert match {
      case "none" => normed
      case "neg" => -normed
      case "one_minus" => lit(1.0) - normed
      case "max_minus" => normMax - normed
      case "reciprocal" => lit(1.0) / normed
      case other => throw new IllegalArgumentException(other)
    }
    df.crossJoin(broadcast(stats))
      .withColumn(out, round(inverted, 6))
      .drop("__mn", "__mx")
  }

  // --- Orange §2.9 distances on scalar feature columns -----------------

  def euclidean(xs: Seq[(Column, Column)]): Column =
    sqrt(xs.map { case (a, b) => (a - b) * (a - b) }.reduce(_ + _))

  def manhattan(xs: Seq[(Column, Column)]): Column =
    xs.map { case (a, b) => abs(a - b) }.reduce(_ + _)

  def cosineDist(xs: Seq[(Column, Column)]): Column = {
    val dot = xs.map { case (a, b) => a * b }.reduce(_ + _)
    val na  = sqrt(xs.map { case (a, _) => a * a }.reduce(_ + _))
    val nb  = sqrt(xs.map { case (_, b) => b * b }.reduce(_ + _))
    lit(1.0) - dot / (na * nb)
  }

  def hamming(xs: Seq[(Column, Column)]): Column =
    xs.map { case (a, b) => when(a === b, 0).otherwise(1) }.reduce(_ + _)
}
