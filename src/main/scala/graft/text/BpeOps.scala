package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-round BPE tokenizer training (Sennrich et al. 2016) — the
  * composition the single-round `bpe_merge_candidates` query feeds: a
  * driver loop of merge → re-tokenize → recount, each round ONE
  * aggregation over the distinct-word table (≪ corpus — the corpus is
  * touched once, to build word counts).
  *
  * Symbol-sequence representation: a word's symbols are kept as ONE
  * string with every symbol wrapped in U+001F separators —
  * `"ab", "c"` ⇒ `␟ab␟␟c␟`. That makes a BPE merge round a literal
  * (codegen'd, left-to-right, non-overlapping) string replace:
  *
  *   merge (a, b):  replace(syms, "␟a␟␟b␟", "␟ab␟")
  *
  * which is exactly greedy BPE application — the wrap guarantees the
  * pattern only matches at symbol boundaries (symbols never contain the
  * separator, so `␟a␟` cannot match inside `␟xa␟` or `␟ab␟`), and
  * adjacent occurrences chain correctly because the scan resumes after
  * the consumed source region (`␟a␟␟b␟␟a␟␟b␟` → `␟ab␟␟ab␟`). No
  * higher-order-function lambdas touch the merge path (those run
  * interpreted, one frame per element), and DuckDB's `replace` has
  * identical semantics, so the oracle can replay rounds as unrolled
  * CTEs bit-exactly.
  *
  * Pair stats count every adjacent position (in `aaa` the pair `aa`
  * counts twice), weighted by word frequency; the merge winner is
  * (count desc, pair asc) — both orders binary-collated in Spark and
  * DuckDB.
  *
  * Scale shape: one corpus shuffle (word counts, map-side combined) up
  * front and ONE full pair count; per round a top-1 collect off the
  * persisted counts table (bounded: one row), a delta recount over ONLY
  * the words containing the winning pair (Sennrich §3 incremental
  * statistics — see trainLoop), and one replace projection over the
  * distinct-word table. Word and counts lineage is truncated EVERY
  * round with an eager localCheckpoint so a 30k-round production run
  * keeps O(1) plan depth and O(1) plan-string size (see trainLoop for
  * why persist-per-round is a 2^r trap).
  * Reference semantics: biolab/orange3 has no tokenizer trainer; this is
  * the standard LLM-pipeline extension (SURVEY §2 additive text family).
  */
object BpeOps {
  private val SEP = "\u001f"

  /** Distinct corpus words with counts; `syms` initialized to the
    * per-character wrapped form via one global regex. */
  def bpeWordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("n"),
        regexp_replace(col("w"), "(.)", SEP + "$1" + SEP).as("syms"))

  /** Adjacent-pair frequencies over the current symbol table. The split
    * array is projected into a real column BEFORE the transform lambda
    * reads it (HOFs run interpreted and re-evaluate un-projected
    * expressions per element — the round-8 O(tokens²) trap). */
  def pairCounts(words: DataFrame): DataFrame =
    words.select(col("n"),
        split(trim(col("syms"), SEP), SEP + SEP).as("arr"))
      // sequence(1, 0) would generate DESCENDING [1, 0]: guard 1-symbol
      // words out before building index sequences
      .filter(size(col("arr")) >= 2)
      .select(col("n"), explode(transform(
        sequence(lit(1), size(col("arr")) - 1),
        i => concat(element_at(col("arr"), i), lit(SEP),
          element_at(col("arr"), i + 1)))).as("pair"))
      .groupBy("pair").agg(sum(col("n")).as("n_occ"))

  /** Train `rounds` BPE merges; returns the merge table
    * (round, pair_a, pair_b, merged, n_occ) in merge order — the
    * artifact a tokenizer ships. Stops early if no pair remains. */
  def trainBpe(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    val (merges, words) = trainLoop(docs, textCol, rounds)
    graft.core.Tables.unpersistLocalCheckpoint(words)
    spark.createDataFrame(merges)
      .toDF("round", "pair_a", "pair_b", "merged", "n_occ")
  }

  /** Encode the corpus with `rounds` freshly-learned merges and return
    * the corpus token-frequency table (token, n_occ) — the vocabulary
    * the trained tokenizer actually emits, with every token weighted by
    * how often the tokenizer would produce it over this corpus. This is
    * train + apply fused: application never touches the corpus again
    * (the per-word symbol table after the last merge round IS the
    * greedy encoding of every distinct word; corpus frequencies were
    * collected in the single up-front word-count scan).
    *
    * The returned frame aggregates over the loop's final checkpointed
    * word table (a flat LogicalRDD); its blocks are reclaimed by the
    * ContextCleaner once the frame becomes unreachable. */
  def encodeBpe(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val (_, words) = trainLoop(docs, textCol, rounds)
    words.select(col("n"),
        explode(split(trim(col("syms"), SEP), SEP + SEP)).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(sum(col("n")).as("n_occ"))
  }

  /** Apply an ALREADY-LEARNED merge list (in rank order) to a corpus
    * the trainer never saw — the production tokenize step: a shipped
    * tokenizer is its merge table, and encoding any text is the same
    * greedy wrapped-symbol replace chain the trainer used, replayed in
    * merge order. Returns the corpus token-frequency table
    * (token, n_occ). One corpus scan (word counts); the merge chain
    * runs over the distinct-word table only, batched 64 replaces per
    * projection with a lineage checkpoint between batches so a 30k-merge
    * production vocabulary keeps both plan depth and expression depth
    * bounded. The returned frame reads the last batch checkpoint (none
    * for ≤ 64 merges). */
  def applyBpe(docs: DataFrame, textCol: String,
               merges: Seq[(String, String)]): DataFrame = {
    var words = bpeWordTable(docs, textCol)
    var ckpt: DataFrame = null
    merges.grouped(64).zipWithIndex.foreach { case (grp, i) =>
      val chained = grp.foldLeft(col("syms")) { case (c, (a, b)) =>
        replace(c, lit(SEP + a + SEP + SEP + b + SEP),
          lit(SEP + a + b + SEP))
      }
      if (i > 0) {
        // the previous batch's output, checkpointed; frees the
        // superseded batch checkpoint it was computed from
        val c = words.localCheckpoint()
        if (ckpt != null) graft.core.Tables.unpersistLocalCheckpoint(ckpt)
        ckpt = c
        words = c
      }
      words = words.select(col("n"), chained.as("syms"))
    }
    words.select(col("n"),
        explode(split(trim(col("syms"), SEP), SEP + SEP)).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(sum(col("n")).as("n_occ"))
  }

  /** Train on one corpus, tokenize another (the held-out split shape):
    * learns `rounds` merges from `train` and applies them to `apply`
    * with [[applyBpe]]. */
  def tokenizeWith(train: DataFrame, apply: DataFrame, textCol: String,
                   rounds: Int): DataFrame = {
    val (merges, words) = trainLoop(train, textCol, rounds)
    graft.core.Tables.unpersistLocalCheckpoint(words)
    applyBpe(apply, textCol, merges.map(m => (m._2, m._3)))
  }

  /** The shared merge loop: learns up to `rounds` merges and returns
    * them with the final (still persisted) word table — `trainBpe`
    * ships the merges, `encodeBpe` ships the table. */
  private def trainLoop(docs: DataFrame, textCol: String, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    // EVERY round truncates lineage with an eager localCheckpoint: the
    // word table becomes a flat LogicalRDD, so round r's plan never
    // embeds round r−1's. The obvious alternative — persist() per round
    // with occasional checkpoints — is a 2^r trap: each round's
    // InMemoryRelation nests the previous round's IMR inside its
    // (adaptive) physical plan, AQE nodes render BOTH their initial and
    // current plan, and the per-action physicalPlanDescription then
    // doubles per round (measured: the r14 ladder froze the driver in
    // generateTreeString for hours at 20-odd rounds — on 31 rows).
    // Checkpoint cost is one tiny job per round over the distinct-word
    // table (≪ corpus); at 30k production rounds both plan depth and
    // description size stay O(1).
    var words = bpeWordTable(docs, textCol).localCheckpoint()
    // Incremental pair statistics (Sennrich et al. 2016 §3): ONE full
    // pair count up front, then per round only the words CONTAINING
    // the winning pair are recounted — their pre/post-merge pair
    // deltas merge into the persisted counts table by a full-outer
    // hash join. Equality with a full recount is exact: pairs in
    // unaffected words are untouched by the merge, so
    //   recount(p) = counts(p) − old_in_affected(p) + new_in_affected(p)
    // for every p (the consumed pair's own count goes to 0 and is
    // filtered). On a realistic vocabulary (100k+ distinct words,
    // 1k+ rounds) a round's affected slice is tiny, so per-round cost
    // tracks |affected words| plus a hash merge over the (much
    // smaller) distinct-pair table — not a full-table recount.
    var counts = pairCounts(words).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = counts
        .orderBy(col("n_occ").desc, col("pair").asc).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val nOcc = top(0).getLong(1)
        val (a, b) = pair.splitAt(pair.indexOf(SEP)) match {
          case (x, y) => (x, y.substring(1))
        }
        merges += ((r, a, b, a + b, nOcc))
        val pat = lit(SEP + a + SEP + SEP + b + SEP)
        val mergedSym = lit(SEP + a + b + SEP)
        val affected = words.filter(col("syms").contains(pat))
        val oldP = pairCounts(affected)
        val newP = pairCounts(
          affected.withColumn("syms", replace(col("syms"), pat, mergedSym)))
        val delta = newP.select(col("pair"), col("n_occ").as("__nn"))
          .join(oldP.select(col("pair"), col("n_occ").as("__no")),
            Seq("pair"), "full")
          .select(col("pair"), (coalesce(col("__nn"), lit(0L)) -
            coalesce(col("__no"), lit(0L))).as("__d"))
        val (prevCounts, prevWords) = (counts, words)
        counts = counts.join(delta, Seq("pair"), "full")
          .select(col("pair"), (coalesce(col("n_occ"), lit(0L)) +
            coalesce(col("__d"), lit(0L))).as("n_occ"))
          .filter(col("n_occ") > 0)
          .localCheckpoint()
        words = words.withColumn("syms",
          replace(col("syms"), pat, mergedSym))
          .localCheckpoint()
        // both new eager checkpoints are materialized — free the
        // superseded round's blocks instead of leaking them until GC
        graft.core.Tables.unpersistLocalCheckpoint(prevCounts)
        graft.core.Tables.unpersistLocalCheckpoint(prevWords)
        r += 1
      }
    }
    // the pair-count table dies with the loop; only `words` is returned
    graft.core.Tables.unpersistLocalCheckpoint(counts)
    (merges.toSeq, words)
  }
}
