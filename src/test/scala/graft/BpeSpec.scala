package graft

import org.apache.spark.sql.functions._
import graft.text.BpeOps

/** BPE trainer semantics: hand-checkable merge sequences, greedy
  * left-to-right application, frequency weighting, early exhaustion. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("merge sequence on a hand corpus: counts, tie order, early stop") {
    // words: aaab ×2, ab ×1
    // r1: pairs aa=4 (two per aaab), ab=3 (one per word) → merge (a,a)
    // r2: aaab=[aa,a,b]: (aa,a)=2, (a,b)=2; ab: (a,b)=1 → (a,b)=3
    // r3: aaab=[aa,ab]: (aa,ab)=2; ab whole → merge (aa,ab)
    // r4: no multi-symbol word remains → early stop at 3 merges
    val m = BpeOps.trainBpe(corpus("aaab aaab ab"), "text", rounds = 10)
      .orderBy("round")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(m == Seq(
      (1, "a", "a", "aa", 4L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 2L)))
  }

  test("greedy left-to-right: adjacent occurrences both merge, overlaps don't") {
    // "abab": r1 (a,b)=2 beats (b,a)=1 → [ab, ab]; r2 merges the rest.
    // "aaa" under (a,a): greedy gives [aa, a], NOT [a, aa] — the round-2
    // count of (aa, a) must therefore be 1, not 0 or 2.
    val m1 = BpeOps.trainBpe(corpus("abab"), "text", 2)
      .orderBy("round")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(m1 == Seq((1, "a", "b", "ab", 2L), (2, "ab", "ab", "abab", 1L)))

    val m2 = BpeOps.trainBpe(corpus("aaa"), "text", 2)
      .orderBy("round")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(m2 == Seq((1, "a", "a", "aa", 2L), (2, "aa", "a", "aaa", 1L)))
  }

  test("word-frequency weighting drives the winner") {
    // "xy" appears 3× as a word, "zz" twice — (x,y)=3 beats (z,z)=2
    val m = BpeOps.trainBpe(corpus("xy xy", "xy zz zz"), "text", 1)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(m == Seq((1, "x", "y", "xy", 3L)))
  }

  test("encodeBpe: token table is the greedy encoding, frequency-weighted") {
    // corpus "aaab aaab ab": merges (a,a),(a,b),(aa,ab) — after round 3
    // aaab is one token (×2 words), ab is one token (×1). With only 2
    // rounds: aaab = [aa, ab] (×2), ab = [ab] (×1) → aa:2, ab:3.
    val full = BpeOps.encodeBpe(corpus("aaab aaab ab"), "text", rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(full == Map("aaab" -> 2L, "ab" -> 1L))

    val partial = BpeOps.encodeBpe(corpus("aaab aaab ab"), "text", rounds = 2)
      .as[(String, Long)].collect().toMap
    assert(partial == Map("aa" -> 2L, "ab" -> 3L))

    // zero rounds = plain character tokenization, weighted by word count
    val chars = BpeOps.encodeBpe(corpus("aaab aaab ab"), "text", rounds = 0)
      .as[(String, Long)].collect().toMap
    assert(chars == Map("a" -> 7L, "b" -> 3L))
  }

  test("tokenizeWith: shipped merges encode unseen text greedily in rank order") {
    // train "aaab aaab ab": merges (a,a) n=4, (a,b) n=3, (aa,ab) n=2,
    // then exhaustion (rounds=4 requested, 3 learnable). Held-out
    // "aab aab b": aab -> m1 gives [aa, b]; m2 (a,b) no longer matches
    // (the greedy m1 consumed the a); m3 never matches -> aa:2, b:3.
    val got = BpeOps.tokenizeWith(
        corpus("aaab aaab ab"), corpus("aab aab b"), "text", rounds = 4)
      .as[(String, Long)].collect().toMap
    assert(got == Map("aa" -> 2L, "b" -> 3L))

    // zero merges = character tokenization of the held-out corpus
    val chars = BpeOps.applyBpe(corpus("ab b"), "text", Seq.empty)
      .as[(String, Long)].collect().toMap
    assert(chars == Map("a" -> 1L, "b" -> 2L))
  }

  test("trainBpe and tokenizeWith leave no persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val m = BpeOps.trainBpe(corpus("aaab aaab ab"), "text", rounds = 4)
    assert(sc.getPersistentRDDs.keySet == before)
    m.collect()
    val t = BpeOps.tokenizeWith(
      corpus("aaab aaab ab"), corpus("aab aab b"), "text", rounds = 4)
    assert(sc.getPersistentRDDs.keySet == before)
    t.collect()
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("incremental pair statistics: long runs extend short runs exactly") {
    // the delta-recount keeps the counts table equal to a full recount
    // at every round, so training r rounds must be a strict prefix of
    // training R > r rounds — any drift in the merged deltas (winner,
    // count, or tie order) breaks this
    val c = corpus("the cat sat on the mat", "the cat ate the rat",
      "a rat sat on a cat", "the bat and the cat", "rat mat bat sat")
    def train(r: Int) = BpeOps.trainBpe(c, "text", r).orderBy("round")
      .as[(Int, String, String, String, Long)].collect().toSeq
    val long = train(16)
    assert(long.size >= 10, s"fixture exhausted early at ${long.size}")
    assert(train(4) == long.take(4))
    assert(train(10) == long.take(10))
  }

  test("merged symbols never leak the separator and survive re-splitting") {
    val m = BpeOps.trainBpe(corpus("hello hello world"), "text", 5)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(m.nonEmpty)
    assert(m.forall { case (_, a, b, ab, n) =>
      !a.contains("\u001f") && !b.contains("\u001f") &&
        ab == a + b && n >= 1 })
  }
}
