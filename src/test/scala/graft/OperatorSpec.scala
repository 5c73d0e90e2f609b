package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.ComputeValue
import graft.core.ComputeValue._
import graft.operators._
import graft.operators.FilterOps._
import graft.text.{TextOps, DedupOps}

class OperatorSpec extends SparkSpec {

  lazy val li = Tables.load(spark, sf, "lineitem").cache()

  test("filter algebra lowers to one predicate and matches manual filter") {
    val f = Values(Seq(
      FilterContinuous("l_quantity", ContOp.Between, 10, 20),
      SameValue("l_returnflag", "A")))
    val n1 = FilterOps(li, f).count()
    val n2 = li.filter(col("l_quantity").between(10, 20) &&
      col("l_returnflag") === "A").count()
    assert(n1 == n2 && n1 > 0)
  }

  test("scaledLongSum ≡ DECIMAL(38,0) sum on adversarial magnitudes and signs") {
    // the device must match the exact decimal sum bit-for-bit in every
    // group
    val vals = OperatorSpec.adversarial(spark)
    val dec = (sum(round(col("v") * lit(1e12), 0).cast("long")
      .cast("decimal(38,0)")).cast("double") / lit(1e12)).cast("double")
    val got = vals.groupBy("g")
      .agg(Tables.scaledLongSum(col("v")).as("sr"), dec.as("dc"))
      .collect()
    assert(got.length == 5)
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"group ${r.getString(0)}: sr=${r.getDouble(1)} dc=${r.getDouble(2)}")
    }
    // empty input: NULL, like sum()
    val empty = vals.filter(col("g") === "nope")
      .agg(Tables.scaledLongSum(col("v")).as("s")).collect()
    assert(empty.head.isNullAt(0))
  }

  test("agg17 produces one row per group with all 18 columns") {
    val out = GroupByOps.agg17Exact(li, Seq("l_returnflag"), "l_quantity",
      "l_linestatus", col("l_orderkey"), col("l_orderkey").cast("string"))
    assert(out.count() == 3)
    assert(out.columns.length == 19) // key + 17 aggs + mode
    val row = out.filter(col("l_returnflag") === "A").head
    assert(row.getAs[Double]("a_min") <= row.getAs[Double]("a_median"))
    assert(row.getAs[Double]("a_median") <= row.getAs[Double]("a_max"))
  }

  test("merge dup-key assertion fires on duplicate right keys") {
    val dup = li.select(col("l_orderkey")).limit(10)
      .union(li.select(col("l_orderkey")).limit(10))
    intercept[IllegalArgumentException] {
      MergeOps.assertUniqueKeys(dup, Seq("l_orderkey"))
    }
  }

  test("unique keeps exactly one row per key") {
    val u = ReshapeOps.unique(li, Seq("l_orderkey"),
      struct(col("l_linenumber"), col("l_quantity")), ReshapeOps.KeepWhich.First)
    assert(u.groupBy("l_orderkey").count().filter(col("count") > 1).count() == 0)
  }

  test("melt produces ids × values rows") {
    val part = Tables.load(spark, sf, "part")
    val m = ReshapeOps.melt(part, Seq("p_partkey"), Seq("p_size", "p_retailprice"))
    assert(m.count() == part.count() * 2)
  }

  test("compute_value DAG flattens to a single projection") {
    val out = ComputeValue.domainTransform(li, Seq(
      Derived("qty", Identity("l_quantity")),
      Derived("is_a", Indicator("l_returnflag", "A")),
      Derived("z", Normalizer("l_quantity", 25.0, 0.1)),
      Derived("flag_name", Mapping("l_returnflag",
        Map("A" -> "accepted", "N" -> "new", "R" -> "returned"))),
      Derived("qbin", Discretizer("l_quantity", Seq(10, 25, 40))),
      Derived("ratio", SqlExpr("l_extendedprice / l_quantity"))))
    assert(out.columns.toSeq ==
      Seq("qty", "is_a", "z", "flag_name", "qbin", "ratio"))
    // no shuffle: plan must contain no Exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    val r = out.filter(col("flag_name") === "accepted").head
    assert(r.getAs[Int]("is_a") == 1)
  }

  test("shingles guard: short docs yield empty array, not descending seq") {
    import spark.implicits._
    val d = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = d.select(TextOps.shingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(sh(0).isEmpty && sh(1) == Seq("a b c", "b c d"))
  }

  test("PII redaction replaces emails, IPs, phone runs; leaves clean text") {
    import spark.implicits._
    val d = Seq(
      (1L, "contact bob.smith+spam@sub.example.co for info"),
      (2L, "server at 192.168.001.1 port 8080"),
      (3L, "call +1 555-123-4567 or 555.987.6543 now"),
      (4L, "nothing sensitive here at all"),
      (5L, "card 1234567890123456 stays whole")
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        graft.text.TextOps.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "contact <EMAIL> for info", out(1L))
    assert(out(2L) == "server at <IP> port 8080", out(2L))
    assert(out(3L) == "call +1 <PHONE> or <PHONE> now", out(3L))
    assert(out(4L) == "nothing sensitive here at all")
    // boundary on both ends: a 16-digit run must NOT be partially
    // redacted (leaking its leading digits) — it stays untouched
    assert(out(5L) == "card 1234567890123456 stays whole", out(5L))
  }

  test("exact dedup keeps one representative per content") {
    import spark.implicits._
    val d = Seq((1L, "x y z"), (2L, "x y z"), (3L, "p q")).toDF("doc_id", "text")
    val kept = DedupOps.exactDedup(d, "doc_id", "text")
    assert(kept.count() == 2)
    assert(kept.filter(col("text") === "x y z").head.getLong(0) == 1L)
  }

  test("streaming tumbling window equals batch aggregation") {
    val streamed = graft.streaming.StreamOps
      .tumblingWindowAgg(spark, sf, "1 hour", "spec_stream_sink")
    val batch = Tables.load(spark, sf, "events")
      .groupBy((expr("ts div 1000000000").cast("long") -
        pmod(expr("ts div 1000000000"), lit(3600L))).as("bucket_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val s = streamed.select("bucket_start", "event_type", "n")
      .orderBy("bucket_start", "event_type").collect().toSeq
    val b = batch.orderBy("bucket_start", "event_type").collect().toSeq
    assert(s == b)
  }

  test("asofJoinNearest: tolerance, backward tie, equal-time tiebreak") {
    import spark.implicits._
    // left at t=100 (ties 90 vs 110 → backward), t=200 (only forward
    // within tol), t=300 (nothing within tol), t=400 (two rights at the
    // same time → largest tiebreak id wins)
    // tiebreak must be a column of BOTH sides (the asofJoin contract)
    val left = Seq((1L, 100L, 10L), (1L, 200L, 11L), (1L, 300L, 12L),
      (1L, 400L, 13L)).toDF("k", "t", "eid")
    val right = Seq(
      (1L, 90L, 901L, 9.0), (1L, 110L, 902L, 11.0),
      (1L, 230L, 903L, 23.0),
      (1L, 400L, 904L, 40.0), (1L, 400L, 905L, 41.0)
    ).toDF("k", "t", "eid", "v")
    val out = graft.operators.MergeOps.asofJoinNearest(
        left, right, "k", "t", "v", "eid", tolerance = 50L)
      .select(col("eid"), col("nearest_v"), col("nearest_dt"))
      .orderBy(col("eid"))
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq
    assert(out == Seq(
      (10L, Some(9.0), Some(-10L)),   // distance tie → backward
      (11L, Some(23.0), Some(30L)),   // forward only
      (12L, None, None),              // out of tolerance
      (13L, Some(41.0), Some(0L))))   // equal time → max tiebreak
  }

  test("exclusiveCumsum equals the single-partition window form") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toLong, (i % 7 + 1).toLong))
      .toDF("id", "v")
    val got = graft.functions.RankOps
      .exclusiveCumsum(df, "id", "v", "cum", parts = 8)
      .orderBy("id").select("id", "cum").as[(Long, Long)].collect().toSeq
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val exp = df.withColumn("cum", coalesce(sum(col("v")).over(w), lit(0L)))
      .orderBy("id").select("id", "cum").as[(Long, Long)].collect().toSeq
    assert(got == exp)
  }

  test("chunked trailing z-score is bit-identical to the plain keyed window") {
    // the 100 TB shape (timeline chunks + copied 50-row tails) must
    // produce exactly the rows of the small-input per-type window — the
    // cutover in StreamOps.trailingZScore is a plan choice only
    val base = Tables.load(spark, sf, "events")
      .select(col("event_type"), col("event_id"),
        expr("ts div 1000000000").as("tsec"), col("value"), col("ts"))
    val plain = graft.streaming.StreamOps.trailingZScore(base)
      .orderBy(col("event_type"), col("event_id")).collect().toSeq
    val chunked = graft.streaming.StreamOps
      .trailingZScore(base, forceChunked = true)
      .orderBy(col("event_type"), col("event_id")).collect().toSeq
    assert(plain.nonEmpty)
    assert(plain == chunked)
  }
}

object OperatorSpec {
  // values chosen so the scaled longs exercise all three radix-2²¹
  // digits, both signs, the ±1e6 magnitude edge (|x| ≈ 2⁶⁰), zero,
  // sub-digit values, and a group whose long sum would wrap 2⁶³ (eight
  // near-max terms)
  def adversarial(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    Seq(
      ("g1", 1e6), ("g1", -1e6), ("g1", 0.0), ("g1", 1e-12),
      ("g1", -3.5e-7), ("g1", 123456.789012), ("g2", 9.0e5),
      ("g2", 9.0e5), ("g2", 9.0e5), ("g2", 9.0e5), ("g2", 9.0e5),
      ("g2", 9.0e5), ("g2", 9.0e5), ("g2", 9.0e5), // Σ·10¹² = 7.2e18 > 2⁶³
      ("g3", -9.0e5), ("g3", -9.0e5), ("g3", -9.0e5), ("g3", -9.0e5),
      ("g3", -9.0e5), ("g3", -9.0e5), ("g3", -9.0e5), ("g3", -9.0e5),
      ("g4", 2.0e-6), ("g4", -1.0e-6), ("g5", 0.3), ("g5", 1.0 / 3),
      ("g5", 0.7), ("g5", 2.0 / 3)).toDF("g", "v")
  }
}
