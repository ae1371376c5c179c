package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Direct unit coverage for the encoder internals the driver oracles
  * exercise only end-to-end — in particular the dictionary paths where
  * a plan-shape regression can silently change RESULTS (the r5
  * labelDictionary-under-persist incident: the old two-branch global
  * rank lost rows when cached-plan compilation broke exchange reuse,
  * and only the e5 oracle caught it).
  */
class EncodingSpec extends SparkSpec {

  private def frame = {
    import spark.implicits._
    Seq((1L, "cherry"), (2L, "apple"), (3L, "banana"), (4L, "apple"),
      (5L, "elder"), (6L, "date"), (7L, "banana"), (8L, "apple"))
      .toDF("id", "fruit")
  }

  test("labelDictionary: alphabetical 0-based codes, STABLE under persist()") {
    val dict = Encoding.labelDictionary(frame, "fruit")
    val plain = dict.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == Map("apple" -> 0L, "banana" -> 1L, "cherry" -> 2L,
      "date" -> 3L, "elder" -> 4L))
    // the regression pin: caching compiles the plan WITHOUT exchange
    // reuse — the dictionary must not lose rows or shift codes
    val cached = Encoding.labelDictionary(frame, "fruit").persist()
    try {
      val underCache = cached.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(underCache == plain, s"persist() changed the dictionary: $underCache")
    } finally cached.unpersist()
  }

  test("BinaryEncode: ceil(log2(nCats)) bit columns decode back to the label code") {
    val out = Encoding.BinaryEncode("fruit")(frame)
    // 5 categories -> 3 bits, bin_0 most significant
    assert(out.columns.count(_.startsWith("fruit_bin_")) == 3)
    val decoded = out.select(col("fruit"),
        (col("fruit_bin_0") * 4 + col("fruit_bin_1") * 2 + col("fruit_bin_2"))
          .cast("long").as("code"))
      .distinct().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(decoded == Map("apple" -> 0L, "banana" -> 1L, "cherry" -> 2L,
      "date" -> 3L, "elder" -> 4L))
  }

  test("QuantileBin: equal-depth bins, nulls pass through unbinned") {
    import spark.implicits._
    val df = (Seq(Some(10.0), Some(40.0), Some(20.0), Some(30.0),
      Some(80.0), Some(60.0), Some(50.0), Some(70.0), None))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val got = Encoding.QuantileBin("v", k = 4, tieCols = Seq("id"))(df)
      .collect().map(r => Option(r.get(1)).map(_.toString.toDouble) ->
        Option(r.get(2)).map(_.asInstanceOf[Int]))
      .toMap
    assert(got(Some(10.0)) == Some(1) && got(Some(20.0)) == Some(1))
    assert(got(Some(30.0)) == Some(2) && got(Some(40.0)) == Some(2))
    assert(got(Some(50.0)) == Some(3) && got(Some(60.0)) == Some(3))
    assert(got(Some(70.0)) == Some(4) && got(Some(80.0)) == Some(4))
    assert(got(None).isEmpty)           // null value -> null bin
  }

  test("QuantileBin: deterministic under repartitioning; ties broken by id") {
    import spark.implicits._
    val rows = (1 to 97).map(i => (i.toLong, (i % 7).toDouble))
    val a = Encoding.QuantileBin("v", 5, Seq("id"))(
      rows.toDF("id", "v").repartition(1)).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val b = Encoding.QuantileBin("v", 5, Seq("id"))(
      rows.toDF("id", "v").repartition(13)).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(a == b)
    // depths differ by at most 1
    val depths = a.values.groupBy(identity).map(_._2.size)
    assert(depths.max - depths.min <= 1)
  }

  test("FrequencyEncode: per-category frequency = count/total; fact rows preserved") {
    val out = Encoding.FrequencyEncode("fruit")(frame)
    assert(out.count() == 8)
    val freqs = out.select("fruit", "fruit_freq_encoded").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(freqs == Map("apple" -> 0.375, "banana" -> 0.25, "cherry" -> 0.125,
      "date" -> 0.125, "elder" -> 0.125))
  }

  test("OofTargetEncode: each row's encoding excludes its own fold") {
    import spark.implicits._
    // one category, targets 1..4; folds by rank(id) mod 2:
    // ranks 1,2,3,4 -> folds 1,0,1,0 — so ids 1,3 (targets 1,3) see the
    // complement {2,4}, ids 2,4 (targets 2,4) see {1,3}
    val df = (1 to 4).map(i => (i.toLong, "a", i.toDouble))
      .toDF("id", "cat", "t")
    val out = Encoding.OofTargetEncode("cat", "t", k = 2, Seq("id"), m = 0.0)(df)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) == 3.0 && out(3L) == 3.0, out.toString) // mean{2,4}
    assert(out(2L) == 2.0 && out(4L) == 2.0)               // mean{1,3}
  }

  test("OofTargetEncode: m-smoothing shrinks to the global mean; " +
    "single-fold categories fall back to it; repartition-invariant") {
    import spark.implicits._
    // cat a: 4 rows as above (global over all 5 rows: (1+2+3+4+10)/5 = 4)
    // cat b: one row (target 10) — its complement cell is empty
    val df = ((1 to 4).map(i => (i.toLong, "a", i.toDouble)) :+
      ((5L, "b", 10.0))).toDF("id", "cat", "t")
    val out = Encoding.OofTargetEncode("cat", "t", k = 2, Seq("id"), m = 2.0)(df)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // id 5 (cat b): (0 + 2*4) / (0 + 2) = 4 — the global mean
    assert(out(5L) == 4.0, out.toString)
    // id 1 (cat a, fold of ranks {1,3}): ((2+4) + 2*4) / (2 + 2) = 3.5
    assert(out(1L) == 3.5)
    val again = Encoding.OofTargetEncode("cat", "t", k = 2, Seq("id"),
      m = 2.0)(df.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out == again)
  }

  test("OrderedTargetEncode: prefix-only visibility under the seeded order") {
    import spark.implicits._
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0),
      (4L, "b", 100.0)).toDF("id", "cat", "t")
    val out = Encoding.OrderedTargetEncode("cat", "t", m = 2.0,
      seed = 7L, tieCols = Seq("id"))(df)
      .select("id", "cat", "cat_ord_encoded").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val g = (10.0 + 20.0 + 30.0 + 100.0) / 4.0
    // reconstruct the seeded permutation the engine used
    def key(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:7".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    }
    val order = Seq(1L, 2L, 3L).sortBy(key)
    val ts = Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0)
    var run = 0.0
    var cnt = 0
    order.foreach { id =>
      val expect = (run + 2.0 * g) / (cnt + 2.0)
      assert(math.abs(out(id) - expect) < 1e-9, s"id $id")
      run += ts(id); cnt += 1
    }
    // singleton category: pure prior
    assert(math.abs(out(4L) - g) < 1e-9)
    val again = Encoding.OrderedTargetEncode("cat", "t", m = 2.0,
      seed = 7L, tieCols = Seq("id"))(df)
      .select("id", "cat", "cat_ord_encoded").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out == again, "bit-deterministic")
    // one per-category reset total: no second total, no offset join
    val plan = Encoding.OrderedTargetEncode("cat", "t", m = 2.0,
      seed = 7L, tieCols = Seq("id"))(df).queryExecution.executedPlan.toString
    assert("RunningTotal \\[".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("OrderedTargetEncode: repeated tieCols encode the same under any partitioning and row order") {
    import spark.implicits._
    // ids repeat with different targets and payloads, so only the final
    // tie-breaker orders the rows inside a tie
    val rows = (0 until 60).map(i =>
      (i % 7L, if (i % 2 == 0) "a" else "b", (i * 37 % 11).toDouble, s"p$i"))
    def encode(in: Seq[(Long, String, Double, String)], partitions: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      try Encoding.OrderedTargetEncode("cat", "t", m = 2.0, seed = 3L,
          tieCols = Seq("id"))(in.toDF("id", "cat", "t", "p").repartition(3))
        .collect().map(_.toString).sorted.toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val base = encode(rows, 1)
    assert(encode(rows, 7) == base)
    assert(encode(new scala.util.Random(5).shuffle(rows), 7) == base)
    assert(encode(rows.reverse, 1) == base)
  }
}
