package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count_distinct}

import graft.SparkSpec

class ProfileTopKSpec extends SparkSpec {

  test("profile ranks null as a value (Polars parity), ties on value asc, null last") {
    import spark.implicits._
    val df = Seq(Some("a"), Some("a"), Some("a"), None, None, Some("b"))
      .toDF("cat")
    assert(Profile.profile(df, topK = 3).head.topValues ==
      Seq(("a", 3L), (null, 2L), ("b", 1L)))
    val ties = Seq(Some("c"), None, Some("a"), Some("b")).toDF("cat")
    assert(Profile.profile(ties, topK = 4).head.topValues ==
      Seq(("a", 1L), ("b", 1L), ("c", 1L), (null, 1L)))
  }

  /** The profile of every column recomputed without the profiler:
    * `count_distinct` (+1 when nulls exist) and a per-column `groupBy`
    * count ranked on the driver. */
  private def assertMatchesIndependent(df: DataFrame, topK: Int, cap: Long): Unit = {
    val got = Profile.profile(df, topK, cap)
    assert(got.map(_.name) == df.columns.toSeq)
    got.foreach { p =>
      val c = col(s"`${p.name}`")
      val nulls = df.filter(c.isNull).count()
      val uniq = df.agg(count_distinct(c)).head().getLong(0) + (if (nulls > 0) 1 else 0)
      val counts = df.groupBy(c.as("v")).count()
        .select(col("v").cast("string"), col("count")).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
      val ranked = counts.sortWith { case ((v1, c1), (v2, c2)) =>
        if (c1 != c2) c1 > c2 else (v1, v2) match {
          case (Some(a), Some(b)) => a < b
          case (Some(_), None) => true
          case _ => false
        }
      }.take(topK).map { case (v, n) => (v.orNull, n) }
      assert(p.dtype == df.schema(p.name).dataType.toString, p.name)
      assert(p.nullCount == nulls, p.name)
      assert(p.nUnique == uniq, p.name)
      assert(p.topValues == (if (uniq > cap) Nil else ranked), p.name)
    }
  }

  test("profile matches count_distinct / groupBy: -0.0, NaN, nulls, timestamps, booleans") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")
    val df = Seq(
      (Some(-0.0), Some(-0.0f), Option.empty[String], Some(ts), Some(true)),
      (Some(0.0), Some(0.0f), None, Some(ts), Some(false)),
      (Some(Double.NaN), Some(Float.NaN), None, None, None),
      (Some(Double.NaN), Some(Float.NaN), None, Some(new java.sql.Timestamp(0L)), Some(true)),
      (None, None, None, None, None),
      (Some(1.5), Some(1.5f), None, Some(ts), Some(true))
    ).toDF("d", "f", "all_null", "ts", "b")
    assertMatchesIndependent(df, topK = 3, cap = 100)
    val d = Profile.profile(df).find(_.name == "d").get
    assert(d.nUnique == 4) // 0.0 (either sign), NaN, 1.5, null
    assert(d.topValues.head == (("0.0", 2L)))
    val allNull = Profile.profile(df).find(_.name == "all_null").get
    assert(allNull.nullCount == 6 && allNull.nUnique == 1 && allNull.topValues == Seq((null, 6L)))

    val empty = df.limit(0)
    assertMatchesIndependent(empty, topK = 3, cap = 100)
    assert(Profile.profile(empty).forall(p =>
      p.nullCount == 0 && p.nUnique == 0 && p.topValues.isEmpty))

    Seq("Account", "Event").foreach { name =>
      val sim = spark.read.format("graft.sources.v2.SalesforceSimSource")
        .option("object", name).option("rows", "500").load()
      assertMatchesIndependent(sim, topK = 5, cap = 100)
    }
  }

  test("profile cardinality cap: top-k at exactly the cap, none at cap + 1") {
    import spark.implicits._
    val df = Seq(
      (Some("a"), Some("a")), (Some("a"), Some("b")), (Some("b"), Some("c")),
      (Some("c"), Some("d")), (None, None)
    ).toDF("at_cap", "over_cap") // 4 and 5 distinct, null included
    assertMatchesIndependent(df, topK = 2, cap = 4)
    val byName = Profile.profile(df, topK = 2, cardinalityCap = 4).map(p => p.name -> p).toMap
    assert(byName("at_cap").nUnique == 4)
    assert(byName("at_cap").topValues == Seq(("a", 2L), ("b", 1L)))
    assert(byName("over_cap").nUnique == 5)
    assert(byName("over_cap").topValues.isEmpty)
  }

  test("TopKFreq handles >64KB string values (length-prefixed serialization)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.top_k_freq
    val big = "x" * 70000
    val df = (Seq.fill(3)(big) ++ Seq("small")).toDF("x").repartition(2)
    val top = df.agg(top_k_freq(col("x"), 1).as("t"))
      .selectExpr("inline(t)").collect()
    assert(top.head.getString(0).length == 70000)
    assert(top.head.getLong(1) == 3L)
  }

  test("TopKFreq stays exact under partial/merge across partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.top_k_freq
    val df = (1 to 1000).map(i => s"v${i % 7}").toDF("x").repartition(8)
    val top = df.agg(top_k_freq(col("x"), 3).as("t"))
      .selectExpr("inline(t)")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // 1000 rows over 7 values: v1..v6 appear 143, v0 appears 142
    assert(top.length == 3)
    assert(top.head._2 == 143L)
    assert(top.map(_._2).sum == 429L)
  }

  test("TopKFreq space-saving eviction keeps heavy hitters under tiny capacity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.top_k_freq
    // 500 singletons + one value appearing 200 times; capacity 16
    val data = (1 to 500).map(i => s"rare$i") ++ Seq.fill(200)("heavy")
    val df = scala.util.Random.shuffle(data).toDF("x").repartition(4)
    val top = df.agg(top_k_freq(col("x"), 1, capacity = 16).as("t"))
      .selectExpr("inline(t)")
      .collect().map(r => r.getString(0))
    assert(top.head == "heavy")
  }

  test("TopKFreq eviction bound is per-buffer: a heavy group's bound can't corrupt a light one") {
    import scala.collection.mutable
    import graft.functions.TopKFreq
    // One expression instance serving two buffers (grouped aggregation).
    val agg = TopKFreq(org.apache.spark.sql.catalyst.expressions.Literal("x"),
      k = 4, capacity = 4)
    // Heavy buffer: force an eviction at count 50 → caches a HIGH bound.
    val heavy = agg.createAggregationBuffer()
    agg.merge(heavy, mutable.HashMap("a" -> 100L, "b" -> 80L, "c" -> 60L, "d" -> 50L))
    agg.merge(heavy, mutable.HashMap("e" -> 1L)) // evicts d(50): e = 51
    assert(heavy("e") == 51L)

    // Light buffer whose true minimum is the LAST key in iteration order,
    // so a stale-bound early stop (which grabs the first entry ≤ bound)
    // would pick a wrong victim and inflate the newcomer.
    val lightKeys = mutable.HashMap(Seq("p", "q", "r", "s").map(_ -> 0L): _*)
      .keys.toSeq // this instance's deterministic iteration order
    val light = agg.createAggregationBuffer()
    agg.merge(light, mutable.HashMap(
      lightKeys.zipWithIndex.map { case (key, i) => key -> (10L - i) }: _*))
    val trueMin = 10L - (lightKeys.length - 1) // last-iterated key's count = 7
    agg.merge(light, mutable.HashMap("z" -> 2L))
    assert(light("z") == trueMin + 2L,
      s"eviction used a stale cross-buffer bound: ${light.toMap}")
  }
}
