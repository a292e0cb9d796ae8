package graft.ops

import org.apache.spark.sql.functions._
import graft.etl.SparkSpec

/** Histogram-quantile + MAD contracts. */
class RobustSpec extends SparkSpec {
  import spark.implicits._

  test("histogram quantile == percentile() on random multisets") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(500) { i =>
      (if (i % 2 == 0) "a" else "b", rnd.nextInt(40).toLong)
    }
    val df = rows.toDF("key", "x")
    val hist = df.groupBy(col("key"), col("x").cast("double").as("v"))
      .agg(count(lit(1)).as("c"))
    for (q <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val got = Robust.quantileFromHistogram(hist, q, "key")
        .as[(String, Double)].collect().toMap
      val want = df.groupBy("key")
        .agg(expr(s"percentile(x, $q)").as("p"))
        .as[(String, Double)].collect().toMap
      assert(got == want, s"q=$q: $got vs $want")
    }
  }

  test("median/MAD: odd and even counts, interpolation at .5 grain") {
    // key a: values 1,2,3,4 → med 2.5; devs 1.5,0.5,0.5,1.5 → mad 1.0
    // key b: values 1,1,10 → med 1; devs 0,0,9 → mad 0
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("a", 4),
      ("b", 1), ("b", 1), ("b", 10)).toDF("k", "x")
    val r = Robust.madOutlierStats(df, "k", col("x"))
      .orderBy("k").collect()
    assert(r.map(x => (x.getString(0), x.getDouble(1), x.getDouble(2),
      x.getLong(3), x.getLong(4))).toSeq ==
      Seq(("a", 2.5, 1.0, 4L, 0L), ("b", 1.0, 0.0, 3L, 1L)))
    Dedup.releaseCaches()
  }

  test("planted extreme value is flagged; inliers are not") {
    val df = (Seq.tabulate(99)(i => ("en", 100 + (i % 5))) :+ (("en", 100000)))
      .toDF("k", "x")
    val r = Robust.madOutlierStats(df, "k", col("x")).collect().head
    assert(r.getAs[Long]("n_outliers") == 1L)
    assert(r.getAs[Long]("n_docs") == 100L)
    Dedup.releaseCaches()
  }

  test("histogram artifact: shard merge equals the union histogram; grain recorded") {
    val shardA = Seq.tabulate(200)(i => ("en", (i % 7).toDouble)).toDF("k", "x")
    val shardB = Seq.tabulate(300)(i => ("en", (i % 11).toDouble)).toDF("k", "x")
    def histOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("k"), col("x").as("v")).agg(count(lit(1)).as("c"))
    val dir = tempDir("hist-art").toString
    Robust.Artifact.save(spark, histOf(shardA), Seq("k"), 0, dir)
    val (loaded, keys, grain) = Robust.Artifact.load(spark, dir)
    assert(keys == Seq("k") && grain == 0)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(toMap(Robust.Artifact.merge(loaded, histOf(shardB), Seq("k"))) ==
      toMap(histOf(shardA.union(shardB))),
      "count-sum merge must equal the union's histogram exactly")
    // quantiles off the merged artifact == quantiles of the whole
    val merged = Robust.Artifact.merge(loaded, histOf(shardB), Seq("k"))
    val got = Robust.quantileFromHistogram(merged, 0.5, Seq("k"), "m")
      .as[(String, Double)].collect().toMap
    val want = shardA.union(shardB).groupBy("k")
      .agg(expr("percentile(x, 0.5)").as("m"))
      .as[(String, Double)].collect().toMap
    assert(got == want)
    intercept[IllegalArgumentException] {
      Robust.Artifact.save(spark, histOf(shardA), Seq("k"), -1, dir)
    }
    Dedup.releaseCaches()
  }

  // ---- tokenBudgetMix (quality-grain threshold + boundary prefix) ----

  /** k distinct non-stopword tokens → quality 0.004k+0.6 (k<100), so
    * longer docs rank higher and token counts are exact. */
  private def docOf(k: Int): String =
    (1 to k).map(i => s"w$i").mkString(" ")

  test("token budget: full grains admit, boundary grain cuts by id order") {
    val d = Seq(
      (1L, "A", docOf(30)), (2L, "A", docOf(20)), (3L, "A", docOf(10)),
      (10L, "B", docOf(10)), (11L, "B", docOf(10)),
      (12L, "B", docOf(10)), (13L, "B", docOf(10))
    ).toDF("doc_id", "source", "text")
    val r = Sampling.tokenBudgetMix(d, budget = 25L, bucketWidth = 2L)
      .select("doc_id", "source", "admit")
      .as[(Long, String, String)].collect().toSet
    // A: grains 30 (cum 30 > 25, boundary rem 25 → doc1 has 30 > 25: out)
    // B: one grain of 4×10 (cum 40 > 25, rem 25): ids 10, 11 fit (10, 20)
    assert(r == Set((10L, "B", "boundary"), (11L, "B", "boundary")))
    Dedup.releaseCaches()
  }

  test("token budget: a source that fits admits wholly as grains") {
    val d = Seq(
      (1L, "A", docOf(30)), (2L, "A", docOf(20)), (3L, "A", docOf(10)))
      .toDF("doc_id", "source", "text")
    val r = Sampling.tokenBudgetMix(d, budget = 55L)
      .select("doc_id", "admit").as[(Long, String)].collect().toSet
    // 30 (cum 30) + 20 (cum 50) full; 10 (cum 60) boundary rem 5 → out
    assert(r == Set((1L, "grain"), (2L, "grain")))
    Dedup.releaseCaches()
  }

  test("token budget selection is partitioning-independent") {
    val rnd = new scala.util.Random(3)
    val d = Seq.tabulate(120) { i =>
      (i.toLong, s"s${i % 3}", docOf(5 + rnd.nextInt(40)))
    }.toDF("doc_id", "source", "text")
    val a = Sampling.tokenBudgetMix(d.repartition(1), 300L, bucketWidth = 16L)
      .collect().map(_.toString).sorted.toSeq
    val b = Sampling.tokenBudgetMix(d.repartition(7), 300L, bucketWidth = 16L)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
    Dedup.releaseCaches()
  }

  // ---- UniMax waterfill (epoch-capped language budgets) ----

  private def allocOf(groups: Seq[(String, Long)], b: Long,
      cap: Long): Map[String, Long] =
    Sampling.unimaxAllocations(groups.toDF("source", "n"), b, cap)
      .select("source", "_budget").as[(String, Long)].collect().toMap

  test("unimax waterfill: capped prefix takes its mass, uncapped split the rest evenly") {
    // ascending: a(10)·3=30 <= 60 capped; b(20)·2=40 <= 50 capped;
    // c: 100 > 30 uncapped -> (60-30)//1
    assert(allocOf(Seq("a" -> 10L, "b" -> 20L, "c" -> 100L), 60L, 1L) ==
      Map("a" -> 10L, "b" -> 20L, "c" -> 30L))
    // epoch cap 2: a capped AT 2n=20 (20·3=60 <= 60); b: 40·2=80 > 40
    // uncapped -> b and c each get (60-20)//2 = 20
    assert(allocOf(Seq("a" -> 10L, "b" -> 20L, "c" -> 100L), 60L, 2L) ==
      Map("a" -> 20L, "b" -> 20L, "c" -> 20L))
  }

  test("unimax waterfill: floor division loses at most #uncapped-1 tokens; all-capped keeps N*n") {
    // both uncapped: 51 // 2 = 25 each (one token unallocated by floor)
    assert(allocOf(Seq("a" -> 100L, "b" -> 100L), 51L, 1L) ==
      Map("a" -> 25L, "b" -> 25L))
    // budget >= N * total: every group capped at N*n
    assert(allocOf(Seq("a" -> 10L, "b" -> 20L), 100L, 2L) ==
      Map("a" -> 20L, "b" -> 40L))
  }

  test("unimax admission: a capped language admits wholly, an uncapped one stops at its share") {
    // A: 3 docs x 10 tokens = 30; B: 3 docs x 30 = 90. B(udget) = 4/5
    // of 120 = 96. waterfill N=1: A: 30·2=60 <= 96 capped(30);
    // B: (96-30)//1 = 66 -> B admits 60 of 90 (2 grains... all q equal
    // per lang so ONE grain per lang: B's single 90-token grain > 66
    // -> boundary cut by id: 30+30 <= 66, third 30 -> 90 > 66 out)
    val d = Seq(
      (1L, "aa", docOf(10)), (2L, "aa", docOf(10)), (3L, "aa", docOf(10)),
      (10L, "bb", docOf(30)), (11L, "bb", docOf(30)), (12L, "bb", docOf(30)))
      .toDF("doc_id", "lang", "text")
    val r = Sampling.unimaxMix(d, 4L, 5L, 1L, bucketWidth = 4L)
      .select("doc_id", "source", "admit", "lang_budget")
      .as[(Long, String, String, Long)].collect().toSet
    assert(r == Set(
      (1L, "aa", "grain", 30L), (2L, "aa", "grain", 30L),
      (3L, "aa", "grain", 30L),
      (10L, "bb", "boundary", 66L), (11L, "bb", "boundary", 66L)))
    Dedup.releaseCaches()
  }

  test("unimax on an empty corpus yields an empty admission, not an NPE") {
    // the streaming twin's zero-row first micro-batch (review-found:
    // sum() over empty is null, and getLong(null) would kill the query)
    val d = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    val r = Sampling.unimaxMix(d, 4L, 5L, 1L)
    assert(r.count() == 0)
    assert(r.columns.toSet ==
      Set("source", "doc_id", "q", "n_tokens", "admit", "lang_budget"))
    Dedup.releaseCaches()
  }

  test("unimax admission is partitioning-independent") {
    val rnd = new scala.util.Random(7)
    val d = Seq.tabulate(90) { i =>
      (i.toLong, s"l${i % 4}", docOf(5 + rnd.nextInt(40)))
    }.toDF("doc_id", "lang", "text")
    val a = Sampling.unimaxMix(d.repartition(1), 1L, 2L, 1L,
      bucketWidth = 16L).collect().map(_.toString).sorted.toSeq
    val b = Sampling.unimaxMix(d.repartition(7), 1L, 2L, 1L,
      bucketWidth = 16L).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
    Dedup.releaseCaches()
  }
}
