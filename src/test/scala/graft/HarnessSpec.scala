package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CacheScope

/**
 * The offline harness: the copy-remap corpora the scaling evidence rests
 * on, and the [[Scaling]] tier runner's summary and release.
 */
class HarnessSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def tier(name: String, multiples: Seq[Int]): Scaling.Tier =
    Scaling.tiers(spark, sf, multiples).find(_.name == name).get
      .copy(multiples = multiples)

  test("copy-remap at m = 2: every copy keeps each document's token " +
    "count, ids and shingle sets are disjoint across copies, and " +
    "within-copy embedding dot products are bit-equal") {
    val stride = 10000000L
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("src"), col("text").as("orig"))
    val text = tier("minhash_pairs", Seq(2)).corpus(2)
      .select(expr(s"doc_id div $stride").as("c"),
        expr(s"doc_id % $stride").as("src"), col("doc_id"), col("text"))
      .join(base, "src")
    val n = base.count()
    assert(text.count() == 2 * n)
    assert(text.select("doc_id").distinct().count() == 2 * n)
    assert(text.groupBy("c").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(0L -> n, 1L -> n))
    def tokens(c: String) = size(split(col(c), "\\s+"))
    assert(text.filter(tokens("text") =!= tokens("orig")).count() == 0)
    val shingles = text
      .select(col("c"), split(col("text"), " ", -1).as("tok"))
      .filter(size(col("tok")) >= 3)
      .select(col("c"), explode(expr("transform(sequence(1, size(tok) - 2), " +
        "i -> concat_ws(' ', tok[i - 1], tok[i], tok[i + 1]))")).as("s"))
      .distinct()
    val s0 = shingles.filter(col("c") === 0).select("s")
    assert(s0.count() > 0)
    assert(s0.intersect(shingles.filter(col("c") === 1).select("s"))
      .count() == 0)

    def vectors(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val emb = vectors(spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding"))
    val copied = vectors(tier("semantic_pairs", Seq(2)).corpus(2))
    assert(copied.size == 2 * emb.size)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val ids = emb.keys.toSeq.sorted
    for (c <- 0 until 2) {
      val v = ids.map(id => copied(id + c * stride))
      val orig = ids.map(emb)
      assert(v.zip(orig).exists { case (a, b) => !a.sameElements(b) },
        s"copy $c applied no sign flips")
      for (i <- ids.indices; j <- i until ids.length)
        assert(java.lang.Double.doubleToLongBits(dot(v(i), v(j))) ==
          java.lang.Double.doubleToLongBits(dot(orig(i), orig(j))),
          s"copy $c: dot(${ids(i)}, ${ids(j)}) moved")
    }
  }

  test("Scaling at a single multiple: the summary prints the -99 " +
    "sentinel for every slope it cannot fit") {
    val points = Scaling.run(spark, Seq(tier("minhash_pairs", Seq(4))), 1)
    assert(points.map(p => (p.name, p.m)) == Seq(("minhash_pairs", 4)))
    val summary = Scaling.summary(points, 1, sf)
    assert(summary.contains(""""minhash_pairs":{"slope":-99.00,""" +
      """"slope_last":-99.00,"slope_span":-99.000,"""), summary)
    assert(summary.contains(""""cost_per_pair_slope":-99.00}"""), summary)
  }

  test("Scaling releases every operator cache after each rep: the Ops " +
    "and Scan registries are empty after a text and a graph tier") {
    val graph = tier("graph_link_pred", Seq(1, 2))
    // the auto-routed link prediction pins two frames per run, which a
    // catalog clearCache alone never forgets
    graph.op(graph.corpus(1))
    assert(CacheScope.trackedCount(spark, CacheScope.Ops) > 0)
    val points = Scaling.run(spark,
      Seq(tier("minhash_pairs", Seq(1, 2)), graph), 1)
    assert(points.map(p => (p.name, p.m, p.size)) == Seq(
      ("minhash_pairs", 1, 500L), ("minhash_pairs", 2, 1000L),
      ("graph_link_pred", 1, 997L), ("graph_link_pred", 2, 1994L)))
    assert(CacheScope.trackedCount(spark, CacheScope.Ops) == 0)
    assert(CacheScope.trackedCount(spark, CacheScope.Scan) == 0)
  }
}
