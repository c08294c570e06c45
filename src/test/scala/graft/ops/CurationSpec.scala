package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Round-8 curation operators: domain-mixture sampling, quality-aware
  * survivor election, training-shard assignment, blocked fuzzy linkage,
  * Z-order layout, and distributed BPE training. */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("curation-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  // ---------------------------------------------------------- mixtureSample

  test("budgetLedger: greedy per-domain fill, exhausted and unallocated " +
    "regimes, partitioning-invariant") {
    import spark.implicits._
    val df = ((1 to 5).map(i => ("A", i.toLong, 4.0)) ++
      (11 to 13).map(i => ("B", i.toLong, 2.0)) ++
      (21 to 22).map(i => ("C", i.toLong, 5.0)))
      .toDF("domain", "id", "cost")
    val allocs = Map("A" -> 10.0, "B" -> 100.0)
    val out = Sampling.budgetLedger(df, "domain", "id", "cost", allocs)
      .orderBy("domain").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getLong(7)))).toMap
    // A: 5 docs of cost 4 against allocation 10 -> greedy keeps 2
    // (cum 4, 8; the third would read 12): realized 8, carryover 2
    assert(out("A") == ((10.0, 5L, 2L, 8.0, 2.0, 0.8, 0L)), s"$out")
    // B: total mass 6 < allocation 100 -> every doc selected and the
    // allocation unmet: EXHAUSTED, carryover 94
    assert(out("B") == ((100.0, 3L, 3L, 6.0, 94.0, 0.06, 1L)), s"$out")
    // C: present but unallocated -> reported, nothing selected
    assert(out("C") == ((0.0, 2L, 0L, 0.0, 0.0, 0.0, 0L)), s"$out")
    // deterministic under a different partitioning
    val again = Sampling.budgetLedger(df.repartition(7), "domain", "id",
      "cost", allocs).orderBy("domain").collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(again == Map("A" -> 2L, "B" -> 3L, "C" -> 0L))
    // null costs are excluded before the fill (no NULL cum poisoning)
    val withNull = df.unionByName(
      Seq(("A", 99L, Option.empty[Double])).toDF("domain", "id", "cost"))
    val nOut = Sampling.budgetLedger(withNull, "domain", "id", "cost",
      allocs).filter($"domain" === "A").collect().head
    assert(nOut.getLong(2) == 5L && nOut.getLong(3) == 2L,
      s"null-cost row must be dropped, got $nOut")
  }

  test("mixtureSample: quotas realize the target mixture at max usage") {
    import spark.implicits._
    val df = ((1 to 10).map(i => ("A", i * 10)) ++
      (1 to 20).map(i => ("B", 1000 + i)) ++
      (1 to 5).map(i => ("C", 2000 + i)) ++
      (1 to 9).map(i => ("E", 3000 + i))) // E unweighted: must drop
      .toDF("domain", "id")
    // R = min(10/2, 20/1, 5/2) = 2.5 -> quotas A=5, B=2, C=5; D has no
    // rows so it cannot constrain the mixture
    val w = Map("A" -> 2.0, "B" -> 1.0, "C" -> 2.0, "D" -> 3.0)
    val out = Sampling.mixtureSample(df, "domain", "id", w)
    val sizes = out.groupBy("domain").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(sizes == Map("A" -> 5L, "B" -> 2L, "C" -> 5L))
    // deterministic: identical ids under a different partitioning
    val again = Sampling.mixtureSample(df.repartition(7), "domain", "id", w)
    assert(out.select("id").collect().map(_.getInt(0)).sorted.toSeq ==
      again.select("id").collect().map(_.getInt(0)).sorted.toSeq)
    // chosen rows are the md5-lowest within each domain (spot check A)
    val aIds = out.where($"domain" === "A").select("id").as[Int].collect().toSet
    val aRanked = df.where($"domain" === "A")
      .withColumn("h", md5(concat(lit("42|"), $"id".cast("string"))))
      .orderBy("h", "id").select("id").as[Int].collect().take(5).toSet
    assert(aIds == aRanked)
  }

  test("mixtureSample: single-domain degenerates to the full domain") {
    import spark.implicits._
    val df = (1 to 7).map(i => ("A", i)).toDF("domain", "id")
    val out = Sampling.mixtureSample(df, "domain", "id", Map("A" -> 0.3))
    assert(out.count() == 7) // R = n/w, quota = floor(w * n/w) = n
  }

  // ----------------------------------------------------------- assignShards

  test("weightedSample: exact size, weight bias, determinism, w<=0 dies") {
    import spark.implicits._
    // two strata; in 'x' ids 0-9 carry weight 100, ids 10-99 weight 1 —
    // the heavy rows must dominate a size-10 sample far beyond their
    // 10% population share
    val rows = (0 until 100).map(i =>
      ("x", i.toLong, if (i < 10) 100.0 else 1.0)) ++
      (0 until 30).map(i => ("y", 1000L + i, 1.0)) :+
      (("y", 2000L, -5.0)) :+ (("y", 2001L, 0.0))
    val df = rows.toDF("g", "id", "w")
    val out = Sampling.weightedSample(df, "g", "id", "w", 10)
    val got = out.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // exact sizes per stratum
    assert(got.count(_._1 == "x") == 10 && got.count(_._1 == "y") == 10)
    // nonpositive weights never sampled
    assert(!got.contains(("y", 2000L)) && !got.contains(("y", 2001L)))
    // weight bias: most of the 10 'x' picks are heavy rows (uniform
    // sampling would give 1 in expectation; ~90·0.045 ≈ 4 lucky light
    // rows typically edge in under A-Res, and the draw is deterministic,
    // so this is a fixed property of seed 42, not a flaky bound)
    assert(got.count { case (g, id) => g == "x" && id < 10 } >= 5)
    // partitioning invariance
    val again = Sampling.weightedSample(df.repartition(13), "g", "id", "w", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == got)
    // append stability: adding stratum 'z' never changes x/y picks
    val more = df.unionByName(
      (0 until 50).map(i => ("z", 3000L + i, 2.0)).toDF("g", "id", "w"))
    val withZ = Sampling.weightedSample(more, "g", "id", "w", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(withZ.filter(_._1 != "z") == got)
  }

  test("assignShards: deterministic permutation, contiguous positions, balance") {
    import spark.implicits._
    val df = (0 until 1000).map(i => i.toLong).toDF("id")
    val out = Sampling.assignShards(df, "id", 7).cache()
    try {
      // partition of the input: every id exactly once
      assert(out.count() == 1000)
      assert(out.select("id").distinct().count() == 1000)
      // positions are 1..count within each shard
      val byShard = out.groupBy("shard")
        .agg(count(lit(1)).as("n"), min("shard_pos").as("lo"),
          max("shard_pos").as("hi"))
        .collect()
      assert(byShard.length == 7)
      byShard.foreach { r => // (shard, n, lo, hi)
        assert(r.getLong(2) == 1L && r.getLong(3) == r.getLong(1))
      }
      // hash balance: no shard more than 2x the smallest at n=1000, k=7
      val ns = byShard.map(_.getLong(1))
      assert(ns.max < 2 * ns.min, s"shard sizes ${ns.toSeq}")
      // partitioning-independent: identical triples under repartition(13)
      val again = Sampling.assignShards(df.repartition(13), "id", 7)
      val a = out.select("shard", "shard_pos", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
      val b = again.select("shard", "shard_pos", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
      assert(a.toSeq == b.toSeq)
    } finally out.unpersist()
  }

  // ------------------------------------------- electRepresentativesByLabels

  test("electRepresentatives: best quality wins, ties to min id, unlabeled pass") {
    import spark.implicits._
    val d = Seq((1L, 5L), (2L, 9L), (3L, 9L), // cluster 1: tie 9 -> id 2
      (4L, 1L), // singleton component: must survive
      (10L, 0L)) // unlabeled: must pass through
      .toDF("doc_id", "quality")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L)).toDF("id", "component")
    val kept = Dedup.electRepresentativesByLabels(d, labels, "doc_id", "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 10L))
  }

  test("electRepresentatives: min-id rule only when qualities are equal") {
    import spark.implicits._
    val d = Seq((1L, 1L), (2L, 3L), (3L, 2L)).toDF("doc_id", "quality")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "component")
    val kept = Dedup.electRepresentativesByLabels(d, labels, "doc_id", "quality")
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(2L)) // highest quality, NOT the min id
  }

  // ------------------------------------------------------ PQ (ann quartet)

  test("pqTrain/pqEncode/pqTopK: closed-form codes and ADC distances") {
    import spark.implicits._
    // 4 dims, 2 subspaces; ids 0/1 seed DIFFERENT blobs per first-k rule
    val rows = Seq(
      (0L, Seq(0.0, 0.0, 10.0, 10.0)),
      (1L, Seq(8.0, 8.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.2, 10.2, 10.0)),
      (3L, Seq(8.0, 8.2, 0.2, 0.0)))
    val df = rows.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(df, "embedding", "vec_id", dim = 4,
      subspaces = 2, k = 2, iters = 2)
    // centroids after one update: blob means, rounded 6dp
    val cbMap = cb.map { case (s, cid, c) => (s, cid) -> c }.toMap
    assert(cbMap((0, 0)) == Seq(0.0, 0.1) && cbMap((0, 1)) == Seq(8.0, 8.1))
    assert(cbMap((1, 0)) == Seq(10.1, 10.0) && cbMap((1, 1)) == Seq(0.1, 0.0))
    val codes = Similarity.pqEncode(df, "embedding", "vec_id", 4, cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes == Map(0L -> Seq(0, 0), 1L -> Seq(1, 1),
      2L -> Seq(0, 0), 3L -> Seq(1, 1)))
    // ADC for the query (0,0,10,10): dist to (c00,c10) = 0.01 + 0.01+0 =
    // (0^2+0.1^2) + (0.1^2+0^2) = 0.02; top hit ties 0 before 2
    val top = Similarity.pqTopK(
        Similarity.pqEncode(df, "embedding", "vec_id", 4, cb), "vec_id",
        cb, Seq(0.0, 0.0, 10.0, 10.0), 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top == Seq((0L, 0.02), (2L, 0.02)))
  }

  test("pq: recall against exact L2 on real embeddings, determinism") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqTrain(emb, "embedding", "vec_id", dim = 64,
      subspaces = 8, k = 16, iters = 2)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0)
      .getSeq[Double](0)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val encoded = Similarity.pqEncode(corpus, "embedding", "vec_id", 64, cb)
    // exact L2 top-10 (brute force)
    val exact = corpus.select(col("vec_id"),
        aggregate(zip_with(col("embedding").cast("array<double>"), typedlit(q),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x).as("d"))
      .orderBy("d", "vec_id").limit(10)
      .collect().map(_.getLong(0)).toSet
    // raw ADC at 8 bytes/vector is COARSE on unstructured vectors — it
    // must still beat chance by a wide margin (10 random of 499 would
    // overlap ~0.2 ids with the exact set)
    val approx = Similarity.pqTopK(encoded, "vec_id", cb, q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(approx.intersect(exact).size >= 1,
      s"ADC no better than chance: $approx vs $exact")
    // the production path: ADC shortlist (100 of 499) + exact rerank
    // recovers the true top-10 nearly perfectly
    val rerank = Similarity.pqTopKRerank(encoded, corpus, "embedding",
        "vec_id", cb, q, topK = 10, shortlist = 100)
      .collect().map(_.getLong(0)).toSet
    val recall = rerank.intersect(exact).size
    assert(recall >= 9, s"rerank recall@10 too low: $recall/10 ($rerank vs $exact)")
    // codebook is partitioning-independent
    val cb2 = Similarity.pqTrain(emb.repartition(7), "embedding", "vec_id",
      dim = 64, subspaces = 8, k = 16, iters = 2)
    assert(cb2 == cb)
  }

  // --------------------------------------------------------------- PageRank

  test("hopDistance: closed-form BFS depths, direction honored, " +
    "unreached absent, maxHops truncates, checkpoint cadence inert") {
    import spark.implicits._
    // 0->1->2->3->4 chain plus a shortcut 0->3 and a back-edge 9->0
    // (9 itself unreachable: nothing points INTO it)
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L),
      (9L, 0L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("seed")
    val got = Graph.hopDistance(e, "src", "dst", seeds, "seed",
        maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L),
      s"shortcut must win (3 at dist 1, 4 at 2), 9 absent: $got")
    // truncation: maxHops = 1 reaches only 0, 1, 3
    val trunc = Graph.hopDistance(e, "src", "dst", seeds, "seed", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(trunc == Map(0L -> 0L, 1L -> 1L, 3L -> 1L), s"$trunc")
    // checkpoint cadence must not change results
    val ck = Graph.hopDistance(e.repartition(5), "src", "dst", seeds,
        "seed", 6, checkpointEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ck == got)
  }

  test("pageRank: hand-computed dangling redistribution, mass conservation") {
    import spark.implicits._
    // A -> B, B dangling, N = 2: after one iteration
    //   r(A) = .15/2 + .85 * (0 + .5/2)       = 0.2875
    //   r(B) = .15/2 + .85 * (.5 + .5/2)      = 0.7125
    val e1 = Seq((("A"), ("B"))).toDF("src", "dst")
    val one = Graph.pageRank(e1, "src", "dst", iters = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(one == Map("A" -> 0.2875, "B" -> 0.7125))
    // larger deterministic multigraph: mass ~1 after 5 iters, identical
    // ranks under a different partitioning, checkpointing changes nothing
    val e2 = (0 until 400)
      .map(i => ((i * 7) % 53).toLong -> ((i * i + 3) % 53).toLong)
      .toDF("src", "dst")
    val r5 = Graph.pageRank(e2, "src", "dst", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(r5.values.sum - 1.0) < 1e-6)
    val r5b = Graph.pageRank(e2.repartition(7), "src", "dst", iters = 5,
        checkpointEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r5b == r5)
    // a symmetric 2-cycle splits rank evenly
    val cyc = Graph.pageRank(Seq(1L -> 2L, 2L -> 1L).toDF("src", "dst"),
        "src", "dst", iters = 10)
      .collect().map(r => r.getDouble(1))
    assert(cyc.toSet == Set(0.5))
  }

  // ----------------------------------------------------- semantic (SemDeDup)

  // deterministic pseudo-random doubles in [-0.5, 0.5)
  private def prand(i: Int, j: Int): Double =
    (((i * 2654435761L + j * 40503L + 17L) & 0xffffL).toDouble / 65536.0) - 0.5

  test("normProfile: nulls/zeros/NaNs counted, dim spread flagged, " +
    "unit corpus reads ~1 quantiles") {
    import spark.implicits._
    val rows: Seq[Option[Seq[Double]]] = Seq(
      Some(Seq(1.0, 0.0)), Some(Seq(0.0, 1.0)),   // unit norms
      Some(Seq(0.0, 0.0)),                         // zero norm
      Some(Seq(Double.NaN, 1.0)),                  // non-finite
      None,                                        // null vector
      Some(Seq(3.0, 4.0, 0.0)))                    // ragged dim, norm 5
    val r = Similarity.normProfile(rows.toDF("embedding"), "embedding")
      .collect().head
    assert(r.getLong(0) == 6 && r.getLong(1) == 1 &&
      r.getLong(2) == 1 && r.getLong(3) == 1, s"$r")
    assert(r.getLong(4) == 2L && r.getLong(5) == 3L, "dim spread 2..3")
    // norms present: 1, 1, 0, 5 -> p50 = 1.0
    assert(r.getDouble(7) == 1.0, s"median norm: $r")
  }

  test("centroidDrift: planted translation recovered per dimension, " +
    "identical snapshots read zero delta everywhere") {
    import spark.implicits._
    val ref = (0 until 50).map(i =>
      (i.toLong, Seq(prand(i, 0), prand(i, 1), prand(i, 2))))
      .toDF("id", "v")
    // current = reference shifted by a known vector per dimension
    val shift = Seq(0.5, -0.25, 0.0)
    val cur = (0 until 50).map(i =>
      (i.toLong, Seq(prand(i, 0) + shift(0), prand(i, 1) + shift(1),
        prand(i, 2) + shift(2))))
      .toDF("id", "v")
    val got = Similarity.centroidDrift(ref, cur, "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(5)))).toMap
    shift.zipWithIndex.foreach { case (d, pos) =>
      val (nr, nc, delta) = got(pos.toLong)
      assert(nr == 50 && nc == 50)
      // means are 6dp-rounded before differencing: within 2 ulp of 1e-6
      assert(math.abs(delta - d) <= 2e-6, s"pos $pos: $delta vs $d")
    }
    // no drift: delta exactly 0.0 (and never -0.0) in every dimension
    val zero = Similarity.centroidDrift(ref, ref, "v").collect()
    assert(zero.forall(r => r.getDouble(5) == 0.0 &&
      !(1.0 / r.getDouble(5) < 0)), "identical snapshots must read +0.0")
  }

  test("kmeansAssign: planted blobs recovered, matches reference Lloyd") {
    import spark.implicits._
    // 3 well-separated blobs in 4 dims; ids interleave blobs so first-k
    // seeding starts from 3 DIFFERENT blobs (ids 0,1,2)
    val rows = (0 until 60).map { i =>
      val blob = i % 3
      val base = Array(10.0 * blob, -5.0 * blob, 3.0 * blob, 7.0 - blob)
      (i.toLong, base.zipWithIndex.map { case (b, j) => b + prand(i, j) }.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(df, "embedding", "vec_id", 3, 3)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // blob membership == cluster membership, and seed i landed cluster i
    assert((0 until 60).forall(i => got(i.toLong) == i % 3))
    // reference Lloyd with the same rules (first-k seeds, ties by cid,
    // 6-decimal centroid rounding, iters = assignment passes)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cents = rows.sortBy(_._1).take(3).map(_._2.toArray).toArray
    def assign(v: Seq[Double]): Int = cents.zipWithIndex.map { case (c, k) =>
      (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, k)
    }.min._2
    for (_ <- 0 until 2) {
      val groups = rows.groupBy { case (_, v) => assign(v) }
      cents = groups.toSeq.sortBy(_._1).map { case (_, members) =>
        (0 until 4).map(j => r6(members.map(_._2(j)).sum / members.size)).toArray
      }.toArray
    }
    val want = rows.map { case (id, v) => id -> assign(v) }.toMap
    assert(got == want)
  }

  test("argmin kernels fail FAST on malformed vectors (null element, " +
    "wrong dimension) instead of NPE or silent partial distance") {
    import spark.implicits._
    val good = (0 until 8).map(i =>
      (i.toLong, Seq(i.toDouble, 1.0, 2.0, 3.0)))
    val cents = Similarity.kmeansCentroids(
      good.toDF("vec_id", "embedding"), "embedding", "vec_id", 2, 2)
    def msgOf(df: org.apache.spark.sql.DataFrame): String = {
      val e = intercept[Exception] {
        Similarity.assignToCentroids(df, "embedding", "vec_id", cents)
          .collect()
      }
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).mkString(" | ")
    }
    // null element inside a vector: sized, actionable error
    val withNullElem = good.toDF("vec_id", "embedding").unionAll(
      Seq((99L, Seq[java.lang.Double](1.0, null, 2.0, 3.0)))
        .toDF("vec_id", "embedding"))
    assert(msgOf(withNullElem).contains("null element"),
      s"got: ${msgOf(withNullElem)}")
    // wrong dimension: sized, actionable error (not a partial argmin)
    val shortVec = good.toDF("vec_id", "embedding").unionAll(
      Seq((98L, Seq(1.0, 2.0))).toDF("vec_id", "embedding"))
    assert(msgOf(shortVec).contains("expected 4"),
      s"got: ${msgOf(shortVec)}")
    // PQ path: same contract through the subspace kernel
    val cb = Similarity.pqTrain(good.toDF("vec_id", "embedding"),
      "embedding", "vec_id", 4, subspaces = 2, k = 2, iters = 2)
    val e2 = intercept[Exception] {
      Similarity.pqEncode(shortVec, "embedding", "vec_id", 4, cb).collect()
    }
    val m2 = Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).filter(_ != null)
      .mkString(" | ")
    assert(m2.contains("expected 4"), s"got: $m2")
    // whole-null vectors still FILTER (the documented contract)
    val withNullVec = good.toDF("vec_id", "embedding").unionAll(
      Seq((97L, null: Seq[Double])).toDF("vec_id", "embedding"))
    assert(Similarity.assignToCentroids(withNullVec, "embedding",
      "vec_id", cents).count() == 8)
  }

  test("semanticPairs: brute-force within-cluster pairs, single kernel eval") {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      (i.toLong, (0 until 6).map(j => prand(i, j) + (if (i % 2 == 0) 1.0 else -1.0)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val tau = 0.9
    val assignMap = Similarity.kmeansAssign(df, "embedding", "vec_id", 2, 2)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na * nb > 0) d / (na * nb) else 0.0
    }
    def r5(x: Double) =
      BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && assignMap(ia) == assignMap(ib) && cos(va, vb) >= tau
    } yield (assignMap(ia), ia, ib, r5(cos(va, vb)))).toSet
    assert(want.nonEmpty)
    val got = Dedup.semanticPairs(df, "embedding", "vec_id", k = 2, iters = 2,
        minCosine = tau)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want)
    // partitioning-independent
    val again = Dedup.semanticPairs(df.repartition(7), "embedding", "vec_id",
        k = 2, iters = 2, minCosine = tau)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(again == got)
  }

  test("semanticPairs auto-k: sqrt schedule with clamps, default == " +
    "explicit sqrt(n) k") {
    import spark.implicits._
    // the heuristic itself: ceil(sqrt(n)) in [16, 4096]
    assert(Dedup.autoSemanticK(0) == 16)
    assert(Dedup.autoSemanticK(100) == 16)       // floor binds
    assert(Dedup.autoSemanticK(256) == 16)
    assert(Dedup.autoSemanticK(1000) == 32)      // ceil(31.6)
    assert(Dedup.autoSemanticK(1000000) == 1000) // sqrt exact
    assert(Dedup.autoSemanticK(100000000L) == 4096) // cap binds
    // k = 0 (the default) resolves to autoSemanticK(n): same pairs as
    // passing that k explicitly
    val rows = (0 until 300).map { i =>
      (i.toLong, (0 until 6).map(j => prand(i, j) + (if (i % 2 == 0) 1.0 else -1.0)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val kAuto = Dedup.autoSemanticK(300)
    assert(kAuto == 18)
    val byDefault = Dedup.semanticPairs(df, "embedding", "vec_id",
        iters = 2, minCosine = 0.9)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val byExplicit = Dedup.semanticPairs(df, "embedding", "vec_id",
        k = kAuto, iters = 2, minCosine = 0.9)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(byDefault == byExplicit && byDefault.nonEmpty)
  }

  test("kmeansCentroids + assignToCentroids: append assignment == the " +
    "fit's own assignment; closed-form nearest cell and distance") {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      (i.toLong, (0 until 6).map(j => prand(i, j) + (if (i % 2 == 0) 1.0 else -1.0)))
    }
    val df = rows.toDF("vec_id", "embedding")
    // the exported centroids reproduce kmeansAssign's own clustering
    val cents = Similarity.kmeansCentroids(df, "embedding", "vec_id",
      k = 2, iters = 2)
    val fromFit = Similarity.kmeansAssign(df, "embedding", "vec_id", 2, 2)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val appended = Similarity.assignToCentroids(df, "embedding", "vec_id",
      cents).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(appended == fromFit)
    // closed form: hand centroids, hand points
    val hand = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(10.0, 10.0)),
      (3L, Seq(4.0, 4.0))).toDF("id", "v")
    val got = Similarity.assignToCentroids(hand, "v", "id",
        Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(10.0, 10.0)))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2))))
      .toMap
    assert(got(1L) == ((0, 0.0)) && got(2L) == ((1, 0.0)))
    // (4,4): d0 = sqrt(32) = 5.656854, d1 = sqrt(72) -> cell 0
    assert(got(3L)._1 == 0 && math.abs(got(3L)._2 - 5.656854) < 1e-6)
  }

  test("argmin kernel: assignments and distances bit-identical to an " +
    "independent reference (left-to-right sum order, strict-< ties)") {
    import spark.implicits._
    // the compiled argmin kernel vs a test-local reference implementing
    // the documented contract from scratch: every point's winner and
    // rounded distance must agree exactly; far-away dummy centroids
    // appended must change nothing (the old expression/kernel cutover
    // invariance, kept as a regression pin)
    val dim = 16
    val ptRows = (0 until 200).map { i =>
      (i.toLong, (0 until dim).map(j => prand(i, j) * 3.0))
    }
    val pts = ptRows.toDF("id", "v")
    val real = (0 until 12).map(c =>
      c -> (0 until dim).map(j => prand(c + 1000, j) * 3.0))
    val dummies = (12 until 22).map(c =>
      c -> (0 until dim).map(_ => 1e6 + c.toDouble))
    def reference(x: Seq[Double],
        cents: Seq[(Int, Seq[Double])]): (Int, Double) = {
      var best = Double.PositiveInfinity
      var bid = 0
      cents.sortBy(_._1).foreach { case (cid, cv) =>
        var d = 0.0
        var j = 0
        while (j < math.min(x.length, cv.length)) {
          val t = x(j) - cv(j); d += t * t; j += 1
        }
        if (d < best) { best = d; bid = cid }
      }
      (bid, BigDecimal(math.sqrt(best))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expected = ptRows.map { case (id, x) =>
      id -> reference(x, real)
    }.toMap
    val viaKernel = Similarity.assignToCentroids(pts, "v", "id", real)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2))))
      .toMap
    assert(viaKernel == expected,
      "kernel must reproduce the reference contract exactly")
    val withDummies = Similarity.assignToCentroids(pts, "v", "id",
        real ++ dummies)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2))))
      .toMap
    assert(withDummies == viaKernel,
      "far dummy centroids must not perturb any assignment")
    // tie rule on the kernel path: two identical centroids -> lowest id
    val tied = (0 until 22).map(c => c -> Seq(c.toDouble.min(1.0), 0.0))
    // centroids 1..21 all collapse to (1.0, 0.0) except c=0 at (0,0)
    val t = Similarity.assignToCentroids(
        Seq((9L, Seq(1.0, 0.0))).toDF("id", "v"), "v", "id", tied)
      .collect().head
    assert(t.getInt(1) == 1, s"tie must go to the lowest cid: ${t.getInt(1)}")
  }

  test("semanticPairs: a degenerate one-cluster clustering is capped, not quadratic") {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      (i.toLong, (0 until 6).map(j => prand(i, j) + (if (i % 2 == 0) 1.0 else -1.0)))
    }
    val df = rows.toDF("vec_id", "embedding")
    // k = 1 collapses everything into one 40-row cluster: over the cap,
    // the whole cluster is dropped (zero pairs — the quadratic envelope
    // never opens), exactly like the banding paths' hot-bucket rule
    val capped = Dedup.semanticPairs(df, "embedding", "vec_id", k = 1,
      iters = 1, minCosine = -1.0, maxClusterSize = 39)
    assert(capped.count() == 0L)
    // at or under the cap the same clustering yields all C(40,2) pairs
    val full = Dedup.semanticPairs(df, "embedding", "vec_id", k = 1,
      iters = 1, minCosine = -1.0, maxClusterSize = 40)
    assert(full.count() == 40L * 39 / 2)
  }

  // --------------------------------------------------------------- Snapshot

  test("Snapshot.diff: all four statuses, null-content rule, multi-column") {
    import spark.implicits._
    val oldv = Seq(
      (1L, Some("a"), "x"), // unchanged
      (2L, Some("b"), "x"), // changed (second column moves)
      (3L, Some("c"), "x"), // removed
      (5L, None: Option[String], "x")) // null -> '' IS a change ("x" vs "|x")
      .toDF("id", "t1", "t2")
    val newv = Seq(
      (1L, Some("a"), "x"),
      (2L, Some("b"), "y"),
      (4L, Some("d"), "x"), // added
      (5L, Some(""), "x"))
      .toDF("id", "t1", "t2")
    val got = Snapshot.diff(oldv, newv, "id", Seq("t1", "t2"))
      .select("id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "changed"))
  }

  test("Snapshot.applyChanges: the roundtrip law and changeset hygiene") {
    import spark.implicits._
    val oldv = Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e"))
      .toDF("id", "t")
    val newv = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "t")
    val d = Snapshot.diff(oldv, newv, "id", Seq("t"))
    // roundtrip: old + diff + new-rows reconstructs the new snapshot
    val got = Snapshot.applyChanges(oldv, d, newv, "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "B"), (4L, "d")))
    // extra ids in the changeset (not in the diff) are ignored
    val fat = newv.unionByName(Seq((99L, "zz")).toDF("id", "t"))
    val got2 = Snapshot.applyChanges(oldv, d, fat, "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 == got)
    // property on the real corpus: diff→apply == new, row for row
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val mutated = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0, concat(col("text"), lit("!")))
          .otherwise(col("text")).as("text"))
    val rebuilt = Snapshot.applyChanges(docs,
      Snapshot.diff(docs, mutated, "doc_id", Seq("text")), mutated, "doc_id")
    assert(rebuilt.unionByName(mutated).distinct().count() ==
      mutated.count() && rebuilt.count() == mutated.count())
  }

  test("Snapshot.scd2: no-op suppression, validity bounds, asOf lookup") {
    import spark.implicits._
    val log = Seq(
      (1L, 10L, 100L, "a"),
      (1L, 20L, 101L, "a"), // no-op re-observation — suppressed
      (1L, 30L, 102L, "b"),
      (1L, 30L, 103L, "c"), // equal-ts tie: eid orders it after the 'b'
      (1L, 40L, 104L, "b"), // back to 'b' — a NEW version, not a merge
      (2L, 15L, 200L, "z"))
      .toDF("id", "ts", "eid", "st")
    val h = Snapshot.scd2(log, "id", "ts", Seq("st"), tieCols = Seq("eid"))
      .select("id", "st", "effective_from", "effective_to", "version",
        "is_current")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4),
        r.getBoolean(5))).toSet
    assert(h == Set(
      (1L, "a", 10L, 30L, 1, false),
      (1L, "b", 30L, 30L, 2, false), // zero-length: superseded same instant
      (1L, "c", 30L, 40L, 3, false),
      (1L, "b", 40L, -1L, 4, true),
      (2L, "z", 15L, -1L, 1, true)))
    val hist = Snapshot.scd2(log, "id", "ts", Seq("st"), Seq("eid"))
    val at35 = Snapshot.asOf(hist, lit(35L))
      .select("id", "st").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(at35.toSet == Set((1L, "c"), (2L, "z")))
    assert(Snapshot.asOf(hist, lit(12L)).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // real corpus: a point-in-time lookup yields AT MOST one version per
    // entity (the [from, to) bounds partition each entity's timeline)
    val ev2 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val bigHist = Snapshot.scd2(ev2, "user_id", "ts_us", Seq("event_type"),
      Seq("event_id"))
    val maxPerUser = Snapshot.asOf(bigHist, lit(1705363200000000L))
      .groupBy("user_id").count().agg(max("count")).head().getLong(0)
    assert(maxPerUser == 1L)
  }

  test("Validate: one-pass row rules, unique-key surplus, FK orphans") {
    import spark.implicits._
    val df = Seq((1L, Some("a"), 5.0), (2L, Some("b"), -1.0),
      (2L, None: Option[String], 3.0), (3L, Some("a"), 99.0))
      .toDF("id", "name", "v")
    val rr = Validate.rowRules(df, Seq(
      "v_nonneg" -> (col("v") < 0), "name_present" -> col("name").isNull))
    val m = rr.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(m("v_nonneg") == ((1L, 4L, false)))
    assert(m("name_present") == ((1L, 4L, false)))
    val uk = Validate.uniqueKey(df, Seq("id"), "id_unique").collect().head
    assert(uk.getLong(1) == 1L && uk.getLong(2) == 4L && !uk.getBoolean(4))
    val parent = Seq(1L, 3L).toDF("pid")
    val fk = Validate.foreignKey(df, "id", parent, "pid", "fk")
      .collect().head
    assert(fk.getLong(1) == 2L && !fk.getBoolean(4)) // both id=2 rows orphan
    // NULL child keys pass (MATCH SIMPLE)
    val fk2 = Validate.foreignKey(Seq(Some(1L), None: Option[Long])
        .toDF("id"), "id", parent, "pid", "fk2").collect().head
    assert(fk2.getLong(1) == 0L && fk2.getBoolean(4) && fk2.getLong(2) == 2L)
    assert(Validate.report(rr,
      Validate.uniqueKey(df, Seq("id"), "u")).count() == 3)
    // k row rules = ONE scan, not k: the whole suite reads the file once
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Validate.rowRules(docs, Seq(
      "text_present" -> col("text").isNull,
      "lang_known" -> col("lang").isNull,
      "chars_consistent" -> (length(col("text")) =!= col("n_chars"))))
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
  }

  // ---------------------------------------------------------------- Linkage

  test("jaroSelfJoin == brute force within blocks; length cap is lossless") {
    import spark.implicits._
    // names engineered around the 0.9 threshold: near-identical pairs,
    // transposed pairs, and length-ratio pairs the cap must NOT misprune
    val rows = (for {
      b <- Seq("x", "y"); i <- 0 until 12
    } yield (b, i.toLong + (if (b == "y") 100L else 0L),
      Seq("martha", "marhta", "marthas", "dixon", "dicksonx", "ab",
        "abcdefgh", "abcdefghijklmnop", "m", "marth", "martha jones",
        "zzzzz")(i))).toDF("blk", "id", "nm")
    val got = Linkage.jaroSelfJoin(rows, Seq("blk"), "nm", "id",
        minSim = 0.85)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .toSet
    val data = rows.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2)))
    val want = (for {
      (ba, ia, sa) <- data; (bb, ib, sb) <- data
      if ba == bb && ia < ib
      s = BigDecimal(graft.functions.JaroWinklerKernel.simStr(sa, sb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if s >= 0.85
    } yield (ia, ib, s)).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture should produce real matches")
    // salting changes nothing
    val salted = Linkage.jaroSelfJoin(rows, Seq("blk"), "nm", "id",
        minSim = 0.85, saltBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .toSet
    assert(salted == want)
  }

  test("soundex: the NARA textbook codes, transparency and collapse " +
    "rules, non-letters strip, empty goes NULL") {
    import spark.implicits._
    val want = Map(
      "Robert" -> "R163", "Rupert" -> "R163",     // classic equal pair
      "Ashcraft" -> "A261",                       // h-transparency
      "Tymczak" -> "T522",                        // vowel separation kept
      "Pfister" -> "P236",                        // leading same-code run
      "Lloyd" -> "L300",                          // double first letter
      "Honeyman" -> "H555", "Washington" -> "W252",
      "Hurwitz" -> "H632",                        // h/w first letters
      "Wright" -> "W623", "Hron" -> "H650",       // h/w-initial followed
                                                  // by a CODED consonant
                                                  // (the all-positions
                                                  // strip miscoded these)
      "smith" -> "S530", "smyth" -> "S530",
      "O'Brien-2nd" -> "O165")                    // punctuation strips
    val got = want.keys.toSeq.toDF("s")
      .select(col("s"), Linkage.soundex(col("s")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    want.foreach { case (s, c) =>
      assert(got(s) == c, s"$s: got ${got(s)}, want $c") }
    val nulls = Seq("", "123", "!!").toDF("s")
      .select(Linkage.soundex(col("s"))).collect()
    assert(nulls.forall(_.isNullAt(0)), "no letters -> NULL, not a block")
  }

  test("sourceOverlap: closed-form pairwise Jaccard, zero-overlap and " +
    "empty sources materialized with NULL-safe jaccard") {
    import spark.implicits._
    val docs = Seq(
      ("A", "a b c d"),        // shingles: "a b c", "b c d"
      ("A", "a b c"),          // duplicate shingle within source -> distinct
      ("B", "b c d e"),        // "b c d", "c d e" -> inter(A,B) = 1
      ("C", "x y z"),          // disjoint from A and B
      ("D", "xx")              // too short: zero shingles
    ).toDF("source", "text")
    val got = Dedup.sourceOverlap(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(got.size == 6, s"C(4,2) pairs expected: ${got.keys}")
    assert(got(("A", "B")) == ((2L, 2L, 1L, Some(1.0 / 3))
      .copy(_4 = Some(BigDecimal(1.0 / 3).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble))), s"${got(("A", "B"))}")
    assert(got(("A", "C")) == ((2L, 1L, 0L, Some(0.0))))
    assert(got(("A", "D")) == ((2L, 0L, 0L, Some(0.0))))
    // two empty sources: denominator 0 -> NULL, not NaN
    val empty = Seq(("E", "x"), ("F", "y")).toDF("source", "text")
    val ge = Dedup.sourceOverlap(empty, "text", "source").collect().head
    assert(ge.isNullAt(5))
  }

  test("sortedNeighborPairs == global-window brute force (boundary " +
    "pairs included exactly once), thin buckets rejected") {
    import spark.implicits._
    // words across 3 first-letter buckets, each >= window; pairs that
    // straddle bucket edges (e.g. last a-words vs first b-words) are
    // the construction's hard case
    val words = Seq("anna", "annb", "anng", "axel", "azzz",
      "babb", "bacc", "bozo", "buzz",
      "cabb", "cacc", "cozy", "cuzz").sorted
    val df = words.map(w => (w, w, w)).toDF("wid", "w", "s")
    val win = 4
    val minSim = 0.5
    def jw(a: String, b: String): Double = {
      // reuse the engine's own kernel through a 1-row frame — the spec
      // compares CONSTRUCTIONS, not kernels (kernels have their own spec)
      graft.functions.GraftFunctions.register(spark)
      Seq((a, b)).toDF("x", "y")
        .select(org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.call_function("graft_jaro",
            org.apache.spark.sql.functions.col("x"),
            org.apache.spark.sql.functions.col("y")), 4))
        .collect().head.getDouble(0)
    }
    val want = (for {
      i <- words.indices; j <- (i + 1) until math.min(words.length, i + 1 + win)
      s = jw(words(i), words(j)) if s >= minSim
    } yield (words(i), words(j), s)).toSet
    val got = Linkage.sortedNeighborPairs(df, "w", "wid", "s", win, minSim,
        bucketExpr = substring(col("w"), 1, 1))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
    assert(want.exists { case (a, b, _) =>
      a.startsWith("a") && b.startsWith("b") },
      "fixture must contain a cross-bucket pair for the test to bite")
    // a bucket thinner than the window is an explicit contract error
    val thin = intercept[IllegalArgumentException] {
      Linkage.sortedNeighborPairs(df, "w", "wid", "s", window = 6,
        minSim = 0.5, bucketExpr = substring(col("w"), 1, 1))
    }
    assert(thin.getMessage.contains("coarsen"))
  }

  test("editSelfJoin: exact Levenshtein cut, boundary kept, " +
    "over-threshold dropped, length prune lossless, salt invariant") {
    import spark.implicits._
    // block 'a': dist(abcd, abef)=2 kept; dist(abcd, axyzw)=4 dropped
    // (also length-pruned: |4-5|=1 <= 2 so the prune alone keeps it —
    // the kernel must drop it); dist(abcd, abcdxyz)=3 length-pruned
    val rows = Seq("abcd", "abef", "axyzw", "abcdxyz", "zebra")
      .map(w => (w, w, w.substring(0, 1))).toDF("wid", "w", "blk")
    val got = Linkage.editSelfJoin(rows, Seq("blk"), "w", "wid",
        maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3)))
      .toSet
    assert(got == Set(("abcd", "abef", 2L)), s"got $got")
    // zebra is alone in block 'z': no pair; block isolation held above
    // salting changes nothing
    val salted = Linkage.editSelfJoin(rows, Seq("blk"), "w", "wid",
        maxDist = 2, saltBuckets = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3)))
      .toSet
    assert(salted == got)
    // dist 0: exact duplicates under different ids still pair
    val dup = Seq(("1", "same", "s"), ("2", "same", "s"))
      .toDF("wid", "w", "blk")
    val d0 = Linkage.editSelfJoin(dup, Seq("blk"), "w", "wid", 2)
      .collect().map(_.getLong(3)).toSeq
    assert(d0 == Seq(0L))
  }

  test("phoneticSelfJoin: sound-alikes pair inside blocks, verify " +
    "rejects weak matches, first-letter blindness is real") {
    import spark.implicits._
    val df = Seq("smith", "smyth", "mayer", "meier", "catherine",
      "kathryn").map(w => (w, w)).toDF("wid", "w")
    val got = Linkage.phoneticSelfJoin(df, "wid", "w", minSim = 0.78)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("smith", "smyth")),
      s"mayer/meier blocks but fails verify (0.76); " +
      s"catherine/kathryn never blocks (C vs K): $got")
  }

  test("fuzzySelfJoin == unblocked brute force within blocks") {
    import spark.implicits._
    // strings engineered so some pairs sit exactly ON the threshold and
    // some lengths differ by more than it (exercising the prefilter)
    val rows = for {
      b <- Seq("x", "y"); i <- 0 until 15
    } yield (b, (if (b == "x") 0 else 100) + i.toLong,
      "name" + ("ab" * (i % 4)) + (i % 10).toString)
    val df = rows.toDF("blk", "id", "s")
    val got = Linkage.fuzzySelfJoin(df, Seq("blk"), "s", "id", maxDist = 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force: plain cross within block, untresholded levenshtein
    val l = df.select($"blk".as("b1"), $"id".as("ia"), $"s".as("sa"))
    val r = df.select($"blk".as("b2"), $"id".as("ib"), $"s".as("sb"))
    val want = l.join(r, $"b1" === $"b2" && $"ia" < $"ib")
      .select($"ia", $"ib", levenshtein($"sa", $"sb").as("d"))
      .where($"d" <= 2).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(got == want && want.nonEmpty)
    // cross-block pairs never appear
    assert(got.forall { case (a, b, _) => (a < 100) == (b < 100) })
    // the deletion-neighborhood candidate index is a lossless superset:
    // method="delete" returns the IDENTICAL pair set (incl. the indel
    // cases the length prefilter lets through)
    val del = Linkage.fuzzySelfJoin(df, Seq("blk"), "s", "id", maxDist = 2,
        method = "delete")
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(del == want, s"delete-mode mismatch: ${del.diff(want)} / ${want.diff(del)}")
    // maxDist=1 and 0 exercise the smaller neighborhoods
    for (k <- Seq(0, 1)) {
      val dk = Linkage.fuzzySelfJoin(df, Seq("blk"), "s", "id", maxDist = k,
          method = "delete")
        .select("id_a", "id_b", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val wk = want.filter(_._3 <= k)
      assert(dk == wk, s"k=$k: ${dk.diff(wk)} / ${wk.diff(dk)}")
    }
    // k=3 is outside the documented deletion-neighborhood envelope
    val e = intercept[IllegalArgumentException] {
      Linkage.fuzzySelfJoin(df, Seq("blk"), "s", "id", maxDist = 3,
        method = "delete")
    }
    assert(e.getMessage.contains("maxDist <= 2"), e.getMessage)
  }

  test("fuzzySelfJoin: salted result identical for any saltBuckets") {
    import spark.implicits._
    val rows = for {
      b <- Seq("x", "y"); i <- 0 until 15
    } yield (b, (if (b == "x") 0 else 100) + i.toLong,
      "name" + ("ab" * (i % 4)) + (i % 10).toString)
    val df = rows.toDF("blk", "id", "s")
    def run(s: Int) = Linkage.fuzzySelfJoin(df, Seq("blk"), "s", "id",
        maxDist = 2, saltBuckets = s)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val base = run(1)
    assert(base.nonEmpty && run(4) == base && run(32) == base)
  }

  test("fuzzyJoin: match_rank 1 is the closest right, ties by right id") {
    import spark.implicits._
    val left = Seq(("k", 1L, "alpha")).toDF("blk", "lid", "ls")
    val right = Seq(("k", 10L, "alphX"), ("k", 11L, "alphX"), // dist 1 twice
      ("k", 12L, "alpha"), // dist 0: the best
      ("k", 13L, "zzzzzzzz")) // dist > 2 and length-pruned: absent
      .toDF("blk", "rid", "rs")
    val out = Linkage.fuzzyJoin(left, right, Seq("blk"), "ls", "rs",
        "lid", "rid", maxDist = 2)
      .orderBy("match_rank")
      .select("id_r", "dist", "match_rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(out == Seq((12L, 0, 1), (10L, 1, 2), (11L, 1, 3)))
    // deletion-neighborhood candidates return the identical ranked set
    val del = Linkage.fuzzyJoin(left, right, Seq("blk"), "ls", "rs",
        "lid", "rid", maxDist = 2, method = "delete")
      .orderBy("match_rank")
      .select("id_r", "dist", "match_rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(del == out, s"delete-mode mismatch: $del vs $out")
  }

  test("containmentPairs: a fully-quoted short doc scores 1.0 where " +
    "Jaccard stays low; common-shingle-only pairs generate no candidate") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon"
    val long = short + " " + (0 until 40).map(i => s"filler$i").mkString(" ")
    // two docs sharing ONLY a ubiquitous shingle (present in every doc)
    val common = "the same tail"
    val df = Seq(
      (1L, short), (2L, long),
      (3L, s"one unrelated text $common"),
      (4L, s"another unrelated body $common"),
      (5L, s"third unrelated thing $common"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "text", "doc_id",
        minContainment = 0.9, maxShingleDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
    // the same pair's Jaccard is union-dominated and tiny: 3 shared
    // shingles over ~44 union shingles
    val j = Dedup.ngramJaccardPairs(df, "text", "doc_id", minJaccard = 0.0)
      .filter(col("id_a") === 1 && col("id_b") === 2).collect()
    assert(j.isEmpty || j.head.getDouble(2) < 0.15)
    // docs 3/4/5 share only the "same tail"-family shingles, which have
    // df=3 > maxShingleDf=2: guarded out of candidate generation
    assert(!got.exists(p => p._1 >= 3L))
    Dedup.unpersistAll(spark)
  }

  test("goldenRecord: mode-per-field survivorship, NULLs lose, ties by " +
    "value, all-NULL fields stay NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("en"), Some("web")), (1L, Some("en"), None),
      (1L, Some("de"), Some("api")), // en wins 2-1; web/api tie -> api
      (2L, None: Option[String], Some("x")), // all-null lang stays NULL
      (3L, Some("fr"), Some("y")))
      .toDF("cluster", "lang", "source")
    val got = Dedup.goldenRecord(df, "cluster", Seq("lang", "source"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2))))).toMap
    assert(got(1L) == ((Some("en"), Some("api"))))
    assert(got(2L) == ((None, Some("x"))))
    assert(got(3L) == ((Some("fr"), Some("y"))))
  }

  test("imputeMedian: group median fills, empty group falls back to " +
    "global, nothing-to-impute-from stays NULL") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, Some(1.0)), ("a", 2L, Some(3.0)), ("a", 3L, None),
      ("b", 4L, None), // group b has no signal -> global median 3.0
      ("a", 5L, Some(5.0)))
      .toDF("g", "id", "v")
    val got = Profile.imputeMedian(df, "g", "v").collect()
      .map(r => r.getLong(1) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))))
      .toMap
    assert(got(3L) == ((Some(3.0), true))) // group a median
    assert(got(4L) == ((Some(3.0), true))) // global fallback
    assert(got(1L) == ((Some(1.0), false)))
    // a frame with zero signal leaves NULL and flags nothing
    val empty = Seq(("a", 1L, None: Option[Double])).toDF("g", "id", "v")
    val er = Profile.imputeMedian(empty, "g", "v").collect().head
    assert(er.isNullAt(3) && !er.getBoolean(4))
  }

  test("Behavior.adoption: first-day marking, cumulative uniques, " +
    "returning users are active but never re-new") {
    import spark.implicits._
    val ev = Seq(
      ("a", 10L, 1L), ("a", 20L, 1L), // day 1: u10, u20 arrive
      ("a", 10L, 2L), ("a", 10L, 2L), // day 2: u10 returns twice...
      ("a", 30L, 2L), //               ...and u30 arrives
      ("a", 10L, 5L), // day 5: all returning
      ("b", 99L, 7L)) // independent group
      .toDF("g", "u", "day")
    val got = Behavior.adoption(ev, "g", "u", "day").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(("a", 1L)) == ((2L, 2L, 2L, 2L))) // 2 events, 2 users, both new
    assert(got(("a", 2L)) == ((3L, 2L, 1L, 3L))) // 3 events, u30 new, cum 3
    assert(got(("a", 5L)) == ((1L, 1L, 0L, 3L))) // returning only
    assert(got(("b", 7L)) == ((1L, 1L, 1L, 1L)))
  }

  test("Behavior.rfm: deterministic quintiles on a hand fixture, " +
    "5 = best on every axis") {
    import spark.implicits._
    // 10 customers, metrics aligned so customer i is i-th best on all
    // three axes: scores must be ntile(5) over ascending = (i/2)+1
    val rows = (0 until 10).flatMap { i =>
      (0 to i).map(j => (i.toLong, (100L + i), 10.0 * (i + 1) / (i + 1)))
    } // customer i: i+1 orders, last_ts 100+i, total 10*(i+1)... value per order 10.0
    val df = rows.map { case (k, ts, v) => (k, ts, 10.0) }
      .toDF("cust", "ts", "value")
    val got = Behavior.rfm(df, "cust", "ts", "value").collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getLong(6),
        r.getString(7)))).toMap
    (0 until 10).foreach { i =>
      val want = (i / 2 + 1).toLong
      assert(got(i.toLong) == ((want, want, want, s"$want$want$want")),
        s"cust $i: ${got(i.toLong)}")
    }
  }

  // -------------------------------------------------------------------- Geo

  test("withinDistanceJoin == brute-force haversine; cell precondition " +
    "guards the lossy configuration") {
    import spark.implicits._
    // deterministic pseudo-random points over lat [-20, 20), lon
    // [-40, 40) — hash-scattered (a multiplicative lattice keeps even
    // and odd ids ~700 km apart and the join is vacuously empty), dense
    // enough for real pairs at 200 km; cells (2 deg ~ 209 km of
    // longitude at lat 20) straddle pair spans
    def mix(z0: Long): Long = {
      var z = z0 + -7046029254386353131L
      z = (z ^ (z >>> 30)) * -4658895280553007687L
      z = (z ^ (z >>> 27)) * -7723592293110705685L
      (z ^ (z >>> 31)) & Long.MaxValue
    }
    val pts = (0 until 300).map { i =>
      val h = mix(i.toLong)
      val lat = (h % 400) / 10.0 - 20.0
      val lon = ((h >> 16) % 800) / 10.0 - 40.0
      (i.toLong, lat, lon)
    }
    val a = pts.filter(_._1 % 2 == 0).toDF("id", "lat", "lon")
    val b = pts.filter(_._1 % 2 == 1).toDF("id", "lat", "lon")
    val got = Geo.withinDistanceJoin(a, "id", "lat", "lon",
        b.withColumnRenamed("id", "rid"), "rid", "lat", "lon",
        maxKm = 200.0, cellDeg = 2.0, maxAbsLat = 20.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hav(p: (Long, Double, Double), q: (Long, Double, Double)): Double = {
      val dLat = math.toRadians(q._2 - p._2) / 2
      val dLon = math.toRadians(q._3 - p._3) / 2
      val h = math.sin(dLat) * math.sin(dLat) +
        math.cos(math.toRadians(p._2)) * math.cos(math.toRadians(q._2)) *
          math.sin(dLon) * math.sin(dLon)
      2 * 6371.0088 * math.asin(math.sqrt(h))
    }
    val want = (for {
      p <- pts if p._1 % 2 == 0
      q <- pts if q._1 % 2 == 1
      if hav(p, q) <= 200.0
    } yield (p._1, q._1)).toSet
    assert(got == want && want.nonEmpty, s"${got.size} vs ${want.size}")
    // a cell too narrow for the radius at the worst latitude must refuse
    intercept[IllegalArgumentException] {
      Geo.withinDistanceJoin(a, "id", "lat", "lon",
        b.withColumnRenamed("id", "rid"), "rid", "lat", "lon",
        maxKm = 500.0, cellDeg = 2.0, maxAbsLat = 20.0)
    }
  }

  // ----------------------------------------------------------------- Layout

  test("withHilbert == reference xy2d; bijection on the grid; every " +
    "consecutive pair of positions is an adjacent cell") {
    import spark.implicits._
    // textbook xy2d (Wikipedia/Hacker's Delight public form)
    def xy2d(bits: Int, x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val bits = 4
    val n = 1 << bits
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val got = Layout.withHilbert(grid, col("x"), col("y"), bits)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == n * n)
    got.foreach { case ((x, y), d) => assert(d == xy2d(bits, x, y)) }
    // bijection onto [0, n^2)
    assert(got.values.toSet == (0L until n.toLong * n).toSet)
    // the Hilbert property Z-order lacks: |dx| + |dy| = 1 between every
    // pair of consecutive curve positions
    val byD = got.map(_.swap)
    (1L until n.toLong * n).foreach { d =>
      val (x1, y1) = byD(d - 1); val (x2, y2) = byD(d)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump at d=$d: ($x1,$y1)->($x2,$y2)")
    }
  }

  test("lshEval: identical clones are certain hits, disjoint docs are " +
    "no truth, counts close over the planted corpus") {
    import spark.implicits._
    // A and its exact clone: J = 1, p_hit = 1, always a candidate.
    // B/C disjoint vocabularies: no shared shingle, never truth.
    val a = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((1L, a), (2L, a),
      (3L, "one two three four five six"),
      (4L, "seven eight nine ten eleven twelve")).toDF("doc_id", "text")
    val r = Dedup.lshEval(docs, "text", "doc_id", minJaccard = 0.5)
      .collect().head
    assert(r.getLong(0) == 1 && r.getLong(2) == 1,
      s"truth must be exactly the clone pair: $r")
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0,
      s"J=1 pair: recall and predicted recall are certain: $r")
    assert(r.getLong(1) >= 1 && r.getDouble(3) > 0.0)
    // guards
    intercept[IllegalArgumentException] {
      Dedup.lshEval(docs, "text", "doc_id", minJaccard = 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.lshEval(docs, "text", "doc_id", bandSize = 3)
    }
  }

  test("lshTune: reference midpoint integration, rank ordering, the " +
    "degenerate splits lose") {
    val got = Dedup.lshTune(spark, signatureLen = 16, threshold = 0.5,
        gridPoints = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5)))
    assert(got.map(_._1).toSet == Set(1L, 2L, 4L, 8L, 16L))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // reference arithmetic for every split
    got.foreach { case (b, r, fp, fn, tot, _) =>
      val ss = (0 until 100).map(i => (i + 0.5) / 100.0)
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
      val wantFp = r6(ss.filter(_ < 0.5).map(p).sum / 100)
      val wantFn = r6(ss.filter(_ >= 0.5).map(s => 1.0 - p(s)).sum / 100)
      assert(math.abs(fp - wantFp) < 2e-6 && math.abs(fn - wantFn) < 2e-6,
        s"split ($b,$r): got ($fp,$fn) want ($wantFp,$wantFn)")
      assert(tot == r6(fp + fn))
    }
    // rank 1 is the argmin; the all-in-one-band and one-row-per-band
    // degenerate splits never win at an interior threshold
    val byRank = got.sortBy(_._6)
    assert(byRank.head._5 == got.map(_._5).min)
    assert(byRank.head._1 != 1L && byRank.head._2 != 1L)
  }

  test("mmrRerank == plain-Scala greedy reference; diversity actually " +
    "reorders; k > candidates stops early") {
    import spark.implicits._
    // two tight clusters + one outlier: pure relevance would pick the
    // whole first cluster; MMR must interleave
    val vecs = Map(
      1L -> Seq(1.0, 0.0, 0.0), 2L -> Seq(0.99, 0.14, 0.0),
      3L -> Seq(0.98, 0.199, 0.0), 4L -> Seq(0.0, 1.0, 0.0),
      5L -> Seq(0.0, 0.0, 1.0))
    val rels = Map(1L -> 0.95, 2L -> 0.94, 3L -> 0.93, 4L -> 0.5,
      5L -> 0.4)
    val df = vecs.toSeq.map { case (id, v) => (id, v, rels(id)) }
      .toDF("id", "vec", "rel")
    val lam = 0.6
    def r5(x: Double) = BigDecimal(x).setScale(5,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (n > 0) d / n else 0.0
    }
    // reference greedy with the operator's exact rounding discipline
    var sel = List.empty[Long]
    val want = (1 to 4).map { rank =>
      val cands = vecs.keys.filterNot(sel.contains).toSeq
      val scored = cands.map { id =>
        val ms = if (sel.isEmpty) 0.0
          else sel.map(s => r5(cos(vecs(id), vecs(s)))).max
        id -> r6(lam * rels(id) - (1.0 - lam) * ms)
      }
      val (bestId, bestScore) = scored.minBy { case (id, sc) => (-sc, id) }
      sel = sel :+ bestId
      (rank.toLong, bestId, bestScore)
    }
    val got = Similarity.mmrRerank(df, "id", "vec", "rel", k = 4,
        lambda = lam)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .toSeq.sortBy(_._1)
    assert(got == want, s"got $got want $want")
    // the diversity effect is real: cluster-mates 2,3 cannot BOTH sit in
    // the top-3 even though they hold ranks 2-3 by raw relevance
    val top3 = got.take(3).map(_._2).toSet
    assert(!(top3.contains(2L) && top3.contains(3L)))
    // k beyond the candidate count stops early, no phantom rows
    assert(Similarity.mmrRerank(df, "id", "vec", "rel", k = 9,
      lambda = lam).count() == 5)
    graft.ops.CacheScope.unpersistAll(spark)
  }

  test("quantizeInt8: closed-form codes, clamp, zero vector, " +
    "reconstruction error") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(2.54f, -1.27f, 0.0f, 1.27f)),
      (2L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "embedding", "vec_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getString(3), r.getDouble(4)))).toMap
    // scale = 2.54/127 = 0.02, codes = [127, -64, 0, 64] (the .5s round
    // away from zero)
    val (d1, s1, c1, m1) = got(1L)
    assert(d1 == 4 && math.abs(s1 - 0.02) < 1e-8)
    assert(c1 == "127,-64,0,64")
    // reconstruction error small but nonzero (the rounded-up .5 coords)
    assert(m1 > 0 && m1 < 1e-3)
    // the all-zero vector: scale 0, zero codes, zero error
    assert(got(2L) == ((2, 0.0, "0,0", 0.0)))
    // codes never exceed +/-127 on any input
    val wild = Seq((3L, Seq(1e30f, -1e30f, 1f))).toDF("vec_id", "embedding")
    val c3 = Similarity.quantizeInt8(wild, "embedding", "vec_id")
      .collect().head.getString(3)
    assert(c3.split(",").map(_.toLong).forall(c => c >= -127 && c <= 127))
  }

  test("zValue matches a reference interleave; quantize clamps") {
    import spark.implicits._
    def ref(x: Long, y: Long, bits: Int): Long = {
      var z = 0L
      for (i <- 0 until bits) {
        z |= ((x >> i) & 1L) << (2 * i + 1)
        z |= ((y >> i) & 1L) << (2 * i)
      }
      z
    }
    val pts = (0 until 200).map { i =>
      (((i * 2654435761L) >>> 7) % 256, ((i * 40503L) >>> 3) % 256)
    }
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Layout.zValue(Seq($"x", $"y"), 8).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) => assert(z == ref(x, y, 8), s"($x,$y)") }
    // quantize: edges clamp, interior buckets uniformly
    val q = Seq(-5.0, 0.0, 31.9, 63.9, 64.0, 99.0).toDF("v")
      .select(Layout.quantize($"v", 0.0, 64.0, 4).as("c"))
      .collect().map(_.getLong(0)).toSeq
    assert(q == Seq(0L, 0L, 7L, 15L, 15L, 15L))
  }

  test("hardNegatives: nearest cross-label wins, own label and self " +
    "excluded, k bounds per anchor") {
    import spark.implicits._
    // anchor (1,0) label A; same-label twin (1,0); cross-label near
    // (0.9, 0.1-ish) and far (0,1) — the near one must rank 1
    val emb = Seq(
      (1L, "A", Array(1.0f, 0.0f)),
      (2L, "A", Array(1.0f, 0.0f)),   // same label: never a negative
      (3L, "B", Array(0.9f, 0.1f)),   // hard negative
      (4L, "B", Array(0.0f, 1.0f)),   // easy negative
      (5L, "C", Array(0.7f, 0.3f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(emb, "embedding", "vec_id",
        "label", k = 2,
        anchors = Some(emb.where($"vec_id" === 1L)),
        roundDigits = Some(5))
      .collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[Long]("negative"))
      .toMap
    assert(got == Map(1L -> 3L, 2L -> 5L),
      s"hardest cross-label first, same-label excluded: $got")
  }

  test("centroidSimMatrix: orthogonal/identical/opposite label pairs, " +
    "each unordered pair once, zero-norm goes NULL") {
    import spark.implicits._
    val emb = Seq(
      ("ax", Array(1.0f, 0.0f)), ("ax", Array(1.0f, 0.0f)),
      ("ay", Array(0.0f, 1.0f)),
      ("bneg", Array(-1.0f, 0.0f)),
      ("zero", Array(0.0f, 0.0f))).toDF("label", "embedding")
    val got = Similarity.centroidSimMatrix(emb, "embedding", "label")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    assert(got.size == 6, s"4 labels -> 6 unordered pairs: ${got.keys}")
    assert(got(("ax", "ay")) == Some(0.0))
    assert(got(("ax", "bneg")) == Some(-1.0))
    assert(got(("ay", "zero")) == None, "zero-norm centroid must be NULL")
    // member counts ride along
    val counts = Similarity.centroidSimMatrix(emb, "embedding", "label")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(counts("ax") == 2L)
  }

  test("zoneMapReport: quad zones on the 4x4 grid, x<=1 skips exactly " +
    "the two high-x files") {
    import spark.implicits._
    val grid = (for (x <- 0 until 4; y <- 0 until 4)
      yield (x.toDouble, y.toDouble)).toDF("x", "y")
    val got = Layout.zoneMapReport(grid,
        Seq(("x", 0.0, 4.0), ("y", 0.0, 4.0)), bits = 2, numFiles = 4,
        auditCol = "x", predLo = 0.0, predHi = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    // z-quads: files 0/1 are the x in {0,1} half, 2/3 the x in {2,3} half
    assert(got(0L) == ((4L, 0.0, 1.0, false)))
    assert(got(1L) == ((4L, 0.0, 1.0, false)))
    assert(got(2L) == ((4L, 2.0, 3.0, true)))
    assert(got(3L) == ((4L, 2.0, 3.0, true)))
  }

  test("statsDrift: null/distinct/mean deltas move as planted; text " +
    "columns carry NULL means") {
    import spark.implicits._
    val oldV = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L),
      (4L, "fr", 40L)).toDF("id", "lang", "n")
    val newV = Seq((1L, "en", 20L), (2L, null.asInstanceOf[String], 30L),
      (3L, "en", 40L)).toDF("id", "lang", "n")
    val got = Profile.statsDrift(oldV, newV, Seq("id", "lang", "n"))
      .collect().map(r => r.getString(0) -> r).toMap
    val lang = got("lang")
    assert(lang.getAs[Long]("n_old") == 4 && lang.getAs[Long]("n_new") == 3)
    assert(lang.getAs[Double]("null_frac_old") == 0.0)
    assert(lang.getAs[Double]("null_frac_new") == 0.3333)
    assert(lang.getAs[Double]("null_frac_delta") == 0.3333)
    assert(lang.getAs[Long]("distinct_old") == 3
      && lang.getAs[Long]("distinct_new") == 1)
    assert(lang.isNullAt(lang.fieldIndex("mean_old")),
      "text column mean must be NULL, never an error")
    val n = got("n")
    assert(n.getAs[Double]("mean_old") == 25.0
      && n.getAs[Double]("mean_new") == 30.0
      && n.getAs[Double]("mean_delta") == 5.0)
  }

  test("clusterByZ: a y-only filter touches fewer files than an x-sorted layout") {
    import spark.implicits._
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    val dims = Seq(("x", 0.0, 64.0), ("y", 0.0, 64.0))
    Layout.clusterByZ(grid, dims, bits = 6, numFiles = 16)
      .write.mode("overwrite").parquet(s"$base/z")
    grid.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$base/linear")
    def filesTouched(path: String): Long =
      spark.read.parquet(path).where($"y" < 8)
        .select(input_file_name()).distinct().count()
    val zf = filesTouched(s"$base/z")
    val lf = filesTouched(s"$base/linear")
    // x-sorted files each span all y: every file matches. The Morton
    // layout confines y<8 to the quadrants with high y-bits zero.
    assert(lf == 16, s"linear layout should touch all files, got $lf")
    assert(zf <= 8, s"z-order should confine the y-band, touched $zf")
  }

  // --------------------------------------------------------------- trainBpe

  /** Textbook in-memory BPE trainer (Sennrich et al. 2016, Algorithm 1):
    * the independent reference the distributed loop must reproduce. */
  private def referenceBpe(corpus: Seq[String], numMerges: Int): Seq[(String, String)] = {
    var words: Map[List[String], Long] = corpus
      .flatMap(_.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) =>
        (w.toList.map(_.toString), ws.size.toLong) }
    def applyMerge(s: List[String], m: (String, String)): List[String] = {
      val buf = mutable.ListBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == m._1 && s(i + 1) == m._2) {
          buf += m._1 + m._2; i += 2
        } else { buf += s(i); i += 1 }
      }
      buf.toList
    }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.size < numMerges) {
      val pc = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) += c
      if (pc.isEmpty || pc.values.max < 2L) done = true
      else {
        val best = pc.toSeq.minBy { case ((l, r), n) => (-n, l, r) }._1
        merges += best
        words = words.map { case (syms, c) => (applyMerge(syms, best), c) }
      }
    }
    merges.toSeq
  }

  test("trainBpe reproduces the textbook merge sequence") {
    import spark.implicits._
    val corpus = Seq(
      "low low low low low",
      "lower lower newest",
      "newest newest newest newest newest",
      "widest widest widest")
    val got = TextMetrics.trainBpe(corpus.toDF("text"), "text", numMerges = 10)
    val want = referenceBpe(corpus, 10)
    assert(got == want, s"\ngot:  $got\nwant: $want")
  }

  test("trainBpe on the corpus == reference, and merges compress it") {
    import spark.implicits._
    val sample = docs.limit(40).cache()
    try {
      val texts = sample.select("text").as[String].collect().toSeq
      val got = TextMetrics.trainBpe(sample, "text", numMerges = 6)
      assert(got == referenceBpe(texts, 6))
      // the learned table must actually compress its training corpus:
      // strictly fewer BPE tokens than characters-in-words (= 0 merges)
      val counts = sample.select(
        TextMetrics.bpeTokenCount(col("text"), got).as("bpe"),
        TextMetrics.bpeTokenCount(col("text"), Nil).as("chars"))
        .agg(sum("bpe"), sum("chars")).collect()(0)
      assert(counts.getLong(0) < counts.getLong(1))
    } finally sample.unpersist()
  }

  test("trainBpe stops when no pair repeats") {
    import spark.implicits._
    val out = TextMetrics.trainBpe(Seq("ab cd ef").toDF("text"), "text", 50)
    assert(out.isEmpty) // every adjacent pair occurs once: nothing merges
  }

  test("triangleCounts: hand fixture — triangle, pendant, square, dup edges") {
    import spark.implicits._
    // triangle 1-2-3; pendant 4 on 1; square 5-6-7-8 (no diagonals);
    // duplicate/reversed edges and a self-loop must collapse/drop
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (1L, 4L), (4L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L)).toDF("s", "d")
    val got = Graph.triangleCounts(e, "s", "d").orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, Some(0.3333)), (2L, 2L, 1L, Some(1.0)),
      (3L, 2L, 1L, Some(1.0)), (4L, 1L, 0L, None),
      (5L, 2L, 0L, Some(0.0)), (6L, 2L, 0L, Some(0.0)),
      (7L, 2L, 0L, Some(0.0)), (8L, 2L, 0L, Some(0.0))))
  }

  test("triangleCounts == brute force on a pseudo-random graph; no products") {
    import spark.implicits._
    val edges = (0 until 300).map { i =>
      val h = (i * 2654435761L) & 0x7fffffffL
      (h % 60L, (h / 60L) % 60L)
    }
    val simple = edges.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val adj = simple.toSet
    val nodes = simple.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val wantTri = nodes.map { n =>
      n -> (for {
        (a, b) <- simple; c <- nodes
        if c > b && adj.contains((a, c)) && adj.contains((b, c)) &&
          (n == a || n == b || n == c)
      } yield 1).size.toLong
    }.toMap
    val out = Graph.triangleCounts(edges.toDF("s", "d"), "s", "d")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty && wantTri.values.sum > 0,
      "fixture must actually contain triangles")
    got.foreach { case (n, d, t) =>
      assert(t == wantTri(n), s"node $n: got $t triangles, want ${wantTri(n)}")
      assert(d == simple.count { case (a, b) => a == n || b == n }.toLong)
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle counting planned a product:\n$plan")
  }

  test("hits == reference power loop; hubs and authorities separate") {
    import spark.implicits._
    // bipartite-ish fixture: 0,1 are pure hubs pointing at 10,11,12;
    // 20 is an isolated-ish node with one outlink to a weak target
    val edges = Seq((0L, 10L), (0L, 11L), (0L, 12L), (1L, 10L), (1L, 11L),
      (20L, 30L))
    val got = Graph.hits(edges.toDF("s", "d"), "s", "d", iters = 6)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    // reference loop (same 10dp per-round rounding)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var h = nodes.map(_ -> 1.0).toMap
    var a = nodes.map(_ -> 1.0).toMap
    def r10(x: Double) =
      BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (_ <- 0 until 6) {
      val ar = nodes.map(n =>
        n -> edges.filter(_._2 == n).map(e => h(e._1)).sum).toMap
      val an = math.sqrt(ar.values.map(x => x * x).sum)
      a = ar.map { case (n, x) => n -> r10(if (an > 0) x / an else 0.0) }
      val hr = nodes.map(n =>
        n -> edges.filter(_._1 == n).map(e => a(e._2)).sum).toMap
      val hn = math.sqrt(hr.values.map(x => x * x).sum)
      h = hr.map { case (n, x) => n -> r10(if (hn > 0) x / hn else 0.0) }
    }
    nodes.foreach { n =>
      assert(math.abs(got(n)._1 - h(n)) < 1e-6, s"hub($n)")
      assert(math.abs(got(n)._2 - a(n)) < 1e-6, s"authority($n)")
    }
    // structure: 0 out-hubs 1 (3 targets vs 2); 10,11 out-rank 12; pure
    // hubs have zero authority and pure authorities zero hub score
    assert(got(0L)._1 > got(1L)._1 && got(10L)._2 > got(12L)._2)
    assert(got(10L)._1 == 0.0 && got(0L)._2 == 0.0)
  }

  test("kCore: ring survives, star and chain die, == brute-force peel") {
    import spark.implicits._
    // ring 0..5 (deg 2 each) + star center 10 with leaves 11..15 +
    // chain 20-21-22; the 2-core is exactly the ring: the star dies
    // WITH its center (leaves peel -> center degree drops to 0), the
    // chain unravels end-in — the cascade raw degree filtering misses
    val ring = (0 until 6).map(i => (i.toLong, ((i + 1) % 6).toLong))
    val star = (11 to 15).map(l => (10L, l.toLong))
    val chain = Seq((20L, 21L), (21L, 22L))
    val got = Graph.kCore((ring ++ star ++ chain).toDF("s", "d"),
        "s", "d", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 until 6).map(i => i.toLong -> 2L).toMap)
    // brute-force peel equality on a pseudo-random graph
    val edges = (0 until 400).map { i =>
      val h = (i * 2654435761L) & 0x7fffffffL
      (h % 50L, (h / 50L) % 50L)
    }
    val simple = edges.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    def peel(k: Int): Map[Long, Int] = {
      var adj = simple.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).toSet }
      var changed = true
      while (changed) {
        changed = false
        adj.find(_._2.size < k).foreach { case (n, _) =>
          adj = (adj - n).map { case (m, vs) => m -> (vs - n) }
          changed = true
        }
      }
      adj.map { case (n, vs) => n -> vs.size }
    }
    for (k <- Seq(2, 4, 6)) {
      val want = peel(k).map { case (n, d) => n -> d.toLong }
      val core = Graph.kCore(edges.toDF("s", "d"), "s", "d", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(core == want, s"k=$k diverged from brute-force peel")
    }
  }

  test("assortativity: star is perfectly disassortative, regular ring " +
    "NULL, == reference Pearson on a pseudo-random graph") {
    import spark.implicits._
    // star: every edge joins the deg-4 hub to a deg-1 leaf -> r = -1
    val star = (1L to 4L).map(l => (0L, l)).toDF("s", "d")
    val rs = Graph.assortativity(star, "s", "d").collect().head
    assert(rs.getLong(0) == 5 && rs.getLong(1) == 4)
    assert(rs.getDouble(2) == -1.0)
    // ring: every degree 2 -> zero variance -> NULL, never an error
    val ring = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("s", "d")
    assert(Graph.assortativity(ring, "s", "d").collect().head.isNullAt(2))
    // reference Pearson over doubled edge ends on a pseudo-random graph
    val redges = (0 until 200).map { i =>
      val h = (i * 2654435761L) & 0x7fffffffL
      (h % 25L, (h / 25L) % 25L)
    }
    val simple = redges.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val deg = simple.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (n, xs) => n -> xs.size }
    val ends = simple.flatMap { case (a, b) =>
      Seq((deg(a).toDouble, deg(b).toDouble),
        (deg(b).toDouble, deg(a).toDouble)) }
    val n = ends.size
    val mx = ends.map(_._1).sum / n; val my = ends.map(_._2).sum / n
    val cov = ends.map(p => (p._1 - mx) * (p._2 - my)).sum / (n - 1)
    val sx = math.sqrt(ends.map(p => math.pow(p._1 - mx, 2)).sum / (n - 1))
    val sy = math.sqrt(ends.map(p => math.pow(p._2 - my, 2)).sum / (n - 1))
    val want = cov / (sx * sy)
    val got = Graph.assortativity(redges.toDF("s", "d"), "s", "d")
      .collect().head.getDouble(2)
    assert(math.abs(got - want) < 1e-3, s"got $got want $want")
  }

  test("linkPrediction: wedge/square closed forms, existing edges " +
    "excluded, == brute force on a pseudo-random graph") {
    import spark.implicits._
    // path 1-2-3: (1,3) cn=1, jac 1/(1+1-1)=1, aa = 1/ln 2
    // square 4-5-6-7: (4,6) and (5,7) each cn=2, jac 1, aa = 2/ln 2
    // triangle 8-9-10: every pair adjacent -> nothing scored
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 7L),
      (7L, 4L), (8L, 9L), (9L, 10L), (8L, 10L)).toDF("s", "d")
    val got = Graph.linkPrediction(edges, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val aa1 = BigDecimal(1.0 / math.log(2))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val aa2 = BigDecimal(2.0 / math.log(2))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(
      (1L, 3L) -> ((1L, 1.0, aa1)),
      (4L, 6L) -> ((2L, 1.0, aa2)),
      (5L, 7L) -> ((2L, 1.0, aa2))), s"got $got")
    // brute force on a pseudo-random graph
    val redges = (0 until 250).map { i =>
      val h = (i * 2654435761L) & 0x7fffffffL
      (h % 30L, (h / 30L) % 30L)
    }
    val simple = redges.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val adj = simple.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).toSet }
    val want = (for {
      a <- adj.keys; b <- adj.keys if a < b
      if !adj(a).contains(b)
      common = adj(a) & adj(b)
      if common.nonEmpty
    } yield (a, b) -> common.size.toLong).toMap
    val got2 = Graph.linkPrediction(redges.toDF("s", "d"), "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got2 == want, "diverged from brute-force common neighbors")
  }

  test("linkPrediction sampled mode: small-degree centers exact, " +
    "hub wedge mass estimated unbiased within tolerance, cost shrinks") {
    import spark.implicits._
    // hub 0 over 400 leaves (deg 400 > s = 50) + a 10-clique-free
    // community block: a 12-node cycle with chords whose centers all
    // have deg <= 4 — those wedges must come out EXACTLY in sampled
    // mode (weight 1, no thinning)
    val hub = (1L to 400L).map(v => (0L, v))
    val ring = (0 until 12).map(i =>
      (1000L + i, 1000L + (i + 1) % 12))
    val chords = (0 until 12 by 3).map(i =>
      (1000L + i, 1000L + (i + 6) % 12))
    val edges = (hub ++ ring ++ chords).toDF("s", "d")
    val exact = Graph.linkPrediction(edges, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2).toDouble, r.getDouble(4)))).toMap
    val sampled = Graph.linkPrediction(edges, "s", "d",
        sampleDegree = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(4)))).toMap
    // ring/chord pairs (both ids >= 1000): centers have deg <= 4 — the
    // sampled scores are bit-identical to exact
    val smallExact = exact.filter(_._1._1 >= 1000L)
    val smallSampled = sampled.filter(_._1._1 >= 1000L)
    assert(smallExact.keySet == smallSampled.keySet,
      "sampling must not touch small-degree centers' pair set")
    smallExact.foreach { case (k, (cn, aa)) =>
      assert(smallSampled(k)._1 == cn && smallSampled(k)._2 == aa,
        s"small-center pair $k changed under sampling")
    }
    // hub wedge mass: Σ cn over leaf pairs = C(400,2); the ratio
    // estimator (weight d(d-1)/(k(k-1)) at the REALIZED survivor count
    // k) reproduces each center's total mass exactly whenever k >= 2 —
    // only the 4dp rounding of the per-pair weights leaves slack — and
    // the surviving CANDIDATE count must be ~s²/2, the point of the
    // mode
    val exactHubMass = exact.collect {
      case ((a, b), (cn, _)) if b <= 400L => cn }.sum
    assert(exactHubMass == 400.0 * 399 / 2)
    val hubPairs = sampled.collect {
      case ((a, b), (cn, _)) if b <= 400L => cn }
    val estMass = hubPairs.sum
    assert(math.abs(estMass - exactHubMass) / exactHubMass < 1e-4,
      s"hub mass estimate $estMass vs $exactHubMass")
    assert(hubPairs.size < 3000,
      s"sampled candidate count must be ~s²/2, got ${hubPairs.size}")
  }

  test("linkPrediction sampled mode: jaccard stays in [0, 1] on the " +
    "hub fixture (numerator clamped to min(deg_a, deg_b))") {
    import spark.implicits._
    // the over-degree regime: a 400-leaf hub at s = 50 gives each
    // wedge weight ~ deg²/k² ≈ 64, so the raw common_neighbors
    // estimate for leaf pairs (~64) dwarfs deg_a + deg_b = 2 and the
    // unclamped jaccard read ≈ −1.03 for EVERY leaf pair; the clamp
    // must keep the whole column inside the score's contract
    val hub = (1L to 400L).map(v => (0L, v))
    val ring = (0 until 12).map(i => (1000L + i, 1000L + (i + 1) % 12))
    val edges = (hub ++ ring).toDF("s", "d")
    val rows = Graph.linkPrediction(edges, "s", "d", sampleDegree = 50)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(rows.nonEmpty, "fixture must score pairs")
    rows.foreach(j => assert(j >= 0.0 && j <= 1.0,
      s"sampled jaccard $j outside [0, 1]"))
    // leaf pairs specifically: cn estimate ≈ 64 > min(deg)=1, so the
    // clamp binds and jaccard collapses to 1/(1+1-1) = 1.0 — the
    // exact-mode value for a shared-single-neighbor pair
    val leafJ = Graph.linkPrediction(edges, "s", "d", sampleDegree = 50)
      .filter(col("id_a") >= 1L && col("id_b") <= 400L)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(leafJ.nonEmpty && leafJ.forall(_ == 1.0),
      s"clamped leaf-pair jaccard must be exactly 1.0")
  }

  test("linkPrediction AUTO route (default): hub-free graphs keep the " +
    "exact LONG plan; a hub past maxWedgeDegree switches to sampling " +
    "instead of silently dropping the center") {
    import spark.implicits._
    // hub-free: default call == explicit exact call, LONG cn schema
    val smallE = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 7L),
      (7L, 4L)).toDF("s", "d")
    val auto = Graph.linkPrediction(smallE, "s", "d")
    assert(auto.schema("common_neighbors").dataType ==
      org.apache.spark.sql.types.LongType,
      "auto on a hub-free graph must keep exact LONG counts")
    val exact = Graph.linkPrediction(smallE, "s", "d", sampleDegree = 0)
    assert(auto.collect().toSet == exact.collect().toSet)
    // a 400-degree hub with maxWedgeDegree = 100: the hard gate would
    // DROP the hub (exact mode scores zero hub pairs); auto must keep
    // it via the s = autoSampleDegree estimator with bounded candidates
    val hub = (1L to 400L).map(v => (0L, v))
    val edges = (hub ++ Seq((500L, 501L), (501L, 502L))).toDF("s", "d")
    val dropped = Graph.linkPrediction(edges, "s", "d",
      maxWedgeDegree = 100, sampleDegree = 0)
      .filter(col("id_b") <= 400L).count()
    assert(dropped == 0L, "exact mode drops the gated hub (by design)")
    val routed = Graph.linkPrediction(edges, "s", "d",
      maxWedgeDegree = 100)
    assert(routed.schema("common_neighbors").dataType ==
      org.apache.spark.sql.types.DoubleType,
      "auto past the gate must switch to the estimator (DOUBLE)")
    val hubPairs = routed.filter(col("id_b") <= 400L)
      .select("common_neighbors").collect().map(_.getDouble(0))
    assert(hubPairs.nonEmpty, "auto must SCORE the hub, not drop it")
    val s = Graph.autoSampleDegree
    assert(hubPairs.length <= s * s,
      s"auto-sampled hub candidates must stay <= s² = ${s * s}, " +
        s"got ${hubPairs.length}")
    // total hub wedge mass is reproduced exactly by the ratio weights
    val mass = hubPairs.sum
    val want = 400.0 * 399 / 2
    assert(math.abs(mass - want) / want < 1e-4,
      s"routed hub mass $mass vs $want")
  }

  test("labelProp: two planted cliques converge to their min ids, " +
    "== reference sync loop on a pseudo-random graph") {
    import spark.implicits._
    // two 4-cliques bridged by one edge: each community converges to
    // its smallest member's id; the bridge does not merge them
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((3L, 10L))).toDF("s", "d")
    val got = Graph.labelProp(edges, "s", "d", iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(got(_) == 0L), s"left clique: $got")
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L),
      s"right clique: $got")
    // reference synchronous loop with the same (count desc, label asc)
    // tie rule on a pseudo-random graph — 3 rounds, exactly
    val redges = (0 until 300).map { i =>
      val h = (i * 2654435761L) & 0x7fffffffL
      (h % 40L, (h / 40L) % 40L)
    }
    val simple = redges.filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.distinct
    val adj = simple.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2) }
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 0 until 3) {
      lbl = adj.map { case (n, vs) =>
        val counts = vs.map(lbl).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val got2 = Graph.labelProp(redges.toDF("s", "d"), "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == lbl, "diverged from the reference synchronous loop")
  }

  test("fellegiSunter: hand-computed m/u with add-half smoothing, " +
    "NULL agreement counts as disagreement") {
    import spark.implicits._
    // 4 matches: field agrees on 3 of them; 6 non-matches: agrees on 1
    // m = (3 + 0.5)/(4 + 1) = 0.7;  u = (1 + 0.5)/(6 + 1) = 3/14
    // w_agree = log2(0.7 / (3/14)) = log2(49/15) = 1.7078
    // w_disagree = log2(0.3 / (11/14)) = log2(21/55) = -1.3890
    val pairs = Seq(
      (true, Some(true)), (true, Some(true)), (true, Some(true)),
      (true, Some(false)),
      (false, Some(true)), (false, Some(false)), (false, Some(false)),
      (false, Some(false)), (false, None), (false, Some(false))
    ).toDF("is_match", "f")
    val r = Linkage.fellegiSunter(pairs, "is_match", Seq("f"))
      .collect().head
    assert(r.getString(0) == "f")
    assert(r.getDouble(1) == 0.7, s"m: $r")
    assert(math.abs(r.getDouble(2) - 0.214286) < 1e-9, s"u: $r")
    assert(r.getDouble(3) == 1.7078, s"w_agree: $r")
    assert(r.getDouble(4) == -1.389, s"w_disagree: $r")
    // NULL labels are dropped entirely: adding one must change nothing
    val withNull = pairs.union(
      Seq((Option.empty[Boolean], Some(true))).toDF("is_match", "f"))
    val r2 = Linkage.fellegiSunter(withNull, "is_match", Seq("f"))
      .collect().head
    assert(r2 == r, "NULL-labeled pairs must not contribute")
  }

  test("blockingQuality: RR/PC closed forms without pair enumeration, " +
    "NULL block keys pair with nothing") {
    import spark.implicits._
    // 6 records, blocks {a: 3, b: 2, null: 1}
    // keyed n = 5, total = 10, candidates = 3 + 1 = 4, RR = 0.6
    val base = Seq(
      (1L, Some("a")), (2L, Some("a")), (3L, Some("a")),
      (4L, Some("b")), (5L, Some("b")), (6L, Option.empty[String])
    ).toDF("id", "blk")
    // truth: (1,2) co-blocked, (3,4) split, (5,6) has a NULL side
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("ia", "ib")
    val r = Linkage.blockingQuality(base, "id", Seq("blk"),
      truth, "ia", "ib").collect().head
    assert(r.getLong(0) == 5L, s"n_records counts only keyed rows: $r")
    assert(r.getLong(1) == 10L && r.getLong(2) == 4L, s"pairs: $r")
    assert(r.getDouble(3) == 0.6, s"rr: $r")
    assert(r.getLong(4) == 3L && r.getLong(5) == 1L, s"truth: $r")
    assert(math.abs(r.getDouble(6) - 0.333333) < 1e-9, s"pc: $r")
  }

  test("distinctN: per-group gram totals, distinct ratios, short-text " +
    "level drop") {
    import spark.implicits._
    val df = Seq(
      ("g1", "a b a b"), ("g1", "a b"),
      ("g2", "x")
    ).toDF("grp", "text")
    val r = TextEval.distinctN(df, "grp", "text", maxN = 2)
      .orderBy("grp", "n").collect()
    // g1 unigrams: 6 total {a,b} distinct 2 -> 0.3333
    // g1 bigrams: "a b","b a","a b" + "a b" = 5 total? no:
    //   doc1 "a b a b" -> 3 bigrams (a b, b a, a b); doc2 "a b" -> 1
    //   total 4, distinct {a b, b a} = 2 -> 0.5
    // g2: 1 unigram, no bigram row
    assert(r.length == 3, r.mkString("; "))
    assert(r(0).getString(0) == "g1" && r(0).getInt(1) == 1 &&
      r(0).getLong(2) == 6L && r(0).getLong(3) == 2L &&
      r(0).getDouble(4) == 0.3333, s"${r(0)}")
    assert(r(1).getInt(1) == 2 && r(1).getLong(2) == 4L &&
      r(1).getLong(3) == 2L && r(1).getDouble(4) == 0.5, s"${r(1)}")
    assert(r(2).getString(0) == "g2" && r(2).getInt(1) == 1 &&
      r(2).getLong(2) == 1L, s"${r(2)}")
  }

  test("fellegiSunterEm: recovers a planted well-separated mixture, " +
    "deterministic, agrees with the supervised estimator") {
    import spark.implicits._
    // planted deck: 25 duplicate pairs agree on both fields except a
    // deterministic minority; 75 non-duplicates mostly disagree
    val rows = (0 until 100).map { i =>
      val isDup = i % 4 == 0
      val fA = if (isDup) i != 0 else i == 1   // dup: 24/25 agree
      val fB = if (isDup) i != 4 else i == 2   // non: 1/75 agree
      (isDup, fA, fB)
    }
    val df = rows.toDF("is_match", "fa", "fb")
    val em = Linkage.fellegiSunterEm(df.select("fa", "fb"),
      Seq("fa", "fb"), iters = 25).collect()
    assert(em.length == 2)
    val p = em.head.getDouble(5)
    assert(p > 0.1 && p < 0.45, s"prevalence off: $p")
    em.foreach { r =>
      assert(r.getDouble(1) > 0.6, s"m must be high: $r")
      assert(r.getDouble(2) < 0.35, s"u must be low: $r")
      assert(r.getDouble(3) > 0 && r.getDouble(4) < 0, s"weights: $r")
    }
    // deterministic: a second run is bit-identical
    val em2 = Linkage.fellegiSunterEm(df.select("fa", "fb"),
      Seq("fa", "fb"), iters = 25).collect()
    assert(em.toSeq == em2.toSeq, "EM must be deterministic")
    // the supervised estimator on the TRUE labels lands in the same
    // place (well-separated mixture): m/u within 0.15
    val sup = Linkage.fellegiSunter(df, "is_match", Seq("fa", "fb"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1),
        r.getDouble(2)))).toMap
    em.foreach { r =>
      val (ms, us) = sup(r.getString(0))
      assert(math.abs(r.getDouble(1) - ms) < 0.15,
        s"EM m far from supervised: $r vs $ms")
      assert(math.abs(r.getDouble(2) - us) < 0.15,
        s"EM u far from supervised: $r vs $us")
    }
  }

  test("homoglyphDedup: confusables fold, invisibles delete, fullwidth " +
    "normalizes, first occurrence keeps") {
    import spark.implicits._
    val docs = Seq(
      (1L, "free cash prizes"),                  // clean original
      (2L, "free cаsh prizes"),             // Cyrillic а
      (3L, "fr​ee cash prize‍s"),      // zero-width injections
      (4L, "FREE CASH PRIZES"),                  // case only
      (5L, "ｆｒｅｅ cash prizes"), // fullwidth "free"
      (6L, "something else entirely"),
      (7L, "free cash prizes!"))                 // NOT a dup (real char)
    .toDF("doc_id", "text")
    val got = Dedup.homoglyphDedup(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2))))
      .toMap
    // 1-5 share one skeleton; the lowest id keeps
    val sk = got(1L)._1
    assert((2L to 5L).forall(i => got(i)._1 == sk), s"$got")
    assert(got(1L)._2 && (2L to 5L).forall(i => !got(i)._2), s"$got")
    // distinct texts keep their own skeletons
    assert(got(6L)._1 != sk && got(6L)._2)
    assert(got(7L)._1 != sk && got(7L)._2)
    // FROM/TO tables stay aligned (surplus FROM = the deleted tail)
    assert(TextMetrics.confusablesFrom.length ==
      TextMetrics.confusablesTo.length + 5,
      "exactly the five invisibles delete")
  }

  test("homoglyphDedup: keep-semantics hold on a million-copy skeleton " +
    "(the hot-key workload the groupBy election exists for)") {
    import spark.implicits._
    // one spam skeleton rendered through three homoglyph variants,
    // replicated a million times — exactly the shape a windowed election
    // would funnel into one sorted task — plus a handful of singletons
    val variants = array(lit("free cash prizes"),
      lit("free cаsh prizes"),           // Cyrillic а
      lit("FREE CASH PRIZ​ES"))     // case + zero-width space
    val hot = spark.range(0L, 1000000L)
      .select(col("id").as("doc_id"),
        element_at(variants, (col("id") % 3 + 1).cast("int")).as("text"))
    val singles = Seq((2000000L, "unique doc one"),
      (2000001L, "unique doc two")).toDF("doc_id", "text")
    val got = Dedup.homoglyphDedup(hot.unionByName(singles), "text",
      "doc_id")
    val hotStats = got.filter(col("doc_id") < 1000000L)
      .agg(countDistinct("skeleton_hash").as("nsk"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("nkeep"),
        min(when(col("keep"), col("doc_id"))).as("kept_id"))
      .collect()(0)
    assert(hotStats.getLong(0) == 1L, s"variants split skeletons: $hotStats")
    assert(hotStats.getLong(1) == 1L, s"more than one survivor: $hotStats")
    assert(hotStats.getLong(2) == 0L, s"survivor is not min-id: $hotStats")
    val singleKeeps = got.filter(col("doc_id") >= 2000000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(singleKeeps == Map(2000000L -> true, 2000001L -> true),
      s"$singleKeeps")
  }

  test("selectByBudget: greedy by (score desc, id), boundary tie group " +
    "splits by id, zero budget selects nothing, big budget everything") {
    import spark.implicits._
    // scores: 2.0 (ids 1,2), 1.0 (ids 3,4,5), 0.5 (id 6); cost 10 each
    val d = Seq((1L, 2.0, 10.0), (2L, 2.0, 10.0), (3L, 1.0, 10.0),
      (4L, 1.0, 10.0), (5L, 1.0, 10.0), (6L, 0.5, 10.0))
      .toDF("id", "score", "cost")
    def sel(b: Double): Map[Long, (Double, Boolean)] =
      Sampling.selectByBudget(d, "id", "score", "cost", b)
        .collect().map(r => r.getLong(0) ->
          ((r.getDouble(3), r.getBoolean(4)))).toMap
    // budget 40: both score-2 docs + the first TWO of the score-1 tie
    // group (id order) — the boundary split the construction exists for
    val g40 = sel(40.0)
    assert(g40.view.filterKeys(Seq(1L, 2L, 3L, 4L).contains)
      .values.forall(_._2), s"$g40")
    assert(!g40(5L)._2 && !g40(6L)._2, s"$g40")
    // cum_cost is the exact greedy prefix: id 4 sits at 40
    assert(g40(4L)._1 == 40.0 && g40(5L)._1 == 50.0, s"$g40")
    assert(sel(0.0).values.forall(!_._2))
    assert(sel(1e9).values.forall(_._2))
  }

  test("selectByBudget: fuzz — the range-partitioned prefix scan equals " +
    "the naive global cumsum on random quantized AND continuous decks") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val deckGen = for {
      n <- Gen.choose(1, 120)
      quantized <- Gen.oneOf(true, false)
      seed <- Gen.choose(0L, 1000000L)
    } yield (n, quantized, seed)
    val prop = Prop.forAll(deckGen) { case (n, quantized, seed) =>
      val rng = new scala.util.Random(seed)
      // quantized decks are the FineWeb-Edu regime: 0-2 int scores, so
      // one score value can own most of the corpus — the shape the old
      // per-score tie window funneled into a single task
      val rows = rng.shuffle((1L to n.toLong).toList).map { id =>
        val s = if (quantized) rng.nextInt(3).toDouble else rng.nextDouble()
        (id, s, (1 + rng.nextInt(9)).toDouble)
      }
      val budget = rng.nextInt(1 + 5 * n).toDouble
      val got = Sampling.selectByBudget(
          rows.toDF("id", "score", "cost").repartition(5),
          "id", "score", "cost", budget)
        .collect()
        .map(r => r.getLong(0) -> ((r.getDouble(3), r.getBoolean(4))))
        .toMap
      // driver-side naive greedy walk (integral costs: sums are exact
      // in any order, so equality is exact, not approximate)
      var cum = 0.0
      val want = rows.sortBy { case (id, s, _) => (-s, id) }
        .map { case (id, _, c) => cum += c; id -> ((cum, cum <= budget)) }
        .toMap
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("selectByBudget: null scores drop; rows with null cost keep their " +
    "position but add no cost") {
    import spark.implicits._
    val d = Seq((1L, Some(2.0), Some(10.0)), (2L, None, Some(10.0)),
      (3L, Some(1.0), None), (4L, Some(1.0), Some(10.0)))
      .toDF("id", "score", "cost")
    val got = Sampling.selectByBudget(d, "id", "score", "cost", 15.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // id 2 (null score) gone; id 3's null cost adds nothing, id 4 lands
    // at 10 + 10 = 20
    assert(got.keySet == Set(1L, 3L, 4L), s"$got")
    assert(got(1L) == 10.0 && got(3L) == 10.0 && got(4L) == 20.0, s"$got")
  }

  test("homoglyphIncrementalBloom: batch homoglyph variants of corpus " +
    "docs surface, fresh docs pass, raw-text variants would NOT match") {
    import spark.implicits._
    val corpus = Seq((1L, "win big money now"), (2L, "read the docs"))
      .toDF("doc_id", "text")
    val index = Dedup.homoglyphDedup(corpus, "text", "doc_id")
      .select("skeleton_hash").distinct()
    val batch = Seq(
      (10L, "win big mоney nоw"),      // Cyrillic о twice: corpus dup
      (11L, "Read​ The Docs"),    // ZWSP + case: corpus dup
      (12L, "a genuinely new doc"))
      .toDF("doc_id", "text")
    val got = Dedup.homoglyphIncrementalBloom(batch, "text", "doc_id",
        index, expectedItems = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(10L -> 1L, 11L -> 1L, 12L -> 0L), s"$got")
    // the raw-text incremental (no skeleton) would MISS both variants —
    // the channel this operator exists for
    val raw = Dedup.exactIncrementalBloom(batch, "text", "doc_id",
        corpus.select(md5(col("text")).as("content_hash")),
        expectedItems = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(raw.values.forall(_ == 0L), s"$raw")
  }

  test("registrableDomain: eTLD+1 under two-label suffixes, plain TLDs, " +
    "single labels, case folding") {
    import spark.implicits._
    val got = Seq(
      "shop3.retail.co.uk", "retail.co.uk", "co.uk",
      "a.b.c.example.com", "example.com", "localhost",
      "WWW.Example.COM", "news.BBC.CO.UK", "x.com.au", "com.au")
      .toDF("h")
      .select(TextMetrics.registrableDomain(col("h")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "retail.co.uk",  // suffix hit: one label past co.uk
      "retail.co.uk",  // already registrable
      "co.uk",         // a bare suffix has no registrable part: pass-through
      "example.com",   // deep subdomain under a plain TLD
      "example.com",
      "localhost",     // single label passes through
      "example.com",   // case folds
      "bbc.co.uk",
      "x.com.au",
      "com.au"), s"$got")
  }

  test("registrableDomain: widened PSL registries key correctly — one " +
    "case per new ccTLD family") {
    import spark.implicits._
    // the high-crawl registries a 44-suffix subset mis-keyed: each host
    // must key as ONE label past its registry suffix, never as the
    // suffix itself (which would fuse every site in the registry)
    val cases = Seq(
      ("news.punch.com.ng", "punch.com.ng"),       // Nigeria
      ("m.detik.co.id", "detik.co.id"),            // Indonesia
      ("www.thestar.com.my", "thestar.com.my"),    // Malaysia
      ("vnexpress.com.vn", "vnexpress.com.vn"),    // Vietnam
      ("shop.central.co.th", "central.co.th"),     // Thailand
      ("www.ahram.com.eg", "ahram.com.eg"),        // Egypt
      ("mci.gov.sa", "mci.gov.sa"),                // Saudi Arabia
      ("www.nation.co.ke", "nation.co.ke"),        // Kenya
      ("cdn.dawn.com.pk", "dawn.com.pk"),          // Pakistan
      ("b.prothomalo.com.bd", "prothomalo.com.bd"), // Bangladesh
      ("w.mwananchi.co.tz", "mwananchi.co.tz"),    // Tanzania
      ("x.abc.com.py", "abc.com.py"),              // Paraguay
      ("impots.gouv.fr", "impots.gouv.fr"),        // France gouv
      ("sub.elpais.com.uy", "elpais.com.uy"),      // Uruguay
      ("a.b.canada.gc.ca", "canada.gc.ca"),        // Canada federal
      ("news.ltn.com.tw", "ltn.com.tw"),           // Taiwan
      ("el.chosun.co.kr", "chosun.co.kr"),         // Korea (pre-existing)
      ("r.uol.com.br", "uol.com.br"))              // Brazil (pre-existing)
    val got = cases.map(_._1).toDF("h")
      .select(TextMetrics.registrableDomain(col("h")))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), s"$got")
    // the table itself stays well-formed: no duplicates, all two-label,
    // all lowercase (isin is a set-membership test — a duplicate or a
    // cased entry would silently never match)
    val t = TextMetrics.twoLabelSuffixes
    assert(t.distinct.size == t.size,
      s"duplicate suffixes: ${t.diff(t.distinct).distinct}")
    assert(t.forall(s => s.count(_ == '.') == 1 && s == s.toLowerCase),
      s"malformed entries: ${t.filterNot(s => s.count(_ == '.') == 1)}")
  }

  test("fellegiSunterEm: degenerate decks stay finite (EM safeguard)") {
    import spark.implicits._
    // perfectly separated: every pair agrees on everything — one class
    // absorbs all mass, the other's denominator goes to ~0; the raw
    // M-step would emit NaN/Inf weights
    def finite(df: org.apache.spark.sql.DataFrame): Unit =
      Linkage.fellegiSunterEm(df, Seq("fa", "fb"), iters = 50)
        .collect().foreach { r =>
          (1 to 5).foreach { i =>
            val x = r.getDouble(i)
            assert(!x.isNaN && !x.isInfinite, s"non-finite at $i: $r")
          }
          // outputs are 6dp-rounded, so the (eps, 1-eps) clamp can
          // legitimately print as 0.0/1.0 — range check inclusive
          assert(r.getDouble(1) >= 0 && r.getDouble(1) <= 1, s"m range: $r")
          assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1, s"u range: $r")
        }
    finite(Seq.fill(40)((true, true)).toDF("fa", "fb"))
    finite(Seq.fill(40)((false, false)).toDF("fa", "fb"))
    // saturating two-cluster deck: huge separation drives g to 1.0/0.0
    finite(((0 until 1000).map(_ => (true, true)) ++
      (0 until 1000).map(_ => (false, false))).toDF("fa", "fb"))
  }

  test("silhouetteSimplified: hand-computed symmetric clusters, the " +
    "coincident-centroid zero rule, misassignment goes negative, " +
    "guards") {
    import spark.implicits._
    // cluster 0: (0,0),(0,2) -> centroid (0,1); cluster 1: (10,0),(10,2)
    // -> centroid (10,1). Every point: a = 1, b = round(sqrt(101), 6)
    // = 10.049876 -> s = round((b-a)/b, 6) = 0.900496, mean 4dp 0.9005
    val df = Seq(
      (0L, Seq(0.0, 0.0), 0), (1L, Seq(0.0, 2.0), 0),
      (2L, Seq(10.0, 0.0), 1), (3L, Seq(10.0, 2.0), 1)
    ).toDF("id", "v", "cl")
    val out = Similarity.silhouetteSimplified(df, "v", "cl")
      .orderBy("cluster").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0, 2L, 0.9005, 0.900496),
      (1, 2L, 0.9005, 0.900496)), out.mkString("; "))
    // a point sitting ON the other centroid scores negative (it is
    // closer to the neighbor than to its own centroid)
    val bad = Seq(
      (0L, Seq(0.0, 0.0), 0), (1L, Seq(0.0, 2.0), 0),
      (2L, Seq(0.0, 1.0), 1), // labeled 1, sits at cluster 0's centroid
      (3L, Seq(10.0, 0.0), 1), (4L, Seq(10.0, 2.0), 1)
    ).toDF("id", "v", "cl")
    val s1 = Similarity.silhouetteSimplified(bad, "v", "cl")
      .filter(col("cluster") === 1).collect().head
    assert(s1.getDouble(3) < 0, s"planted misassignment: $s1")
    // coincident point and centroids: a = b = 0 -> s = 0, not NaN
    val co = Seq((0L, Seq(5.0, 5.0), 0), (1L, Seq(5.0, 5.0), 1))
      .toDF("id", "v", "cl")
    val z = Similarity.silhouetteSimplified(co, "v", "cl")
      .collect().map(_.getDouble(2)).toSeq
    assert(z == Seq(0.0, 0.0), z.mkString(", "))
    // fewer than 2 clusters is a contract error, not a silent 1-row
    intercept[IllegalArgumentException] {
      Similarity.silhouetteSimplified(
        Seq((0L, Seq(1.0), 0)).toDF("id", "v", "cl"), "v", "cl")
    }
  }

  test("silhouetteSimplified at IVF-scale k (300 cells, dim 16): " +
    "matches a naive driver reference and the maxClusters guard fails " +
    "fast (the 2-kernel-call plan bound is pinned in PlanAuditSpec)") {
    import spark.implicits._
    // 300 clusters x 3 members — the IVF-cell-count regime where the
    // pre-round-16 k-branch CaseWhen embedded k*(k-1)*dim literal
    // doubles (~23 MB of plan here; hundreds of MB at dim 128) and hit
    // the plan-compile cliff. The top2+own shape stays O(k*dim).
    val k = 300
    val dim = 16
    val rng = new scala.util.Random(31)
    val bases = Vector.fill(k)(Vector.fill(dim)(rng.nextDouble() * 20 - 10))
    val rows = for (c <- 0 until k; m <- 0 until 3) yield
      (c.toLong * 3 + m, c,
        bases(c).zipWithIndex.map { case (b, j) =>
          b + (rng.nextDouble() - 0.5) * 0.2 + (if (j == m) 0.1 else 0.0)
        }.toSeq)
    val df = rows.toDF("id", "cl", "v")
    val got = Similarity.silhouetteSimplified(df, "v", "cl")
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // naive reference: 6dp centroids, a/b 6dp, s 6dp, mean 4dp
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = rows.groupBy(_._2).map { case (c, rs) =>
      c -> (0 until dim).map(j => r6(rs.map(_._3(j)).sum / rs.size))
    }
    def dist(x: Seq[Double], c: Seq[Double]) =
      math.sqrt(x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
    val ss = rows.map { case (_, c, x) =>
      val a = r6(dist(x, cents(c)))
      val b = r6(cents.filter(_._1 != c).map(e => dist(x, e._2)).min)
      c -> (if (math.max(a, b) > 0) r6((b - a) / math.max(a, b)) else 0.0)
    }
    val exp = ss.groupBy(_._1).map { case (c, vs) =>
      c -> ((vs.size.toLong, r4(vs.map(_._2).sum / vs.size), vs.map(_._2).min))
    }
    assert(got.keySet == exp.keySet)
    for (c <- exp.keys) assert(got(c)._1 == exp(c)._1 &&
      math.abs(got(c)._2 - exp(c)._2) < 1e-9 &&
      math.abs(got(c)._3 - exp(c)._3) < 1e-9,
      s"cluster $c: ${got(c)} vs ${exp(c)}")
    // a data-scale cluster column fails fast with the sizing message
    // BEFORE any driver-side collect (maxClusters, bradleyTerry pattern)
    val wide = spark.range(5000)
      .select(col("id").cast("int").as("cl"),
        array(col("id").cast("double")).as("v"))
    val err = intercept[IllegalArgumentException] {
      Similarity.silhouetteSimplified(wide, "v", "cl")
    }
    assert(err.getMessage.contains("maxClusters"), err.getMessage)
    // ... and raising the bound deliberately is honored
    assert(Similarity.silhouetteSimplified(
        Seq((0L, Seq(0.0), 0), (1L, Seq(5.0), 1), (2L, Seq(9.0), 2))
          .toDF("id", "v", "cl"), "v", "cl", maxClusters = 3)
      .count() == 3)
  }
}
