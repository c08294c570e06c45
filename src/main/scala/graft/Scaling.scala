package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graph, Profile, Sampling, Similarity}
import Harness.{copies, median, signCopy, vocabCopy}

/**
 * Scaling evidence for the pair, span, graph and linkage operators
 * (SURVEY §6): wall time vs corpus size along a chain of multiples of
 * the testdata tables, one series per tier of [[tiers]].
 *
 * Every tier builds its m-fold input as m disjoint copies (the
 * [[Harness]] copy-remap construction), so output grows linearly by
 * construction and a wall-time slope above 1.0 is the operator's cost,
 * not result growth — except where a tier documents otherwise.
 *
 * Each (tier, multiple) input is materialized by `localCheckpoint`
 * OUTSIDE the timer, so every rep times the operator alone, never the
 * corpus construction; after every rep the harness runs the documented
 * release ([[release]]), so no rep inherits a warm operator cache.
 *
 * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Scaling"
 * Env: SPARK_GRAFT_SCALING_MULTIPLES (default 1,2,4,8,16; the graph and
 * link series keep their own chains), SPARK_GRAFT_SCALING_ONLY (series
 * allowlist), SPARK_GRAFT_BENCH_REPS, plus the [[Harness.session]]
 * variables. Prints one JSON line per (series, multiple) and a final
 * summary with the fitted log2-slopes between successive multiples.
 */
object Scaling {

  /** One series: `corpus(m)` builds the m-fold input, `op` consumes it
   * and returns its output row count. `size` is the printed corpus size
   * of multiple m given the input's row count (the graph series print
   * node counts). */
  private[graft] case class Tier(name: String, multiples: Seq[Int],
      corpus: Int => DataFrame, op: DataFrame => Long,
      size: (Int, Long) => Long = (_, rows) => rows)

  /** One measured (series, multiple): median and min seconds over reps. */
  private[graft] case class Point(name: String, m: Int, size: Long,
      out: Long, sec: Double, min: Double)

  private val exemptLast = Set("link_pred", "simhash_pairs")

  /** The tier table over the testdata dir `sfDir`; text, embedding,
   * media and linkage series run at `multiples`. */
  private[graft] def tiers(spark: SparkSession, sfDir: String,
      multiples: Seq[Int]): Seq[Tier] = {
    def rd(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")

    val docs = rd("documents").select("doc_id", "text")
    val textCorpus = (m: Int) => copies(m)(c => docs.select(
      (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
      vocabCopy(col("text"), c).as("text")))
    def text(name: String, op: DataFrame => DataFrame) =
      Tier(name, multiples, textCorpus, d => op(d).count())

    val textTiers = Seq(
      text("minhash_pairs", Dedup.minhashCandidatePairs(_, "text", "doc_id")),
      // d pinned to 1: this tier measures the single-block curve (the
      // small-corpus route) so the auto tier below has its baseline
      text("simhash_pairs", Dedup.simhashCandidatePairs(_, "text",
        "doc_id", blocksPerKey = 1)),
      // the multi-block scale path (Manku-style composite keys, d=2):
      // IDENTICAL verified output (spec-pinned), ~10x fewer random band
      // collisions at h=8 — the retune for the d=1 candidate explosion
      // the 64x/128x doublings exposed (7-bit keys -> ~n²/2⁷ candidates)
      text("simhash_pairs_mb", Dedup.simhashCandidatePairs(_, "text",
        "doc_id", blocksPerKey = 2)),
      // the ROUTED operator (blocksPerKey=0, the default a knobless
      // caller gets): must track the d=1 curve below the ~240k-doc
      // crossover and the d=2 curve above it — the auto-routing claim
      // measured, not asserted
      text("simhash_pairs_auto", Dedup.simhashCandidatePairs(_, "text",
        "doc_id")),
      text("ngram_jaccard", Dedup.ngramJaccardPairs(_, "text", "doc_id")),
      // stride-1 span detection: O(tokens) span rows — the vocabulary
      // bijection keeps spans disjoint across copies, so flagged spans
      // (the within-copy natural dups) grow linearly with m by design
      text("cross_doc_spans", Dedup.crossDocSpans(_, "text", "doc_id")),
      // the full detect+cut chain (row-preserving output: one row per
      // doc); times the interval-merge cut on top of the span join. The
      // filter pins the cut into the count plan — on a bare count()
      // Catalyst eliminates the provably row-preserving join and the
      // "measurement" is an empty shell (the bench gate has the same
      // guard)
      text("spans_mask", Dedup.maskRepeatedSpans(_, "text", "doc_id")
        .filter(col("n_tokens_removed") >= 0)),
      // BPE-budgeted chunking: per-document linear explode — the guard
      // filter pins the chunk computation into the count plan (the
      // spans_mask rule)
      text("chunk_bpe", graft.ops.TextMetrics.chunkByBudget(
        _, "text", "doc_id", budget = 64).filter(col("chunk_id") >= 0)),
      // asymmetric containment: candidates from the df-capped
      // rare-shingle index — the vocabulary bijection keeps shingles
      // disjoint across copies, so candidate streams grow linearly
      text("containment", Dedup.containmentPairs(_, "text", "doc_id")))

    // SemDeDup: total cost is Θ(n·k) assignment + Θ(n²/k) within-cell
    // pairs, minimized by k ∝ √n; the operator's auto k (ceil(sqrt(n)),
    // Dedup.autoSemanticK) IS that schedule, so the EXPECTED log2-slope
    // is ~1.5, the honest n^1.5 law a caller touching no knobs gets.
    // minCosine 0.6, not the gate query's 0.35: real embeddings are
    // spiky (dominant principal directions), so sign-decorrelated copies
    // still land ~0.2% of cross pairs above 0.35 and the OUTPUT would
    // grow superlinearly. Even 0.6 does not hold the disjointness
    // contract on the testdata embeddings: at sf0.01 and sf0.1 the m = 1
    // corpus emits no pair and every pair of the m = 2 corpus crosses
    // copies (cosines up to 0.77), so this series' output counts
    // cross-copy collisions, not within-copy structure.
    val emb = rd("embeddings").select("vec_id", "embedding")
    val semantic = Tier("semantic_pairs", multiples,
      m => copies(m)(c => emb.select(
        (col("vec_id") + lit(c.toLong * 10000000L)).as("vec_id"),
        signCopy(col("embedding"), c).as("embedding"))),
      d => Dedup.semanticPairs(d, "embedding", "vec_id",
        iters = 2, minCosine = 0.6).count())

    // image dHash decode + pigeonhole banding. Copy c offsets doc_ids by
    // 630000 (a multiple of 3, so each copy keeps the fixture's 3-id
    // group structure and planted (3g, 3g+1) near-dup density) = a
    // per-copy SCENE offset of 210000 — above the variant-2 scene shift
    // (100000) plus both group ranges, so every copy's scene set is
    // disjoint from every other's (no multiple of 210000 lands in the
    // [100000±maxG] collision window while maxG < 105000; sf0.1 has maxG
    // ~1700) and cross-copy dHashes decorrelate. The corpus persists to
    // scratch parquet per multiple (the QueriesMm rationale: production
    // media arrives FROM STORAGE — the tier times decode + banding, not
    // the synthetic PNG encode).
    val image = Tier("mm_image_dhash", multiples,
      m => {
        val path = graft.ops.Scratch.dir(s"graft_scaling_image_$m") + "/corpus"
        val ids = copies(m)(c => docs.select(
          (col("doc_id") + lit(c.toLong * 630000L)).as("doc_id")))
        graft.ops.MediaFixture.images(spark, ids)
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      },
      d => graft.ops.Multimodal.imageNearDupPairs(
        d, "id", "payload", maxHamming = 3, bands = 4).count())

    // FastSS delete-mode fuzzy linkage: copy c prefixes every name with
    // a 6-char marker differing from every other copy's marker in >= 3
    // positions (two base-8 letter digits, each repeated 3x), so
    // cross-copy edit distance is > 2 = maxDist and candidates and
    // verified pairs both grow linearly. Blocks (c_nationkey)
    // deliberately MIX copies: block size growing m-fold while work stays
    // linear is exactly the delete-mode claim (the block-square method
    // this replaced would go quadratic here).
    val cust = rd("customer").select("c_custkey", "c_nationkey", "c_name")
    val fuzzy = Tier("fuzzy_delete", multiples,
      m => {
        require(m <= 64, s"marker space covers 64 copies: $m")
        copies(m) { c =>
          val m1 = ('a' + c / 8).toChar.toString
          val m2 = ('a' + c % 8).toChar.toString
          cust.select(
            (col("c_custkey") + lit(c.toLong * 10000000L)).as("c_custkey"),
            col("c_nationkey"),
            concat(lit(m1 * 3 + m2 * 3), col("c_name")).as("c_name"))
        }
      },
      d => graft.ops.Linkage.fuzzySelfJoin(d, Seq("c_nationkey"),
        "c_name", "c_custkey", maxDist = 2, method = "delete").count())

    // Link prediction, three series on the orders graph thinned 10x so
    // the density 8x point stays seconds:
    //  - link_pred_nodes: m DISJOINT copies (node ids offset per copy) —
    //    node count grows, degrees constant, so the wedge join's Σ deg²
    //    cost grows LINEARLY: the scale-out claim.
    //  - link_pred (density): EDGES m× on the SAME 997 nodes via the
    //    (2c+1) residue bijection (997 prime: any nonzero multiplier is a
    //    bijection). The envelope is Σ deg² ∝ m², but a 997-node graph
    //    SATURATES (candidate pairs cap at C(997,2)), so the slope lands
    //    between 1 and 2 — recorded as-is. (Pinning maxWedgeDegree at the
    //    base graph's max degree sends candidates to exactly 0 at 2×
    //    density: the hub guard is a hard gate sized to EXPECTED degree.)
    //  - link_pred_sampled: the density sweep in wedge-sampled mode
    //    (sampleDegree=64): per-center work caps at ~s², so the claim is
    //    slope <= ~1.0 where the exact sweep reads 1.1-1.5 — the
    //    scale-safe form for hub-heavy graphs.
    val thin = rd("orders").filter(col("o_orderkey") % 10 === 0)
      .select(col("o_custkey"), col("o_orderkey"))
    val density = (m: Int) => copies(m) { c =>
      val mult = lit((2 * c + 1).toLong)
      thin.select(pmod(col("o_custkey") * mult, lit(997L)).as("src"),
        pmod(col("o_orderkey") * mult, lit(997L)).as("dst"))
    }
    val disjoint = (m: Int) => copies(m) { c =>
      val off = lit(c.toLong * 10000L)
      thin.select((pmod(col("o_custkey"), lit(997L)) + off).as("src"),
        (pmod(col("o_orderkey"), lit(997L)) + off).as("dst"))
    }
    val nodes = (m: Int, _: Long) => 997L * m
    def link(name: String, corpus: Int => DataFrame, s: Int) =
      Tier(name, Seq(1, 2, 4, 8), corpus,
        d => Graph.linkPrediction(d, "src", "dst", sampleDegree = s).count(),
        nodes)

    // Constant-DENSITY graph series: copy c of the full orders table
    // contributes |orders| edges shifted by copy-distinct odd strides and
    // projected mod (m·997), so an m-fold graph has m× nodes, m× edges
    // and the SAME per-node degree profile — the regime the wedge/Σdeg²
    // envelopes are designed for, complementing link_pred's fixed-node
    // DENSIFICATION.
    val orders = rd("orders").select("o_custkey", "o_orderkey")
    val constDegree = (m: Int) => {
      val n = m * 997L
      copies(m)(c => orders.select(
        pmod(col("o_custkey") + lit(c * 1000003L), lit(n)).as("src"),
        pmod(col("o_orderkey") + lit(c * 9999991L), lit(n)).as("dst")))
    }
    def graph(name: String, op: DataFrame => Long) =
      Tier(name, Seq(1, 2, 4, 10), constDegree, op, nodes)

    textTiers ++ Seq(semantic, image, fuzzy,
      link("link_pred", density, 0),
      link("link_pred_nodes", disjoint, 0),
      link("link_pred_sampled", density, 64),
      graph("graph_link_pred", e => Graph.linkPrediction(e, "src", "dst")
        .orderBy(desc("common_neighbors"), col("id_a"), col("id_b"))
        .limit(100).count()),
      graph("graph_hits", Graph.hits(_, "src", "dst", iters = 8).count()),
      graph("graph_pagerank",
        Graph.pageRank(_, "src", "dst", iters = 5).count()),
      graph("graph_triangles",
        Graph.triangleCounts(_, "src", "dst").count()))
  }

  /** The documented release: drop every operator cache, pin and scan
   * statistic the last rep left behind. */
  private[graft] def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Dedup.unpersistAll(spark)
    Similarity.unpersistAll(spark)
    Sampling.unpersistAll(spark)
    Profile.unpersistAll(spark)
  }

  /** Time every (tier, multiple), `reps` reps each, printing one JSON
   * line per point. */
  private[graft] def run(spark: SparkSession, tiers: Seq[Tier],
      reps: Int): Seq[Point] =
    for (t <- tiers; m <- t.multiples) yield {
      // the checkpoint is an RDD pin, not a catalog cache, so it survives
      // the per-rep release; its blocks go with the ContextCleaner
      val d = t.corpus(m).localCheckpoint()
      val rows = d.count()
      var out = 0L
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        out = t.op(d)
        val sec = (System.nanoTime() - t0) / 1e9
        release(spark)
        sec
      }
      val p = Point(t.name, m, t.size(m, rows), out, median(times), times.min)
      // pairs per wall second separates banding COST from OUTPUT growth:
      // a wall-time slope above 1.0 with flat pairs/sec is the output
      // growing, not the operator degrading (-1 when nothing is emitted)
      val perSec = if (out <= 0L || p.sec <= 0.0) "-1" else f"${out / p.sec}%.1f"
      println(f"""{"op":"${t.name}","multiple":$m,"docs":${p.size},"pairs":$out,"sec":${p.sec}%.4f,"min":${p.min}%.4f,"pairs_per_sec":$perSec}""")
      p
    }

  /** Log2-slope summary per series, in first-appearance order. Every
   * slope a series cannot fit (fewer than two points, or fewer than two
   * points emitting pairs) reads the -99 sentinel. */
  private[graft] def summary(points: Seq[Point], reps: Int,
      sfDir: String): String = {
    def slope(a: Point, b: Point, ya: Double, yb: Double): Double =
      math.log(yb / ya) / math.log(b.m.toDouble / a.m)
    def fit(rs: Seq[Point], y: Point => Double): Seq[Double] =
      rs.zip(rs.drop(1)).map { case (a, b) => slope(a, b, y(a), y(b)) }
    var flagged = List.empty[String]
    val series = points.map(_.name).distinct.map { name =>
      val rs = points.filter(_.name == name).sortBy(_.m)
      // ~1.0 = linear cost (~1.5 for the semantic n^1.5 law), 2.0 would
      // be the all-pairs blow-up
      val slopes = fit(rs, _.sec)
      // -1 when the base corpus has no output: a 0/0 here would emit
      // NaN, which is not valid JSON and would sink the whole line
      val linear = rs.head.out.toDouble * rs.last.m / rs.head.m
      val pairRatio = if (linear == 0.0) -1.0 else rs.last.out / linear
      // slope of (sec / emitted pair), over points that emit pairs: ~0 =
      // the per-pair cost is flat and any wall-time slope above 1.0 is
      // output growth
      val costSlopes = fit(rs.filter(_.out > 0), p => p.sec / p.out)
      def orNone(xs: Seq[Double], f: Seq[Double] => Double) =
        if (xs.isEmpty) -99.0 else f(xs)
      val span = if (rs.length < 2) -99.0
        else slope(rs.head, rs.last, rs.head.sec, rs.last.sec)
      // regression flag (mechanical): a scale path whose LAST step reads
      // super-linear is degrading at exactly the sizes the tier exists
      // to protect — except the two series documented super-linear by
      // construction: link_pred's density sweep and simhash d=1 past its
      // crossover (the wall the mb/auto routes fix)
      if (slopes.nonEmpty && slopes.last > 1.1 && !exemptLast(name))
        flagged ::= name
      f""""$name":{"slope":${orNone(slopes, median)}%.2f,"slope_last":${orNone(slopes, _.last)}%.2f,"slope_span":$span%.3f,"pair_ratio_vs_linear":$pairRatio%.3f,"cost_per_pair_slope":${orNone(costSlopes, median)}%.2f}"""
    }.mkString("{", ",", "}")
    val flaggedJson = flagged.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"scaling","reps":$reps,"sf":"$sfDir","flag_rule":"slope_last>1.1","flagged":$flaggedJson,"exponents":$series}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = Harness.reps()
    // SPARK_GRAFT_SCALING_MULTIPLES="1,2,4,8,16,32,64" extends the
    // evidence to the sizes where fixed scheduling overhead stops
    // dominating (SURVEY §6's 32x/64x extension)
    val multiples = sys.env.get("SPARK_GRAFT_SCALING_MULTIPLES")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 2, 4, 8, 16))
    val only = Harness.only("SCALING")
    val spark = Harness.session()
    val wanted = tiers(spark, sfDir, multiples)
      .filter(t => only.forall(_.contains(t.name)))
    println(summary(run(spark, wanted, reps), reps, sfDir))
    spark.stop()
  }
}
