package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Driver-state meta-audit — the [[InventorySpec]] pattern applied to the
 * other recurring scale risk: a `.collect()`-family call whose result
 * grows with the DATA instead of with a bounded parameter (k, roster cap,
 * 2^fields, 1-row aggregate) is the one anti-pattern that silently stops
 * an operator from being distributed. Every such site in the library
 * surface is enumerated below with its boundedness contract; adding a new
 * site (or removing one) fails this spec until the table row — i.e. the
 * justification — is updated with it.
 *
 * Out of scope, deliberately: the run harness mains (Bench/Verify/
 * Scaling/ScaleUp/EbwScaling collect RESULT summaries by design) and test
 * sources.
 */
class DriverStateAuditSpec extends AnyFunSuite {

  private val pattern =
    """\.collect\(\)|\.head\(\)|\.first\(\)|collectAsList|toLocalIterator""".r

  /** file (relative to src/main/scala/graft) -> (site count, contract). */
  private val contracts: Map[String, (Int, String)] = Map(
    "ops/Similarity.scala" -> (8,
      "k-means seeds/updates and PQ codebooks: k- or dim*k-bounded " +
        "centroid tables; IVF index load: 1-row meta + k centroid rows; " +
        "silhouette centroids: clusters x dim rows, the collect itself " +
        "limit-bounded at maxClusters (default 4096) x dim + 1 rows " +
        "with a sized overflow error"),
    "ops/TextMetrics.scala" -> (1,
      "BPE training argmax: limit(1).collect() per merge round (the " +
        "documented loop-control exception; dictionary stays distributed)"),
    "ops/Linkage.scala" -> (2,
      "sorted-neighborhood bucket roster (guarded, sized error at " +
        "Linkage.scala:404) and fellegiSunterEm pattern counts (<= 2^k, " +
        "k <= 16 enforced)"),
    "ops/Dedup.scala" -> (1,
      "exactIncrementalBloom index build: 1-row aggregate returning ONE " +
        "binary of ~1.2*expectedItems bytes at fpp=0.01 (documented " +
        "bits-vs-cardinality envelope: ~1.2 GB at 1e9 keys — beyond that, " +
        "range-partition the hash space, Dedup.scala docstring). The " +
        "connectedComponents fixed-point checksum no longer collects: it " +
        "rides each round's checkpoint job as observe() metrics (r19)"),
    "ops/DistScan.scala" -> (2,
      "cut-point sample: TakeOrdered limit(16*nBuckets) of ONE projected " +
        "column (bounded by 4*numShufflePartitions config, never data); " +
        "sealTerminal: limit(maxRows+1) with a sized require — " +
        "statistics-sized terminal readouts only. The carry offsets no " +
        "longer collect: they are a <= nBuckets lazy aggregate subtree " +
        "broadcast-joined inside the result plan (r19)"),
    "ops/Profile.scala" -> (1,
      "isotonicCalibration bucket frame: <= bins rows (bucket ids live " +
        "in [0, bins)), bins capped at 4096 with a sized require — the " +
        "PAV stack is sequential by nature and runs over a config-sized " +
        "frame"),
    "ops/Eval.scala" -> (2,
      "bradleyTerry: 1-row distinct-item count + roster collect guarded " +
        "at maxItems=4096 with a sized error (Eval.scala:205)"),
    "ops/Graph.scala" -> (1,
      "linkPrediction AUTO route: 1-row max-degree probe aggregate " +
        "(agg(max(deg)).collect()(0)) over the cached degree frame the " +
        "plan reuses — route selection, never data"),
    "ebw/DesignMatrix.scala" -> (4,
      "distinct one-hot labels (vocabulary-bounded design width) and " +
        "1-row weighted-total aggregates"),
    "ebw/Raking.scala" -> (1,
      "IPF margin cells: rows*cols-bounded cell table (the codebook " +
        "contract)"),
    "ebw/ProblemIO.scala" -> (2,
      "reference-zip dump: documented single-node interop format with an " +
        "explicit size guard (ProblemIO.scala:61); parquet meta: 1 row"),
    "queries/QueriesAnn.scala" -> (5,
      "single query-vector collect()(0) per gate (one embedding row)"),
    "queries/QueriesEbw.scala" -> (5,
      "one-hot label arrays (vocabulary-bounded) and 1-row moment " +
        "aggregates"),
    "QShared.scala" -> (2,
      "1-row target-moment and achieved-moment aggregates"),
    "examples/CurationPipelineExample.scala" -> (3,
      "example driver: first() on a 1-row frame and two 1-row aggregates"))

  private def sources(dir: java.io.File): Seq[java.io.File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
      kids.filter(_.isDirectory).flatMap(sources)
  }

  private val harness = Set("Bench.scala", "Verify.scala", "ScaleUp.scala",
    "EbwScaling.scala", "Scaling.scala")

  test("every driver-materializing call site in the library surface is " +
    "enumerated with a boundedness contract") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repo root: $root")
    val found = sources(root)
      .filterNot(f => harness.contains(f.getName))
      .flatMap { f =>
        val text = scala.io.Source.fromFile(f)("UTF-8").mkString
        val n = pattern.findAllIn(text).length
        val rel = root.toPath.relativize(f.toPath).toString
          .replace('\\', '/')
        if (n > 0) Some(rel -> n) else None
      }.toMap
    val unlisted = found.keySet -- contracts.keySet
    assert(unlisted.isEmpty,
      "NEW driver-materializing call sites with no boundedness contract " +
        "— prove the result is parameter-bounded (k, roster cap, 1-row " +
        "aggregate, limit(1)) and add a contract row to this spec: " +
        unlisted.toSeq.sorted.map(k => s"$k (${found(k)})").mkString(", "))
    val drifted = contracts.collect {
      case (f, (n, _)) if found.getOrElse(f, 0) != n =>
        s"$f: expected $n sites, found ${found.getOrElse(f, 0)}"
    }
    assert(drifted.isEmpty,
      "driver-materializing site counts drifted — re-audit the file and " +
        s"update its contract row: ${drifted.mkString("; ")}")
  }

  test("one session conf: the library and its mains build a SparkSession " +
    "in exactly one place (Harness.session)") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repo root: $root")
    val examples = new java.io.File(root, "examples").toPath
    val sites = sources(root).filterNot(_.toPath.startsWith(examples))
      .flatMap { f =>
        val text = scala.io.Source.fromFile(f)("UTF-8").mkString
        val n = java.util.regex.Pattern.quote("SparkSession.builder()").r
          .findAllIn(text).length
        Seq.fill(n)(f.getName)
      }
    assert(sites == Seq("Harness.scala"),
      s"SparkSession.builder() sites outside examples/: $sites — build " +
        "the session with Harness.session() so every main runs Bench's conf")
  }

  test("terminal scan statistics self-release: the Scan-scope cache " +
    "registry is EMPTY the moment rocAuc/ksTest/mannWhitney/spearman " +
    "return; lazy scan results keep their pin until " +
    "Profile.unpersistAll") {
    import org.apache.spark.sql.functions._
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val scan = graft.ops.CacheScope.Scan
    graft.ops.CacheScope.unpersistAll(spark, scan) // a clean slate
    val orders = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
    def scanPins(): Int = graft.ops.CacheScope.trackedCount(spark, scan)
    val auc = graft.ops.Profile.rocAuc(
      orders.withColumn("y", col("o_orderkey") % 2 === 0),
      "o_totalprice", "y")
    assert(scanPins() == 0, "rocAuc returned with a live Scan pin")
    assert(auc.count() == 1)
    val ks = graft.ops.Profile.ksTest(
      orders.filter(col("o_orderstatus") === "O"),
      orders.filter(col("o_orderstatus") === "F"), "o_totalprice")
    assert(scanPins() == 0, "ksTest returned with a live Scan pin")
    assert(ks.count() == 1)
    graft.ops.Profile.mannWhitney(orders, "o_orderstatus",
      "o_totalprice", "O", "F")
    assert(scanPins() == 0, "mannWhitney returned with a live Scan pin")
    graft.ops.Profile.spearman(orders, "o_totalprice", "o_orderkey")
    assert(scanPins() == 0, "spearman returned with a live Scan pin")
    // a LAZY scan result (bhAdjust: per-test rows, not a 1-row readout)
    // pins until the caller releases — the documented contract
    val lazyScan = graft.ops.Profile.bhAdjust(
      orders.limit(50).select(col("o_orderkey").as("id"),
        (pmod(col("o_orderkey"), lit(100)) / 100.0).as("p")), "id", "p")
    assert(scanPins() > 0, "bhAdjust should hold its optimization pin")
    // a seal releases ONLY its own statistic's pins: the in-flight lazy
    // scan keeps its pin across a sibling terminal statistic (the r16
    // shape dropped the whole scope, costing interleaved lazy chains
    // repeated re-evaluations)
    val pinsBeforeSeal = scanPins()
    graft.ops.Profile.rocAuc(
      orders.withColumn("y", col("o_orderkey") % 2 === 0),
      "o_totalprice", "y")
    assert(scanPins() == pinsBeforeSeal,
      "a sibling seal must not release an in-flight lazy scan's pin")
    graft.ops.Profile.unpersistAll(spark)
    assert(scanPins() == 0, "unpersistAll must drain the Scan scope")
    assert(lazyScan.count() == 50,
      "released pin must recompute, not fail")
  }
}
