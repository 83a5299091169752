package graft

import graft.exec.{DimPopulate, FactPopulate}
import graft.model._

/** Physical-plan assertions (SURVEY §4): dim lookups must broadcast,
  * window predicates must reach the parquet scan as pushed filters,
  * and scans must prune columns. These guard the 100 TB posture — a
  * regression here is a performance bug even if results match.
  */
class PlanSpec extends SparkSpec {
  import Fixtures._

  private def explainOf(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("fact populate: dim lookup is a broadcast hash join, no sort-merge") {
    // materialize the cached dims first: the broadcast guard
    // (FactPopulate.broadcastable) hints only when Catalyst can SEE the
    // dim is small, which for an in-memory dim means its cache is built
    Queries.factPopulateFull(spark, sf("sf0.001")).count()
    val df = Queries.factPopulateFull(spark, sf("sf0.001"))
    val plan = explainOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), "dim lookup must not shuffle both sides")
  }

  test("broadcast guard: hint below the size threshold, none above it") {
    // a dim read from parquet has exact file-size statistics — the
    // production Runner path the guard is designed around
    val dim = sources.ParquetTables.readTable(spark, sf("sf0.001"), "nation")
    assert(FactPopulate.broadcastable(dim, maxBytes = 256L * 1024 * 1024),
      "a small parquet dim must qualify for the broadcast hint")
    assert(!FactPopulate.broadcastable(dim, maxBytes = 1L),
      "a dim above the threshold must NOT be force-broadcast")
    // unknown statistics (fresh RDD-backed plan) must fail closed: no
    // hint, leave the build-side choice to AQE runtime stats
    val unknown = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType))))
    assert(!FactPopulate.broadcastable(unknown, maxBytes = 256L * 1024 * 1024),
      "unestimatable plans must not be force-broadcast")
  }

  test("cube computes every grain in one pass: Expand + a single aggregation exchange") {
    val plan = QueriesEvents.eventsCube(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      s"cube must expand grouping sets map-side, not scan per grain:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"all grains must share ONE aggregation exchange:\n$plan")
    assert("FileScan".r.findAllIn(plan).size == 1, s"expected ONE event scan:\n$plan")
  }

  test("broadcast guard memoization: same path shares a cache key, another path does not") {
    // The steady-state refresh loop re-reads its dims each cycle; the
    // guard memoizes on the canonicalized plan, which for a parquet
    // scan keys on the root path (InMemoryFileIndex equality), NOT the
    // DataFrame instance. Two fresh reads of one path must collide;
    // a different path (the staged {{suff}} swap case) must not.
    def hash(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.canonicalized.semanticHash()
    val a = sources.ParquetTables.readTable(spark, sf("sf0.001"), "nation")
    val b = sources.ParquetTables.readTable(spark, sf("sf0.001"), "nation")
    val c = sources.ParquetTables.readTable(spark, sf("sf0.001"), "region")
    assert(hash(a) == hash(b), "fresh reads of the same path must share the memo key")
    assert(hash(a) != hash(c), "a different path (post-swap snapshot) must miss the memo")
  }

  test("broadcast guard memoization: an in-place append at the SAME path re-probes") {
    // the steady-state incremental loop appends to a constant dim path;
    // a stale fits=true verdict on a since-grown dim would ride the
    // explicit broadcast hint into an OOM, so the memo must key on the
    // scanned-bytes signature, not the path alone
    val dir = java.nio.file.Files.createTempDirectory("graft-bcast-memo").toString
    val small = sources.ParquetTables.readTable(spark, sf("sf0.001"), "nation")
    small.write.mode("append").parquet(dir)
    val before = spark.read.parquet(dir)
    val sizeBefore = before.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val threshold = sizeBefore + 1
    assert(FactPopulate.broadcastable(before, threshold), "fits before the append")
    // grow the dim past the threshold IN PLACE (no new path)
    small.write.mode("append").parquet(dir)
    small.write.mode("append").parquet(dir)
    val after = spark.read.parquet(dir)
    assert(!FactPopulate.broadcastable(after, threshold),
      "a fresh read of the grown dim must re-probe, not reuse the stale fits=true")
  }

  test("merge-latest is a partial-aggregable max_by, not a window sort") {
    val df = QueriesEvents.dimMergeLatest(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    assert("max_by".r.findAllIn(plan).size >= 2,
      s"expected partial+final max_by (map-side candidate per key):\n$plan")
    assert(!plan.contains("Window"), "the window form shuffles+sorts every change")
  }

  test("fact populate: time-window filter is pushed to the parquet scan") {
    val env  = tpchEnv
    val fact = env.findFact("line").get
    val src  = (n: String) => sources.ParquetTables.readTable(spark, sf("sf0.001"), n)
    val hi   = TimeWindow.upTo(java.sql.Timestamp.valueOf("2002-01-01 00:00:00"))
    val dims = derive.Extractor
      .extractAllDimensionTables(env, fact)
      .filterNot { case (_, t) => env.tables.contains(t) }
      .map { case (df2, dt) => dt.name -> DimPopulate.full(env, df2, dt.name, src(df2.tableName), hi) }
      .toMap
    val df = FactPopulate.populate(
      env, fact,
      TimeWindow.upTo(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")),
      src, dims.apply _)
    val plan = explainOf(df)
    // lineitem scan (no nano cols) must carry the pushed timestamp filter
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), plan)
  }

  test("dim populate: distinct happens as hash aggregate (partial+final)") {
    // candidates() is the declarative part; id assignment afterwards is
    // an RDD zipWithIndex that hides the upstream plan behind an
    // ExistingRDD scan
    val env  = tpchEnv
    val fact = env.findFact("line").get
    val df = DimPopulate.candidates(
      env, fact, "dim_line_status",
      sources.ParquetTables.readTable(spark, sf("sf0.001"), "lineitem"),
      TimeWindow.unbounded)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
  }

  test("text stats and multimodal decode are scan-only (no exchange)") {
    val stats = QueriesExt.textStats(spark, sf("sf0.001"))
    assert(!stats.queryExecution.executedPlan.toString.contains("Exchange"),
      "text_stats must be a pure projection over the scan")
    val mm = QueriesExt.multimodalDecode(spark, sf("sf0.001"))
    assert(!mm.queryExecution.executedPlan.toString.contains("Exchange"),
      "multimodal decode must be partition-local")
  }

  test("crawl front-end is scan-local; epoch mix broadcasts its thresholds") {
    // HTML extraction (incl. title) is a pure projection — no exchange
    val html = QueriesExt.textExtractHtml(spark, sf("sf0.001"))
    assert(!html.queryExecution.executedPlan.toString.contains("Exchange"),
      "extract_html must be a pure projection over the scan")
    // WARC parse + HTTP body split: partition-local end to end
    val warc = QueriesExt.warcExtract(spark, sf("sf0.001"))
    assert(!warc.queryExecution.executedPlan.toString.contains("Exchange"),
      "warc parsing must be partition-local")
    // outlink extraction + RFC 3986 resolution: pure projections over
    // the scan (posexplode + staged regexp chains) — no exchange
    val links = QueriesExt.crawlExtractLinks(spark, sf("sf0.001"))
    assert(!links.queryExecution.executedPlan.toString.contains("Exchange"),
      "extract_links must be scan-local")
    // robots admission: the per-host rule arrays broadcast and the
    // longest-match verdict evaluates scan-local — the URL corpus side
    // never shuffles. The only shuffle Exchanges belong to the SMALL
    // rules side (group-selection window + per-host aggregation, which
    // share one hash partitioning on the host).
    val robots = QueriesExt.crawlRobotsFilter(spark, sf("sf0.001"))
    val robotsPlan = robots.queryExecution.executedPlan.toString
    assert(robotsPlan.contains("BroadcastHashJoin"),
      s"robots rules must broadcast:\n$robotsPlan")
    assert("Exchange hashpartitioning".r.findAllIn(robotsPlan).size <= 2,
      s"robots corpus side must not shuffle:\n$robotsPlan")
    // epochs mix: the per-(domain, epoch) threshold table broadcasts —
    // the corpus side is never exchanged (one partial-agg for totals
    // reads the corpus; the replicating join must be a broadcast)
    val mix = QueriesExt.sampleDomainMixEpochs(spark, sf("sf0.001"))
    val mixPlan = mix.queryExecution.executedPlan.toString
    assert(mixPlan.contains("BroadcastHashJoin"),
      s"epoch thresholds must broadcast:\n$mixPlan")
  }

  test("ranked fetch schedule: delays broadcast; the frontier pays one window shuffle plus the rank join") {
    val plan = QueriesExt.crawlScheduleRanked(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    // the per-host delay table must broadcast onto the frontier
    assert(plan.contains("BroadcastHashJoin"),
      s"delay/rank tables must broadcast:\n$plan")
    // no cartesian products anywhere in the pagerank + schedule chain
    // (the node-count attach is a broadcast nested loop over ONE row)
    assert(!plan.contains("CartesianProduct"), plan)
    // the FRONTIER pays exactly two exchanges — the url-keyed rank
    // join (SMJ: the rank table is URL-cardinality at web scale, so
    // the generic co-partitioned join is the right shape) and the
    // per-host ordinal window; every other exchange belongs to the
    // rank-table side, bounded by pagerank's fixed 3 iterations
    // (~5 per iteration over the link graph). The ceiling pins that
    // bound — a regression that re-shuffles the frontier per
    // iteration would blow far past it.
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n <= 20, s"exchange count grew past the pagerank+window budget ($n):\n$plan")
  }

  test("parent join scans prune columns") {
    val df   = Queries.factPopulateParent(spark, sf("sf0.001"))
    val plan = explainOf(df)
    // the orders scan must not read o_totalprice (unused by the line fact)
    val ordersSchema = plan.linesIterator.filter(_.contains("orders.parquet")).mkString
    assert(!plan.contains("o_totalprice") || !ordersSchema.contains("o_totalprice"), plan)
  }

  test("minhash signatures and simhash are scan-local (zero exchanges)") {
    val docs = sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
    val sigs = graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text")
    assert(!sigs.queryExecution.executedPlan.toString.contains("Exchange"),
      "signatures are a pure per-doc function; they must not shuffle")
    val sh = graft.operators.Dedup.simhash(docs, "doc_id", "text")
    assert(!sh.queryExecution.executedPlan.toString.contains("Exchange"),
      "simhash is a pure per-doc function; it must not shuffle")
  }

  test("unpartitioned windows run over provably bounded inputs") {
    import org.apache.spark.sql.functions.col
    // WindowExec warns (benignly) on any global window; these three are
    // the library's only unpartitioned-window sites, each bounded by a
    // construct BELOW the window in the plan. Bench silences the
    // warning logger on the strength of exactly these pins.
    // 1. term-freq rank: the window input is the TakeOrdered top-100
    val tfPlan = QueriesExt.textTermFreq(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(tfPlan.contains("TakeOrderedAndProject(limit=100"),
      s"term-freq global rank must sit above a limit-100 TakeOrdered:\n$tfPlan")
    // 2. skew diagnose: limit-then-rank — the global window sees ≤ topK
    // rows, never the distinct-key set
    val events = sources.ParquetTables.readTable(spark, sf("sf0.001"), "events")
    val diag = graft.exec.Skew.diagnose(events, "user_id", topK = 3, parallelism = 32)
    val diagPlan = diag.queryExecution.executedPlan.toString
    assert(diagPlan.contains("TakeOrderedAndProject(limit=3"),
      s"skew top-k global rank must sit above a limit-topK TakeOrdered:\n$diagPlan")
    assert(diag.count() == 3)
    // limit-then-rank must equal rank-then-filter (same total order):
    // the heaviest key's rank-1 row survives with an exact ppm share
    val top = diag.orderBy(col("rank")).collect()
    assert(top.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    // 3. PPS offsets: the global prefix-sum window runs over the
    // per-partition totals — grouped by spark_partition_id, ≤ the
    // range-partition count by construction
    val pps = graft.operators.Sampling.weightedSystematic(
      sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
        .select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", 50, partitions = 8)
    val ppsPlan = pps.queryExecution.executedPlan.toString
    // offsets attach by broadcast on the per-partition id: the window's
    // input is the __pid-keyed aggregate, ≤ |range partitions| rows
    assert(ppsPlan.contains("BroadcastHashJoin [__pid"),
      s"PPS offsets must broadcast-join per-partition totals:\n$ppsPlan")
    val optimized = pps.queryExecution.optimizedPlan.toString
    assert(optimized.contains("SPARK_PARTITION_ID") ||
        optimized.toLowerCase.contains("spark_partition_id"),
      s"PPS partition totals must key on spark_partition_id:\n$optimized")
  }

  test("frame sampling keeps the scan's parallelism (no exchange, no coalesce-to-1)") {
    val frames = QueriesExt.multimodalFrames(spark, sf("sf0.001"))
    val plan = frames.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "frame fan-out must be partition-local:\n" + plan)
    assert(!plan.contains("Coalesce"), "frame fan-out must not collapse partitions:\n" + plan)
  }

  test("stored-ANN encode paths are scan-local (no exchange); the unigram DP never shuffles the corpus") {
    import spark.implicits._
    import graft.operators.{AnnIndex, Unigram}
    val dim = 8
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val emb = (0L until 24L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val cents = AnnIndex.trainIvf(emb, "vec_id", "embedding", nCells = 4)
    val encIvf = AnnIndex.encode(AnnIndex.load(centroids = Some(cents)), emb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!encIvf.contains("Exchange"),
      s"IVF encoding must be scan-local (model rides the closure):\n$encIvf")
    val books = AnnIndex.trainPq(emb, "vec_id", "embedding", m = 4, kCodes = 4)
    val encPq = AnnIndex.encode(AnnIndex.load(codebooks = Some(books)), emb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!encPq.contains("Exchange"),
      s"PQ encoding must be scan-local:\n$encPq")
    // composed IVF-PQ: cell assignment + residual codes in ONE scan
    // (both models ride the UDF closures — no shuffle, no join)
    val cents2 = AnnIndex.trainIvf(emb, "vec_id", "embedding", nCells = 4)
    val rbooks = AnnIndex.trainIvfPq(emb, "vec_id", "embedding", cents2, m = 4, kCodes = 4)
    val encIvfPq = AnnIndex.encode(AnnIndex.load(centroids = Some(cents2), codebooks = Some(rbooks)),
      emb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!encIvfPq.contains("Exchange"),
      s"IVF-PQ encoding must be scan-local:\n$encIvfPq")
    // unigram tokenization: vocabulary broadcasts into the DP — the
    // doc scan itself pays no exchange
    val docs = Seq((1L, "the cat sat")).toDF("doc_id", "text")
    val vocab = Unigram.trainVocab(docs, "text", rounds = 1,
      keepSchedule = Seq(4), maxPieceLen = 3, minCount = 1, seedSize = 8)
    val tok = Unigram.tokenizeWith(docs, "doc_id", "text", vocab, 3)
      .queryExecution.executedPlan.toString
    assert(!tok.contains("Exchange"),
      s"unigram tokenization must be scan-local:\n$tok")
  }

  test("stored-IVF query prunes the postings scan to the probed cells (partition filters, not a full index read)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnIndex
    val dim = 8
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val emb = (0L until 48L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-ivf").toString
    val model = AnnIndex.load(centroids =
      Some(AnnIndex.trainIvf(emb, "vec_id", "embedding", nCells = 8)))
    AnnIndex.encode(model, emb, "vec_id", "embedding")
      .write.partitionBy("cell").parquet(s"$dir/postings")
    val out = AnnIndex.search(model, None, emb.filter(col("vec_id") < 2),
      spark.read.parquet(s"$dir/postings"), "vec_id", "embedding", k = 3, nProbe = 2)
    val plan = out.queryExecution.executedPlan.toString
    // the postings FileScan must carry a cell partition filter (the
    // probed-cell IN list), so unprobed partitions are never read
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("postings")).getOrElse(
      fail(s"no postings FileScan in plan:\n$plan"))
    assert(scanLine.contains("PartitionFilters: [") &&
      scanLine.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
        .contains("cell"),
      s"postings scan must prune on the probed cells:\n$scanLine")
    // and the pruned path still answers (correctness of the filter is
    // pinned bitwise in SimilaritySpec)
    assert(out.count() > 0)
  }

  test("stored-IVF-SQ8 query prunes the codes scan to the probed cells (partition filters on the quantized postings)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnIndex
    val dim = 8
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val emb = (0L until 48L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-ivfsq").toString
    val model = AnnIndex.load(centroids =
      Some(AnnIndex.trainIvf(emb, "vec_id", "embedding", nCells = 8)), sq8 = true)
    AnnIndex.encode(model, emb, "vec_id", "embedding")
      .write.partitionBy("cell").parquet(s"$dir/codes")
    val out = AnnIndex.search(model, Some(emb), emb.filter(col("vec_id") < 2),
      spark.read.parquet(s"$dir/codes"), "vec_id", "embedding", k = 3, nProbe = 2, shortlist = 8)
    val plan = out.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("codes")).getOrElse(
      fail(s"no codes FileScan in plan:\n$plan"))
    assert(scanLine.contains("PartitionFilters: [") &&
      scanLine.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
        .contains("cell"),
      s"codes scan must prune on the probed cells:\n$scanLine")
    assert(out.count() > 0)
  }

  test("MAINTAINED lifecycle store: the two-level (cell, bucket) layout partition-prunes stored queries on their probed cells") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{AnnIndex, AnnLifecycle}
    val dim = 8
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val emb = (0L until 48L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val state = java.nio.file.Files.createTempDirectory("graft-plan-lc").toString
    AnnLifecycle.maintainNight(emb, "vec_id", "embedding", state,
      nCells = 8, m = 4, kCodes = 8, buckets = 4)
    val idx = s"$state/${AnnLifecycle.IndexDirName}"
    val out = AnnIndex.search(AnnLifecycle.liveModel(spark, idx), Some(emb),
      emb.filter(col("vec_id") < 2), AnnLifecycle.liveCodes(spark, idx),
      "vec_id", "embedding", k = 3, nProbe = 2, shortlist = 8)
    val plan = out.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("codes")).getOrElse(
      fail(s"no codes FileScan in plan:\n$plan"))
    assert(scanLine.contains("PartitionFilters: [") &&
      scanLine.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
        .contains("cell"),
      s"the maintained codes scan must prune on the probed cells:\n$scanLine")
    assert(out.count() > 0)
  }

  test("stored-IVF-PQ query prunes the codes scan to the probed cells (partition filters on the composed index)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnIndex
    val dim = 8
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val emb = (0L until 48L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-ivfpq").toString
    val cents = AnnIndex.trainIvf(emb, "vec_id", "embedding", nCells = 8)
    val books = AnnIndex.trainIvfPq(emb, "vec_id", "embedding", cents, m = 4, kCodes = 8)
    val model = AnnIndex.load(centroids = Some(cents), codebooks = Some(books))
    AnnIndex.encode(model, emb, "vec_id", "embedding")
      .write.partitionBy("cell").parquet(s"$dir/codes")
    val out = AnnIndex.search(model, Some(emb), emb.filter(col("vec_id") < 2),
      spark.read.parquet(s"$dir/codes"), "vec_id", "embedding", k = 3, nProbe = 2, shortlist = 8)
    val plan = out.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("codes")).getOrElse(
      fail(s"no codes FileScan in plan:\n$plan"))
    assert(scanLine.contains("PartitionFilters: [") &&
      scanLine.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
        .contains("cell"),
      s"codes scan must prune on the probed cells:\n$scanLine")
    assert(out.count() > 0)
  }
}
