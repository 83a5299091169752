package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON metrics line.
  *
  * The set is the scalable paths of each operator family; the
  * O(n^2)-by-construction oracle variants (exact-sum relational knn /
  * all-pairs cosine) are correctness-gate-only and excluded here —
  * their scalable counterparts (fold-based brute knn, LSH) are what a
  * cluster would run.
  */
object Bench {

  private[graft] def headline: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dim_populate_full"         -> (Queries.dimPopulateFull _),
    "dim_populate_incremental"  -> (Queries.dimPopulateIncremental _),
    "fact_populate_full"        -> (Queries.factPopulateFull _),
    "fact_populate_incremental" -> (Queries.factPopulateIncremental _),
    "fact_populate_parent"      -> (Queries.factPopulateParent _),
    // same populate over pre-bucketed sources: the amortized steady
    // state (co-location written once in the warm pass, reused after)
    "fact_populate_parent_bucketed" -> (Queries.factPopulateParentBucketed _),
    // nightly-load maintenance: delta folded into the maintained rollup
    "fact_rollup_incremental"   -> (Queries.factRollupIncremental _),
    "agg_count_distinct_exact"  -> (Queries.aggCountDistinctExact _),
    // production sketch shape (no exact-distinct oracle companion)
    "sketch_count_distinct"     -> (Queries.sketchCountDistinctBench _),
    "sketch_rolling_distinct"   -> (Queries.sketchRollingDistinct _),
    "text_stats"                -> (QueriesExt.textStats _),
    "text_chunks"               -> (QueriesExt.textChunks _),
    "decon_ngram_overlap"       -> (QueriesExt.deconNgramOverlap _),
    "decon_bloom_clean"         -> (QueriesExt.deconBloomClean _),
    // paraphrase contamination: broadcast-array benchmark, scan-local fold
    "decon_semantic"            -> (QueriesExt.deconSemanticBench _),
    "text_heavy_hitters"        -> (QueriesExt.textHeavyHitters _),
    "events_sessionize"         -> (QueriesEvents.eventsSessionize _),
    "events_sessionize_incremental" -> (QueriesEvents.eventsSessionizeIncremental _),
    "events_attribution"        -> (QueriesEvents.eventsAttribution _),
    // linear FIFO-walk form (no pair space) — the production shape
    "events_attribution_walk"   -> (QueriesEvents.eventsAttributionWalk _),
    "events_asof_join"          -> (QueriesEvents.eventsAsofJoin _),
    "events_asof_tolerance"     -> (QueriesEvents.eventsAsofTolerance _),
    "events_asof_forward"       -> (QueriesEvents.eventsAsofForward _),
    "events_cube"               -> (QueriesEvents.eventsCube _),
    "events_debounce"           -> (QueriesEvents.eventsDebounce _),
    "events_paths"              -> (QueriesEvents.eventsPaths _),
    "events_anomaly"            -> (QueriesEvents.eventsAnomaly _),
    "events_interval_join"      -> (QueriesEvents.eventsIntervalJoin _),
    "events_conversion"         -> (QueriesEvents.eventsConversion _),
    "dim_scd2_history"          -> (QueriesEvents.dimScd2History _),
    "dim_scd2_incremental"      -> (QueriesEvents.dimScd2Incremental _),
    "events_zorder"             -> (QueriesEvents.eventsZorder _),
    "events_props_typed"        -> (QueriesEvents.eventsPropsTyped _),
    "events_histogram"          -> (QueriesEvents.eventsHistogram _),
    "dim_merge_latest"          -> (QueriesEvents.dimMergeLatest _),
    "embed_quantize"            -> (QueriesExt.embedQuantize _),
    "events_funnel"             -> (QueriesEvents.eventsFunnel _),
    // product-analytics family (r4): regressions here must be visible
    // to the driver, not just to specs
    "events_retention"          -> (QueriesEvents.eventsRetention _),
    "events_pivot"              -> (QueriesEvents.eventsPivot _),
    "events_rolling"            -> (QueriesEvents.eventsRolling _),
    "events_transitions"        -> (QueriesEvents.eventsTransitions _),
    "events_pagerank"           -> (QueriesEvents.eventsPagerank _),
    "events_twa"                -> (QueriesEvents.eventsTwa _),
    "events_gapfill"            -> (QueriesEvents.eventsGapfill _),
    "events_winsorize"          -> (QueriesEvents.eventsWinsorize _),
    "events_histogram_equidepth" -> (QueriesEvents.eventsHistogramEquidepth _),
    "dim_snapshot_diff"         -> (QueriesEvents.dimSnapshotDiff _),
    "audit_referential"         -> (Queries.auditReferential _),
    "skew_diagnose"             -> (Queries.skewDiagnose _),
    "events_topk"               -> (QueriesEvents.eventsTopk _),
    // production percentile shape (bounded sketch, no exact companion)
    "events_percentiles_approx" -> (QueriesEvents.eventsPercentilesApproxBench _),
    "sample_stratified"         -> (QueriesExt.sampleStratified _),
    "sample_domain_mix"         -> (QueriesExt.sampleDomainMix _),
    "sample_weighted"           -> (QueriesExt.sampleWeighted _),
    "text_tfidf"                -> (QueriesExt.textTfidf _),
    "text_pack"                 -> (QueriesExt.textPack _),
    // concat-and-split token-budget packing (closed-form cuts)
    "text_pack_budget"          -> (QueriesExt.textPackBudget _),
    "text_curate"               -> (QueriesExt.textCurate _),
    // regex-only HTML main-content extraction (crawl first step)
    "text_extract_html"         -> (QueriesExt.textExtractHtml _),
    // Content-Length-accounted WARC record split + HTTP body
    "warc_extract"              -> (QueriesExt.warcExtract _),
    // byte-exact .warc.gz path: per-record gzip members + binary slices
    "warc_extract_binary"       -> (QueriesExt.warcExtractBinary _),
    // charset-honoring byte decode (latin-1, chunked-UTF8 reassembly)
    "warc_charset_body"         -> (QueriesExt.warcCharsetBody _),
    // archival-dedup revisit records: render + member framing + parse
    "warc_revisit"              -> (QueriesExt.warcRevisit _),
    // RFC 9309 robots URL admission (broadcast rules, scan-local match)
    "crawl_robots_filter"       -> (QueriesExt.crawlRobotsFilter _),
    // outlink extraction + RFC 3986 resolution (regexp-chain load)
    "crawl_extract_links"       -> (QueriesExt.crawlExtractLinks _),
    // freshness scheduling: declared-key join + scan-local due CASE
    "crawl_recrawl_due"         -> (QueriesExt.crawlRecrawlDue _),
    // PageRank-prioritized politeness schedule (3 integer iterations +
    // rank join + per-host window)
    "crawl_schedule_ranked"     -> (QueriesExt.crawlScheduleRanked _),
    // post-fetch fingerprint change detection (url-keyed join + CASE)
    "crawl_change_detect"       -> (QueriesExt.crawlChangeDetect _),
    // adaptive revisit backoff (streak-scaled aged rule)
    "crawl_recrawl_adaptive"    -> (QueriesExt.crawlRecrawlAdaptive _),
    // named-<meta> extraction regex chain (snippets + freshness signals)
    "crawl_page_meta"           -> (QueriesExt.crawlPageMeta _),
    "text_lm_score"             -> (QueriesExt.textLmScore _),
    "table_profile"             -> (QueriesExt.tableProfile _),
    // production approx-distinct profile (no exact companion)
    "table_profile_approx"      -> (QueriesExt.tableProfileApproxBench _),
    "table_moments"             -> (QueriesExt.tableMoments _),
    "dedup_exact"               -> (QueriesExt.dedupExact _),
    "dedup_incremental"         -> (QueriesExt.dedupIncremental _),
    "text_postings"             -> (QueriesExt.textPostings _),
    "dedup_minhash_lsh"         -> (QueriesExt.dedupMinhashLsh _),
    "dedup_simhash"             -> (QueriesExt.dedupSimhash _),
    // CCNet-style line dedup + deterministic shuffle (r7)
    "text_line_dedup"           -> (QueriesExt.textLineDedup _),
    "sample_shuffle_shards"     -> (QueriesExt.sampleShuffleShards _),
    "text_cooccurrence"         -> (QueriesExt.textCooccurrence _),
    "graph_kcore"               -> (QueriesExt.graphKcore _),
    "graph_labelprop"           -> (QueriesExt.graphLabelprop _),
    "embed_knn_fold" -> ((s: SparkSession, dir: String) => {
      val e = sources.ParquetTables.readTable(s, dir, "embeddings")
      operators.Similarity.knnBrute(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),
    "embed_knn_lsh"     -> (QueriesExt.embedKnnLsh _),
    "embed_knn_ivf"     -> (QueriesExt.embedKnnIvf _),
    "embed_knn_quantized" -> (QueriesExt.embedKnnQuantized _),
    // product-quantized ANN (8-byte codes + per-query ADC tables)
    "embed_knn_pq"      -> (QueriesExt.embedKnnPq _),
    // stored-index workflow: train + persist + reload + query
    "embed_knn_ivf_stored" -> (QueriesExt.embedKnnIvfStoredRaw _),
    // composed IVF-PQ: probe-pruned codes partitions + residual ADC
    "embed_knn_ivfpq_stored" -> (QueriesExt.embedKnnIvfPqStoredRaw _),
    "multimodal_decode" -> (QueriesExt.multimodalDecode _),
    // perceptual media near-dup: decode + dHash + hamming banding
    "multimodal_neardup" -> (QueriesExt.multimodalNeardup _),
    // real WAV decode + per-window energy
    "multimodal_audio_energy" -> (QueriesExt.multimodalAudioEnergy _),
    // perceptual audio near-dup: fingerprint both sides + banding
    "multimodal_audio_neardup" -> (QueriesExt.multimodalAudioNeardup _),
    // video near-dup: demux + per-frame dHash + shared-hash blocking
    "multimodal_video_neardup" -> (QueriesExt.multimodalVideoNeardup _),
    // trained profile classifier: train + predict, fixed-point argmax
    "text_classify_profile" -> (QueriesExt.textClassifyProfile _),
    // char-trigram lang-ID (train + fixed-point nearest-profile score)
    "text_langid_ngram"     -> (QueriesExt.textLangidNgram _),
    // r6: codegen'd scan-local embedding transforms + token budgeting
    "embed_kmeans_assign"     -> (QueriesExt.embedKmeansAssign _),
    "embed_random_projection" -> (QueriesExt.embedRandomProjection _),
    "embed_knn_projected"     -> (QueriesExt.embedKnnProjected _),
    "text_token_estimate"     -> (QueriesExt.textTokenEstimate _),
    // corpus-learned BPE: 8 training rounds + scan-local tokenization
    "text_bpe_tokenize"       -> (QueriesExt.textBpeTokenize _),
    // deep-vocabulary BPE: ONE distributed word-count pass + 4,096
    // merges trained driver-side (the trainMergesLocal fast path)
    "text_bpe_vocab4k"        -> (QueriesExt.textBpeVocab4k _),
    // deep-vocabulary tokenization: the vocabulary-independent RANKED
    // encoder against the 4k vocab (fold would pay 4096 passes/word)
    "text_bpe_tokenize4k"     -> (QueriesExt.textBpeTokenize4k _),
    // production tokenizer regime: 4,096 merges over the UTF-8 byte
    // alphabet (the GPT-2/Llama id-space shape)
    "text_bpe_bytes_vocab4k"  -> (QueriesExt.textBpeBytesVocab4k _),
    // unigram-LM (SentencePiece-family): 3 hard-EM rounds + Viterbi
    "text_unigram_tokenize"   -> (QueriesExt.textUnigramTokenize _),
    "table_expectations"      -> (QueriesExt.tableExpectations _),
    "graph_triangles"         -> (QueriesEvents.graphTriangles _),
    "dedup_jaccard_prefix"    -> (QueriesExt.dedupJaccardPrefix _),
    // r7 heavy-tail shapes: the production-θ prefix regime and the
    // production iteration count with lineage checkpointing
    "dedup_jaccard_prefix_t08" -> (QueriesExt.dedupJaccardPrefixT08 _),
    "events_pagerank10"       -> (QueriesEvents.eventsPagerank10 _),
    "text_dup_spans"          -> (QueriesExt.textDupSpans _),
    // Lee et al. span REMOVAL: coverage window + in-order rebuild
    "text_dup_spans_remove"   -> (QueriesExt.textDupSpansRemove _),
    // production SemDeDup shape (codegen array dots; the
    // decimal-explode form is the oracle-exact gate companion)
    "embed_semdedup"          -> (QueriesExt.embedSemdedupBench _),
    "text_diversity"          -> (QueriesExt.textDiversity _),
    // winnowing: scan-local MOSS fingerprints + shared-fp pair join
    "dedup_winnow_pairs"      -> (QueriesExt.dedupWinnowPairs _),
    "events_robust_z"         -> (QueriesEvents.eventsRobustZ _),
    "sketch_intersection"     -> (Queries.sketchIntersection _),
    "sample_quantile_strata"  -> (QueriesExt.sampleQuantileStrata _)
  )

  /** The DOCUMENTED bench exclusion list — gates that run in verify
    * but not in the timed sweep. Criterion: a correctness-oracle
    * companion whose cost is O(n²·dim) decimal arithmetic BY
    * CONSTRUCTION and whose production counterpart IS benched.
    * `embed_cosine_neardup` is the exact all-pairs cosine (the
    * near-dup oracle): at the sf0.1 fixture's 2,000 × 64-dim
    * embeddings its per-dimension self-join aggregates 128M rows
    * through precision-30 decimal sums (each a BigDecimal
    * allocate-add — the [[graft.functions.SumProduct128]] scaladoc's
    * measured pathology), ~220s/run that would dominate the whole
    * record; its scale path `cosineNearDupPairsLsh` (banded sign-LSH
    * + exact verify) and the production `embed_semdedup` shape are
    * benched. Every OTHER exact companion (exact-sum knn, the
    * `_verified` soundness unions) stays in: they bound the pair
    * space by the 10-query probe set and time in seconds. */
  private[graft] val benchExcluded: Set[String] = Set("embed_cosine_neardup")

  /** Every gate in [[SparkEntry.queries]] not already covered by a
    * curated headline entry (minus [[benchExcluded]]), in name order —
    * the bench tracks the FULL registry, so a regression in ANY gated
    * operator surfaces as a timed row, not just a slow verify.
    * Headline entries stay hand-curated (several swap the
    * oracle-exact gate body for its production bench variant:
    * sketch/approx shapes), and this section auto-grows as gates are
    * added — a new gate can never be silently unbenched without a
    * [[benchExcluded]] entry stating why. */
  private[graft] def coverage: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val covered = headline.map(_._1).toSet ++ benchExcluded
    SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => covered(q._1))
  }

  /** The full bench suite: curated headline order first (comparison
    * continuity with earlier rounds' records), then the registry
    * remainder. */
  private[graft] def suite: Seq[(String, (SparkSession, String) => DataFrame)] =
    headline ++ coverage

  /** Cumulative CPU time of THIS JVM across all threads, seconds.
    * Under external machine load, wall-clock inflates while process CPU
    * stays put — emitting both makes the bench self-adjudicating: a
    * wall regression with flat cpu_s is contention, not a plan change.
    */
  private def processCpuSec: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = os.getProcessCpuTime
        if (t < 0) -1.0 else t / 1e9
      case _ => -1.0
    }

  /** Cumulative stop-the-world GC time of this JVM, seconds. Taken as
    * a delta across the timed window, gc_s / wall_s is the fraction of
    * the run spent collecting — the memory-pressure signal the three
    * loadavg triggers can't see (the r12 driver record burned 1.4× the
    * builder's CPU on identical code with all three flags quiet; that
    * is GC, not ambient load).
    */
  private def gcTimeSec: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  /** Peak heap occupancy (MiB) across all heap pools since JVM start —
    * the companion signal: a high gc_frac with peak near -Xmx is
    * undersized heap; high gc_frac with low peak is allocation churn.
    */
  private def peakHeapMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum / 1048576.0
  }

  /** 1/5/15-min machine load at a point in time (whole machine, not
    * just this JVM) — the other half of the adjudication signal.
    */
  private def loadavg: String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(" ")
      finally src.close()
    } catch { case _: Throwable => "" }

  /** The honesty-flag rule, extracted for its own spec (the r10 false
    * negative — loadavg climbing 1.92 → 4.05 mid-run under a `false`
    * flag — must trip a synthetic replay of itself). See the call
    * site's comment for the three triggers' rationale. */
  private[graft] def distortedFlag(
      prelaunch: String, jvmStart: String, start: String, end: String,
      cpus: Double, totalMed: Double, totalMin: Double,
      gcFrac: Double = 0.0): Boolean = {
    def load1(s: String): Option[Double] =
      s.split("\\s+").headOption.flatMap(_.toDoubleOption)
    val startDistorted =
      load1(Seq(prelaunch, jvmStart).find(_.nonEmpty).getOrElse(start))
        .exists(_ > cpus / 16.0)
    val endDistorted = load1(end).exists(_ > cpus / 4.0)
    val divergence = totalMin > 0 && totalMed / totalMin > 1.25
    // Fourth trigger (r12 false negative): GC/memory pressure inflates
    // wall AND cpu together, so loadavg and med/min divergence both
    // stay quiet. A healthy run here spends <5% of wall in GC
    // (measured ~1-3% on clean local records); past 10% the timings
    // measure the collector, not the plan.
    val gcPressure = gcFrac > GcFracThreshold
    startDistorted || endDistorted || divergence || gcPressure
  }

  /** Pinned gc_frac honesty threshold (see distortedFlag). */
  private[graft] val GcFracThreshold = 0.10

  /** Bounded prelaunch idle-wait (r14 verdict: ambient driver-machine
    * load vetoed two consecutive otherwise-clean records). Polls the
    * 1-min loadavg until it drops below `threshold` (the distortedFlag
    * START trigger, cpus/16) or `budgetMs` expires. Returns
    * (waited seconds, reached idle). Injectable reader/sleeper so
    * BenchFlagSpec can pin both outcomes without real sleeps. The
    * first reading is taken BEFORE any sleep, so an already-idle
    * machine waits zero. */
  private[graft] def waitForIdle(
      threshold: Double, budgetMs: Long, pollMs: Long,
      read: () => Option[Double],
      sleep: Long => Unit = Thread.sleep): (Double, Boolean) = {
    require(threshold > 0 && budgetMs >= 0 && pollMs > 0,
      s"waitForIdle: bad parameters ($threshold, $budgetMs, $pollMs)")
    // an unreadable loadavg (non-Linux) counts as idle: the flag logic
    // downstream degrades the same way and must not spin the budget.
    // "idle" mirrors distortedFlag's START trigger exactly (it trips
    // on load > threshold, so load == threshold is clean): a reading
    // the flag would not veto must not burn the wait budget either.
    var waited = 0L
    def isIdle: Boolean = read().forall(_ <= threshold)
    var idle = isIdle
    while (!idle && waited < budgetMs) {
      val step = math.min(pollMs, budgetMs - waited)
      sleep(step)
      waited += step
      idle = isIdle
    }
    (waited / 1000.0, idle)
  }

  /** Per-ROW contention attribution: entries whose median ran more
    * than 2× their own min are individually load-distorted — the
    * med/min divergence signal at row grain, so a contended window
    * triages to the specific entries it inflated instead of reading
    * as a plan regression (the r13 `text_dup_spans` false alarm:
    * 4.15s median vs 0.93s min under a flagged record). The 0.2s
    * floor keeps sub-rep-resolution noise out of the list. */
  private[graft] def distortedRows(results: Seq[(String, Timing)]): Seq[String] =
    results.collect {
      case (n, t) if t.wallMin > 0 && t.wallMed >= 0.2 &&
        t.wallMed / t.wallMin > 2.0 => n
    }

  /** Per-query bench timings: wall median-of-reps, wall min, cpu_s of
    * the median run, 1-min loadavg after the reps, gc_s across the
    * reps. A failed query carries -1.0 sentinels in every field. */
  private[graft] case class Timing(wallMed: Double, wallMin: Double,
      cpuMed: Double, load1: Double, gcS: Double)
  private[graft] val FailedTiming = Timing(-1.0, -1.0, -1.0, -1.0, -1.0)

  /** Runs the suite: warm pass + `reps` timed runs per query, median/
    * min/cpu/gc recorded. Returns (per-query timings in suite order,
    * failures in failure order with their first exception message).
    * Extracted from main so BenchFlagSpec can pin the failure-honesty
    * path with a synthetic failing query — the r12 `64104ec` record
    * silently excluded 17 crashed queries from a "clean" total.
    */
  private[graft] def measureSuite(
      spark: SparkSession, sfDir: String,
      suite: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int = 3): (Seq[(String, Timing)], Seq[(String, String)]) = {
    def run(fn: (SparkSession, String) => DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    def load1Now: Double =
      loadavg.split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = suite.map { case (name, fn) =>
      try {
        run(fn) // untimed warm pass: codegen + JIT compile
        // median of reps timed runs (BASELINE.md protocol) — single-
        // shot numbers at this scale swing +/-30% on JIT/GC noise
        val g0 = gcTimeSec
        val runs = (1 to reps).map { _ =>
          val c0 = processCpuSec
          val t0 = System.nanoTime()
          run(fn)
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu  = if (c0 < 0) -1.0 else processCpuSec - c0
          (wall, cpu)
        }.sortBy(_._1)
        val med = runs(runs.size / 2)
        // 1-min loadavg right after this query's reps — per-query
        // contention attribution in the detail record
        name -> Timing(med._1, runs.head._1, med._2, load1Now, gcTimeSec - g0)
      } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          System.err.println(s"[bench] FAILED $name — $msg")
          failures += name -> msg
          name -> FailedTiming
      }
    }
    (results, failures.toSeq)
  }

  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** The partial-record JSON fragment: any failure marks the record
    * partial, names every failed query, and keeps the first exception
    * message. Pinned in BenchFlagSpec. */
  private[graft] def failuresJson(failures: Seq[(String, String)]): String =
    s""""partial":${failures.nonEmpty},"queries_failed":${failures.size},""" +
      s""""failed_names":${failures.map(f => jstr(f._1)).mkString("[", ",", "]")},""" +
      s""""first_failure":${failures.headOption.map(kv => jstr(s"${kv._1}: ${kv._2}")).getOrElse("\"\"")}"""

  def main(args: Array[String]): Unit = {
    // loadavg at JVM ENTRY — before Spark init, codegen warmup, and the
    // timed queries — so a record distorted only by the bench's own
    // startup is distinguishable from ambient contention. Three of four
    // driver records tripped the honesty flag on a loadavg read taken
    // AFTER sbt's compile warmup; this reading ends that ambiguity.
    // SPARK_GRAFT_LOADAVG0 goes one step further: a wrapper can pass
    // the loadavg from BEFORE sbt itself launched, e.g.
    //   SPARK_GRAFT_LOADAVG0="$(cut -d' ' -f1-3 /proc/loadavg)" sbt ...
    val loadPrelaunch = sys.env.getOrElse("SPARK_GRAFT_LOADAVG0", "")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = GraftSession.cpus
    // Bounded idle-wait BEFORE the honesty readings: ambient machine
    // load (sbt compile tails, a co-scheduled verify) vetoed two
    // consecutive otherwise-clean driver records via the START trigger.
    // Wait until the 1-min loadavg drops under cpus/16 (the trigger
    // threshold) or the budget expires — either way the outcome is in
    // the record, so a flagged start is now "still loaded after Ns",
    // never "launched into a transient".
    val idleBudgetS = sys.env.get("SPARK_GRAFT_IDLE_WAIT_S")
      .flatMap(_.toIntOption).getOrElse(240)
    val (idleWaitedS, idleReached) = waitForIdle(
      threshold = cpus.toDouble / 16.0, budgetMs = idleBudgetS * 1000L,
      pollMs = 5000L,
      read = () => loadavg.split("\\s+").headOption.flatMap(_.toDoubleOption))
    if (idleWaitedS > 0)
      System.err.println(
        f"[bench] idle-wait: ${idleWaitedS}%.0fs (reached idle: $idleReached)")
    // loadavg at JVM entry is read AFTER the idle-wait — it is the
    // honesty signal for the run that is about to start, and waiting
    // out a transient is exactly what makes it meaningful. A PRELAUNCH
    // reading taken before sbt launched is likewise superseded when
    // the wait reached idle: it would veto a run the machine has since
    // gone quiet for. It stays in the record verbatim either way.
    val loadJvmStart = loadavg
    val prelaunchForFlag = if (idleReached) "" else loadPrelaunch
    // session settings, and the configs measured and rejected for it,
    // live in GraftSession
    val spark = GraftSession.create()
    // The remaining bounded global windows (term-freq rank over a
    // limit(100), skew top-k over a limit(topK), PPS offsets over
    // ≤|partitions| rows) each trip WindowExec's benign
    // "No Partition Defined" warning once per fresh plan — ~70% of
    // bench stderr was this single line, crowding the 2,000-char tail
    // the driver parses for the JSON summary. The input bounds are
    // PlanSpec-pinned; silence just this logger here.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)

    // warm up Spark machinery (scheduler, codegen pipeline, parquet
    // reader) so the first timed query does not absorb session startup;
    // BASELINE.md's protocol excludes JVM startup
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    sources.ParquetTables.readTable(spark, sfDir, "nation")
      .write.format("noop").mode("overwrite").save()

    val loadStart = loadavg
    val cpuStart  = processCpuSec
    val gcStart   = gcTimeSec
    val wallStart = System.nanoTime()

    // Failure honesty (the r12 `64104ec` lesson: a session death left
    // 17 contiguous -1.0 sentinels in a record titled "clean" — the
    // totals silently excluded them and n_queries counted entries, so
    // the partial record read as a complete fast run). Failures now
    // carry their first exception message, the summary counts
    // SUCCESSES, and any sentinel marks the whole record partial.
    val (results, failures) = measureSuite(spark, sfDir, suite)
    // Bucketed-mode integrity diagnostic: the whole point of
    // fact_populate_parent_bucketed is the missing exchange, so make a
    // silent fallback (catalog miss, failed reuse, disabled bucketed
    // scan) LOUD in the bench output instead of just a slow number.
    // Printed adjacent to the JSON line so log tails keep it.
    try {
      // "Bucketed: true" on the scan is the mode-active marker; exchange
      // counts can't distinguish the modes at bench sf, where the small
      // orders side broadcasts in BOTH plans (at cluster scale it
      // wouldn't — BucketingSpec pins the exchange-free SMJ under
      // forced-SMJ settings).
      val plan = Queries.factPopulateParentBucketed(spark, sfDir)
        .queryExecution.executedPlan.toString
      val active = plan.contains("Bucketed: true")
      System.err.println(
        s"[bench] bucketed parent sources active=$active" +
          (if (!active) " — FALLBACK to plain scans, amortization not measured" else ""))
    } catch {
      case e: Throwable => System.err.println(s"[bench] plan diagnostic failed: ${e.getMessage}")
    }
    val loadEnd   = loadavg
    val cpuTotal  = if (cpuStart < 0) -1.0 else processCpuSec - cpuStart
    val gcTotal   = gcTimeSec - gcStart
    val wallTotal = (System.nanoTime() - wallStart) / 1e9
    val gcFrac    = if (wallTotal > 0) gcTotal / wallTotal else 0.0
    val peakHeap  = peakHeapMb
    // Honesty flag: AMBIENT machine load means the wall times in this
    // record are contention-inflated (r4/r6/r8 driver records all
    // were). Three triggers, any one of which flags the record:
    //  - START: the earliest pre-run reading (prelaunch env if a
    //    wrapper passed it, else JVM entry — the bench's own
    //    sbt/compile/warmup load must not trip it) above cpus/16;
    //  - END: the end-of-run 1-min loadavg above cpus/4. The end
    //    reading unavoidably includes the bench's own query load
    //    (measured ~2.8 on a clean prelaunch-0.09 run), hence the
    //    higher threshold — it catches only HEAVY late contention;
    //  - DIVERGENCE: total-median vs total-min of the same 3 reps.
    //    On an idle machine these agree within ~6%; ambient
    //    contention inflates medians while min survives (until the
    //    contended window outlasts all 3 back-to-back reps). r10's
    //    driver record — loadavg climbing 1.92 → 4.05 MID-RUN,
    //    median 170.0s vs min 98.2s (1.73×), flag stuck false — is
    //    the false negative this term closes; threshold 1.25×.
    // cpu_s stays the load-invariant signal either way, and the
    // detail file stamps a per-query 1-min loadavg so a contended
    // WINDOW is attributable to the specific entries it inflated.
    val loadDistorted = distortedFlag(
      prelaunch = prelaunchForFlag, jvmStart = loadJvmStart, start = loadStart,
      end = loadEnd, cpus = cpus.toDouble,
      totalMed = results.map(_._2.wallMed).filter(_ >= 0).sum,
      totalMin = results.map(_._2.wallMin).filter(_ >= 0).sum,
      gcFrac = gcFrac)

    def jmap(f: Timing => Double): String = results
      .map { case (k, t) => "\"" + k + "\":" + f"${f(t)}%.3f" }
      .mkString("{", ",", "}")
    // failed queries carry a -1.0 sentinel in the per-query maps but
    // must not subtract from the headline totals
    def jtotal(f: Timing => Double): Double =
      results.map(t => f(t._2)).filter(_ >= 0).sum
    val total = jtotal(_.wallMed)
    // partial-record honesty: any failure makes the record PARTIAL —
    // the totals cover only the surviving queries and must never be
    // compared against a complete run's totals
    val nOk      = results.count(_._2.wallMed >= 0)
    val partial  = failures.nonEmpty
    val failJson = failuresJson(failures)
    val gcJson =
      f""""gc_total_s":$gcTotal%.3f,"gc_frac":$gcFrac%.4f,"peak_heap_mb":$peakHeap%.1f"""
    val distortedJson =
      s""""distorted_rows":${distortedRows(results).map(jstr).mkString("[", ",", "]")}"""
    // Full per-query detail (median/min wall + cpu_s per query) goes to
    // a FILE, and the stdout record is a compact summary printed LAST:
    // the driver keeps only a ~2,000-char stdout tail, and r6's single
    // 6,081-char detail line lost its own head there (`parsed: null`,
    // with the surviving CPU map mis-readable as wall regressions).
    // The summary alone fits any tail window; the detail file is
    // committed per round as BENCH_LOCAL.json.
    val detail =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
        f""""total_min":${jtotal(_.wallMin)}%.3f,"cpu_total_s":$cpuTotal%.3f,""" +
        s"""$gcJson,""" +
        s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd",""" +
        s""""loadavg_jvm_start":"$loadJvmStart","loadavg_prelaunch":"$loadPrelaunch",""" +
        f""""idle_wait_s":$idleWaitedS%.1f,"idle_wait_reached":$idleReached,""" +
        s""""load_distorted":$loadDistorted,$distortedJson,""" +
        s"""$failJson,""" +
        s""""queries":${jmap(_.wallMed)},""" +
        s""""queries_min":${jmap(_.wallMin)},""" +
        s""""queries_cpu_s":${jmap(_.cpuMed)},""" +
        s""""queries_gc_s":${jmap(_.gcS)},""" +
        s""""queries_load1":${jmap(_.load1)},""" +
        s""""sf":"$sfDir"}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try Files.write(Paths.get(detailPath), detail.getBytes(StandardCharsets.UTF_8))
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}")
        // stdout fallback BEFORE the summary so the tail still ends
        // with the parseable record
        println(detail)
    }
    // The summary's n_queries counts SUCCESSES (the r12 partial record
    // counted entries and read as complete); failures are loud in both
    // the summary line and stderr.
    if (partial)
      System.err.println(
        s"[bench] PARTIAL RECORD — ${failures.size} of ${results.size} queries " +
          s"failed (first: ${failures.head._1}: ${failures.head._2}); totals " +
          "cover survivors only and are NOT comparable to a complete run")
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
        f""""total_min":${jtotal(_.wallMin)}%.3f,"cpu_total_s":$cpuTotal%.3f,""" +
        s"""$gcJson,""" +
        s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd",""" +
        s""""loadavg_jvm_start":"$loadJvmStart","loadavg_prelaunch":"$loadPrelaunch",""" +
        f""""idle_wait_s":$idleWaitedS%.1f,"idle_wait_reached":$idleReached,""" +
        s""""load_distorted":$loadDistorted,$distortedJson,""" +
        s"""$failJson,""" +
        s""""n_queries":$nOk,"detail":"$detailPath",""" +
        s""""sf":"$sfDir"}""")
    spark.stop()
    // nonzero rc: a partial record must never pass for a clean run in
    // any wrapper that checks exit status (the JSON above is already
    // printed, so tail-parsers still get the flagged record)
    if (partial) sys.exit(3)
  }
}
