package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft main builds (`Cli`,
  * `Verify`, `Bench`, `BenchOne`, `ProfileOne`, `ExplainOne`).
  * `perfbench`'s `TracedCli` mirrors these settings, so a change here
  * is a change to what the refresh benchmark measures. */
object GraftSession {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def create(): SparkSession = {
    val cpus = GraftSession.cpus
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      // NOTE: spark.sql.adaptive.coalescePartitions.parallelismFirst
      // =false (the Spark-docs production recommendation) was measured
      // in the bench and is WORSE at fixture scale (33.8s vs 31.7s total
      // at equal load): with local[32] and fixture-sized shuffles,
      // maximizing parallelism beats fewer-larger partitions. Left at
      // default.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // NOTE: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
      // =true was measured in the bench (r17) and REJECTED: it lets AQE
      // coalesce a persisted mid-size frame to one partition, which
      // then serializes every downstream stage that touches the cache —
      // events_pagerank10's 10 iterations over its persisted edge list
      // went 6.5s → 22.0s in the full-bench A/B. Left at default.
      // Pack small files denser into scan tasks: the default 4 MB
      // open-cost gives every file its own split as soon as files are
      // tiny, so a bucketed maintained store (cell × bucket dirs) scans
      // with one task per file. 128 KB keeps multi-GB production files
      // at one-split-per-128MB while letting small-file stores pack
      // ~32 files per task (r17, measured on the ANN store gates).
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      // NOTE on scan parallelism: the testdata tables are single-file,
      // SINGLE-ROW-GROUP parquet (checked), so their scans are
      // unsplittable 1-task reads regardless of
      // spark.sql.files.maxPartitionBytes — don't bother tuning it for
      // the bench. This is a property of the fixture data; production
      // multi-file tables (and the bucketed source copies, 32 files)
      // scan wide.
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
