package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Kmeans
import MaintainedStore.{BatchCol, BucketCol}

/** Streaming/batch SEMANTIC-dup admission — the maintained-store twin
  * of [[graft.operators.Similarity.semDedup]] [Abbas et al. 2023],
  * completing the admission ladder for embeddings the way
  * [[StreamingNearDup]] did for n-gram text similarity: admit a batch
  * of embedded documents against the corpus seen so far WITHOUT
  * re-clustering or re-pairing the corpus.
  *
  * Store layout under `storeDir`:
  *   - `_graft_semdedup` sidecar: the PINNED centroids (derived once
  *     from the first data seen, deterministic lowest-id rule) plus the
  *     prune parameters — batches assigned against different geometry
  *     must never share a store, so a mismatch fails loudly.
  *   - `seen/` parquet, partitioned by `(bucket = pmod(cluster,
  *     numBuckets), batch)`: EVERY assigned row ever presented
  *     (vid, cluster, vec), admitted or not — the greedy smaller-id
  *     prune judges against all smaller-id cluster members, pruned
  *     ones included, so dropping pruned rows would admit near-dups of
  *     documents that lost earlier.
  *   - `admitted/` parquet, partitioned by batch: this batch's
  *     surviving `(vid, cluster)`.
  *
  * A batch reads only the seen-store buckets its own clusters hash to
  * (partition-pruned), EXCLUDES its own batch id (so a crashed run's
  * partial writes never feed its replay — replay is a pure function of
  * the pre-batch store), prunes batch rows against smaller-id members
  * (prior ∪ in-batch), and dynamically overwrites only its own
  * `(bucket, batch)` partitions — replay rebuilds byte-identical
  * partitions.
  *
  * Equality contract (the [[StreamingNearDup]] append-only shape): a
  * two-batch run equals a full [[graft.operators.Similarity.semDedup]]
  * over the union when (a) batch ids arrive append-only (every batch's
  * ids exceed all prior ids — the greedy rule judges by id order),
  * (b) the first data seen contains the k lowest-id vectors (so the
  * pinned centroids equal the union's lowest-id init), and (c) no
  * cluster crosses `maxCluster` between batches. Violating (c) is the
  * semDedup oversized regime: `failOnOversized` raises in-plan, else
  * the oversized cluster passes through unpruned THIS batch.
  *
  * Scale shape: assignment is scan-local codegen against broadcast
  * centroid literals; the pair space is batch-side only — Σ over
  * touched clusters of |batch ∩ c| × |smaller members of c| — never
  * seen × seen; norms are computed for touched-cluster members only.
  * With the paper's k ~ √N clusters, touched-cluster membership stays
  * bounded. Exact decimal arithmetic matches the full operator
  * bit-for-bit, so equality specs need no tolerance.
  */
object StreamingSemDedup extends MaintainedStore {

  protected val marker = "_graft_semdedup"

  final case class Params(
      numBuckets: Int, k: Int, minCosine: Double,
      maxCluster: Int = 10000, failOnOversized: Boolean = false) {
    // checked here, before initialize or a first batch writes the marker
    MaintainedStore.requireBuckets(numBuckets)
    def encoded: String = s"$numBuckets;$k;$minCosine;$maxCluster"
  }

  // line 1: params; line 2: centroid count + dimension (so a torn read
  // is DETECTABLE, not just unlikely); line 3: the centroids. The
  // write itself is atomic (MaintainedStore temp+rename) — the count line
  // is belt-and-braces against any other source of truncation (a
  // partial copy, a filesystem without atomic rename).
  private def encode(p: Params, cents: Seq[Array[Double]]): String =
    p.encoded + "\n" +
      s"${cents.size} ${cents.headOption.map(_.length).getOrElse(0)}\n" +
      cents.map(_.mkString(",")).mkString(";")

  /** Pinned centroids, or None before the first batch. Fails loudly on
    * a parameter mismatch (failOnOversized is a per-run choice, not
    * store geometry, so it stays out of the check) AND on a centroid
    * list whose count/dimension disagrees with the recorded header —
    * a truncated marker must never silently assign later batches under
    * different geometry. */
  def readCentroids(path: String, p: Params): Option[Seq[Array[Double]]] =
    MaintainedStore.readMarker(path, marker).map { payload =>
      val lines = payload.split("\n", 3)
      require(lines(0) == p.encoded,
        s"semdedup store parameter mismatch for $path: its $marker marker pinned (${lines(0)}), " +
          s"caller passed (${p.encoded}) — mixed geometry corrupts every admission")
      def parseCents(body: String): Seq[Array[Double]] =
        body.split(";").toSeq.filter(_.nonEmpty).map(_.split(",").map(_.toDouble))
      if (lines.length == 2) {
        // LEGACY (pre-header) marker: accept it rather than refusing a
        // healthy store on upgrade — best-effort validation only
        // (homogeneous dimensions); new writes use the headered format
        val cents = parseCents(lines(1))
        require(cents.nonEmpty && cents.map(_.length).distinct.size == 1,
          s"semdedup marker for $path (legacy format) parses inconsistently " +
            s"(${cents.size} centroids, dims " +
            s"${cents.map(_.length).distinct.sorted.mkString("{", ",", "}")}) — " +
            "re-run initialize() over the bootstrap corpus")
        cents
      } else {
        val (n, dim) = scala.util.Try {
          val header = lines(1).split(" ")
          (header(0).toInt, header(1).toInt)
        }.getOrElse(throw new IllegalArgumentException(
          s"semdedup marker for $path has an unparseable centroid header " +
            s"'${lines(1).take(40)}' — a torn write; re-run initialize()"))
        val cents = parseCents(lines(2))
        require(cents.size == n && cents.forall(_.length == dim),
          s"semdedup marker for $path is corrupt: header records $n centroids of " +
            s"dimension $dim but the body parses ${cents.size} of dimensions " +
            s"${cents.map(_.length).distinct.sorted.mkString("{", ",", "}")} — " +
            "a truncated write; re-run initialize() over the bootstrap corpus")
        cents
      }
    }

  private def seenPath(storeDir: String)     = s"$storeDir/seen"
  private def admittedPath(storeDir: String) = s"$storeDir/admitted"

  // explicit schema: survives the cold start (marker but no files)
  private val SeenSchema =
    s"vid BIGINT, cluster INT, vec ARRAY<DOUBLE>, $BucketCol INT, $BatchCol BIGINT"

  /** Bootstrap from an existing corpus (batch -1, already admitted
    * wholesale — the [[StreamingNearDup.initialize]] shape): pins
    * centroids from the corpus' k lowest ids and seeds the seen store. */
  def initialize(
      corpus: DataFrame, idCol: String, vecCol: String,
      storeDir: String, p: Params): Unit = {
    require(corpus.schema(idCol).dataType == org.apache.spark.sql.types.LongType,
      s"StreamingSemDedup requires a BIGINT id column; '$idCol' is " +
        corpus.schema(idCol).dataType.simpleString)
    val cents = Kmeans.initLowestIds(corpus, idCol, vecCol, p.k)
    val assigned = assignedOf(corpus, idCol, vecCol, cents, p)
      .withColumn(BatchCol, lit(-1L))
    MaintainedStore.overwrite(assigned.select(col("vid"), col("cluster"), col(BatchCol)),
      admittedPath(storeDir), BatchCol)
    bootstrap(assigned, seenPath(storeDir), BucketCol, BatchCol)(encode(p, cents), root = storeDir)
  }

  private def assignedOf(
      batch: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Array[Double]], p: Params): DataFrame =
    // scan-local in-projection assignment (the [[StreamingKmeans
    // .batchStats]] pattern — no join back to the vectors)
    batch
      .select(col(idCol).cast("long").as("vid"),
        Kmeans.clusterColumn(col(vecCol), cents).as("cluster"),
        col(vecCol).cast("array<double>").as("vec"))
      .filter(col("cluster").isNotNull)
      .withColumn(BucketCol, pmod(col("cluster"), lit(p.numBuckets)))

  /** Admit one batch. Null-vector rows carry no geometry and are
    * absent from both stores (the semDedup rule — pipeline callers
    * pass them through separately). */
  def applyBatch(
      batch: DataFrame, batchId: Long, idCol: String, vecCol: String,
      storeDir: String, p: Params): Unit = {
    // the marker is checked before an empty batch returns; an absent
    // one is legal here, since the first data seen pins it
    val pinned = readCentroids(storeDir, p)
    if (batch.isEmpty) return
    val cents = pinned.getOrElse {
      // data without a marker = a CRASHED initialize() (it writes the
      // marker last, the NearDup convention): self-pinning from this
      // batch would silently read the bootstrap rows under DIFFERENT
      // geometry — exactly the corruption the marker check exists for
      require(!Files.isDirectory(Paths.get(seenPath(storeDir))),
        s"$storeDir has seen-store data but no _graft_semdedup marker — " +
          "an initialize() crashed mid-write; re-run initialize() over the bootstrap corpus")
      // first data seen: pin centroids deterministically — a replayed
      // first batch re-derives identical geometry, so the marker
      // rewrite is byte-identical
      val c = Kmeans.initLowestIds(batch, idCol, vecCol, p.k)
      require(c.nonEmpty, "semdedup admission: first batch has no non-null vectors")
      writeMarker(storeDir, encode(p, c))
      c
    }
    val assigned = assignedOf(batch, idCol, vecCol, cents, p)
      .persist()
    try {
      val touched = MaintainedStore.touched(assigned, BucketCol)
      if (touched.nonEmpty) {
        // a missing seen store reads as empty, a CORRUPT one fails
        // instead of silently admitting everything
        val prior = MaintainedStore.readTouched(batch.sparkSession, seenPath(storeDir),
            Some(SeenSchema), BucketCol, touched)
          // self-exclusion: a crashed run's partial write of THIS
          // batch must not feed its replay
          .filter(col(BatchCol) =!= batchId)
          .select(col("vid"), col("cluster"), col("vec"))
          .persist()
        try {
          val members = prior.unionByName(assigned.select("vid", "cluster", "vec"))
          val sizes = members.groupBy(col("cluster")).agg(count(lit(1)).as("__cn"))
          val sized =
            if (!p.failOnOversized) sizes
            else sizes.withColumn("__cn",
              when(col("__cn") > p.maxCluster, raise_error(concat(
                lit("semdedup admission: cluster "), col("cluster"), lit(" has "),
                col("__cn"),
                lit(s" members > maxCluster=${p.maxCluster} — raise k (new store) or maxCluster"))))
                .otherwise(col("__cn")))
          val eligible = sized.filter(col("__cn").between(2, p.maxCluster))
            .select(col("cluster"))
          val mPos = members.join(eligible, Seq("cluster"), "left_semi")
            .select(col("vid"), col("cluster"), posexplode(col("vec")).as(Seq("pos", "v")))
          val norms = mPos.groupBy("vid")
            .agg(sum((col("v") * col("v")).cast("decimal(30,15)")).as("n2"))
          // drop candidates are BATCH rows only; the member side spans
          // prior ∪ in-batch smaller ids — exactly the full operator's
          // smaller-id universe under append-only ids
          val aPos = mPos.join(assigned.select(col("vid")), Seq("vid"), "left_semi")
          val dots = aPos.as("a")
            .join(mPos.as("b"),
              col("a.cluster") === col("b.cluster") && col("a.pos") === col("b.pos") &&
                col("a.vid") > col("b.vid"))
            .groupBy(col("a.vid").as("hi"), col("b.vid").as("lo"))
            .agg(sum((col("a.v") * col("b.v")).cast("decimal(30,15)")).as("dot"))
          val pruned = dots
            .join(norms.select(col("vid").as("hi"), col("n2").as("na")), "hi")
            .join(norms.select(col("vid").as("lo"), col("n2").as("nb")), "lo")
            .filter(col("dot").cast("double") /
              (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))) >= p.minCosine)
            .select(col("hi").as("vid")).distinct()
          MaintainedStore.publish(assigned.join(pruned, Seq("vid"), "left_anti")
            .select(col("vid"), col("cluster"))
            .withColumn(BatchCol, lit(batchId)), admittedPath(storeDir), BatchCol)
          MaintainedStore.publish(assigned.withColumn(BatchCol, lit(batchId)),
            seenPath(storeDir), BucketCol, BatchCol)
          // unpersist in finally: the failOnOversized raise (an EXPECTED
          // failure path) must not pin the cached seen rows for the
          // session's lifetime
        } finally prior.unpersist(blocking = false)
      }
      // nothing assignable writes nothing: a missing batch partition
      // reads back as an empty batch
    } finally assigned.unpersist(blocking = false)
  }

  /** This batch's admitted `(vid, cluster)` ([[MaintainedStore.readBatch]]):
    * empty when the batch assigned nothing, while a corrupt admitted
    * store fails. */
  def admittedOf(
      spark: org.apache.spark.sql.SparkSession, storeDir: String, batchId: Long): DataFrame =
    MaintainedStore.readBatch(spark, admittedPath(storeDir), batchId,
      StructType.fromDDL("vid BIGINT, cluster INT"))
}
