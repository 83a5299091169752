package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths:
  *  - brute-force cosine top-k (`knnBrute`): broadcast the query set,
  *    one codegen'd array-fold per (query, candidate) — the exact
  *    baseline; O(|Q| * N) work, no shuffle of the corpus.
  *  - LSH-bucketed (`lshKnn`): random-hyperplane signs bucket the
  *    corpus; search only within the query's bucket (and its 1-bit
  *    neighbors for recall) — the 100 TB path; the corpus shuffles once
  *    on bucket id.
  *
  * `knnBruteExactSum` is the cross-engine-deterministic variant used by
  * the oracle gate: per-position products are cast to exact decimal
  * before summing, so the result is identical under any aggregation
  * order (and identical to DuckDB's).
  */
object Similarity {

  /** Executor-local cache of the sign-LSH hyperplane matrix, keyed by
    * plane count (values grow to the widest vector seen). Contents are
    * deterministic pure functions of (p, i), so racing rebuilds are
    * harmless. */
  private object PlaneCache {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
    def get(nPlanes: Int): Array[Array[Double]] = cache.get(nPlanes)
    def put(nPlanes: Int, m: Array[Array[Double]]): Unit = cache.put(nPlanes, m)
  }

  /** cos(a, b): native codegen'd Catalyst expression
    * ([[graft.functions.CosineSimilarity]]) when the session has
    * [[graft.GraftExtensions]] registered; falls back to the built-in
    * fold in sessions built without the extension (e.g. a
    * driver-provided session). */
  def cosine(a: Column, b: Column): Column = {
    val registered = scala.util.Try(
      org.apache.spark.sql.SparkSession.active.catalog
        .functionExists(graft.functions.CosineSimilarity.FUNC_NAME)).getOrElse(false)
    if (registered) graft.functions.CosineSimilarity(a, b) else cosineFold(a, b)
  }

  /** The composable built-in formulation (interpreted lambdas) — kept
    * for cross-checking the native expression. */
  def cosineFold(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Brute-force exact top-k neighbors for each query vector.
    * Queries (small) are broadcast; rank by (cosine desc, id). */
  def knnBrute(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      // a NULL embedding yields a NULL cosine; without this filter such
      // rows would surface at the tail ranks whenever a query has fewer
      // than k real neighbors
      .filter(col("cosine").isNotNull)
    scored
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Deterministic-sum variant for the oracle gate: relational
    * explode-join formulation with per-product decimal casts. Same
    * results as [[knnBrute]] up to float rounding of the cosine; order
    * independence makes it bit-identical to the DuckDB oracle. */
  /** Exact-decimal (query, neighbor, cosine) scores for all query ids
    * below `numQueries` — the shared core of [[knnBruteExactSum]] and
    * [[allPairsCosineExact]]. */
  /** One decimal(30,15) term of the exact-sum arithmetic: the double
    * product through Spark's double→decimal cast (canonical-string
    * BigDecimal, HALF_UP to scale 15), returned as the UNSCALED long.
    * Decimal addition is exact, so summing these longs in any order is
    * bit-identical to the relational `sum(cast(x*y as decimal(30,15)))`
    * this replaced (equality pinned in SimilaritySpec). */
  private def term15(p: Double): Long =
    java.math.BigDecimal.valueOf(p)
      .setScale(15, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** `decimal(scale 15) → double` exactly as Spark's Decimal.toDouble. */
  private def dec15ToDouble(unscaled: Long): Double =
    java.math.BigDecimal.valueOf(unscaled, 15).doubleValue()

  private def exactScored(
      embeddings: DataFrame, idCol: String, vecCol: String, numQueries: Int
  ): DataFrame = {
    // The verification universe is |corpus| × numQueries exact-decimal
    // cosines. The original form posexploded both sides and joined on
    // the position key — |corpus|·dim rows through a 64-key join, a
    // grouped decimal sum per pair, and two norm joins (six exchanges,
    // ~1.3M intermediate rows at the fixture). Decimal sums are EXACT,
    // hence order-insensitive, so the same numbers come out of ONE
    // scan-local pass: the ≤numQueries query vectors ride the closure,
    // each corpus row emits its (query, cosine) pairs, and every term
    // goes through [[term15]] — the same double→decimal rounding the
    // cast applied — accumulated exactly in unscaled-long space.
    // Per-pair overflow guard: |Σ| < 9.2e3 at scale 15 covers every
    // sane embedding; anything larger fails loud rather than wrapping.
    val spark = embeddings.sparkSession
    val idType = embeddings.schema(embeddings.schema.fieldIndex(idCol)).dataType
    // bounded collect: ≤ numQueries rows by construction
    val queries: Array[(Long, Array[Float], Long)] = embeddings
      .filter(col(idCol) < numQueries)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .flatMap { r =>
        if (r.isNullAt(1)) None
        else {
          val v = r.getSeq[Float](1).toArray
          if (v.isEmpty) None
          else {
            var n2 = 0L
            var i = 0
            while (i < v.length) {
              val d = v(i).toDouble
              n2 = Math.addExact(n2, term15(d * d)); i += 1
            }
            Some((r.getLong(0), v, n2))
          }
        }
      }
    val scoreUdf = udf { (nid: java.lang.Long, cv: Seq[Float]) =>
      if (nid == null || cv == null || cv.isEmpty) Array.empty[(Long, Double)]
      else {
        val c = cv.toArray
        var cn2 = 0L
        var i = 0
        while (i < c.length) {
          val d = c(i).toDouble
          cn2 = Math.addExact(cn2, term15(d * d)); i += 1
        }
        val cnD = math.sqrt(dec15ToDouble(cn2))
        val out = new Array[(Long, Double)](queries.length)
        var k = 0
        var qi = 0
        while (qi < queries.length) {
          val (qid, qv, qn2) = queries(qi)
          if (qid != nid.longValue) {
            var dot = 0L
            val n = math.min(qv.length, c.length)
            var j = 0
            while (j < n) {
              dot = Math.addExact(dot, term15(qv(j).toDouble * c(j).toDouble))
              j += 1
            }
            out(k) = (qid, dec15ToDouble(dot) / (math.sqrt(dec15ToDouble(qn2)) * cnD))
            k += 1
          }
          qi += 1
        }
        if (k == out.length) out else java.util.Arrays.copyOfRange(out, 0, k)
      }
    }
    embeddings
      .select(col(idCol).as("neighbor_id"),
        explode(scoreUdf(col(idCol).cast("long"), col(vecCol))).as("qc"))
      .select(col("qc._1").cast(idType).as("query_id"), col("neighbor_id"),
        col("qc._2").as("cosine"))
  }

  def knnBruteExactSum(
      embeddings: DataFrame, idCol: String, vecCol: String,
      numQueries: Int, k: Int
  ): DataFrame =
    exactScored(embeddings, idCol, vecCol, numQueries)
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      // last-ulp cast differences between engines are below 1e-12;
      // present at 6 decimals for the cross-engine hash compare
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))

  /** EVERY (query, neighbor) exact cosine for query ids below
    * `numQueries` — the verification universe for the approximate-knn
    * gates: an ANN result unioned with this must equal this (any
    * fabricated neighbor or miscomputed cosine adds a row). */
  def allPairsCosineExact(
      embeddings: DataFrame, idCol: String, vecCol: String, numQueries: Int
  ): DataFrame =
    exactScored(embeddings, idCol, vecCol, numQueries)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))

  /** SemDeDup [Abbas et al. 2023, arXiv:2303.09540, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"]: semantic dedup by k-means clustering then
    * WITHIN-CLUSTER cosine pruning — the pair space is Σ|cluster|²
    * instead of N², bounded by the cluster count `k` (the paper's
    * design point: k ~ √N keeps it ~N). A vector is pruned iff some
    * SMALLER-id member of its cluster has cosine ≥ `minCosine` — the
    * greedy keep-first rule, deterministic without the
    * transitive-closure pass document dedup needs. Returns surviving
    * `(id, cluster)` rows; null-vector rows carry no geometry and are
    * absent (the [[Kmeans.assign]] null rule).
    *
    * Clusters larger than `maxCluster` are left UNPRUNED (members all
    * survive): a degenerate cluster means k is too small for the
    * corpus, and silently exploding the pair space would be worse than
    * not pruning it — raise k (re-cluster) instead. That skip is NOT
    * silent: [[semDedupAudit]] returns the per-row `pruned_eligible`
    * flag (0 = the row's cluster exceeded the cap and passed through
    * unpruned), and `failOnOversized = true` raises in-plan on the
    * first oversized cluster (the [[Intervals.intervalJoin]] fail-loud
    * cap pattern — distributed, no driver pre-scan), for runs that
    * would rather abort than under-prune.
    *
    * Scale shape: centroids are a bounded k-row collect, assignment is
    * the scan-local codegen'd [[Kmeans.assign]] path, pair dots
    * shuffle on (cluster, pos) with decimal partial aggregation — the
    * same engine-exact arithmetic as [[cosineNearDupPairs]], so a SQL
    * oracle reproduces the prune bit-for-bit. */
  def semDedup(
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, minCosine: Double, maxCluster: Int = 10000,
      failOnOversized: Boolean = false
  ): DataFrame =
    semDedupCore(embeddings, idCol, vecCol, k, minCosine, maxCluster, failOnOversized)
      .select(col("vid").as(idCol), col("cluster"))

  /** [[semDedup]] with the oversized-cluster skip SURFACED: same
    * survivor rows, plus `pruned_eligible` (INT 0/1; 0 = this row's
    * cluster had more than `maxCluster` members, so the greedy prune
    * never considered it and every member survived). A production run
    * aggregates the flag (`sum(1 - pruned_eligible)`) to see exactly
    * how much corpus passed through unpruned instead of discovering it
    * months later in eval loss. */
  def semDedupAudit(
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, minCosine: Double, maxCluster: Int = 10000
  ): DataFrame =
    semDedupCore(embeddings, idCol, vecCol, k, minCosine, maxCluster, failOnOversized = false)
      .select(col("vid").as(idCol), col("cluster"), col("pruned_eligible"))

  /** Cluster assignment with per-cluster size `__cn` and, when
    * `failOnOversized`, the in-plan raise on the first `__cn` above the
    * cap (evaluated wherever `__cn` is — the eligibility filter forces
    * it on every row). */
  private def assignedWithSize(
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, maxCluster: Int, failOnOversized: Boolean
  ): DataFrame = {
    val cents = Kmeans.initLowestIds(embeddings, idCol, vecCol, k)
    val assigned = Kmeans.assign(embeddings, idCol, vecCol, cents)
      .select(col(idCol).as("vid"), col("cluster"))
      .filter(col("cluster").isNotNull)
    val w = Window.partitionBy(col("cluster"))
    val withCn = assigned.withColumn("__cn", count(lit(1)).over(w))
    if (!failOnOversized) withCn
    else withCn.withColumn("__cn",
      when(col("__cn") > maxCluster, raise_error(concat(
        lit("semDedup: cluster "), col("cluster"), lit(" has "), col("__cn"),
        lit(s" members > maxCluster=$maxCluster — raise k (re-cluster) or maxCluster"))))
        .otherwise(col("__cn")))
  }

  private def semDedupCore(
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, minCosine: Double, maxCluster: Int, failOnOversized: Boolean
  ): DataFrame = {
    val withCn = assignedWithSize(embeddings, idCol, vecCol, k, maxCluster, failOnOversized)
    val pairable = withCn
      .filter(col("__cn").between(2, maxCluster))
      .select(col("vid"), col("cluster"))
    val pos = embeddings.select(
      col(idCol).as("vid"),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("vid"), col("pos"), col("v").cast("double").as("v"))
    val norms = pos.groupBy("vid")
      .agg(sum((col("v") * col("v")).cast("decimal(30,15)")).as("n2"))
    val p = pos.join(pairable, "vid")
    // oriented pairs: a.vid > b.vid, so `a` is the DROP candidate
    val dots = p.as("a")
      .join(p.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.pos") === col("b.pos") &&
          col("a.vid") > col("b.vid"))
      .groupBy(col("a.vid").as("hi"), col("b.vid").as("lo"))
      .agg(sum((col("a.v") * col("b.v")).cast("decimal(30,15)")).as("dot"))
    val pruned = dots
      .join(norms.select(col("vid").as("hi"), col("n2").as("na")), "hi")
      .join(norms.select(col("vid").as("lo"), col("n2").as("nb")), "lo")
      .filter(col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))) >= minCosine)
      .select(col("hi").as("vid")).distinct()
    withCn.join(pruned, Seq("vid"), "left_anti")
      .select(col("vid"), col("cluster"),
        (col("__cn") <= maxCluster).cast("int").as("pruned_eligible"))
  }

  /** [[semDedup]]'s PRODUCTION shape: identical clustering and greedy
    * smaller-id-wins prune, but pair cosines through the codegen'd
    * native expression over whole array columns — no per-dimension
    * explode, no decimal partial agg, one equi-join on the cluster
    * key. This is what a 100 TB run executes (the decimal-explode
    * form exists for the bit-exact SQL oracle, the
    * sketch-vs-exact-companion convention); survivors match the exact
    * form except pairs landing within one double ulp of the
    * threshold (spec-compared on the gate data). */
  def semDedupFast(
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, minCosine: Double, maxCluster: Int = 10000,
      failOnOversized: Boolean = false
  ): DataFrame =
    semDedupFastCore(embeddings, idCol, vecCol, k, minCosine, maxCluster, failOnOversized)
      .select(col("vid").as(idCol), col("cluster"))

  /** [[semDedupFast]] with the [[semDedupAudit]] `pruned_eligible`
    * flag (0 = cluster over the cap, passed through unpruned). */
  def semDedupFastAudit(
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, minCosine: Double, maxCluster: Int = 10000
  ): DataFrame =
    semDedupFastCore(embeddings, idCol, vecCol, k, minCosine, maxCluster, failOnOversized = false)
      .select(col("vid").as(idCol), col("cluster"), col("pruned_eligible"))

  private def semDedupFastCore(
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, minCosine: Double, maxCluster: Int, failOnOversized: Boolean
  ): DataFrame = {
    val withCn = assignedWithSize(embeddings, idCol, vecCol, k, maxCluster, failOnOversized)
    val pairable = withCn
      .filter(col("__cn").between(2, maxCluster))
      .select(col("vid"), col("cluster"))
      .join(embeddings.select(col(idCol).as("vid"), col(vecCol).as("__v")), Seq("vid"))
    val pruned = pairable.as("a")
      .join(pairable.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vid") > col("b.vid"))
      .filter(cosine(col("a.__v"), col("b.__v")) >= minCosine)
      .select(col("a.vid").as("vid")).distinct()
    withCn.join(pruned, Seq("vid"), "left_anti")
      .select(col("vid"), col("cluster"),
        (col("__cn") <= maxCluster).cast("int").as("pruned_eligible"))
  }

  /** All pairs with cosine >= `minCosine` (embedding near-duplicate
    * detection), deterministic-sum formulation. */
  def cosineNearDupPairs(
      embeddings: DataFrame, idCol: String, vecCol: String, minCosine: Double
  ): DataFrame = {
    // repartition the exploded table on the join key: a single-file
    // (or few-partition) embeddings scan would otherwise feed the
    // O(n²)-output self-join below from ONE task — measured 225s
    // near-serial on a 500-vector fixture. `pos` has `dim` distinct
    // values, so the pair space spreads across min(dim, partitions)
    // tasks and each key's pair block is equal-sized (no skew).
    val pos = embeddings.select(
      col(idCol).as("vid"),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("vid"), col("pos"), col("v").cast("double").as("v"))
      .repartition(col("pos"))
    val norms = pos
      .groupBy("vid")
      .agg(sum((col("v") * col("v")).cast("decimal(30,15)")).as("n2"))
    val dots = pos.as("a")
      .join(pos.as("b"), col("a.pos") === col("b.pos") && col("a.vid") < col("b.vid"))
      .groupBy(col("a.vid").as("vec_a"), col("b.vid").as("vec_b"))
      .agg(sum((col("a.v") * col("b.v")).cast("decimal(30,15)")).as("dot"))
    dots
      .join(norms.withColumnRenamed("vid", "vec_a").withColumnRenamed("n2", "na"), "vec_a")
      .join(norms.withColumnRenamed("vid", "vec_b").withColumnRenamed("n2", "nb"), "vec_b")
      .withColumn("cosine",
        col("dot").cast("double") / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Deterministic pseudo-random hyperplane component for plane `p`,
    * dimension `i`: a splitmix64-finalized hash of (p, i) mapped to
    * [-1, 1). No RNG state — identical on every executor and cluster,
    * which is all sign-LSH needs (corpus and queries must agree). */
  private def planeComponent(p: Int, i: Int): Double = {
    val h = Hashing.mix64(p.toLong * 100003L + i)
    (java.lang.Math.floorMod(h, 2000000L).toDouble / 1000000.0) - 1.0
  }

  /** Sign-LSH bucket id from `nPlanes` random hyperplanes. A JVM udf:
    * the lambda formulation (aggregate over zip_with per plane) runs
    * INTERPRETED per element x per plane — nPlanes * dim interpreted
    * evaluations per row vs one compiled loop. The hyperplane matrix is
    * row-invariant, so it is materialized once per task (grown lazily
    * to the widest vector seen) instead of re-hashed per row. NULL
    * vectors yield a NULL bucket (they join to nothing), matching the
    * null-propagating expression formulation this replaced. */
  def lshBucket(vec: Column, nPlanes: Int): Column = {
    val bucketUdf = udf { (v: Seq[java.lang.Float]) =>
      if (v == null) null
      else {
        // one boxed pass: null-element detection (a null component makes
        // the dot undefined -> null bucket, like the expression
        // formulation) + copy to a primitive array so the nPlanes x dim
        // hot loop runs unboxed with no Seq.apply overhead
        val dim = v.length
        val arr = new Array[Float](dim)
        var i = 0
        var hasNull = false
        while (i < dim) {
          val x = v(i)
          if (x eq null) hasNull = true else arr(i) = x.floatValue
          i += 1
        }
        if (hasNull) null
        else {
          var planes = PlaneCache.get(nPlanes)
          if (planes == null || planes(0).length < dim) {
            planes = Array.tabulate(nPlanes, dim)((p, i) => planeComponent(p, i))
            PlaneCache.put(nPlanes, planes)
          }
          var bucket = 0L
          var p = 0
          while (p < nPlanes) {
            val row = planes(p)
            var dot = 0.0
            var j = 0
            while (j < dim) { dot += arr(j) * row(j); j += 1 }
            if (dot > 0) bucket |= (1L << p)
            p += 1
          }
          java.lang.Long.valueOf(bucket)
        }
      }
    }
    bucketUdf(vec)
  }

  /** IVF approximate top-k: a KMeans coarse quantizer assigns every
    * corpus vector to a centroid cell (one pass + small shuffle); each
    * query probes its `nProbe` nearest cells and reranks exactly within
    * them. The standard scale path when the corpus is too large to scan
    * per query: work per query drops from O(N) to O(N * nProbe / k).
    * Deterministic: fixed seed, fixed init. */
  def ivfKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 3
  ): DataFrame =
    retrainSearch(AnnIndex.Model(None,
        Some(trainIvfModel(corpus, idCol, vecCol, nCells)), AnnIndex.Flat),
      corpus, queries, idCol, vecCol, k, nProbe)

  /** The retrain shape every quantizer family shares: encode the
    * corpus against the freshly trained model and search it — the
    * stored-index path verbatim ([[AnnIndex.encode]],
    * [[AnnIndex.search]]), so stored == retrain by construction. The
    * codes are computed, not stored, so no probed-cell pruning. */
  private def retrainSearch(
      model: AnnIndex.Model, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 3, shortlist: Int = 32
  ): DataFrame =
    AnnIndex.searchCodes(model, Some(corpus), queries,
      AnnIndex.encode(model, corpus, idCol, vecCol), idCol, vecCol, k, nProbe, shortlist,
      pruneCells = false)

  /** Train the IVF coarse quantizer — the persistable half of
    * [[ivfKnn]]: kmeans++ init + Lloyd's on a bounded deterministic
    * 4096-row sample, driver-side (the quantizer never needs the full
    * corpus — training is O(sample · nCells · iters) regardless of
    * corpus size, where a distributed KMeans would pay a full corpus
    * pass per iteration). Returned centroids are L2-NORMALIZED:
    * Lloyd's means of unit vectors are not unit norm, and with UNIT
    * centroids argmax dot(v, c) is the cosine argmax for ANY v, so
    * assignment needs no input normalization and agrees exactly with
    * the cosine the probe ranks cells by. Same (corpus, params) →
    * byte-identical model, so an index trained once and stored
    * ([[AnnIndex]]) answers queries identically to a retrain. */
  def trainIvfModel(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, iters: Int = 10, seed: Long = 42L
  ): Array[Array[Double]] = {
    val prepared = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val sample = normalizedSample(prepared)
    require(sample.nonEmpty, "trainIvfModel: no non-null embeddings to train on")
    Quantizer.lloyd(sample, nCells, iters, seed).map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n > 0) c.map(_ / n) else c
    }
  }

  /** The bounded deterministic training sample both quantizer trainers
    * share: 4096 rows by id-hash order, L2-normalized driver-side (the
    * distributed path never runs an interpreted normalize pass); null
    * embeddings carry no geometry and are skipped. */
  private def normalizedSample(prepared: DataFrame): Array[Array[Double]] =
    prepared
      .orderBy(xxhash64(col("neighbor_id")))
      .limit(4096)
      .collect()
      .flatMap { r =>
        if (r.isNullAt(1)) None
        else {
          val v = r.getSeq[Float](1).toArray.map(_.toDouble)
          val n = math.sqrt(v.map(x => x * x).sum)
          Some(if (n > 0) v.map(_ / n) else v)
        }
      }

  /** Distributed cell assignment: raw vector -> argmax dot with the
    * unit centroids; centroids ride the UDF closure (tiny,
    * task-broadcast). Boxed return so a NULL embedding yields a NULL
    * cell (the row drops out of the cell join) instead of an executor
    * NPE. ONE arithmetic for every IVF encode. */
  private[operators] def ivfAssignUdf(centroids: Array[Array[Double]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (cv: Seq[Float]) =>
      if (cv == null) null.asInstanceOf[java.lang.Integer]
      else {
        var best = 0; var bestDot = Double.NegativeInfinity
        var i = 0
        while (i < centroids.length) {
          val cArr = centroids(i)
          var dot = 0.0; var j = 0
          val n = math.min(cv.length, cArr.length)
          while (j < n) { dot += cv(j) * cArr(j); j += 1 }
          if (dot > bestDot) { bestDot = dot; best = i }
          i += 1
        }
        java.lang.Integer.valueOf(best)
      }
    }

  /** The probed-cell selection UDF of every IVF search: a query's
    * `nProbe` nearest cells by cosine against the unit centroids. */
  private[operators] def ivfProbeCellsUdf(
      centroids: Array[Array[Double]], nProbe: Int
  ): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val centroidArrs: Seq[(Int, Array[Double])] =
      centroids.zipWithIndex.map { case (c, i) => i -> c }.toSeq
    udf { (qv: Seq[Double]) =>
      if (qv == null) Array.empty[Int]
      else centroidArrs
        .map { case (i, cArr) =>
          var dot = 0.0; var nq = 0.0; var nc = 0.0
          var j = 0
          val n = math.min(qv.length, cArr.length)
          while (j < n) {
            dot += qv(j) * cArr(j); nq += qv(j) * qv(j); nc += cArr(j) * cArr(j); j += 1
          }
          i -> dot / (math.sqrt(nq) * math.sqrt(nc))
        }
        .sortBy(-_._2).take(nProbe).map(_._1).toArray
    }
  }

  /** Scalable embedding near-dup: banded sign-LSH (any identical band
    * of `bandBits` sign bits proposes the pair — the minhash
    * OR-of-ANDs construction, no multi-probe) with exact cosine
    * verification. [[cosineNearDupPairs]] is the exact O(n^2) oracle
    * companion.
    *
    * REGIME: effective only for tight thresholds (cos >= ~0.8), where
    * per-plane agreement is high for true pairs and near 1/2 for
    * unrelated ones; at loose thresholds (cos ~0.5) sign-LSH cannot
    * separate pairs from noise and the candidate set approaches
    * all-pairs — use the exact variant there. Tune recall/cost via
    * bands x bandBits: P(candidate) = 1 - (1 - p^bandBits)^bands with
    * p = 1 - acos(cos)/pi. */
  def cosineNearDupPairsLsh(
      embeddings: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, nPlanes: Int = 32, bandBits: Int = 4
  ): DataFrame = {
    require(bandBits > 0 && bandBits < 32, "bandBits must be in [1, 31]")
    require(nPlanes % bandBits == 0 && nPlanes <= 64, "nPlanes must be a multiple of bandBits, <= 64")
    val bands = nPlanes / bandBits
    val sig = embeddings.select(
      col(idCol).as("vid"), col(vecCol).as("v"),
      lshBucket(col(vecCol), nPlanes).as("sig"))
    // band the sign signature minhash-style: a pair is proposed when
    // ANY band of `bandBits` sign bits matches. For cos >= 0.85 each
    // plane agrees w.p. ~0.82, a 4-bit band w.p. ~0.46, so 8 bands
    // find the pair w.p. ~0.99 — tune bands/bits to the threshold.
    val banded = sig.select(
      col("vid"), col("v"),
      explode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> named_struct('band', b, 'chunk', shiftright(sig, b * $bandBits) & ${(1L << bandBits) - 1}L))"))
        .as("bb"))
      .select(col("vid"), col("v"), col("bb.band").as("band"), col("bb.chunk").as("chunk"))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.vid") < col("b.vid"))
      .select(
        col("a.vid").as("vec_a"), col("b.vid").as("vec_b"),
        col("a.v").as("va"), col("b.v").as("vb"))
      // dedup on the id pair alone: distinct() over the full row would
      // shuffle and compare both embedding arrays for nothing
      .dropDuplicates("vec_a", "vec_b")
    pairs
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Approximate top-k: candidates share the query's LSH bucket or any
    * bucket at hamming distance 1 (multi-probe), exact cosine rerank
    * within candidates. The corpus is shuffled once on bucket id; each
    * query probes nPlanes+1 buckets.
    *
    * Contract: `queries` is a LOOKUP SET and must be broadcastable —
    * it is explicitly broadcast (times nPlanes+1 probe rows) so the
    * corpus streams shuffle-free. The contract is ENFORCED, not just
    * documented: a `limit(maxQueryRows+1)` probe (short-circuits after
    * maxQueryRows+1 rows — never a full scan) fails fast with a pointer
    * at [[cosineNearDupPairsLsh]] before the broadcast can OOM the
    * driver. Raise `maxQueryRows` deliberately if your query set is
    * genuinely large AND your driver is sized for it. */
  def lshKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nPlanes: Int = 12,
      maxQueryRows: Long = 100000L
  ): DataFrame = {
    val qCount = queries.select(col(idCol)).limit((maxQueryRows + 1).toInt).count()
    require(qCount <= maxQueryRows,
      s"lshKnn broadcasts the query set times ${nPlanes + 1} probe rows, but `queries` has " +
        s"more than $maxQueryRows rows — for corpus-scale all-pairs passes use " +
        "cosineNearDupPairsLsh (banded self-join, no broadcast), or raise maxQueryRows " +
        "if the driver is sized for the broadcast")
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), nPlanes).as("bucket"))
    val qBase = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), nPlanes).as("qbucket"))
    // multi-probe: the exact bucket plus all 1-bit flips
    val probes = qBase.select(
      col("query_id"), col("qv"),
      explode(expr(
        s"concat(array(qbucket), transform(sequence(0, ${nPlanes - 1}), p -> cast(qbucket as bigint) ^ shiftleft(1L, p)))"))
        .as("bucket"))
    // broadcast the probe set, NOT the corpus: Spark's size estimate
    // can pick the corpus as build side here (it is the one with file
    // stats), which collects every corpus vector to the driver per run
    // and is impossible at real corpus scale. The probe set is
    // queries x (nPlanes+1) rows — always the small side by
    // construction; the corpus then streams through scan tasks with
    // its bucket UDF evaluated in parallel, no corpus shuffle at all.
    broadcast(probes)
      .join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Two-stage quantized retrieval: stage 1 ranks the WHOLE corpus
    * against each query on int8 codes ([[Quantize.int8]]) — the scan
    * streams 4x fewer bytes than float32 brute force and the dot
    * product is exact integer arithmetic — keeping a per-query
    * `shortlist` via a bounded window heap; stage 2 rescores ONLY the
    * shortlisted pairs with the exact float cosine and keeps top-k.
    *
    * The per-vector scales cancel out of the code-space cosine
    * (q_i ~ v_i * 127/s), so stage-1 ranking needs no float metadata
    * at all. Like [[lshKnn]], the query side broadcasts and the corpus
    * never shuffles; unlike it, stage 1 is exhaustive — recall is
    * bounded by quantization error alone (no bucketing misses), the
    * trade being a full (cheap, int8) corpus pass per query batch.
    */
  /** Integer dot product over int-code arrays: native codegen'd
    * int_dot when the session has GraftExtensions (the interpreted
    * aggregate/zip_with pair made the "cheap int8 pass" the expensive
    * part — r5 verdict #3); the higher-order form stays as the
    * extension-less fallback with identical null algebra. Shared by
    * [[quantizedKnn]] and the IVF,SQ8 search — ONE arithmetic. */
  private[operators] def intDotCol: (Column, Column) => Column = {
    val registered = scala.util.Try(
      org.apache.spark.sql.SparkSession.active.catalog
        .functionExists(graft.functions.IntDotProduct.FUNC_NAME)).getOrElse(false)
    if (registered) graft.functions.IntDotProduct(_, _)
    else (a, b) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, v) => acc + v)
  }

  def quantizedKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlist: Int = 32
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val idot = intDotCol
    // norms are per-ROW constants: compute them once per vector before
    // the join, not per candidate pair (inlined, each |C|x|Q| pair
    // would re-reduce both vectors — ~5x the stage-1 arithmetic)
    val cz = Quantize.int8(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("q").as("cq"))
      .withColumn("cn", sqrt(idot(col("cq"), col("cq")).cast("double")))
    val qz = Quantize.int8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("q").as("qq"))
      .withColumn("qn", sqrt(idot(col("qq"), col("qq")).cast("double")))
    // code-space cosine for RANKING only; null codes (null embedding)
    // and zero norms (cosine undefined — and an unguarded 0/0 throws
    // under ANSI) drop to null and are filtered, mirroring knnBrute's
    // null-cosine contract
    val denom = col("qn") * col("cn")
    val approx = when(denom === 0.0, lit(null))
      .otherwise(idot(col("qq"), col("cq")).cast("double") / denom)
    val cand = cz
      .join(broadcast(qz), col("query_id") =!= col("neighbor_id"))
      .withColumn("approx", approx)
      .filter(col("approx").isNotNull)
      .withColumn("arank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("approx").desc, col("neighbor_id"))))
      .filter(col("arank") <= shortlist)
      .select("query_id", "neighbor_id")
    // stage 2: exact rescoring of the shortlist only. The candidate
    // set (|queries| x shortlist rows, query vectors attached) is the
    // broadcast side BOTH times — the corpus streams through its scan
    // and never shuffles or collects (the lshKnn build-side lesson)
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    cv
      .join(broadcast(cand.join(broadcast(qv), Seq("query_id"))), Seq("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .filter(col("cosine").isNotNull)
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Product-quantized approximate top-k [Jégou, Douze & Schmid 2011,
    * "Product quantization for nearest neighbor search" — the FAISS
    * production ANN memory layout]: vectors L2-normalize and split
    * into `m` subspaces, each with its own `kCodes`-centroid codebook
    * (trained driver-side on the bounded deterministic 4096-row
    * sample — the [[ivfKnn]] quantizer discipline: training cost is
    * O(sample · kCodes · iters) regardless of corpus size), and every
    * corpus vector compresses to `m` small codes — at `m = 8`,
    * `kCodes = 16`, that is 8 bytes per vector regardless of
    * dimension, the difference between an embedding index that fits
    * executor memory at 100 TB and one that doesn't.
    *
    * Scoring is ASYMMETRIC DISTANCE (ADC): each query precomputes ONE
    * `m × kCodes` dot-product table against the codebooks (queries
    * and tables broadcast), and a candidate's approximate cosine is
    * `m` table lookups summed — no per-pair float vector arithmetic.
    * The top `shortlist` per query then rerank EXACTLY over the raw
    * vectors (the [[quantizedKnn]] two-stage contract: PQ only
    * CHOOSES candidates; every returned cosine is exact, which is
    * what the `_verified` gate pins). The corpus never shuffles or
    * collects: encoding is scan-local, stage 2 streams the corpus
    * scan against the broadcast shortlist. NULL embeddings drop
    * (null-cosine contract). */
  def pqKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, kCodes: Int = 16, shortlist: Int = 32, iters: Int = 10
  ): DataFrame =
    retrainSearch(AnnIndex.Model(None, None,
        AnnIndex.Pq(trainPqModel(corpus, idCol, vecCol, m, kCodes, iters))),
      corpus, queries, idCol, vecCol, k, shortlist = shortlist)

  /** A trained product quantizer: `codebooks(j)(c)` is subspace `j`'s
    * code-`c` centroid over dims `[bounds(j), bounds(j+1))` of the
    * L2-NORMALIZED vector. Training is deterministic (fixed sample
    * order, seeded per-subspace Lloyd's), so the same (corpus, params)
    * produce a byte-identical model — a stored index ([[AnnIndex]])
    * answers queries identically to a retrain. */
  final case class PqModel(
      dim: Int, m: Int, kCodes: Int, codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.length == m,
      s"PqModel: $m subspaces declared, ${codebooks.length} codebooks")
    val bounds: Array[Int] = Array.tabulate(m + 1)(j => j * dim / m)
  }

  /** Train the PQ codebooks — the persistable half of [[pqKnn]]:
    * vectors L2-normalize (cosine = inner product on unit vectors, so
    * ADC sums of subspace dots approximate the cosine directly) and
    * each of `m` subspaces gets its own `kCodes`-centroid codebook
    * from the bounded deterministic 4096-row driver sample. */
  def trainPqModel(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, kCodes: Int = 16, iters: Int = 10
  ): PqModel = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(kCodes >= 2, s"kCodes must be >= 2, got $kCodes")
    val prepared = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val sample = normalizedSample(prepared)
    require(sample.nonEmpty, "pqKnn: no non-null embeddings to train on")
    val d = sample(0).length
    // ragged dimensions would make subspace slicing throw an opaque
    // range error in training, or silently score PARTIAL-subspace dot
    // products in the hot path (wrong-looking approximate ranks) —
    // fail loud up front, matching the exact-rescore contract
    sample.find(_.length != d).foreach(v => throw new IllegalArgumentException(
      s"pqKnn: mixed embedding dimensions in corpus — trained on $d dims, " +
        s"found a ${v.length}-dim vector in the training sample"))
    require(m <= d, s"pqKnn: m ($m) subspaces over $d dims")
    val bounds = Array.tabulate(m + 1)(j => j * d / m)
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val (lo, hi) = (bounds(j), bounds(j + 1))
      Quantizer.lloyd(
        sample.map(v => java.util.Arrays.copyOfRange(v, lo, hi)),
        kCodes, iters, seed = 42L + j)
    }
    PqModel(d, m, kCodes, codebooks)
  }

  /** L2-normalize; zero vectors pass through unchanged (the exact
    * rescore's NaN guard owns that case). ONE copy of the arithmetic
    * every PQ-family UDF shares. */
  private def unitOf(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  /** Argmin-L2 code of `u`'s `[lo, hi)` slice against one subspace
    * codebook — THE quantization step, shared by every encode path
    * (plain, residual, rotated) and the training-loop reconstruction,
    * so the families cannot silently diverge. */
  private def argminCode(
      u: Array[Double], lo: Int, hi: Int, cb: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cb.length) {
      var s = 0.0; var i = lo
      while (i < hi) { val dd = u(i) - cb(c)(i - lo); s += dd * dd; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Per-subspace argmin codes of a (possibly rotated or residual)
    * vector. */
  private def subspaceCodes(
      u: Array[Double], bounds: Array[Int],
      codebooks: Array[Array[Array[Double]]]): Array[Int] = {
    val codes = new Array[Int](codebooks.length)
    var j = 0
    while (j < codebooks.length) {
      codes(j) = argminCode(u, bounds(j), bounds(j + 1), codebooks(j))
      j += 1
    }
    codes
  }

  /** The flattened m × kCodes ADC dot-product table of a query vector
    * against the codebooks. */
  private def adcTableOf(
      u: Array[Double], bounds: Array[Int],
      codebooks: Array[Array[Array[Double]]], kC: Int): Array[Double] = {
    val t = new Array[Double](codebooks.length * kC)
    var j = 0
    while (j < codebooks.length) {
      val lo = bounds(j); val hi = bounds(j + 1)
      val cb = codebooks(j)
      var c = 0
      while (c < cb.length) {
        var s = 0.0; var i = lo
        while (i < hi) { s += u(i) * cb(c)(i - lo); i += 1 }
        t(j * kC + c) = s
        c += 1
      }
      j += 1
    }
    t
  }

  /** Scan-local encoding: normalized vector -> m argmin-L2 codes,
    * after the OPQ `rotation` (in doubles) when one is given. The UDF
    * carries the row id so a ragged vector names its offender instead
    * of producing silently-partial subspace dots. */
  private[operators] def pqEncodeUdf(
      model: PqModel, rotation: Option[Array[Array[Double]]] = None
  ): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bounds = model.bounds; val codebooks = model.codebooks
    val dim = model.dim
    val rot = rotation.orNull
    val family = if (rot == null) "pqKnn" else "opqKnn"
    udf { (id: String, cv: Seq[Float]) =>
      if (cv == null) null
      else {
        if (cv.length != dim) throw new IllegalArgumentException(
          s"$family: corpus vector $id has ${cv.length} dims, index trained on $dim")
        val u = unitOf(cv.toArray.map(_.toDouble))
        subspaceCodes(if (rot == null) u else rotateVec(rot, u), bounds, codebooks).toSeq
      }
    }
  }

  /** Per-query ADC table: flattened m x kCodes subspace dot products
    * of the L2-normalized query (after the OPQ `rotation`, in doubles,
    * when one is given — rotation preserves the dot) against the
    * codebooks — computed ONCE per query, broadcast to the candidate
    * scan. Plain PQ, OPQ and IVF-PQ (codebooks over the cell residual)
    * share it: the table math is identical, only what the codebooks
    * were trained on differs. */
  private[operators] def pqAdcTableUdf(
      model: PqModel, rotation: Option[Array[Array[Double]]] = None
  ): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bounds = model.bounds; val codebooks = model.codebooks
    val kC = model.kCodes; val dim = model.dim
    val rot = rotation.orNull
    val family = if (rot == null) "pqKnn" else "opqKnn"
    udf { (id: String, qv: Seq[Float]) =>
      if (qv == null) null
      else {
        if (qv.length != dim) throw new IllegalArgumentException(
          s"$family: query vector $id has ${qv.length} dims, index trained on $dim")
        val u = unitOf(qv.toArray.map(_.toDouble))
        adcTableOf(if (rot == null) u else rotateVec(rot, u), bounds, codebooks, kC).toSeq
      }
    }
  }

  /** A candidate's ADC score: m table lookups summed — no per-pair
    * float vector arithmetic. */
  private[operators] def pqAdcLookupUdf(model: PqModel)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val mV = model.m; val kC = model.kCodes
    udf { (codes: Seq[Int], t: Seq[Double]) =>
      if (codes == null || t == null) null
      else {
        var s = 0.0; var j = 0
        while (j < mV) { s += t(j * kC + codes(j)); j += 1 }
        java.lang.Double.valueOf(s)
      }
    }
  }

  // ============================================================== IVF-PQ
  /** Composed IVF-PQ approximate top-k [Jégou et al. 2011 §IV, the
    * IVFADC system — FAISS `IndexIVFPQ`, the production shape for
    * billion-vector corpora]: the IVF coarse quantizer routes each
    * vector to a cell, and PQ encodes the RESIDUAL `u - c(cell)` of
    * the unit vector against its cell centroid — residuals are
    * smaller and more isotropic than raw vectors, so the same code
    * budget quantizes finer. Search probes `nProbe` cells and scores
    * ADC over ONLY the probed cells' codes:
    * `dot(q, v) ≈ dot(q, c(cell)) + Σ_j table(j, code_j)` — the
    * cell dot comes free from probe selection, the residual part is
    * the standard table lookup. Top `shortlist` rerank EXACTLY over
    * the raw corpus: IVF-PQ only CHOOSES
    * candidates, every returned cosine is exact.
    *
    * At 100 TB this is the storage shape that works: the codes table
    * is `m` bytes/vector partitioned by `cell`, a probe reads
    * `nProbe/nCells` of it ([[graft.operators.AnnIndex]] persists it
    * that way), and neither corpus nor codes ever shuffle. */
  def ivfPqKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, m: Int = 8, kCodes: Int = 16,
      nProbe: Int = 3, shortlist: Int = 32, iters: Int = 10
  ): DataFrame = {
    val centroids = trainIvfModel(corpus, idCol, vecCol, nCells, iters)
    val model = trainIvfPqResidualModel(corpus, idCol, vecCol, centroids, m, kCodes, iters)
    retrainSearch(AnnIndex.Model(None, Some(centroids), AnnIndex.Pq(model)),
      corpus, queries, idCol, vecCol, k, nProbe, shortlist)
  }

  /** Train the residual PQ codebooks — the persistable half of
    * [[ivfPqKnn]] beyond the IVF centroids: each sample vector
    * L2-normalizes, assigns to its cell, and the per-cell residual
    * `u - c(cell)` feeds the per-subspace Lloyd runs (the
    * [[trainPqModel]] discipline — bounded deterministic 4096-row
    * sample, seeded per-subspace, byte-identical model for the same
    * inputs). */
  def trainIvfPqResidualModel(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      m: Int = 8, kCodes: Int = 16, iters: Int = 10
  ): PqModel = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(kCodes >= 2, s"kCodes must be >= 2, got $kCodes")
    require(centroids.nonEmpty, "trainIvfPqResidualModel: empty centroid set")
    val prepared = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val sample = normalizedSample(prepared)
    require(sample.nonEmpty, "ivfPqKnn: no non-null embeddings to train on")
    val d = sample(0).length
    sample.find(_.length != d).foreach(v => throw new IllegalArgumentException(
      s"ivfPqKnn: mixed embedding dimensions in corpus — trained on $d dims, " +
        s"found a ${v.length}-dim vector in the training sample"))
    require(m <= d, s"ivfPqKnn: m ($m) subspaces over $d dims")
    val residuals = sample.map { u =>
      val c = centroids(argmaxDot(u, centroids))
      Array.tabulate(d)(i => u(i) - (if (i < c.length) c(i) else 0.0))
    }
    val bounds = Array.tabulate(m + 1)(j => j * d / m)
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val (lo, hi) = (bounds(j), bounds(j + 1))
      Quantizer.lloyd(
        residuals.map(v => java.util.Arrays.copyOfRange(v, lo, hi)),
        kCodes, iters, seed = 42L + j)
    }
    PqModel(d, m, kCodes, codebooks)
  }

  private def argmaxDot(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var i = 0
    while (i < centroids.length) {
      val cArr = centroids(i)
      var dot = 0.0; var j = 0
      val n = math.min(v.length, cArr.length)
      while (j < n) { dot += v(j) * cArr(j); j += 1 }
      if (dot > bestDot) { bestDot = dot; best = i }
      i += 1
    }
    best
  }

  /** Scan-local residual encoding: `(id, raw vector, assigned cell)`
    * -> m argmin-L2 codes of `u - c(cell)`. The cell rides IN as a
    * column (assigned by the shared [[ivfAssignUdf]]) so stored and
    * retrain paths quantize the SAME residual. */
  private[operators] def ivfPqCodesUdf(
      centroids: Array[Array[Double]], model: PqModel
  ): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bounds = model.bounds; val codebooks = model.codebooks
    val dim = model.dim
    udf { (id: String, cv: Seq[Float], cell: java.lang.Integer) =>
      if (cv == null || cell == null) null
      else {
        if (cv.length != dim) throw new IllegalArgumentException(
          s"ivfPqKnn: corpus vector $id has ${cv.length} dims, index trained on $dim")
        val u = unitOf(cv.toArray.map(_.toDouble))
        val c = centroids(cell.intValue)
        val r = Array.tabulate(dim)(i => u(i) - (if (i < c.length) c(i) else 0.0))
        subspaceCodes(r, bounds, codebooks).toSeq
      }
    }
  }

  /** dot(u_q, c(cell)) for a probe row — the IVFADC coarse term. The
    * centroids are unit, so this is the same cosine the probe ranked
    * cells by; computed per (query, cell), nProbe rows per query. */
  private[operators] def ivfCoarseDotUdf(
      centroids: Array[Array[Double]]
  ): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (qid: String, qv: Seq[Float], cell: Int) =>
      if (qv == null) null
      else {
        val v = qv.toArray.map(_.toDouble)
        val c = centroids(cell)
        // fail-loud discipline: a truncated dot would silently misrank
        // cells for this query (pqAdcTableUdf raises on the same row,
        // but this UDF must not depend on a sibling's evaluation order)
        require(v.length == c.length,
          s"ivfPqSearch: query '$qid' has dim ${v.length}, " +
            s"centroids have dim ${c.length}")
        val n = math.sqrt(v.map(x => x * x).sum)
        val u = if (n > 0) v.map(_ / n) else v
        var dot = 0.0; var j = 0
        while (j < c.length) { dot += u(j) * c(j); j += 1 }
        java.lang.Double.valueOf(dot)
      }
    }

  // ============================================================== IVF-SQ8
  /** IVF with scalar-quantized postings (the FAISS `IVF,SQ8` shape):
    * the coarse quantizer routes vectors to cells as in [[ivfKnn]],
    * but the postings store symmetric per-vector int8 codes
    * ([[Quantize.int8]]'s formula) instead of float vectors — the
    * index is 4× smaller, probes stream 4× fewer bytes, and stage-1
    * ranking is exact integer arithmetic within the probed cells
    * (per-vector scales cancel out of the code-space cosine, the
    * [[quantizedKnn]] observation). The top `shortlist` per query
    * rerank EXACTLY over the raw corpus: SQ8 only
    * CHOOSES candidates, every returned cosine is exact. Between
    * [[ivfKnn]] (float postings, exact in-cell rank) and [[ivfPqKnn]]
    * (m-byte codes, table-lookup rank), this is the middle storage
    * point: dim bytes/vector, no codebook training beyond the coarse
    * quantizer. */
  def ivfSqKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 3, shortlist: Int = 32, iters: Int = 10
  ): DataFrame =
    retrainSearch(AnnIndex.Model(None,
        Some(trainIvfModel(corpus, idCol, vecCol, nCells, iters)), AnnIndex.Sq8),
      corpus, queries, idCol, vecCol, k, nProbe, shortlist)

  // ============================================================== OPQ
  /** An Optimized Product Quantizer (Ge et al., CVPR 2013 — FAISS's
    * `OPQ{m},PQ{m}` shape): a learned ORTHOGONAL rotation applied to
    * the unit vector before the subspace split. A plain PQ quantizes
    * whatever happens to land in each contiguous dim block; the
    * rotation redistributes variance across the blocks, so the same
    * code budget quantizes finer and the ADC shortlist recalls more
    * of the true top-k. Orthogonality preserves dot products, so the
    * ADC table approximates the SAME cosine the exact rescore
    * computes in the original space. Training is deterministic
    * (identity init, fixed sample order, seeded per-subspace Lloyd,
    * the SVD running on the same build both times), so a stored index
    * answers identically to a same-seed retrain. */
  final case class OpqModel(rotation: Array[Array[Double]], pq: PqModel) {
    require(rotation.length == pq.dim,
      s"OpqModel: rotation is ${rotation.length}x? over dim ${pq.dim}")
    rotation.foreach(r => require(r.length == pq.dim,
      s"OpqModel: ragged rotation row (${r.length} of ${pq.dim} coefficients)"))
  }

  /** `R · u` with tight loops (d ≤ a few hundred in practice). */
  private def rotateVec(r: Array[Array[Double]], u: Array[Double]): Array[Double] = {
    val d = r.length
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      val ri = r(i); var s = 0.0; var j = 0
      while (j < d) { s += ri(j) * u(j); j += 1 }
      out(i) = s
      i += 1
    }
    out
  }

  /** Column-level rotation into index space (float32, the embedding
    * column's own width): the composed OPQ+IVF-PQ index rotates
    * corpus vectors once at encode time and query vectors once at
    * probe time, then reuses EVERY IVF-PQ UDF verbatim on the
    * rotated column. Rotation preserves norms, so normalizing
    * the rotated vector (which the downstream UDFs do) equals
    * rotating the unit vector, float rounding aside — and both the
    * encode and query paths take the SAME rounding. */
  private[operators] def rotateFloatUdf(rot: Array[Array[Double]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        require(v.length == rot.length,
          s"rotate: vector has ${v.length} dims, rotation is ${rot.length}x${rot.length}")
        rotateVec(rot, v.toArray.map(_.toDouble)).map(_.toFloat).toSeq
      }
    }

  /** Nearest-code reconstruction of an (already rotated) vector —
    * the training loop's decode step ([[argminCode]], the same
    * quantization the encoders use). */
  private def pqReconstruct(
      rv: Array[Double], bounds: Array[Int],
      codebooks: Array[Array[Array[Double]]]): Array[Double] = {
    val out = new Array[Double](rv.length)
    var j = 0
    while (j < codebooks.length) {
      val lo = bounds(j); val hi = bounds(j + 1)
      System.arraycopy(codebooks(j)(argminCode(rv, lo, hi, codebooks(j))),
        0, out, lo, hi - lo)
      j += 1
    }
    out
  }

  /** Train the rotation + codebooks jointly: alternate per-subspace
    * Lloyd on the rotated sample with the orthogonal-Procrustes
    * rotation update `R = U·Vᵀ` of the reconstruction/sample
    * cross-covariance `M = Σᵢ cᵢ·xᵢᵀ` (the closed-form minimizer of
    * `Σ ||R·xᵢ − cᵢ||²` over orthogonal R), then retrain the
    * codebooks once against the final rotation. Everything runs on
    * the bounded 4096-row driver sample — d×d SVDs at embedding
    * dims are trivial. */
  def trainOpqModel(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, kCodes: Int = 16, iters: Int = 10, opqIters: Int = 8
  ): OpqModel = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(kCodes >= 2, s"kCodes must be >= 2, got $kCodes")
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    val prepared = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val sample = normalizedSample(prepared)
    require(sample.nonEmpty, "opqKnn: no non-null embeddings to train on")
    val d = sample(0).length
    sample.find(_.length != d).foreach(v => throw new IllegalArgumentException(
      s"opqKnn: mixed embedding dimensions in corpus — trained on $d dims, " +
        s"found a ${v.length}-dim vector in the training sample"))
    require(m <= d, s"opqKnn: m ($m) subspaces over $d dims")
    val bounds = Array.tabulate(m + 1)(j => j * d / m)
    def trainBooks(rx: Array[Array[Double]]): Array[Array[Array[Double]]] =
      Array.tabulate(m) { j =>
        Quantizer.lloyd(
          rx.map(v => java.util.Arrays.copyOfRange(v, bounds(j), bounds(j + 1))),
          kCodes, iters, seed = 42L + j)
      }
    var rot = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var it = 0
    while (it < opqIters) {
      val rx = sample.map(v => rotateVec(rot, v))
      val books = trainBooks(rx)
      val mm = breeze.linalg.DenseMatrix.zeros[Double](d, d)
      var i = 0
      while (i < sample.length) {
        val c = pqReconstruct(rx(i), bounds, books)
        val x = sample(i)
        var a = 0
        while (a < d) {
          val ca = c(a); var b = 0
          while (b < d) { mm(a, b) += ca * x(b); b += 1 }
          a += 1
        }
        i += 1
      }
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(mm)
      val r2 = u * vt
      rot = Array.tabulate(d, d)((a, b) => r2(a, b))
      it += 1
    }
    // the loop's last codebooks were trained against the PREVIOUS
    // rotation — retrain once so the stored pair is self-consistent
    OpqModel(rot, PqModel(d, m, kCodes,
      trainBooks(sample.map(v => rotateVec(rot, v)))))
  }

  /** OPQ ANN, retrain path: train rotation + codebooks, encode, ADC
    * shortlist, exact rescore. `(query_id, neighbor_id, rank,
    * cosine)`, every cosine exact. */
  def opqKnn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, kCodes: Int = 16, shortlist: Int = 32,
      iters: Int = 10, opqIters: Int = 8
  ): DataFrame = {
    val model = trainOpqModel(corpus, idCol, vecCol, m, kCodes, iters, opqIters)
    retrainSearch(AnnIndex.Model(Some(model.rotation), None, AnnIndex.Pq(model.pq)),
      corpus, queries, idCol, vecCol, k, shortlist = shortlist)
  }
}
