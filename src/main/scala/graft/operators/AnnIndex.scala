package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persisted ANN indexes: the train-once → store → reuse workflow
  * (the FAISS production shape) over [[Similarity]]'s quantizer
  * arithmetic.
  *
  * Every index kind is ONE composition, the FAISS index-factory
  * shape (Johnson, Douze & Jégou, "Billion-scale similarity search
  * with GPUs", 2017): an optional OPQ rotation, an optional IVF
  * coarse quantizer, and a codec — `Flat` (float postings), `Sq8`
  * (per-vector int8 codes) or `Pq` (product codes, over the cell
  * RESIDUAL when a coarse quantizer is present) — followed by an
  * exact rerank. The six supported compositions are
  *
  *  | kind         | rotation | coarse | codec | codes table                     |
  *  |--------------|----------|--------|-------|---------------------------------|
  *  | IVF,Flat     |          | yes    | Flat  | `(id, cell, vector)`            |
  *  | IVF,SQ8      |          | yes    | Sq8   | `(id, cell, scale, q)`          |
  *  | PQ           |          |        | Pq    | `(id, codes)`                   |
  *  | OPQ,PQ       | yes      |        | Pq    | `(id, codes)`                   |
  *  | IVF,PQ       |          | yes    | Pq    | `(id, cell, codes)`             |
  *  | OPQ,IVF,PQ   | yes      | yes    | Pq    | `(id, cell, codes)`             |
  *
  * and any other combination is rejected by [[Model]]. Three
  * functions serve every kind: [[load]] builds the model from its
  * tables once (fail loud on a malformed table), [[encode]] encodes
  * a corpus, [[search]] answers a query batch. The `train*`
  * functions produce the model tables.
  *
  * Model tables (unchanged on-disk formats):
  *  - centroids `(cell INT, centroid ARRAY<DOUBLE>)` — unit-normalized,
  *    contiguous 0-based cells;
  *  - codebooks `(subspace INT, code INT, dim INT,
  *    centroid ARRAY<DOUBLE>)` — `dim` constant across rows;
  *  - rotation `(row INT, dim INT, coeffs ARRAY<DOUBLE>)` — orthogonal;
  *  - the combined OPQ table ([[trainOpqCombined]]): codebook rows
  *    with `rot_row = NULL` plus rotation rows in the `centroid`
  *    column keyed by `rot_row`.
  *
  * Write cell-carrying codes `.partitionBy("cell")`: [[search]]
  * collects the probed-cell set driver-side and filters on it, so a
  * probe reads only its `nProbe` partitions (pinned in PlanSpec).
  * Quantized codecs rescore their shortlist exactly over the raw
  * corpus, so every returned cosine is exact.
  *
  * Determinism contract: training is seeded and sample order is an
  * id-hash, centroid doubles round-trip parquet exactly, and the
  * [[Similarity]] retrain paths (`ivfKnn`, `pqKnn`, `opqKnn`,
  * `ivfPqKnn`, `ivfSqKnn`) are themselves train → [[encode]] →
  * [[search]] — so a query against a stored index returns IDENTICAL
  * rows to a same-seed retrain (pinned in SimilaritySpec and the
  * `embed_knn_*_stored` gates).
  */
object AnnIndex {

  /** Model tables are collected driver-side — bounded by construction
    * (an IVF quantizer has ~√N cells at most; a PQ codebook is
    * m × kCodes), but a wrong table passed as a model must fail loud,
    * not OOM the driver. */
  val MaxModelRows = 1 << 20

  /** What a vector is stored as inside its cell (or globally without a
    * coarse quantizer). */
  sealed trait Codec
  /** The float vector itself; ranked exactly within probed cells. */
  case object Flat extends Codec
  /** Symmetric per-vector int8 codes ([[Quantize.int8]]'s formula). */
  case object Sq8 extends Codec
  /** m product-quantizer codes — of the unit vector, or of its
    * residual against the assigned cell centroid under IVF. */
  final case class Pq(books: Similarity.PqModel) extends Codec

  /** One index: optional rotation, optional coarse quantizer, codec.
    * Flat and Sq8 exist only under a coarse quantizer and without a
    * rotation (IVF,Flat and IVF,SQ8); Pq composes with both. */
  final case class Model(
      rotation: Option[Array[Array[Double]]],
      centroids: Option[Array[Array[Double]]],
      codec: Codec) {
    require(codec.isInstanceOf[Pq] || (centroids.isDefined && rotation.isEmpty),
      s"AnnIndex.Model: $kind is not a supported index — the Flat and SQ8 " +
        "codecs need an IVF coarse quantizer and take no rotation")
    centroids.foreach(c => require(c.nonEmpty, "AnnIndex.Model: empty centroid set"))
    codec match {
      case Pq(books) => rotation.foreach(r =>
        require(r.length == books.dim && r.forall(_.length == books.dim),
          s"AnnIndex.Model: the rotation is not ${books.dim}x${books.dim}"))
      case _ =>
    }

    /** The FAISS index-factory style name, e.g. `OPQ,IVF16,PQ8`. */
    def kind: String = {
      val c = codec match {
        case Flat => "Flat"
        case Sq8 => "SQ8"
        case Pq(b) => s"PQ${b.m}"
      }
      (rotation.map(_ => "OPQ") ++ centroids.map(cs => s"IVF${cs.length}") ++ Seq(c))
        .mkString(",")
    }

    /** The schema of [[encode]]'s output (the maintained-store family
      * string of [[graft.streaming.StreamingAnnIndex]]). */
    def codesSchema: String = {
      val payload = codec match {
        case Flat => "vector ARRAY<FLOAT>"
        case Sq8 => "scale DOUBLE, q ARRAY<INT>"
        case Pq(_) => "codes ARRAY<INT>"
      }
      s"id BIGINT, ${if (centroids.isDefined) "cell INT, " else ""}$payload"
    }
  }

  // ============================================================ training

  /** Train an IVF coarse quantizer: the centroids table, unit-normalized
    * centroids in cell order ([[Similarity.trainIvfModel]]). */
  def trainIvf(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, iters: Int = 10, seed: Long = 42L
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Similarity.trainIvfModel(corpus, idCol, vecCol, nCells, iters, seed)
      .zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cell", "centroid")
  }

  private def booksTable(spark: SparkSession, model: Similarity.PqModel): DataFrame = {
    import spark.implicits._
    (for {
      j <- 0 until model.m
      c <- 0 until model.kCodes
    } yield (j, c, model.dim, model.codebooks(j)(c).toSeq))
      .toDF("subspace", "code", "dim", "centroid")
  }

  /** The rotation table of an OPQ model — one schema home, shared by
    * [[trainOpq]] and [[trainIvfOpq]]. */
  private def rotationTable(
      spark: SparkSession, model: Similarity.OpqModel): DataFrame = {
    import spark.implicits._
    model.rotation.zipWithIndex
      .map { case (r, i) => (i, model.pq.dim, r.toSeq) }
      .toSeq.toDF("row", "dim", "coeffs")
  }

  /** Train PQ codebooks over the unit vectors: the codebooks table.
    * m and kCodes are the subspace/code extents. */
  def trainPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, kCodes: Int = 16, iters: Int = 10
  ): DataFrame =
    booksTable(corpus.sparkSession,
      Similarity.trainPqModel(corpus, idCol, vecCol, m, kCodes, iters))

  /** Train the residual codebooks of a composed IVF-PQ index against a
    * stored centroids table: the codebooks shape, trained on per-cell
    * RESIDUALS `u - c(cell)` (FAISS `IndexIVFPQ` — residuals are
    * smaller and more isotropic, so the same code budget quantizes
    * finer than plain PQ). */
  def trainIvfPq(
      corpus: DataFrame, idCol: String, vecCol: String, centroids: DataFrame,
      m: Int = 8, kCodes: Int = 16, iters: Int = 10
  ): DataFrame =
    booksTable(corpus.sparkSession, Similarity.trainIvfPqResidualModel(
      corpus, idCol, vecCol, loadCentroids(centroids), m, kCodes, iters))

  /** Train an OPQ index (rotation + codebooks, jointly —
    * [[Similarity.trainOpqModel]]): `(rotation, codebooks)` tables,
    * the FAISS `OPQ{m},PQ{m}` layout. */
  def trainOpq(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, kCodes: Int = 16, iters: Int = 10, opqIters: Int = 8
  ): (DataFrame, DataFrame) = {
    val model = Similarity.trainOpqModel(corpus, idCol, vecCol, m, kCodes, iters, opqIters)
    (rotationTable(corpus.sparkSession, model), booksTable(corpus.sparkSession, model.pq))
  }

  /** [[trainOpq]]'s two tables folded into ONE — the pipeline's
    * one-output-per-step shape (FAISS likewise serializes the OPQ
    * pretransform chained into one index artifact): codebook rows
    * carry `(subspace, code, dim, centroid, rot_row = NULL)`, rotation
    * rows `(NULL, NULL, dim, centroid = coefficients, rot_row = i)`.
    * [[load]] accepts it as the codebooks table. */
  def trainOpqCombined(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, kCodes: Int = 16, iters: Int = 10, opqIters: Int = 8
  ): DataFrame = {
    val (rotation, books) = trainOpq(corpus, idCol, vecCol, m, kCodes, iters, opqIters)
    books
      .withColumn("rot_row", lit(null).cast("int"))
      .unionByName(rotation.select(
        lit(null).cast("int").as("subspace"), lit(null).cast("int").as("code"),
        col("dim"), col("coeffs").as("centroid"), col("row").as("rot_row")))
  }

  /** Train the fully composed FAISS `OPQ{m},IVF{x},PQ{m}` index: the
    * OPQ pretransform trains first (joint rotation + throwaway
    * codebooks on the raw sample), then the coarse quantizer and the
    * residual codebooks train in ROTATED space. Returns
    * `(rotation, centroids, codebooks)`. */
  def trainIvfOpq(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, m: Int = 8, kCodes: Int = 16,
      iters: Int = 10, opqIters: Int = 8
  ): (DataFrame, DataFrame, DataFrame) = {
    // every training stage is internally fixed-seed, so same
    // (corpus, params) -> byte-identical four-table index
    val opq = Similarity.trainOpqModel(corpus, idCol, vecCol, m, kCodes, iters, opqIters)
    val rotated = corpus.select(col(idCol),
      Similarity.rotateFloatUdf(opq.rotation)(col(vecCol)).as(vecCol))
    val centroids = trainIvf(rotated, idCol, vecCol, nCells, iters)
    val books = trainIvfPq(rotated, idCol, vecCol, centroids, m, kCodes, iters)
    (rotationTable(corpus.sparkSession, opq), centroids, books)
  }

  // ============================================================ load

  private def boundedModelRows(df: DataFrame, what: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(MaxModelRows + 1).collect()
    require(rows.length <= MaxModelRows,
      s"$what: model table has more than $MaxModelRows rows — not a trained " +
        "model table (did you pass the corpus by mistake?)")
    rows
  }

  /** Build a [[Model]] from its tables, collecting each once. The
    * tables present pick the kind: `centroids` adds the IVF coarse
    * quantizer, `codebooks` the PQ codec (a combined OPQ table — one
    * with a `rot_row` column — also supplies the rotation), `rotation`
    * the OPQ pretransform; without codebooks the codec is Flat, or Sq8
    * when `sq8` is set. Fails loud on gaps, duplicates, inconsistent
    * dims or a non-orthogonal rotation — a filtered or mis-joined
    * model table would otherwise silently mis-assign or mis-rank
    * every vector. */
  def load(
      centroids: Option[DataFrame] = None,
      codebooks: Option[DataFrame] = None,
      rotation: Option[DataFrame] = None,
      sq8: Boolean = false
  ): Model = {
    require(!(sq8 && codebooks.isDefined),
      "AnnIndex.load: sq8 is the codec of a centroids-only index (codebooks ARE the quantization)")
    val combined = codebooks.filter(_.columns.contains("rot_row"))
    require(combined.isEmpty || rotation.isEmpty,
      "AnnIndex.load: the combined OPQ table already carries the rotation")
    val books = codebooks.map(b => loadBooks(combined.fold(b)(_ =>
      b.filter(col("rot_row").isNull)
        .select(col("subspace"), col("code"), col("dim"), col("centroid")))))
    val rot = combined.map(_.filter(col("rot_row").isNotNull)
        .select(col("rot_row").as("row"), col("dim"), col("centroid").as("coeffs")))
      .orElse(rotation)
      .map { r =>
        require(books.isDefined, "AnnIndex.load: a rotation needs its codebooks")
        loadRotation(r, books.get.dim)
      }
    Model(rot, centroids.map(loadCentroids),
      books.map(Pq(_)).getOrElse(if (sq8) Sq8 else Flat))
  }

  /** A centroids table as the cell-indexed array of unit centroids. */
  private def loadCentroids(centroids: DataFrame): Array[Array[Double]] = {
    val rows = boundedModelRows(
      centroids.select(col("cell").cast("int"), col("centroid")), "centroids")
    val byCell = rows.map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    require(byCell.size == rows.length,
      s"centroids: duplicate cell ids in centroids table (${rows.length} rows, " +
        s"${byCell.size} distinct cells)")
    val n = rows.length
    require(n > 0, "centroids: empty centroids table")
    Array.tabulate(n)(i => byCell.getOrElse(i, throw new IllegalArgumentException(
      s"centroids: centroids table has $n rows but no cell $i — cells must be " +
        "contiguous 0-based (was the table filtered?)")))
  }

  private def loadBooks(codebooks: DataFrame): Similarity.PqModel = {
    val rows = boundedModelRows(
      codebooks.select(col("subspace").cast("int"), col("code").cast("int"),
        col("dim").cast("int"), col("centroid")), "codebooks")
    require(rows.nonEmpty, "codebooks: empty codebooks table")
    val dims = rows.map(_.getInt(2)).distinct
    require(dims.length == 1,
      s"codebooks: inconsistent dim column (${dims.sorted.mkString(", ")})")
    val dim = dims.head
    val m = rows.map(_.getInt(0)).max + 1
    val kCodes = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * kCodes,
      s"codebooks: expected $m x $kCodes = ${m * kCodes} codebook rows, got " +
        s"${rows.length} — gaps or duplicates (was the table filtered?)")
    val byKey = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](3).toArray).toMap
    require(byKey.size == rows.length, "codebooks: duplicate (subspace, code) rows")
    val cb = Array.tabulate(m)(j => Array.tabulate(kCodes)(c =>
      byKey.getOrElse((j, c), throw new IllegalArgumentException(
        s"codebooks: missing codebook entry (subspace $j, code $c)"))))
    Similarity.PqModel(dim, m, kCodes, cb)
  }

  private def loadRotation(rotation: DataFrame, dim: Int): Array[Array[Double]] = {
    val rows = boundedModelRows(
      rotation.select(col("row").cast("int"), col("dim").cast("int"), col("coeffs")),
      "rotation")
    require(rows.nonEmpty, "rotation: empty rotation table")
    val dims = rows.map(_.getInt(1)).distinct
    require(dims.length == 1 && dims.head == dim,
      s"rotation: rotation dim column (${dims.sorted.mkString(", ")}) does not " +
        s"match the codebooks' dim $dim")
    require(rows.length == dim,
      s"rotation: expected $dim rotation rows, got ${rows.length} — " +
        "gaps or duplicates (was the table filtered?)")
    val byRow = rows.map(r => r.getInt(0) -> r.getSeq[Double](2).toArray).toMap
    require(byRow.size == rows.length, "rotation: duplicate rotation row ids")
    val rot = Array.tabulate(dim)(i => byRow.getOrElse(i,
      throw new IllegalArgumentException(
        s"rotation: rotation table has ${rows.length} rows but no row $i")))
    rot.zipWithIndex.foreach { case (r, i) =>
      require(r.length == dim,
        s"rotation: rotation row $i has ${r.length} of $dim coefficients")
    }
    // orthogonality sanity: R·Rᵀ ≈ I (parquet round-trips doubles
    // exactly, so only genuine corruption trips this)
    for (a <- 0 until dim; b <- 0 until dim) {
      var s = 0.0; var i = 0
      while (i < dim) { s += rot(a)(i) * rot(b)(i); i += 1 }
      require(math.abs(s - (if (a == b) 1.0 else 0.0)) < 1e-6,
        s"rotation: rotation is not orthogonal (R·Rᵀ[$a][$b] = $s) — " +
          "corrupt or filtered rotation table")
    }
    rot
  }

  // ============================================================ encode

  /** Encode `corpus` against `model`: the codes table of
    * [[Model.codesSchema]] — scan-local (the model rides the UDF
    * closures), no shuffle. NULL vectors get NULL cell/payload (they
    * carry no geometry; the search join drops them). Under OPQ without
    * IVF the rotation happens inside the codec UDF, in doubles; under
    * OPQ+IVF the vectors rotate to a float column first, so the coarse
    * quantizer assigns in rotated space. */
  def encode(model: Model, corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val id = col(idCol).as("id")
    (model.centroids, model.codec) match {
      case (Some(cents), Flat) =>
        corpus.select(id, Similarity.ivfAssignUdf(cents)(col(vecCol)).as("cell"),
          col(vecCol).as("vector"))
      case (Some(cents), Sq8) =>
        corpus.select(id, Similarity.ivfAssignUdf(cents)(col(vecCol)).as("cell"),
          Quantize.maxAbsCol(col(vecCol)).as("scale"), col(vecCol).as("__v"))
          .select(col("id"), col("cell"), col("scale"),
            Quantize.int8CodesCol(col("__v"), col("scale")).as("q"))
      case (None, Pq(books)) =>
        corpus.select(id, Similarity.pqEncodeUdf(books, model.rotation)(
          col(idCol).cast("string"), col(vecCol)).as("codes"))
      case (Some(cents), Pq(books)) =>
        val src = model.rotation.fold(corpus)(r => corpus.select(col(idCol),
          Similarity.rotateFloatUdf(r)(col(vecCol)).as(vecCol)))
        src.select(id, col(vecCol).as("cv"),
            Similarity.ivfAssignUdf(cents)(col(vecCol)).as("cell"))
          .select(col("id"), col("cell"), Similarity.ivfPqCodesUdf(cents, books)(
            col("id").cast("string"), col("cv"), col("cell")).as("codes"))
      case _ => throw new IllegalStateException(s"unreachable: ${model.kind}")
    }
  }

  // ============================================================ search

  /** Columns that tell the codes-table kinds apart. */
  private val KindCols = Set("cell", "vector", "q", "codes")

  /** Top-`k` neighbours `(query_id, neighbor_id, rank, cosine)` of every
    * query against a stored index. `codes` must be [[encode]]'s output
    * for the same model kind (checked: a codes table of another kind
    * fails loud instead of being searched as this one). `corpus`
    * supplies the raw vectors for the exact rescore of a quantized
    * codec's shortlist (Flat postings carry their vectors, so Flat
    * ignores it). Under IVF the codes scan is pre-pruned to the
    * probed cells; `nProbe` cells per query, `shortlist` ADC/int8
    * candidates per query for the exact rescore. Self pairs are
    * excluded; NULL query vectors return nothing. */
  def search(
      model: Model, corpus: Option[DataFrame], queries: DataFrame, codes: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 3, shortlist: Int = 32
  ): DataFrame =
    searchCodes(model, corpus, queries, codes, idCol, vecCol, k, nProbe, shortlist,
      pruneCells = true)

  /** [[search]] with the probed-cell pre-filter optional. It pays off
    * on a stored `partitionBy("cell")` codes table only; codes encoded
    * in the same plan (the [[Similarity]] retrain paths) have nothing
    * to prune, and there the filter would cost one more probe job and,
    * pushed below the encode, a second cell assignment per corpus row. */
  private[operators] def searchCodes(
      model: Model, corpus: Option[DataFrame], queries: DataFrame, codes: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int, shortlist: Int,
      pruneCells: Boolean
  ): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    if (model.centroids.isDefined)
      require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    if (model.codec != Flat)
      require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val want = StructType.fromDDL(model.codesSchema).fieldNames.toSet
    val have = codes.columns.toSet
    require(want.subsetOf(have) && (have & KindCols) == (want & KindCols),
      s"AnnIndex.search: codes table (${codes.columns.mkString(", ")}) is not a " +
        s"${model.kind} codes table (${model.codesSchema})")
    lazy val rescoreFrom = corpus.getOrElse(throw new IllegalArgumentException(
      s"AnnIndex.search: ${model.kind} rescores its shortlist exactly — pass the corpus"))

    // under IVF: the query vectors the coarse quantizer sees (rotated
    // under OPQ+IVF), and the codes scan pruned to the probed cells
    val rq = "__graft_rq"
    val (q, probeVec) = (model.centroids, model.rotation) match {
      case (Some(_), Some(r)) =>
        require(!queries.columns.contains(rq),
          s"queries already carry a '$rq' column — rename it first")
        (queries.withColumn(rq, Similarity.rotateFloatUdf(r)(col(vecCol))), rq)
      case _ => (queries, vecCol)
    }
    val pruned = model.centroids.filter(_ => pruneCells).fold(codes)(cents =>
      codes.filter(col("cell").isin(probedCells(q, idCol, probeVec, nProbe, cents): _*)))
    val cell = col("cell").cast("int").as("cell")

    (model.centroids, model.codec) match {
      case (Some(cents), Flat) =>
        val probes = ivfProbes(q, idCol, vecCol, nProbe, cents)
        probes.join(pruned.select(col("id").as("neighbor_id"), col("vector").as("cv"), cell),
            Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("cosine", Similarity.cosine(col("qv"), col("cv")))
          .withColumn("rank",
            row_number().over(
              Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
          .filter(col("rank") <= k)
          .select("query_id", "neighbor_id", "rank", "cosine")
      case (Some(cents), Sq8) =>
        // stage 1 ranks by the code-space cosine (exact integer dots,
        // norms precomputed per side before the join; per-vector
        // scales cancel); null codes and zero norms drop to null
        val idot = Similarity.intDotCol
        val probes = Quantize.int8(q, idCol, vecCol)
          .select(col(idCol).as("query_id"), col("q").as("qq"))
          .withColumn("qn", sqrt(idot(col("qq"), col("qq")).cast("double")))
          .join(q.select(col(idCol).as("query_id"), col(vecCol).as("qv")), "query_id")
          .withColumn("cell", explode(
            Similarity.ivfProbeCellsUdf(cents, nProbe)(col("qv").cast("array<double>"))))
          .select("query_id", "cell", "qq", "qn")
        val cz = pruned.select(col("id").as("neighbor_id"), cell, col("q").as("cq"))
          .withColumn("cn", sqrt(idot(col("cq"), col("cq")).cast("double")))
        val denom = col("qn") * col("cn")
        shortlistRescore(rescoreFrom, queries, cz, probes,
          when(denom === 0.0, lit(null))
            .otherwise(idot(col("qq"), col("cq")).cast("double") / denom),
          idCol, vecCol, k, shortlist)
      case (None, Pq(books)) =>
        // asymmetric distance: one m × kCodes table per query, a
        // candidate scores m table lookups
        val probes = q.select(col(idCol).as("query_id"),
          Similarity.pqAdcTableUdf(books, model.rotation)(
            col(idCol).cast("string"), col(vecCol)).as("qt"))
        shortlistRescore(rescoreFrom, queries,
          pruned.select(col("id").as("neighbor_id"), col("codes")), probes,
          Similarity.pqAdcLookupUdf(books)(col("codes"), col("qt")),
          idCol, vecCol, k, shortlist)
      case (Some(cents), Pq(books)) =>
        // IVFADC: dot(q, c(cell)) from the probe plus the residual
        // table sum; a candidate is scored only in its probed cells
        val probes = q.select(col(idCol).as("query_id"), col(probeVec).as("qv"),
            Similarity.pqAdcTableUdf(books)(col(idCol).cast("string"), col(probeVec)).as("qt"))
          .withColumn("cell", explode(
            Similarity.ivfProbeCellsUdf(cents, nProbe)(col("qv").cast("array<double>"))))
          .withColumn("qcdot", Similarity.ivfCoarseDotUdf(cents)(
            col("query_id").cast("string"), col("qv"), col("cell")))
          .select("query_id", "cell", "qt", "qcdot")
        shortlistRescore(rescoreFrom, queries,
          pruned.select(col("id").as("neighbor_id"), cell, col("codes")), probes,
          col("qcdot") + Similarity.pqAdcLookupUdf(books)(col("codes"), col("qt")),
          idCol, vecCol, k, shortlist)
      case _ => throw new IllegalStateException(s"unreachable: ${model.kind}")
    }
  }

  /** The distinct probed-cell set of a query batch — bounded by the
    * cell count (never the query count), collected driver-side to
    * become an IN filter on the codes table's `cell` partition column,
    * so a `partitionBy("cell")` index reads only its probed partitions.
    * The probes subplan evaluates twice (once here, once in the search
    * join) — deliberate: queries are the SMALL side by construction.
    * Filtering to probed cells cannot change the join result. */
  private def probedCells(
      queries: DataFrame, idCol: String, vecCol: String,
      nProbe: Int, cents: Array[Array[Double]]): Seq[Int] =
    ivfProbes(queries, idCol, vecCol, nProbe, cents)
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq // <= cents.length rows

  /** Per query the nProbe nearest centroids, exploded to
    * `(query_id, qv, cell)` probe rows. A NULL query embedding yields
    * no probes and drops out of the explode. */
  private def ivfProbes(
      queries: DataFrame, idCol: String, vecCol: String, nProbe: Int,
      cents: Array[Array[Double]]): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(
        Similarity.ivfProbeCellsUdf(cents, nProbe)(col("qv").cast("array<double>"))))

  /** The shortlist-and-rescore tail of every quantized codec: join the
    * codes `(neighbor_id, [cell,] payload)` with the broadcast probe
    * rows (on `cell` under IVF), drop self pairs, keep the top
    * `shortlist` candidates per query by `approx` (NULL scores drop),
    * then rescore exactly. */
  private def shortlistRescore(
      corpus: DataFrame, queries: DataFrame, codes: DataFrame, probes: DataFrame,
      approx: Column, idCol: String, vecCol: String, k: Int, shortlist: Int
  ): DataFrame = {
    val pairs =
      if (probes.columns.contains("cell"))
        codes.join(broadcast(probes), Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
      else codes.join(broadcast(probes), col("query_id") =!= col("neighbor_id"))
    val cand = pairs
      .withColumn("approx", approx)
      .filter(col("approx").isNotNull)
      .withColumn("arank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("approx").desc, col("neighbor_id"))))
      .filter(col("arank") <= shortlist)
      .select("query_id", "neighbor_id")
    rescoreExact(corpus, queries, cand, idCol, vecCol, k)
  }

  /** Exact rescoring of the `(query_id, neighbor_id)` shortlist only
    * (the corpus streams; candidates + query vectors broadcast). The
    * NaN guard: a ZERO vector encodes to valid codes, and its exact
    * cosine is 0/0 = NaN under the fold fallback — which Spark sorts
    * ABOVE every real double and would rank first. */
  private def rescoreExact(
      corpus: DataFrame, queries: DataFrame, cand: DataFrame,
      idCol: String, vecCol: String, k: Int
  ): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    cv
      .join(broadcast(cand.join(broadcast(qv), Seq("query_id"))), Seq("neighbor_id"))
      .withColumn("cosine", Similarity.cosine(col("qv"), col("cv")))
      .filter(col("cosine").isNotNull && !isnan(col("cosine")))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }
}
