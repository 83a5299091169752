package graft

import org.apache.spark.sql.functions._
import graft.operators.AnnIndex
import graft.streaming.StreamingAnnIndex

/** Maintained ANN postings store: incremental encode against a frozen
  * model equals a from-scratch encode of the full corpus, replays are
  * idempotent (untouched buckets never rewrite), duplicate ids fail
  * loud, and search over the incrementally-built table matches the
  * one-shot stored-index path bitwise. */
class StreamingAnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
  private val IvfSchema = "id BIGINT, cell INT, vector ARRAY<FLOAT>"

  test("incremental nights equal a from-scratch encode; replay rewrites nothing new; search matches bitwise") {
    val all = (0L until 30L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val night1 = all.filter(col("vec_id") < 20)
    val night2 = all.filter(col("vec_id") >= 15) // overlaps 15..19 — already encoded
    val ivf = AnnIndex.load(centroids =
      Some(AnnIndex.trainIvf(all, "vec_id", "embedding", nCells = 4)))
    val store = java.nio.file.Files.createTempDirectory("graft-ann-store").toString + "/enc"
    StreamingAnnIndex.initialize(store, numBuckets = 8, IvfSchema)
    def enc(df: org.apache.spark.sql.DataFrame) =
      AnnIndex.encode(ivf, df, "id", "embedding")
    StreamingAnnIndex.applyBatch(night1.select(col("vec_id"), col("embedding")),
      "vec_id", store, IvfSchema, 8, enc)
    StreamingAnnIndex.applyBatch(night2.select(col("vec_id"), col("embedding")),
      "vec_id", store, IvfSchema, 8, enc)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Seq[Float])] =
      df.select("id", "cell", "vector").as[(Long, Int, Seq[Float])].collect().toSet
    val incremental = rows(StreamingAnnIndex.readEncoded(spark, store, IvfSchema))
    val scratch = rows(AnnIndex.encode(ivf, all, "vec_id", "embedding"))
    assert(incremental === scratch,
      "two incremental nights must equal a from-scratch encode (frozen model)")
    // replay night 2: every id anti-joins out — the store's rows are
    // unchanged (bucket rewrites carry identical content)
    StreamingAnnIndex.applyBatch(night2.select(col("vec_id"), col("embedding")),
      "vec_id", store, IvfSchema, 8, enc)
    assert(rows(StreamingAnnIndex.readEncoded(spark, store, IvfSchema)) === scratch)
    // search over the incremental table == the one-shot stored path
    val queries = all.filter(col("vec_id") < 3)
    def collected(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    val viaStore = collected(AnnIndex.search(ivf, None, queries,
      StreamingAnnIndex.readEncoded(spark, store, IvfSchema), "vec_id", "embedding", k = 3))
    val viaScratch = collected(AnnIndex.search(ivf, None, queries,
      AnnIndex.encode(ivf, all, "vec_id", "embedding"), "vec_id", "embedding", k = 3))
    assert(viaStore === viaScratch)
    // duplicate ids fail loud
    val dup = (Seq((1L, vec(1)), (1L, vec(99)))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      StreamingAnnIndex.applyBatch(dup, "vec_id", store, IvfSchema, 8, enc)
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("appears more than once"), chain)
    // a NULL id would evade the seen-id anti-join (null join keys match
    // nothing) and re-append a duplicate store row on EVERY batch — the
    // type check alone cannot catch it, so applyBatch raises in-plan
    val withNull = night1.select(
      when(col("vec_id") === 1L, lit(null)).otherwise(col("vec_id"))
        .cast("long").as("vec_id"),
      col("embedding"))
    val en = intercept[Exception] {
      StreamingAnnIndex.applyBatch(withNull, "vec_id", store, IvfSchema, 8, enc)
    }
    val nchain = Iterator.iterate[Throwable](en)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(nchain.contains("NULL id"), nchain)
    // a family switch against the same store fails loud instead of
    // reading NULLs and overwriting buckets with the wrong schema
    val wrong = intercept[IllegalArgumentException] {
      StreamingAnnIndex.applyBatch(night1.select(col("vec_id"), col("embedding")),
        "vec_id", store, "id BIGINT, codes ARRAY<INT>", 8, enc)
    }
    assert(wrong.getMessage.contains("schema mismatch"))
  }

  test("pipeline knn_encode mode admit: night 2 encodes only the new vectors; chain output is the full table") {
    import java.nio.file.Files
    val (src, state) = (Files.createTempDirectory("graft-annp-src").toString,
      Files.createTempDirectory("graft-annp-state").toString)
    val all = (0L until 24L).map(i => (i, s"d$i", vec(i.toInt)))
      .toDF("vec_id", "text", "embedding")
    // the model trains once on night 1's corpus and is reused as a
    // TABLE on night 2 (the frozen-model contract)
    val modelDir = Files.createTempDirectory("graft-annp-model").toString
    AnnIndex.trainIvf(all.filter(col("vec_id") < 16), "vec_id", "embedding", nCells = 4)
      .write.parquet(s"$modelDir/m")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$modelDir/m"), new java.io.File(s"$src/ann_model.parquet"))
    def night(rows: org.apache.spark.sql.DataFrame): String = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$src/embeddings.parquet"))
      rows.write.parquet(s"$src/embeddings.parquet")
      val out = Files.createTempDirectory("graft-annp-out").toString
      val y = Files.createTempFile("graft-annp", ".yaml")
      Files.writeString(y,
        """pipeline: ann_admit
          |id: vec_id
          |text: text
          |steps:
          |  - name: encoded
          |    op: knn_encode
          |    input: embeddings
          |    params: { model: ann_model, mode: admit, buckets: "8" }
          |""".stripMargin)
      Cli.run(Seq("pipeline", y.toString, src, out, "--state", state), spark)
      out
    }
    val out1 = night(all.filter(col("vec_id") < 16))
    assert(spark.read.parquet(s"$out1/encoded").count() === 16L)
    val out2 = night(all) // 16 known + 8 new
    val enc2 = spark.read.parquet(s"$out2/encoded")
    assert(enc2.count() === 24L, "output must be the FULL encoded table")
    // the incrementally-built table equals a from-scratch encode
    // against the same frozen model
    val model = spark.read.parquet(s"$src/ann_model.parquet")
    val scratch = AnnIndex.encode(AnnIndex.load(centroids = Some(model)), all, "vec_id", "embedding")
      .select("id", "cell").as[(Long, Int)].collect().toSet
    assert(enc2.select("id", "cell").as[(Long, Int)].collect().toSet === scratch)
  }

  test("pipeline knn_encode mode admit: a bootstrap that crashed after its first marker re-bootstraps and admits") {
    import java.nio.file.{Files, Paths}
    val (src, state) = (Files.createTempDirectory("graft-annc-src").toString,
      Files.createTempDirectory("graft-annc-state").toString)
    val rows = (0L until 12L).map(i => (i, s"d$i", vec(i.toInt)))
      .toDF("vec_id", "text", "embedding")
    AnnIndex.trainIvf(rows, "vec_id", "embedding", nCells = 4)
      .write.parquet(s"$src/ann_model.parquet")
    rows.write.parquet(s"$src/embeddings.parquet")
    // the state a crash leaves when initialize() died after writing
    // _graft_buckets but before the schema it pins
    val store = Paths.get(state, "encoded", "encoded")
    Files.createDirectories(store)
    Files.writeString(store.resolve("_graft_buckets"), "8")
    assert(!StreamingAnnIndex.initialized(store.toString))
    val y = Files.createTempFile("graft-annc", ".yaml")
    Files.writeString(y,
      """pipeline: ann_admit
        |id: vec_id
        |text: text
        |steps:
        |  - name: encoded
        |    op: knn_encode
        |    input: embeddings
        |    params: { model: ann_model, mode: admit, buckets: "8" }
        |""".stripMargin)
    val out = Files.createTempDirectory("graft-annc-out").toString
    Cli.run(Seq("pipeline", y.toString, src, out, "--state", state), spark)
    assert(spark.read.parquet(s"$out/encoded").count() === 12L)
    assert(StreamingAnnIndex.initialized(store.toString))
    assert(Files.readString(store.resolve("_graft_schema")) === IvfSchema)
  }
}
