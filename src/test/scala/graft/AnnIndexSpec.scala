package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.operators.Similarity
import graft.pipeline.CurationPipeline

/** Stored-ANN search refuses inputs that would otherwise answer wrong
  * or empty with success: a codes table of another index kind than the
  * model, and k / nProbe below 1. Driven through
  * [[CurationPipeline.run]] (the `knn` step) and the retrain entry
  * points, without booting a CLI. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 12
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)

  /** A source dir holding `embeddings` (30 vectors) and `queries` (3). */
  private def sources(): String = {
    val src = Files.createTempDirectory("graft-annidx-src").toString
    val embs = (0L until 30L).map(i => (i, s"doc $i", vec(i.toInt)))
      .toDF("vec_id", "text", "embedding")
    embs.write.parquet(s"$src/embeddings.parquet")
    embs.filter(col("vec_id") < 3).write.parquet(s"$src/queries.parquet")
    src
  }

  private def step(name: String, op: String, input: String, params: (String, String)*) =
    CurationPipeline.Step(name, op, Some(input), params.toMap)

  private def run(steps: CurationPipeline.Step*): Unit =
    CurationPipeline.run(spark,
      CurationPipeline.Spec("ann_checks", "vec_id", "text", steps.toSeq),
      sources(), Files.createTempDirectory("graft-annidx-out").toString)

  private def messages(e: Throwable): String =
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  test("knn rejects a codes table of another index kind: plain-PQ codebooks over cell-carrying IVF-PQ codes") {
    val e = intercept[Exception] {
      run(
        step("cells", "knn_train", "embeddings", "family" -> "ivf", "nCells" -> "4"),
        step("rbooks", "knn_train", "embeddings", "family" -> "ivfpq",
          "centroids" -> "cells", "m" -> "4", "kCodes" -> "8"),
        step("ivfpq_codes", "knn_encode", "embeddings",
          "model" -> "rbooks", "centroids" -> "cells"),
        step("books", "knn_train", "embeddings", "family" -> "pq", "m" -> "4", "kCodes" -> "8"),
        // no centroids: the model is plain PQ, the codes are residual
        step("neighbors", "knn", "queries", "model" -> "books",
          "codes" -> "ivfpq_codes", "corpus" -> "embeddings", "k" -> "3"))
    }
    assert(messages(e).contains("is not a PQ4 codes table"), messages(e))
  }

  test("k and nProbe below 1 fail loud instead of returning no neighbours") {
    val embs = spark.read.parquet(s"${sources()}/embeddings.parquet")
    val queries = embs.filter(col("vec_id") < 3)
    val badK = intercept[IllegalArgumentException] {
      Similarity.ivfKnn(embs, queries, "vec_id", "embedding", k = 0, nCells = 4).collect()
    }
    assert(badK.getMessage.contains("k must be positive"), badK.getMessage)
    val badProbe = intercept[IllegalArgumentException] {
      Similarity.ivfKnn(embs, queries, "vec_id", "embedding", k = 3, nCells = 4,
        nProbe = 0).collect()
    }
    assert(badProbe.getMessage.contains("nProbe must be >= 1"), badProbe.getMessage)
    val badSqProbe = intercept[IllegalArgumentException] {
      Similarity.ivfSqKnn(embs, queries, "vec_id", "embedding", k = 3, nCells = 4,
        nProbe = 0).collect()
    }
    assert(badSqProbe.getMessage.contains("nProbe must be >= 1"), badSqProbe.getMessage)
    // the pipeline knn step over stored IVF postings
    val e = intercept[Exception] {
      run(
        step("cells", "knn_train", "embeddings", "family" -> "ivf", "nCells" -> "4"),
        step("postings", "knn_encode", "embeddings", "model" -> "cells"),
        step("neighbors", "knn", "queries", "model" -> "cells",
          "codes" -> "postings", "k" -> "3", "nProbe" -> "0"))
    }
    assert(messages(e).contains("nProbe must be >= 1"), messages(e))
  }
}
