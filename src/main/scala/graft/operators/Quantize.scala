package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding quantization: symmetric per-vector int8 compression of
  * float32 embedding columns — 4x smaller storage and IO for ANN
  * shuffles at a ~0.4% cosine error, which is the difference between
  * a 100 TB and a 25 TB embedding store.
  *
  * q_i = round(v_i * 127 / max|v|), reconstructed as q_i * scale/127.
  * Everything is scan-local array arithmetic (transform/array_max —
  * codegen'd, no explode, no shuffle); the quantized table keeps one
  * (scale, int8-array) pair per vector.
  */
object Quantize {

  /** Per-vector max |v| — the symmetric int8 scale. Materialize it as
    * its own column BEFORE feeding [[int8CodesCol]]: higher-order
    * functions are interpreted with no subexpression caching, so an
    * inlined maxAbs would re-reduce the whole vector for EVERY
    * element (O(d²) per vector instead of O(d)). */
  private[operators] def maxAbsCol(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** The int8 code array of `vec` against an already-materialized
    * `scale` column — THE quantization formula, shared by [[int8]]
    * and the IVF,SQ8 encode ([[AnnIndex.encode]]) so corpus and query
    * codes can never silently desynchronize. Zero scale → all-zero
    * codes. */
  private[operators] def int8CodesCol(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale === 0.0, lit(0))
        .otherwise(round(x.cast("double") * lit(127.0) / scale, 0))
        .cast("int"))

  /** Quantize `vecCol` (array of float/double) to (scale, q) where
    * `scale` is the vector's max absolute value and `q` the int8
    * codes. Zero vectors quantize to all-zero codes with scale 0. */
  def int8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    Seq("scale", "q").foreach { c =>
      require(!emb.columns.contains(c) || c == vecCol,
        s"int8 would overwrite existing column '$c' — rename it first")
    }
    emb.select(col(idCol), maxAbsCol(col(vecCol)).as("scale"), col(vecCol).as("__v"))
      .select(col(idCol), col("scale"),
        int8CodesCol(col("__v"), col("scale")).as("q"))
  }

  /** Reconstruct approximate double vectors from [[int8]] output. */
  def dequantize(quantized: DataFrame, idCol: String): DataFrame =
    quantized.select(col(idCol),
      transform(col("q"),
        c => c.cast("double") * col("scale") / lit(127.0)).as("vec"))
}
