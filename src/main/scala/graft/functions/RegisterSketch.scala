package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable count-distinct register sketch (F7/F9 in SURVEY §2.0,
  * §2.8) — the one genuinely custom algorithm in the reference.
  *
  * Algebra mirrors `src/Ringo/Generator/Populate/Fact.hs:60-125`:
  * a bucketed probabilistic counter of the Flajolet-Martin / HLL
  * family. Per value, take a 31-bit positive hash `h`; bucket
  * `b = h & (m-1)`; per (group, bucket) keep the register
  * `r = 31 - floor(log2(min h))` (min hash <=> max leading zeros).
  * Stored sparse as bucket -> register, exactly the shape of the
  * reference's `json_object_agg(bnum, bhash)`; merging sketches is
  * register-wise max — the same incremental-merge property.
  *
  * Divergence (documented, SURVEY §7.4.1): the hash is Spark's
  * `xxhash64` of the value's string form, not Postgres `hashtext`
  * (irreproducible); estimates agree within the configured error rate.
  *
  * Bucket count `m = 2^ceil(log2((1.04/errorRate)^2))`
  * (`Fact.hs:122-125`); the default 0.05 gives m = 512.
  *
  * The reference computes this in a second scan + UPDATE because
  * single-pass SQL could not; here it is one more aggregate expression
  * in the same partial/final hash aggregation — one scan, map-side
  * combine, no second shuffle.
  */
object RegisterSketch {

  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  private[functions] val intArrayEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
  private[functions] val intMapEncoder: Encoder[Map[Int, Int]] = ExpressionEncoder[Map[Int, Int]]()

  /** `m = 2^ceil(log2((1.04/errorRate)^2))` (`Fact.hs:122-125`). */
  def bucketCount(errorRate: Double): Int = {
    val power = math.ceil(math.log((1.04 / errorRate) * (1.04 / errorRate)) / math.log(2.0))
    math.pow(2.0, power).toInt
  }

  /** 31 - floor(log2(h)) for h in [1, 2^31): the register value.
    * floor(log2) == 31 - numberOfLeadingZeros for ints. */
  @inline private def registerValue(h31: Int): Int = {
    val h = if (h31 <= 0) 1 else h31
    31 - (31 - Integer.numberOfLeadingZeros(h))
  }

  @inline private def h31(hash64: Long): Int = (hash64 & 0x7FFFFFFFL).toInt

  /** Dense register buffer; -1 = empty. Serializes compactly via the
    * array encoder; emitted sparse. */
  private def emptyBuffer(m: Int): Array[Int] = Array.fill(m)(-1)

  /** Aggregator building a sketch from pre-hashed 64-bit values
    * (null = skipped, mirroring the reference's IS NOT NULL guard,
    * `Fact.hs:98`). */
  final class Build(m: Int) extends Aggregator[java.lang.Long, Array[Int], Map[Int, Int]] {
    require(m > 0 && (m & (m - 1)) == 0, s"bucket count must be a power of 2: $m")
    override def zero: Array[Int] = emptyBuffer(m)
    override def reduce(buf: Array[Int], hash: java.lang.Long): Array[Int] = {
      if (hash != null) {
        val h = h31(hash)
        val b = h & (m - 1)
        val r = registerValue(h)
        if (r > buf(b)) buf(b) = r
      }
      buf
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Int]): Map[Int, Int] =
      buf.iterator.zipWithIndex.collect { case (r, b) if r >= 0 => b -> r }.toMap
    override def bufferEncoder: Encoder[Array[Int]] = RegisterSketch.intArrayEncoder
    override def outputEncoder: Encoder[Map[Int, Int]] = RegisterSketch.intMapEncoder
    // the name plans print: stable across runs, unlike the identity hash
    override def toString: String = s"sketch_build(m=$m)"
  }

  /** Aggregator merging stored sketches (register-wise max) — the
    * re-aggregation path for rolling fact tables up to coarser time
    * buckets or across incremental loads. */
  final class Merge(m: Int) extends Aggregator[Map[Int, Int], Array[Int], Map[Int, Int]] {
    override def zero: Array[Int] = emptyBuffer(m)
    override def reduce(buf: Array[Int], sketch: Map[Int, Int]): Array[Int] = {
      if (sketch != null) sketch.foreach { case (b, r) =>
        if (b >= 0 && b < m && r > buf(b)) buf(b) = r
      }
      buf
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Int]): Map[Int, Int] =
      buf.iterator.zipWithIndex.collect { case (r, b) if r >= 0 => b -> r }.toMap
    override def bufferEncoder: Encoder[Array[Int]] = RegisterSketch.intArrayEncoder
    override def outputEncoder: Encoder[Map[Int, Int]] = RegisterSketch.intMapEncoder
    override def toString: String = s"sketch_merge(m=$m)"
  }

  /** Cardinality estimate from a sketch: HyperLogLog estimator
    * alpha_m * m^2 / sum(2^-M_b) with linear-counting correction for
    * the small range (Flajolet et al. 2007, public algorithm). Empty
    * buckets contribute 2^0. */
  def estimate(sketch: Map[Int, Int], m: Int): Long = {
    if (sketch == null || sketch.isEmpty) return 0L
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    var sum = 0.0
    var i = 0
    while (i < m) { sum += math.pow(2.0, -sketch.getOrElse(i, 0).toDouble); i += 1 }
    val raw = alpha * m.toDouble * m.toDouble / sum
    val zeros = m - sketch.size
    val corrected =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.round(corrected)
  }

  /** Column builders. `hashed` must be a 64-bit hash, null for rows to
    * skip: `hashColumn` below produces it. */
  def buildAgg(m: Int): Column => Column = {
    val u = udaf(new Build(m))
    (c: Column) => u(c)
  }
  def mergeAgg(m: Int): Column => Column = {
    val u = udaf(new Merge(m))
    (c: Column) => u(c)
  }
  def estimateUdf(m: Int): Column => Column = {
    val u = udf((s: Map[Int, Int]) => estimate(s, m))
    (c: Column) => u(c)
  }

  /** xxhash64 of the value's text form (the reference casts to text
    * before hashing, `Fact.hs:74`), null-propagating so NULL source
    * values are excluded from the sketch. */
  def hashColumn(c: Column): Column =
    when(c.isNotNull, xxhash64(c.cast("string")))

  /** Register the sketch algebra as SQL functions so fact tables with
    * sketch columns stay queryable from plain `spark.sql`:
    * {{{
    * SELECT sketch_estimate(sketch_merge(user_sketch)) FROM fact_...
    * SELECT sketch_estimate(sketch_build(xxhash64(cast(uid AS STRING)))) FROM src
    * }}}
    * `m` MUST equal the bucket count the stored sketches were built
    * with (`bucketCount(settings.factCountDistinctErrorRate)`) —
    * merging/estimating with a smaller m silently drops registers. The
    * default is the Settings-default error rate 0.05 (m = 512).
    * Idempotent. */
  def registerSql(
      spark: org.apache.spark.sql.SparkSession,
      m: Int = bucketCount(graft.model.Settings().factCountDistinctErrorRate)): Unit = {
    spark.udf.register("sketch_build", udaf(new Build(m)))
    spark.udf.register("sketch_merge", udaf(new Merge(m)))
    spark.udf.register("sketch_estimate", (s: Map[Int, Int]) => estimate(s, m))
  }
}
