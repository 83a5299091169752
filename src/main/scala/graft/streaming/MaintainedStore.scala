package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{hash, lit, pmod}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A persistent maintenance store: an object whose `initialize`
  * bootstraps a store directory and whose `applyBatch` folds one batch
  * into it. The store objects keep only their merge algebra; the
  * protocol they share lives here, once:
  *
  *  - '''Markers.''' A store's table properties (bucket modulus, LSH /
  *    winnow / hamming parameters, register count, pinned centroids,
  *    line delimiter, ANN schema and layout) are sidecar files beside
  *    its data — `_graft_buckets`, `_graft_sketch_m`, `_graft_hh_k`,
  *    `_graft_centroids`, `_graft_semdedup`, `_graft_line_delim`,
  *    `_graft_dhash`, `_graft_afp`, `_graft_vfp`, and the ANN store's
  *    `_graft_partitioning` / `_graft_schema`. Underscore-prefixed, so
  *    Spark's parquet reader never sees them.
  *  - '''Atomic write.''' [[MaintainedStore.writeMarker]] lands the
  *    payload in a sibling temp file and renames it into place: a crash
  *    never leaves a truncated marker whose prefix still parses.
  *  - '''Exact check.''' [[MaintainedStore.checkMarker]] compares the
  *    stored bytes with the payload the caller would write, untrimmed
  *    (a whitespace line delimiter is a payload), and fails loud on a
  *    mismatch or a missing marker — a reader pruning with the wrong
  *    modulus or parameters would otherwise corrupt the store silently.
  *  - '''Marker written last.''' `initialize` writes its data first and
  *    [[marker]] last, so [[initialized]] ("the last marker is
  *    present") is false after a crashed bootstrap and callers
  *    re-bootstrap instead of failing on every later batch.
  *  - '''Columns.''' Bucket-partitioned stores partition by
  *    [[MaintainedStore.BucketCol]] = [[MaintainedStore.bucketOf]];
  *    batch-owned sinks and summaries by [[MaintainedStore.BatchCol]].
  *  - '''One stream wiring.''' [[MaintainedStore.maintain]] runs a
  *    store's `applyBatch` on every micro-batch. Every `applyBatch` is
  *    replay-idempotent under a fixed batch id, which is what makes
  *    `foreachBatch` effectively exactly-once.
  */
trait MaintainedStore {

  /** The sidecar marker `initialize` writes last. */
  protected def marker: String

  /** Whether `initialize` completed for the store at `root`. */
  final def initialized(root: String): Boolean =
    Files.exists(Paths.get(root, marker))

  protected def writeMarker(root: String, payload: String): Unit =
    MaintainedStore.writeMarker(root, marker, payload)

  protected def checkMarker(root: String, expected: String, what: String, why: String): Unit =
    MaintainedStore.checkMarker(root, marker, expected, what, why)
}

object MaintainedStore {

  /** Bucket partition column of the bucket-partitioned stores. */
  val BucketCol = "__kb"

  /** Batch partition column of batch-owned sinks and summaries. */
  val BatchCol = "__batch_id"

  private val InitHint = "initialize() the store first"

  /** Fail loud on a bucket count below 1, before anything is written:
    * an empty bootstrap never evaluates `pmod(…, 0)`, so it would land
    * its marker and every later batch would die on the division. */
  def requireBuckets(numBuckets: Int): Unit =
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")

  /** The bucket of a row: `pmod(hash(keys), numBuckets)`. */
  def bucketOf(numBuckets: Int, keys: Column*): Column = {
    requireBuckets(numBuckets)
    pmod(hash(keys: _*), lit(numBuckets))
  }

  /** Write the sidecar `name` under `root` with exact `payload` bytes,
    * creating the directory first (the empty-bootstrap case). The
    * payload lands in a sibling temp file that is renamed into place. */
  def writeMarker(root: String, name: String, payload: String): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, name + ".__tmp")
    Files.write(tmp, payload.getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, Paths.get(root, name), ATOMIC_MOVE, REPLACE_EXISTING)
    catch {
      case _: AtomicMoveNotSupportedException =>
        // non-POSIX fallback: still a whole-file rename, just not
        // guaranteed atomic by the filesystem
        Files.move(tmp, Paths.get(root, name), REPLACE_EXISTING)
    }
  }

  /** The sidecar's exact bytes (no trim), or None when absent. */
  def readMarker(root: String, name: String): Option[String] = {
    val p = Paths.get(root, name)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    else None
  }

  /** The sidecar's exact bytes; fails loud when missing. */
  def requireMarker(root: String, name: String, hint: String = InitHint): String =
    readMarker(root, name).getOrElse(
      throw new IllegalArgumentException(s"$root has no $name marker — $hint"))

  /** Fail loud unless the sidecar holds exactly `expected`. `what`
    * names the property, `why` the corruption a mismatch would cause. */
  def checkMarker(root: String, name: String, expected: String, what: String, why: String): Unit = {
    val stored = requireMarker(root, name)
    require(stored == expected,
      s"$what mismatch for $root: store laid out with ${show(stored)}, " +
        s"caller passed ${show(expected)} — $why")
  }

  private def show(payload: String): String = {
    val escaped = payload.flatMap {
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c    => c.toString
    }
    "\"" + (if (escaped.length > 80) escaped.take(77) + "..." else escaped) + "\""
  }

  /** Wire a stream to a store: `apply(batch, batchId)` runs on every
    * micro-batch (a store's `applyBatch` with its arguments bound).
    * Returns the started query. */
  def maintain(
      stream: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")
  )(apply: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, batchId: Long) => apply(batch, batchId))
      .start()

  /** The two-rename compaction swap: `build` writes the compacted
    * store (data THEN marker) into a sibling temp dir, which replaces
    * `path` via two renames. Before the first rename the original
    * store is untouched; between them there is no directory at `path`
    * (readers fail loud on the missing marker) while the COMPLETE
    * pre-compaction store sits at `<path>.__compact_old` for manual
    * restore; stale temp/old directories from a crash are cleaned on
    * the next call. */
  def swapCompacted(path: String)(build: String => Unit): Unit = {
    val tmp = Paths.get(path + ".__compact_tmp")
    val old = Paths.get(path + ".__compact_old")
    deleteRecursively(tmp)
    deleteRecursively(old)
    build(tmp.toString)
    Files.move(Paths.get(path), old)
    Files.move(tmp, Paths.get(path))
    deleteRecursively(old)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
}
