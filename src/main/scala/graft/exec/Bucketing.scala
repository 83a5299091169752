package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Env

/** Bucketed managed-table writes (the D3 `bucketBy` path, SURVEY §2.9):
  * co-locating two tables on their join key lets repeated joins run
  * shuffle-free — at 100 TB the dominant cost of a fact-to-fact or
  * fact-to-bigdim join is the exchange, and bucketing pays it once at
  * write time instead of per query.
  */
object Bucketing {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Write `df` as a managed bucketed table (sorted within buckets for
    * merge-friendly reads). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int
  ): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Bucket keys for every source table participating in a parent-fact
    * join ([[FactPopulate]]'s F5 LEFT OUTER joins): each child fact
    * source keyed by its FK columns, each parent source keyed by the
    * referenced columns. A table pulled into several joins keeps the
    * FIRST key set (one physical layout per table) — joins on the other
    * key sets still plan an exchange, so each skip is logged: silently
    * eating it would let `--bucket-parents` look like it covered a join
    * it didn't. */
  def parentJoinKeys(env: Env): Map[String, Seq[String]] = {
    import graft.derive.Extractor
    val keyed = for {
      fact  <- env.facts
      join  <- Extractor.factPlan(env, fact).parentJoins
      entry <- Seq(fact.tableName -> join.fkPairs.map(_._1), join.table -> join.fkPairs.map(_._2))
    } yield entry
    keyed.groupBy(_._1).map { case (t, ks) =>
      val distinctKeySets = ks.map(_._2).distinct
      distinctKeySets.drop(1).foreach { skipped =>
        log.warn(
          s"bucketing: table '$t' joins on multiple key sets; bucketed on " +
            s"${distinctKeySets.head.mkString("(", ",", ")")} — joins on " +
            s"${skipped.mkString("(", ",", ")")} will still shuffle")
      }
      t -> ks.head._2
    }
  }

  /** One-time ingest-side preparation: write every parent-join source
    * as an EXTERNAL bucketed table on its join keys (same bucket count
    * on both sides -> co-located). Returns source name -> bucketed
    * table name; [[Runner.readSource]] prefers these, after which the
    * large-large parent SMJ plans with NO exchange on either side —
    * the shuffle is paid once here and amortizes across refreshes:
    *
    *  - data lives under `<dataDir>/<table>` (NOT the session
    *    warehouse), so two pipelines with different output dirs never
    *    clobber each other's buckets;
    *  - catalog names carry a hash of `dataDir` for the same reason;
    *  - if the bucketed data already exists on disk (a previous run,
    *    possibly a previous SESSION), it is re-registered instead of
    *    rewritten — the ingest shuffle is genuinely paid once;
    *  - rewrites take a PER-TABLE LEASE (`<table>._graft_buckets.lock`,
    *    atomic create-if-absent) so two pipelines sharing a dataDir
    *    cannot concurrently decide to rewrite and clobber each other
    *    mid-read: the second writer fails loudly instead. A crashed
    *    writer's stale lock is stolen after `lockLeaseMs` (it also left
    *    no marker, so the next run rewrites). Readers of an
    *    already-registered table are unaffected — the lease serializes
    *    WRITERS only; the documented contract remains one writing
    *    pipeline per dataDir at a time.
    */
  def writeBucketedSources(
      spark: SparkSession,
      env: Env,
      readSource: String => DataFrame,
      numBuckets: Int,
      dataDir: String,
      sourceSignature: String => String = _ => "",
      lockLeaseMs: Long = 60L * 60 * 1000
  ): Map[String, String] = {
    import org.apache.hadoop.fs.Path
    val scope = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dataDir).toLong & 0xFFFFFFFFL)
    parentJoinKeys(env).map { case (table, keys) =>
      val name     = s"bkt_${table}_$scope"
      val path     = new Path(dataDir, table)
      val fs       = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val df       = readSource(table)
      // the marker is written only AFTER a successful bucket write and
      // encodes everything reuse depends on: a crashed write leaves no
      // marker (partial data is rewritten, never trusted); a different
      // bucket count/key set (would silently lose rows from bucketed
      // scans) or refreshed/reshaped source data forces a rewrite
      val expectedMeta = Seq(
        s"numBuckets=$numBuckets",
        s"keys=${keys.mkString(",")}",
        s"schema=${df.schema.toDDL}",
        s"source=${sourceSignature(table)}").mkString("\n")
      val metaPath = new Path(dataDir, s"$table._graft_buckets")
      def readMeta(): Option[String] =
        if (!fs.exists(metaPath)) None
        else {
          val in = fs.open(metaPath)
          try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
          finally in.close()
        }
      val reusable = readMeta().contains(expectedMeta)
      if (reusable && spark.catalog.tableExists(name)) {
        // same-session rerun over unchanged sources: nothing to do
      } else if (reusable) {
        // cross-session reuse: valid data on disk, catalog (in-memory)
        // forgot it — re-register the external bucketed table
        spark.sql(
          s"""CREATE TABLE $name (${df.schema.toDDL}) USING PARQUET
             |CLUSTERED BY (${keys.mkString(", ")})
             |SORTED BY (${keys.mkString(", ")})
             |INTO $numBuckets BUCKETS
             |LOCATION '$path'""".stripMargin)
      } else {
        val lockPath = new Path(dataDir, s"$table._graft_buckets.lock")
        val stale = fs.exists(lockPath) &&
          System.currentTimeMillis() - fs.getFileStatus(lockPath).getModificationTime > lockLeaseMs
        if (stale) fs.delete(lockPath, false)
        // overwrite=false: atomic create-if-absent is the lease acquire
        val lock =
          try fs.create(lockPath, false)
          catch {
            case e: java.io.IOException =>
              throw new IllegalStateException(
                s"another pipeline is rewriting bucketed source '$table' under $dataDir " +
                  s"(lease $lockPath held; stolen after ${lockLeaseMs / 1000}s if its owner " +
                  "crashed) — bucketed dataDirs are single-writer", e)
          }
        try {
          lock.write(java.lang.Long.toString(System.currentTimeMillis())
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          lock.close()
          spark.sql(s"DROP TABLE IF EXISTS $name")
          if (fs.exists(metaPath)) fs.delete(metaPath, false)
          df.write
            .mode("overwrite")
            .bucketBy(numBuckets, keys.head, keys.tail: _*)
            .sortBy(keys.head, keys.tail: _*)
            .option("path", path.toString)
            .format("parquet")
            .saveAsTable(name)
          val out = fs.create(metaPath, true)
          try out.write(expectedMeta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        } finally fs.delete(lockPath, false)
      }
      table -> name
    }
  }

  /** Cheap change signature of a source parquet path: file count +
    * total bytes + newest modification time. Any ingest that adds,
    * rewrites or grows files changes it, invalidating bucket reuse. */
  def pathSignature(spark: SparkSession, path: String): String = {
    val p  = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val it = fs.listFiles(p, true)
      var n = 0L; var bytes = 0L; var mtime = 0L
      while (it.hasNext) {
        val f = it.next()
        n += 1; bytes += f.getLen; mtime = math.max(mtime, f.getModificationTime)
      }
      s"$n:$bytes:$mtime"
    }
  }

  /** Join two same-bucketed tables on the bucket column — planner emits
    * a sort-merge join with NO exchange on either side. */
  def bucketedJoin(
      spark: SparkSession,
      leftTable: String,
      rightTable: String,
      key: String,
      joinType: String = "inner"
  ): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key), joinType)
}
