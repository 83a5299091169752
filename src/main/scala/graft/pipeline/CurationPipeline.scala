package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.yaml.snakeyaml.Yaml

import graft.exec.{Dag, Staging}
import graft.operators.{AnnIndex, AnnLifecycle, Decontaminate, Dedup, Multimodal, Packing, Sampling, Sessions, TextAnalysis}
import graft.streaming.{MaintainedStore, PostingAdmission, StreamingAdmission, StreamingAnnIndex, StreamingAudioDedup, StreamingHammingDedup, StreamingImageDedup, StreamingLineDedup, StreamingNearDup, StreamingRecrawl, StreamingSemDedup, StreamingVideoDedup, StreamingWinnowDedup}

/** Declarative training-data curation pipelines — the job-spec surface
  * that makes the operator library a runnable product, the way the
  * warehouse Runner makes the ringo-parity derivation one
  * (`app/Main.hs:24-83` is the reference's equivalent orchestration
  * entry; this applies the same YAML-in, tables-out contract to the
  * curation operators).
  *
  * A job spec names a chain of steps over a documents-shaped corpus:
  *
  * {{{
  * pipeline: curate_docs
  * id: doc_id
  * text: text
  * steps:
  *   - name: deduped
  *     op: dedup_exact
  *     input: documents            # a SOURCE_DIR table, or an earlier step
  *   - name: clean
  *     op: decontaminate           # input defaults to the previous step
  *     params: { benchmark: bench_docs, n: 8 }
  *   - name: kept
  *     op: curate
  *     params: { minTokens: 20, minQuality: 0.4 }
  *   - name: sampled
  *     op: sample_hash
  *     params: { fraction: 0.5, salt: s1 }
  *   - name: chunks
  *     op: chunk
  *     params: { size: 128, stride: 128 }
  *   - name: packed
  *     op: pack
  *     params: { chunksPerSeq: 4, shards: 8 }
  * }}}
  *
  * Steps execute in dependency (topological) order; each output is
  * written to `OUT_DIR/<name>` through the [[Staging]] conventions the
  * warehouse Runner uses — staged write, atomic whole-directory
  * promotion, single-writer lease — so a crashed run never leaves a
  * half-written table where a live one stood, and readers stay safe
  * throughout. Every step boundary is a materialization: at corpus
  * scale that is the production shape anyway (each stage restartable,
  * lineage truncated, output inspectable), and downstream steps read
  * the written parquet rather than recompute the plan.
  */
object CurationPipeline {

  final case class Step(
      name: String, op: String, input: Option[String], params: Map[String, String])

  final case class Spec(name: String, idCol: String, textCol: String, steps: Seq[Step])

  // ================================================================ parsing

  def parseFile(path: String): Either[String, Spec] =
    Try(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
      .toEither.left.map(e => s"cannot read $path: ${e.getMessage}")
      .flatMap(parse)

  def parse(yamlText: String): Either[String, Spec] =
    Try {
      val root = new Yaml().load[java.util.Map[String, AnyRef]](yamlText)
      def str(key: String): String = Option(root.get(key)).map(String.valueOf(_))
        .getOrElse(throw new IllegalArgumentException(s"missing top-level key: $key"))
      val steps = Option(root.get("steps"))
        .map(_.asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
          .map(_.asInstanceOf[java.util.Map[String, AnyRef]]))
        .getOrElse(throw new IllegalArgumentException("missing top-level key: steps"))
        .map { s =>
          def sstr(key: String): String = Option(s.get(key)).map(String.valueOf(_))
            .getOrElse(throw new IllegalArgumentException(s"step missing key: $key in $s"))
          val params = Option(s.get("params"))
            .map(_.asInstanceOf[java.util.Map[String, AnyRef]].asScala.toMap
              .map { case (k, v) => k -> String.valueOf(v) })
            .getOrElse(Map.empty[String, String])
          Step(sstr("name"), sstr("op"),
            Option(s.get("input")).map(String.valueOf(_)), params)
        }
      Spec(str("pipeline"), str("id"), str("text"), steps)
    }.toEither.left.map(e => s"cannot parse pipeline spec: ${e.getMessage}")

  // ================================================================ validation

  /** Structural validation (no Spark needed): unique step names, known
    * ops with known params, resolvable inputs, acyclic dependencies.
    * Returns the steps in execution (topological) order. */
  /** Step names and input references become file paths under
    * OUT_DIR / SOURCE_DIR — restrict them so a spec can never write or
    * read outside its directories (`name: ../x` must be a spec error,
    * not a traversal). */
  private val SafeName = "^[A-Za-z0-9_][A-Za-z0-9_.-]*$".r

  def validate(spec: Spec): Either[Seq[String], Seq[Step]] = stepInputs(spec).map(_.map(_._1))

  /** [[validate]], each step paired with its resolved main input. */
  private def stepInputs(spec: Spec): Either[Seq[String], Seq[(Step, String)]] = {
    val errors = Seq.newBuilder[String]
    if (spec.steps.isEmpty) errors += "pipeline has no steps"
    (spec.name +: (spec.steps.map(_.name) ++ spec.steps.flatMap(_.input) ++
      spec.steps.flatMap(auxRefs)))
      .filterNot(n => SafeName.matches(n))
      .foreach(n => errors += s"unsafe pipeline/step/input name '$n' " +
        "(allowed: letters, digits, _ . - ; must not start with . or -)")
    spec.steps.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
      .foreach(n => errors += s"duplicate step name: $n")
    spec.steps.filter(s => !ops.contains(s.op)).foreach(s =>
      errors += s"step ${s.name}: unknown op '${s.op}' (known: ${ops.keys.toSeq.sorted.mkString(", ")})")
    spec.steps.foreach { s =>
      ops.get(s.op).foreach { op =>
        (s.params.keySet -- op.paramKeys).foreach(k =>
          errors += s"step ${s.name}: op ${s.op} does not take param '$k' " +
            s"(accepted: ${op.paramKeys.toSeq.sorted.mkString(", ")})")
        s.params.get("mode").filterNot(op.modes.contains).foreach(m =>
          errors += s"step ${s.name}: op ${s.op} has no mode '$m' " +
            s"(allowed: ${op.modes.toSeq.sorted.mkString(", ")})")
        if (s.params.get("mode").exists(_ != "full"))
          (s.params.keySet intersect op.fullOnlyParams).toSeq.sorted.foreach(k =>
            errors += s"step ${s.name}: param '$k' applies to mode: full only")
        // stepRefParams name DECLARED STEPS (a shared state store, not
        // a table): a misspelling must be a spec error here, not a
        // fresh empty store silently created at run time
        val declared = spec.steps.map(_.name).toSet
        op.stepRefParams.toSeq.sorted.foreach(p =>
          s.params.get(p).filterNot(declared.contains).foreach(v =>
            errors += s"step ${s.name}: param $p must name a declared " +
              s"step, got '$v' (steps: ${declared.toSeq.sorted.mkString(", ")})"))
      }
    }
    // the first step must name its input; later ones default to the
    // previous step in file order
    val withInputs: Seq[(Step, String)] = spec.steps.zipWithIndex.map { case (s, i) =>
      val in = s.input.getOrElse {
        if (i == 0) { errors += s"step ${s.name}: first step must name an input"; "" }
        else spec.steps(i - 1).name
      }
      (s, in)
    }
    val stepNames = spec.steps.map(_.name).toSet
    // Kahn's algorithm, stable in file order; dependencies are the main
    // input PLUS any table-referencing params (aux tables — a
    // decontamination benchmark, a mix member, a score table — produced
    // by a later-in-file step must still run first). Names that are not
    // step names resolve against SOURCE_DIR at run time.
    val remaining = scala.collection.mutable.LinkedHashMap(
      withInputs.map { case (s, in) => s.name -> (s, in, (in +: auxRefs(s)).toSet) }: _*)
    val ordered = Seq.newBuilder[(Step, String)]
    val done    = scala.collection.mutable.Set.empty[String]
    var progress = true
    while (progress && remaining.nonEmpty) {
      progress = false
      remaining.find { case (_, (_, _, deps)) =>
        deps.forall(d => !stepNames.contains(d) || done.contains(d))
      }
        .foreach { case (name, (s, in, _)) =>
          ordered += s -> in
          done += name
          remaining.remove(name)
          progress = true
        }
    }
    if (remaining.nonEmpty)
      errors += s"dependency cycle among steps: ${remaining.keys.mkString(", ")}"
    val errs = errors.result()
    if (errs.nonEmpty) Left(errs) else Right(ordered.result())
  }

  /** Steps running an incremental (`mode:` other than full) variant —
    * these need a state directory; callers without one should fail
    * BEFORE booting Spark. */
  def statefulSteps(spec: Spec): Seq[String] =
    spec.steps.filter(_.params.get("mode").exists(_ != "full")).map(_.name)

  // ================================================================ ops

  /** Everything a step function may need: the resolved input frame, the
    * corpus id/text column names, a resolver for AUXILIARY tables
    * (a decontamination benchmark) by the same step-or-source rule,
    * and — for incremental (`mode:`) steps — the state directory and
    * this run's batch id (see [[run]]'s batch-admission contract). */
  final case class Ctx(
      input: DataFrame, idCol: String, textCol: String,
      resolve: String => DataFrame, params: Params,
      stepName: String = "", stateDir: Option[String] = None, batchId: Long = 0L,
      inputName: String = "", outDir: String = "") {
    /** State root for this step, or fail actionably. */
    def requireState(what: String): String = stateDir.map(d => s"$d/$stepName")
      .getOrElse(throw new IllegalArgumentException(
        s"step $stepName: $what requires a state directory — " +
          "run `Cli pipeline ... --state STATE_DIR`"))
    /** The media steps cast the id to BIGINT for their signature
      * tables; a non-integral id would cast to NULL and die later with
      * a cryptic non-nullable-encoder error, so check the type UP FRONT
      * (the StreamingWinnowDedup/StreamingSemDedup BIGINT-id
      * convention). */
    def requireIntegralId(what: String): Unit = {
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      val dt = input.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"step $stepName: $what requires an integral id column (castable to " +
          s"BIGINT without data loss); '$idCol' is ${dt.simpleString}")
    }
  }

  /** Fail-loud typed access over a step's params map. */
  final class Params(step: String, m: Map[String, String]) {
    private def bad(key: String, want: String, v: String): Nothing =
      throw new IllegalArgumentException(s"step $step: param $key: expected $want, got '$v'")
    def has(key: String): Boolean = m.contains(key)
    def str(key: String, default: String): String = m.getOrElse(key, default)
    def reqStr(key: String): String = m.getOrElse(key,
      throw new IllegalArgumentException(s"step $step: required param missing: $key"))
    def int(key: String, default: Int): Int =
      m.get(key).map(v => v.toIntOption.getOrElse(bad(key, "int", v))).getOrElse(default)
    def reqInt(key: String): Int = {
      val v = reqStr(key); v.toIntOption.getOrElse(bad(key, "int", v))
    }
    def long(key: String, default: Long): Long =
      m.get(key).map(v => v.toLongOption.getOrElse(bad(key, "long", v))).getOrElse(default)
    def reqLong(key: String): Long = {
      val v = reqStr(key); v.toLongOption.getOrElse(bad(key, "long", v))
    }
    def double(key: String, default: Double): Double =
      m.get(key).map(v => v.toDoubleOption.getOrElse(bad(key, "double", v))).getOrElse(default)
    def reqDouble(key: String): Double = {
      val v = reqStr(key); v.toDoubleOption.getOrElse(bad(key, "double", v))
    }
  }

  /** A step implementation: accepted params, the allowed `mode` values
    * (`full` = stateless; anything else is an incremental variant that
    * needs `--state`), and the run function. `tableParams` names the
    * params whose values reference tables (comma-separated lists of
    * step names or source tables) — [[validate]] adds them as
    * dependency edges, so an aux table produced by a LATER step in
    * file order still runs first. */
  /** `fullOnlyParams`: params meaningful only under `mode: full` —
    * validate() rejects them with any other mode BEFORE Spark boots
    * (a structural spec error must not surface mid-run after earlier
    * steps have published; the in-op requires remain as backstops). */
  /** `stepRefParams`: params whose value must name a DECLARED STEP
    * (not a source table) — a shared state store like recrawl's
    * `storeFrom`. They get the same SafeName check and dependency edge
    * as tableParams, PLUS a declared-step validation (a misspelled
    * store name must fail in validate, never initialize a fresh empty
    * store mid-run). */
  final case class Op(paramKeys: Set[String], run: Ctx => DataFrame,
      modes: Set[String] = Set("full"), tableParams: Set[String] = Set.empty,
      fullOnlyParams: Set[String] = Set.empty,
      stepRefParams: Set[String] = Set.empty)

  /** A step's table references beyond its main input: every
    * `tableParams` / `stepRefParams` value, comma-split. */
  private def auxRefs(s: Step): Seq[String] = paramRefs(s)(op => op.tableParams ++ op.stepRefParams)

  /** The steps whose state store `s` names: its `stepRefParams` values. */
  private def storeRefs(s: Step): Seq[String] = paramRefs(s)(_.stepRefParams)

  private def paramRefs(s: Step)(which: Op => Set[String]): Seq[String] =
    ops.get(s.op).toSeq
      .flatMap(op => which(op).toSeq.sorted)
      .flatMap(p =>
        s.params.get(p).toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)))

  /** Shared survivor policy for the pair-producing dedup steps:
    * `keep: min_id` (default) keeps the smallest id per near-dup
    * cluster; `keep: longest` keeps the longest text (ties to smallest
    * id); `keep: best` keeps the row maximizing `scoreCol` (ties to
    * smallest id) — the score may live on the input itself or on an
    * annotation table named by `scoreFrom` (e.g. an earlier `lm_score`
    * step), joined by the id. Docs without a score row lose to any
    * scored near-dup (desc NULLS LAST), deterministically. */
  /** Filter-anchored duplicate-key raise shared by warc / mix /
    * annotate (ONE home for the idiom — including its two subtleties):
    * the raise rides a FILTER so column pruning cannot drop it, and
    * NULL-keyed rows are EXEMPT — NULL never equi-joins, so they
    * cannot fan anything out (and a NULL key rendered into the message
    * would null the whole concat, swallowing the diagnostic; keys
    * render with a NULL placeholder regardless). */
  private def duplicateKeyGuard(
      df: DataFrame, keys: Seq[String], before: String, after: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val allSet = keys.map(col(_).isNotNull).reduce(_ && _)
    val rendered = concat_ws(", ",
      keys.map(k => coalesce(col(k).cast("string"), lit("NULL"))): _*)
    df.withColumn("__dup_n",
        when(allSet && count(lit(1)).over(w) > 1,
          raise_error(concat(lit(before), rendered, lit(after))))
          .otherwise(lit(true)))
      .filter(col("__dup_n"))
      .drop("__dup_n")
  }

  /** keep_in / drop_in core: semi/anti join of the input against a
    * named list table. Small lists broadcast (Catalyst sizes it); the
    * join key is declared, so a big kill-list co-partitions. */
  private def membershipJoin(c: Ctx, joinType: String): DataFrame = {
    val colName  = c.params.reqStr("column")
    val tblName  = c.params.reqStr("table")
    val listCol  = c.params.str("tableColumn", colName)
    require(c.input.columns.contains(colName),
      s"step ${c.stepName}: input has no column '$colName'")
    val list = c.resolve(tblName)
    require(list.columns.contains(listCol),
      s"step ${c.stepName}: table '$tblName' has no column '$listCol'")
    c.input.join(list.select(col(listCol).as(colName)).distinct(),
      Seq(colName), joinType)
  }

  private def keepSurvivors(c: Ctx, pairs: DataFrame): DataFrame =
    c.params.str("keep", "min_id") match {
      case "min_id"  => Dedup.survivors(c.input, c.idCol, pairs)
      case "longest" =>
        require(!c.input.columns.contains("__len"),
          "input already has a '__len' column — keep: longest would clobber it")
        Dedup.survivorsBest(
          c.input.withColumn("__len", length(col(c.textCol))),
          c.idCol, pairs, "__len").drop("__len")
      case "best" =>
        require(!c.input.columns.contains("__score"),
          "input already has a '__score' column — keep: best would clobber it")
        val scoreCol = c.params.reqStr("scoreCol")
        val scores0 = c.params.str("scoreFrom", "") match {
          case "" =>
            require(c.input.columns.contains(scoreCol),
              s"keep: best: input has no column '$scoreCol' (name a scoreFrom table?)")
            c.input.select(col(c.idCol), col(scoreCol).as("__score"))
          case from =>
            val t = c.resolve(from)
            require(t.columns.contains(scoreCol),
              s"keep: best: table '$from' has no column '$scoreCol'")
            require(t.columns.contains(c.idCol),
              s"keep: best: table '$from' has no id column '${c.idCol}'")
            t.select(col(c.idCol), col(scoreCol).as("__score"))
        }
        // ONE score per doc, whatever the annotation table's grain: a
        // multi-row id (e.g. per-chunk scores) would otherwise
        // duplicate corpus rows through the join and rank the
        // duplicate as a loser — deleting the cluster's BEST doc
        val scores = scores0.groupBy(col(c.idCol)).agg(max(col("__score")).as("__score"))
        Dedup.survivorsBest(
          c.input.join(scores, Seq(c.idCol), "left"),
          c.idCol, pairs, "__score").drop("__score")
      case other =>
        throw new IllegalArgumentException(
          s"keep must be min_id, longest, or best, got '$other'")
    }

  // ---------------------------------------------------------------- state helpers

  /** Read back batch `c.batchId` of the batch-owned `sink` under the
    * input's schema plus the `extra` DDL columns the store adds
    * ([[MaintainedStore.readBatch]]): a cold, empty sink reads as
    * empty, and a column a pre-upgrade partition lacks as NULL. A
    * corrupt sink fails: the store has already recorded the batch, so
    * reading it as empty would mark documents admitted while
    * delivering 0 rows downstream. */
  private def readBack(c: Ctx, sink: String, extra: String*): DataFrame =
    MaintainedStore.readBatch(c.input.sparkSession, sink, c.batchId,
      StructType(c.input.schema ++ extra.flatMap(StructType.fromDDL(_))))

  /** `mode: admit` of the posting-store dedups (near, winnow, image,
    * audio, video): judge the batch against `store` under `--state`
    * (bootstrapped empty on the first run) and return the admitted
    * input rows. Admission keeps the in-batch min-id representative, so
    * keep/scoreCol are full-mode-only. A text store sees the input rows
    * whole and its sink keeps them, so they read back from the sink; a
    * media store sees `(id, payload)` only, so its admitted ids select
    * from the input. */
  private def admitPostings(
      c: Ctx, op: String, store: PostingAdmission, storeDir: String,
      payloadCol: Option[String])(p: store.Params): DataFrame = {
    require(!c.params.has("keep") && !c.params.has("scoreCol"),
      s"step ${c.stepName}: keep/scoreCol apply to mode: full only " +
        "(admission keeps the in-batch min-id representative)")
    val root = c.requireState(s"$op mode: admit")
    val (storePath, sink) = (s"$root/$storeDir", s"$root/admitted")
    val (batch, contentCol) = payloadCol.fold((c.input, c.textCol))(pc =>
      (c.input.select(col(c.idCol), col(pc).as("payload")), "payload"))
    if (!store.initialized(storePath))
      store.initialize(batch.limit(0), c.idCol, contentCol, storePath, sink, p)
    store.applyBatch(batch, c.batchId, c.idCol, contentCol, storePath, sink, p)
    if (payloadCol.isEmpty) readBack(c, sink)
    else c.input.join(
      store.admittedIds(c.input.sparkSession, c.batchId, c.idCol, sink),
      Seq(c.idCol), "left_semi")
  }

  /** `dedup_image` / `dedup_audio`: one op over a hamming store's
    * signature pass — pairs within `maxHamming` in full mode, the
    * store's admission in `mode: admit`. */
  private def hammingOp(op: String, store: StreamingHammingDedup): Op = Op(
    Set("payload", "maxHamming", "maxBucket", "keep", "scoreCol", "scoreFrom",
      "mode", "buckets"), { c =>
      val pcol = c.params.str("payload", "payload")
      require(c.input.columns.contains(pcol),
        s"step ${c.stepName}: input has no payload column '$pcol'")
      c.requireIntegralId(op)
      val maxHamming = c.params.int("maxHamming", 3)
      val maxBucket = c.params.int("maxBucket", 1000)
      c.params.str("mode", "full") match {
        case "full" =>
          keepSurvivors(c, Dedup.hamming64Pairs(store.sigOf(c.input, c.idCol, pcol),
            c.idCol, store.hashCol, maxHamming, maxBucket))
        case "admit" =>
          admitPostings(c, op, store, "postings", Some(pcol))(
            store.Params(c.params.int("buckets", 64), maxHamming, maxBucket))
      }
    }, modes = Set("full", "admit"), tableParams = Set("scoreFrom"),
    fullOnlyParams = Set("keep", "scoreCol", "scoreFrom"))

  /** The stored ANN model a `knn_encode`/`knn` step names: `model:` is
    * a centroids table, a codebooks table, or a combined OPQ table;
    * beside codebooks, `centroids:` makes it the composed IVF-PQ
    * index. `sq8` picks the SQ8 codec of a centroids model. */
  private def knnModel(c: Ctx, sq8: Boolean): AnnIndex.Model = {
    val table = c.resolve(c.params.reqStr("model"))
    val isCells = table.columns.contains("cell")
    require(isCells || table.columns.contains("subspace"),
      s"step ${c.stepName}: table '${c.params.reqStr("model")}' is not a " +
        "knn model (expected a 'cell' or 'subspace' column)")
    require(!c.params.has("centroids") || !isCells && !table.columns.contains("rot_row"),
      s"step ${c.stepName}: centroids applies to pq/ivfpq codebook models only")
    AnnIndex.load(
      centroids = if (isCells) Some(table)
        else if (c.params.has("centroids")) Some(c.resolve(c.params.reqStr("centroids")))
        else None,
      codebooks = if (isCells) None else Some(table),
      sq8 = isCells && sq8)
  }

  /** The step registry. Survivor-style steps (dedup/decontaminate/
    * curate/sample) preserve the input's full schema — each emits the
    * kept SUBSET of its input rows, so chains compose; shape-changing
    * steps (chunk, pack, stats) are documented as such. */
  val ops: Map[String, Op] = Map(
    // exact content dedup. mode: full (default) keeps the min-id
    // representative per normalized-content fingerprint; mode: admit
    // admits THIS BATCH against the maintained fingerprint store under
    // --state (drop if the content was ever admitted; in-batch min-id
    // rule) and updates the store — the nightly batch-admission twin
    // of StreamingAdmission, store layout and replay semantics shared.
    // column: dedup on an arbitrary column's VALUE instead of the text
    // fingerprint (full mode only) — e.g. `column: pixel_md5` after a
    // media_stats step is exact media dedup by decoded content address
    "dedup_exact" -> Op(Set("mode", "buckets", "column"), { c =>
      c.params.str("mode", "full") match {
        case "full" =>
          val keep = c.params.str("column", "") match {
            case "" =>
              Dedup.exact(c.input, c.idCol, c.textCol)
                .select(col("keep_id").as(c.idCol))
            case keyCol =>
              require(c.input.columns.contains(keyCol),
                s"step ${c.stepName}: input has no column '$keyCol'")
              require(keyCol != c.idCol,
                s"step ${c.stepName}: column: ${c.idCol} is the pipeline id — " +
                  "deduping on the id keeps everything; name a content column")
              c.input
                // NULL keys are not duplicates of each other (the SQL
                // convention): null-keyed rows all survive
                .filter(col(keyCol).isNotNull)
                .groupBy(col(keyCol)).agg(min(col(c.idCol)).as(c.idCol))
                .select(col(c.idCol))
                .unionByName(c.input.filter(col(keyCol).isNull).select(col(c.idCol)))
          }
          c.input.join(keep, Seq(c.idCol), "left_semi")
        case "admit" =>
          require(!c.params.has("column"),
            s"step ${c.stepName}: column applies to mode: full only")
          val root = c.requireState("dedup_exact mode: admit")
          val (fp, sink) = (s"$root/fingerprints", s"$root/admitted")
          val buckets = c.params.int("buckets", 64)
          if (!StreamingAdmission.initialized(fp))
            StreamingAdmission.initialize(c.input.limit(0), c.textCol, fp, buckets)
          StreamingAdmission.applyBatch(
            c.input, c.idCol, c.textCol, fp, sink, buckets, c.batchId)
          readBack(c, sink)
      }
    }, modes = Set("full", "admit"), fullOnlyParams = Set("column")),
    // MinHash-LSH near-dup dedup: one survivor per near-dup cluster
    // (keep: min_id | longest | best). mode: admit judges the batch
    // against the maintained LSH posting store + admitted corpus under
    // --state (StreamingNearDup's store; admission keeps the in-batch
    // min-id representative, so keep/scoreCol are full-mode-only).
    "dedup_near" -> Op(
      Set("n", "k", "r", "minJaccard", "maxBucket", "keep", "scoreCol", "scoreFrom",
        "mode", "buckets"), { c =>
      c.params.str("mode", "full") match {
        case "full" =>
          val pairs = Dedup.minhashLshPairs(c.input, c.idCol, c.textCol,
            n = c.params.int("n", 3), k = c.params.int("k", 64),
            r = c.params.int("r", 4), minJaccard = c.params.double("minJaccard", 0.5),
            maxBucket = c.params.int("maxBucket", 1000))
          keepSurvivors(c, pairs)
        case "admit" =>
          admitPostings(c, "dedup_near", StreamingNearDup, "postings", payloadCol = None)(
            StreamingNearDup.Params(
              numBuckets = c.params.int("buckets", 64),
              n = c.params.int("n", 3), k = c.params.int("k", 64),
              r = c.params.int("r", 4),
              minJaccard = c.params.double("minJaccard", 0.5),
              maxBucket = c.params.int("maxBucket", 1000)))
      }
    }, modes = Set("full", "admit"), tableParams = Set("scoreFrom"),
      fullOnlyParams = Set("keep", "scoreCol", "scoreFrom")),
    // SimHash near-dup dedup: bit-level near-identity blocking
    "dedup_simhash" -> Op(Set("maxHamming", "maxBucket", "keep", "scoreCol", "scoreFrom"), { c =>
      val pairs = Dedup.simhashPairs(c.input, c.idCol, c.textCol,
        maxHamming = c.params.int("maxHamming", 3),
        maxBucket = c.params.int("maxBucket", 1000))
      keepSurvivors(c, pairs)
    }, tableParams = Set("scoreFrom")),
    // PERCEPTUAL image / audio dedup over a binary `payload` column:
    // decode + 64-bit signature scan-locally (dHash of an image; the
    // sign-of-energy-delta fingerprint of a WAV clip), pair by the
    // radius-derived hamming banding (recompressed, losslessly
    // re-encoded, exact-factor-rescaled or attenuated copies hash into
    // the ball), one survivor per hamming component. mode: admit judges
    // the batch against the maintained posting store + admitted sink
    // under --state (StreamingImageDedup / StreamingAudioDedup).
    "dedup_image" -> hammingOp("dedup_image", StreamingImageDedup),
    "dedup_audio" -> hammingOp("dedup_audio", StreamingAudioDedup),
    // A/V soundtrack extraction: rewrite the payload column from a
    // RIFF/AVI container to its soundtrack WAV (the real JDK encoder
    // via Multimodal.aviAudioWav) so the audio passes — dedup_audio,
    // media annotations — admit from REAL captures: one chain dedups a
    // capture's video (dedup_video on the same payload upstream) AND
    // its audio. Non-A/V payloads fail loud (a container without an
    // auds stream or a non-RIFF payload raises with the doc id);
    // passthroughWav: "true" lets first-class WAV payloads through
    // unchanged so mixed corpora chain without branching.
    "extract_audio" -> Op(Set("payload", "passthroughWav"), { c =>
      val pcol = c.params.str("payload", "payload")
      require(c.input.columns.contains(pcol),
        s"step ${c.stepName}: input has no payload column '$pcol'")
      c.requireIntegralId("extract_audio")
      val pass = c.params.str("passthroughWav", "false").toBoolean
      // container dispatch (AVI LIST walker / MP4 sample tables) —
      // one chain admits audio from mixed A/V corpora
      val ex = udf { (id: Long, b: Array[Byte]) =>
        if (pass && graft.operators.Multimodal.isWav(b)) b
        else graft.operators.Multimodal.containerAudioWav(id, b)
      }
      c.input.withColumn(pcol, ex(col(c.idCol).cast("long"), col(pcol)))
    }),
    // video near-dup dedup over frame-container payloads: scan-local
    // demux + REAL per-frame decode + dHash; a video's signature is
    // its DISTINCT frame-hash set, pairs from shared-frame-hash
    // blocking kept at set overlap >= 1/2 via integer
    // cross-multiplication (3·shared >= n_a + n_b — trimmed and
    // transcoded copies pair, disjoint clips don't), one survivor per
    // overlap component. mode: admit judges the batch against the
    // maintained frame-hash posting store + admitted sink under
    // --state (StreamingVideoDedup; admission keeps the in-batch
    // min-id representative).
    "dedup_video" -> Op(
      Set("payload", "maxBucket", "keep", "scoreCol", "scoreFrom",
        "mode", "buckets"), { c =>
      val pcol = c.params.str("payload", "payload")
      require(c.input.columns.contains(pcol),
        s"step ${c.stepName}: input has no payload column '$pcol'")
      c.requireIntegralId("dedup_video")
      c.params.str("mode", "full") match {
        case "full" =>
          val sigs = Multimodal.videoFrameHashes(c.input.select(
              col(c.idCol).cast("long").as("doc_id"), col(pcol).as("payload"))).toDF()
            .select(col("doc_id").as(c.idCol), col("dhash_hex").as("fp")).distinct()
          val sizes = sigs.groupBy(col(c.idCol)).agg(count(lit(1)).as("__nf"))
          val pairs = Dedup.winnowPairsFromFps(sigs, c.idCol, minShared = 1L,
              maxBucket = c.params.int("maxBucket", 1000))
            .join(sizes.select(col(c.idCol).as("doc_a"), col("__nf").as("n_a")), "doc_a")
            .join(sizes.select(col(c.idCol).as("doc_b"), col("__nf").as("n_b")), "doc_b")
            .filter(col("shared") * 3 >= col("n_a") + col("n_b"))
          keepSurvivors(c, pairs)
        case "admit" =>
          admitPostings(c, "dedup_video", StreamingVideoDedup, "postings", Some(pcol))(
            StreamingVideoDedup.Params(
              numBuckets = c.params.int("buckets", 64),
              maxBucket = c.params.int("maxBucket", 1000)))
      }
    }, modes = Set("full", "admit"), tableParams = Set("scoreFrom"),
      fullOnlyParams = Set("keep", "scoreCol", "scoreFrom")),
    // drop rows sharing >= maxShared n-grams with the benchmark table
    "decontaminate" -> Op(Set("benchmark", "n", "maxShared"), { c =>
      Decontaminate.clean(c.input, c.resolve(c.params.reqStr("benchmark")),
        c.idCol, c.textCol,
        n = c.params.int("n", 8), maxShared = c.params.long("maxShared", 1L))
    }, tableParams = Set("benchmark")),
    // quality filter: keep docs passing the one-scan curation decision
    "curate" -> Op(Set("minTokens", "minQuality"), { c =>
      val keep = TextAnalysis.curate(c.input, c.idCol, c.textCol,
        minTokens = c.params.int("minTokens", 20),
        minQuality = c.params.double("minQuality", 0.4))
        .filter(col("keep")).select(col(c.idCol))
      c.input.join(keep, Seq(c.idCol), "left_semi")
    }),
    // generic row filter with a RESTRICTED predicate (no free-form SQL
    // — the spec stays data, not code): keep rows where
    // `column <op> value`, op ∈ eq|ne|lt|le|gt|ge|in (in takes a
    // comma list). The value casts to the column's own type and a
    // value that does not parse is a spec error, not a silent
    // null-compare. The everyday uses: `lang eq en` after a stats
    // annotation, `split eq train`, score cuts.
    "filter_rows" -> Op(Set("column", "op", "value"), { c =>
      val colName = c.params.reqStr("column")
      require(c.input.columns.contains(colName),
        s"step ${c.stepName}: input has no column '$colName'")
      val dt = c.input.schema(colName).dataType
      def typed(v: String): org.apache.spark.sql.Column = {
        // driver-side parse check covering EVERY supported column type
        // (fail loud at spec time, the pre-Spark convention): a value
        // the type rejects would otherwise become NULL (or an ANSI
        // runtime cast error deep inside the job) and silently keep
        // nothing
        import org.apache.spark.sql.types._
        val parses = dt match {
          case ByteType | ShortType | IntegerType | LongType => v.toLongOption.isDefined
          case FloatType | DoubleType => v.toDoubleOption.isDefined
          case _: DecimalType =>
            scala.util.Try(new java.math.BigDecimal(v)).isSuccess
          case BooleanType => Seq("true", "false").contains(v.toLowerCase)
          case DateType =>
            scala.util.Try(java.time.LocalDate.parse(v)).isSuccess
          case TimestampType | TimestampNTZType =>
            scala.util.Try(java.sql.Timestamp.valueOf(v)).isSuccess
          case StringType => true
          case other => throw new IllegalArgumentException(
            s"step ${c.stepName}: filter_rows does not support " +
              s"${other.simpleString} columns (column '$colName')")
        }
        require(parses,
          s"step ${c.stepName}: value '$v' does not parse as ${dt.simpleString} " +
            s"(column '$colName'" +
            (if (dt == TimestampType || dt == TimestampNTZType)
              "; use 'yyyy-MM-dd HH:mm:ss'" else "") + ")")
        lit(v).cast(dt)
      }
      val opName = c.params.str("op", "eq")
      val v = c.params.reqStr("value")
      val pred = opName match {
        case "eq" => col(colName) === typed(v)
        case "ne" => col(colName) =!= typed(v)
        case "lt" => col(colName) < typed(v)
        case "le" => col(colName) <= typed(v)
        case "gt" => col(colName) > typed(v)
        case "ge" => col(colName) >= typed(v)
        case "in" =>
          val vs = v.split(",").map(_.trim).filter(_.nonEmpty)
          require(vs.nonEmpty, s"step ${c.stepName}: 'in' needs at least one value")
          vs.map(x => col(colName) === typed(x)).reduce(_ || _)
        case other => throw new IllegalArgumentException(
          s"step ${c.stepName}: unknown op '$other' (eq|ne|lt|le|gt|ge|in)")
      }
      c.input.filter(pred)
    }),
    // membership filtering against a NAMED table (a dependency edge
    // like every aux table): keep_in = left-semi (allowlist),
    // drop_in = left-anti (blocklist / kill-list). `column` names the
    // input key; `tableColumn` the list's key (defaults to column).
    // The everyday uses: URL/domain blocklists, benchmark id removal,
    // curated-id allowlists.
    "keep_in" -> Op(Set("table", "column", "tableColumn"), { c =>
      membershipJoin(c, "left_semi")
    }, tableParams = Set("table")),
    // attach an annotation table's columns by id (left join — rows
    // without an annotation keep NULLs): the generic enrichment step
    // for scores, embeddings, metadata produced by any earlier step or
    // source table (a dependency edge). Overlapping non-id columns are
    // a spec error (no silent clobber), and a duplicate id in the
    // annotation table RAISES in-plan — a fan-out here would silently
    // multiply every downstream row.
    "annotate" -> Op(Set("table"), { c =>
      val tname = c.params.reqStr("table")
      val t = c.resolve(tname)
      require(t.columns.contains(c.idCol),
        s"step ${c.stepName}: annotation table '$tname' has no id column '${c.idCol}'")
      val overlap = t.columns.toSet.intersect(c.input.columns.toSet) - c.idCol
      require(overlap.isEmpty,
        s"step ${c.stepName}: annotation table '$tname' would clobber input " +
          s"columns ${overlap.toSeq.sorted.mkString(", ")} — rename them first")
      // NULL-id annotation rows can never join (dropped up front
      // rather than tripping the guard — they are harmless, and the
      // guard exempts NULL keys anyway)
      val guarded = duplicateKeyGuard(t.filter(col(c.idCol).isNotNull),
        Seq(c.idCol),
        s"step ${c.stepName}: annotation table '$tname' has more than one row for id ",
        " — a fan-out would silently multiply downstream rows")
      c.input.join(guarded, Seq(c.idCol), "left")
    }, tableParams = Set("table")),
    "drop_in" -> Op(Set("table", "column", "tableColumn"), { c =>
      membershipJoin(c, "left_anti")
    }, tableParams = Set("table")),
    // canonicalize a URL column in place (the crawl fetch-dedup key);
    // the STAGED rewrite — the one-Column form overflows Janino's
    // method limit and silently drops the stage out of codegen
    "url_normalize" -> Op(Set("column"), { c =>
      val cn = c.params.reqStr("column")
      require(c.input.columns.contains(cn), s"url_normalize: no such column '$cn'")
      TextAnalysis.normalizeUrlStaged(c.input, cn)
    }),
    // normalize / redact rewrite the text column in place
    "normalize" -> Op(Set.empty, { c =>
      c.input.withColumn(c.textCol, TextAnalysis.normalized(col(c.textCol)))
    }),
    // HTML -> main-content extraction (the web-crawl pipeline's FIRST
    // step): the text column is rewritten in place with the extracted
    // content lines; minChars tunes the boilerplate length rule
    // titleCol: also attach the page <title> (pulled BEFORE the head
    // drops) as metadata under the given column name
    "extract_html" -> Op(Set("minChars", "titleCol"), { c =>
      val base = c.params.str("titleCol", "") match {
        case "" => c.input
        case t =>
          require(!c.input.columns.contains(t),
            s"step ${c.stepName}: titleCol '$t' already exists on the input")
          c.input.withColumn(t, TextAnalysis.htmlTitle(col(c.textCol)))
      }
      base.withColumn(c.textCol,
        TextAnalysis.extractHtml(col(c.textCol), c.params.int("minChars", 25)))
    }),
    // WARC capture -> one row per record (shape change, the `chunk`
    // convention): the text column holds WARC content in; out comes
    // (id, rec_idx, warc_type, target_uri, text = HTTP body).
    // types: filters to a record-type list (default "response" — the
    // crawl-pipeline record; warcinfo/request/metadata are transport).
    // Chain extract_html after it for the full crawl front-end.
    // Ids: a capture with SEVERAL kept records would repeat its id and
    // silently corrupt every downstream id-keyed step — so by default
    // a duplicate id RAISES in-plan; `rekey: true` instead derives a
    // unique id `capture_id * 65536 + rec_idx` (old id kept as
    // `capture_id`; bounds fail-loud so the arithmetic cannot
    // collide), which is the multi-page-capture path.
    // httpMeta: true additionally attaches http_status/content_type
    // (the standard keep-200-text/html filter keys) and decodes
    // Transfer-Encoding: chunked framing out of the body
    // A BINARY text column takes the byte-exact parse path
    // (Warc.parseRecordsBytes — real multi-byte UTF-8 and .warc.gz
    // captures; `gzip: true` decodes per-record gzip members first),
    // with the record payload decoded as UTF-8 for the downstream
    // text steps. A string column takes the UTF-16-unit convenience
    // path; `gzip` is meaningless there and rejected.
    // binaryPayload: true (binary input only) additionally carries the
    // record's HTTP BODY OCTETS as a `payload` binary column — media
    // records (images/audio in a capture) feed media_stats/dedup_image
    // without a text decode shredding them; the text column still gets
    // the charset-decoded body for mixed-content chains.
    "warc" -> Op(Set("types", "rekey", "httpMeta", "gzip", "binaryPayload"), { c =>
      val keep = c.params.str("types", "response")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(keep.nonEmpty, s"step ${c.stepName}: types must name at least one record type")
      c.requireIntegralId("warc")
      val httpMeta = c.params.str("httpMeta", "false").toBoolean
      val isBinary = c.input.schema(c.textCol).dataType ==
        org.apache.spark.sql.types.BinaryType
      val gzipped = c.params.str("gzip", "false").toBoolean
      require(!gzipped || isBinary,
        s"step ${c.stepName}: gzip: true requires a BINARY '${c.textCol}' column — " +
          "a string column cannot hold gzip bytes")
      val binaryPayload = c.params.str("binaryPayload", "false").toBoolean
      require(!binaryPayload || isBinary,
        s"step ${c.stepName}: binaryPayload: true requires a BINARY " +
          s"'${c.textCol}' column — a string column has already lost the octets")
      // binary path: keep the raw octets for the charset-aware body
      // decode (headers are ASCII, so the string view serves the
      // status/content-type lookups)
      val base0 =
        if (isBinary)
          graft.operators.Warc.parseRecordsBytes(
              c.input, c.idCol, c.textCol, gzipped = gzipped).toDF()
            .withColumn("__payload_b", col("payload"))
            .withColumn("payload", col("payload").cast("string"))
        else graft.operators.Warc.parseRecords(c.input, c.idCol, c.textCol).toDF()
      val base = base0.filter(col("warc_type").isin(keep: _*))
      val metaCols =
        if (httpMeta) Seq(
          graft.operators.Warc.httpStatus(col("payload")).as("http_status"),
          graft.operators.Warc.httpHeader(col("payload"), "Content-Type").as("content_type"))
        else Seq.empty
      // byte path: decode the body from octets honoring the declared
      // charset (and byte-level chunked framing) — a blind UTF-8 cast
      // mojibakes every ISO-8859-1/windows-1252 page
      val bodyCol =
        if (isBinary) graft.operators.Warc.httpBodyCharset(col("__payload_b"))
        else if (httpMeta) graft.operators.Warc.httpBodyDechunked(col("payload"))
        else graft.operators.Warc.httpBody(col("payload"))
      val payloadCols =
        if (binaryPayload)
          Seq(graft.operators.Warc.httpBodyBytesCol(col("__payload_b")).as("payload"))
        else Seq.empty
      val recs = base.select(
        Seq(col("doc_id").as(c.idCol), col("rec_idx"), col("warc_type"),
          col("target_uri")) ++ metaCols ++ payloadCols :+ bodyCol.as(c.textCol): _*)
      if (c.params.str("rekey", "false").toBoolean) {
        val guarded = when(
          col(c.idCol) < 0 || col(c.idCol) >= Long.MaxValue / 65536 ||
            col("rec_idx") >= 65536,
          raise_error(concat(
            lit(s"step ${c.stepName}: rekey overflow — capture id "),
            col(c.idCol).cast("string"), lit(" / rec_idx "),
            col("rec_idx").cast("string"),
            lit(" outside [0, 2^47) x [0, 65536)"))))
          .otherwise(col(c.idCol) * 65536L + col("rec_idx"))
        recs
          .withColumn("capture_id", col(c.idCol))
          .withColumn(c.idCol, guarded)
      } else
        duplicateKeyGuard(recs, Seq(c.idCol),
          s"step ${c.stepName}: capture ",
          " holds more than one kept record — downstream id-keyed steps " +
            "would corrupt silently; set `rekey: true` (or filter `types:`)")
    }),
    // sitemap XML -> one row per listed URL (shape change, the `warc`
    // convention): the text column holds sitemap XML in; out comes
    // (id, entry_idx, text = loc, lastmod, changefreq, priority).
    // `kind: index` parses a sitemap-index file's child locations
    // instead. The 65536 rekey bound is safe BY PROTOCOL: sitemaps cap
    // at 50,000 entries per file.
    "sitemap" -> Op(Set("kind", "rekey"), { c =>
      c.requireIntegralId("sitemap")
      val kind = c.params.str("kind", "url")
      require(kind == "url" || kind == "index",
        s"step ${c.stepName}: kind must be url|index, got '$kind'")
      val parsed =
        if (kind == "url") graft.operators.Sitemaps.urlEntries(c.input, c.idCol, c.textCol)
        else graft.operators.Sitemaps.indexEntries(c.input, c.idCol, c.textCol)
      val recs = parsed.select(col(c.idCol), col("entry_idx"),
        col("loc").as(c.textCol), col("lastmod"), col("changefreq"), col("priority"))
      if (c.params.str("rekey", "false").toBoolean) {
        val guarded = when(
          col(c.idCol) < 0 || col(c.idCol) >= Long.MaxValue / 65536 ||
            col("entry_idx") >= 65536,
          raise_error(concat(
            lit(s"step ${c.stepName}: rekey overflow — sitemap id "),
            col(c.idCol).cast("string"), lit(" / entry_idx "),
            col("entry_idx").cast("string"),
            lit(" outside [0, 2^47) x [0, 65536)"))))
          .otherwise(col(c.idCol) * 65536L + col("entry_idx"))
        recs
          .withColumn("sitemap_id", col(c.idCol))
          .withColumn(c.idCol, guarded)
      } else
        duplicateKeyGuard(recs, Seq(c.idCol),
          s"step ${c.stepName}: sitemap ",
          " lists more than one URL — downstream id-keyed steps would " +
            "corrupt silently; set `rekey: true`")
    }),
    // outlink extraction (the crawl LOOP: this batch's pages feed the
    // next frontier): one row per <a href>, resolved against `base`
    // (default target_uri, the warc step's page URL); text := the
    // absolute URL. Same shape-change contract as sitemap; the rekey
    // guard raises past 65536 links on one page (fail-loud, not a
    // silent protocol cap — pages that large are parser bait).
    "extract_links" -> Op(Set("base", "rekey"), { c =>
      c.requireIntegralId("extract_links")
      val baseCol = c.params.str("base", "target_uri")
      require(c.input.columns.contains(baseCol),
        s"step ${c.stepName}: input has no base-url column '$baseCol'")
      val exploded = c.input.select(col(c.idCol), col(baseCol).as("__el_base"),
        posexplode(TextAnalysis.extractLinks(col(c.textCol)))
          .as(Seq("link_idx", "__el_href")))
      val recs = TextAnalysis
        .resolveLinksStaged(exploded, "__el_base", "__el_href", c.textCol)
        .select(col(c.idCol), col("link_idx"), col(c.textCol))
      if (c.params.str("rekey", "false").toBoolean) {
        val guarded = when(
          col(c.idCol) < 0 || col(c.idCol) >= Long.MaxValue / 65536 ||
            col("link_idx") >= 65536,
          raise_error(concat(
            lit(s"step ${c.stepName}: rekey overflow — page id "),
            col(c.idCol).cast("string"), lit(" / link_idx "),
            col("link_idx").cast("string"),
            lit(" outside [0, 2^47) x [0, 65536)"))))
          .otherwise(col(c.idCol) * 65536L + col("link_idx"))
        recs
          .withColumn("page_id", col(c.idCol))
          .withColumn(c.idCol, guarded)
      } else
        duplicateKeyGuard(recs, Seq(c.idCol),
          s"step ${c.stepName}: page ",
          " carries more than one link — downstream id-keyed steps " +
            "would corrupt silently; set `rekey: true`")
    }),
    // robots.txt (RFC 9309) URL admission: drop rows whose url a
    // per-host rule set disallows for this crawler's product token.
    // `table` (a dependency edge) holds raw robots.txt bodies keyed by
    // host; rules parse in-step, aggregate to one array row per host,
    // and join host-keyed (broadcast unless `broadcast: false` — a
    // frontier spanning too many hosts to broadcast shuffles on the
    // declared key instead). The corpus itself never shuffles.
    "robots_filter" -> Op(
      Set("table", "url", "agent", "hostColumn", "bodyColumn", "broadcast"), { c =>
        val tblName = c.params.reqStr("table")
        val urlCol  = c.params.str("url", "target_uri")
        val agent   = c.params.reqStr("agent")
        val hostCol = c.params.str("hostColumn", "host")
        val bodyCol = c.params.str("bodyColumn", "robots_txt")
        require(c.input.columns.contains(urlCol),
          s"step ${c.stepName}: input has no url column '$urlCol'")
        val robots = c.resolve(tblName)
        for (needed <- Seq(hostCol, bodyCol))
          require(robots.columns.contains(needed),
            s"step ${c.stepName}: table '$tblName' has no column '$needed'")
        val rules = graft.operators.Robots
          .parseRules(robots, hostCol, bodyCol).toDF()
        graft.operators.Robots.filterAllowed(c.input, urlCol, rules, agent,
          broadcastRules = c.params.str("broadcast", "true").toBoolean)
      }, tableParams = Set("table")),
    // politeness fetch scheduling over a frontier: annotate each row
    // with its host, the host's crawl delay (the agent's robots
    // crawl-delay record, the `*` record, or `defaultDelay`), a
    // deterministic per-host fetch ordinal (md5-order — spreads deep
    // paths), and fetch_offset_s = seq · delay — the earliest polite
    // fetch time relative to the host's first request. `table` holds
    // raw robots.txt bodies (host, robots_txt), same shape as
    // robots_filter's. Chain AFTER recrawl/dedup (schedule only what
    // will actually be fetched).
    // maxPerHost caps tonight's frontier per host (the nightly fetch
    // budget: a 50k-URL sitemap dump must not monopolize the fleet) —
    // the md5-order ordinal makes the kept subset a deterministic,
    // path-decorrelated sample of the host's URLs.
    // priorityFrom names a (node, rank_fp) table or step (a `pagerank`
    // step's output): the per-host order becomes rank-desc (ties and
    // unranked URLs keep the md5 spread), so maxPerHost keeps each
    // host's IMPORTANT subset instead of a random sample; the rank
    // survives as priority_fp.
    "fetch_schedule" -> Op(
      Set("table", "url", "agent", "hostColumn", "bodyColumn", "defaultDelay",
        "maxPerHost", "priorityFrom", "priorityNode", "priorityRank"), { c =>
        val tblName = c.params.reqStr("table")
        val urlCol  = c.params.str("url", c.textCol)
        val agent   = c.params.reqStr("agent")
        val hostCol = c.params.str("hostColumn", "host")
        val bodyCol = c.params.str("bodyColumn", "robots_txt")
        require(c.input.columns.contains(urlCol),
          s"step ${c.stepName}: input has no url column '$urlCol'")
        val robots = c.resolve(tblName)
        for (needed <- Seq(hostCol, bodyCol))
          require(robots.columns.contains(needed),
            s"step ${c.stepName}: table '$tblName' has no column '$needed'")
        val delays = graft.operators.Robots.crawlDelays(
          graft.operators.Robots.parseRules(robots, hostCol, bodyCol).toDF())
        val sched =
          if (c.params.has("priorityFrom")) {
            val pTbl = c.params.reqStr("priorityFrom")
            val nodeCol = c.params.str("priorityNode", "node")
            val rankCol = c.params.str("priorityRank", "rank_fp")
            val prios = c.resolve(pTbl)
            for (needed <- Seq(nodeCol, rankCol))
              require(prios.columns.contains(needed),
                s"step ${c.stepName}: table '$pTbl' has no column '$needed'")
            graft.operators.Robots.fetchScheduleRanked(c.input, urlCol, delays,
              agent,
              prios.select(col(nodeCol).as("node"), col(rankCol).as("rank_fp")),
              defaultDelayS = c.params.int("defaultDelay", 1))
          } else graft.operators.Robots.fetchSchedule(c.input, urlCol, delays,
            agent, defaultDelayS = c.params.int("defaultDelay", 1))
        if (c.params.has("maxPerHost")) {
          val cap = c.params.reqInt("maxPerHost")
          require(cap >= 1, s"step ${c.stepName}: maxPerHost must be >= 1, got $cap")
          sched.filter(col("fetch_seq") < cap)
        } else sched
      }, tableParams = Set("table", "priorityFrom")),
    // ------------------------------------------------------ graph steps
    // link/quality graph analytics as pipeline steps: the step INPUT
    // is an edge table — a crawl link graph, a near-dup pair list, an
    // event transition graph — and the output is a node-keyed score
    // table downstream steps join or filter_rows against (quality
    // priors in curation chains) or feed fetch_schedule's
    // priorityFrom. Raw edges are aggregated in-op (one groupBy — a
    // no-op re-shuffle for an already-aggregated list, duplicate
    // safety for a raw one; pageRank's contract wants one row per
    // edge).
    "pagerank" -> Op(
      Set("src", "dst", "weight", "iterations", "checkpointEvery"), { c =>
      val (srcCol, dstCol) = (c.params.str("src", "src"), c.params.str("dst", "dst"))
      for (needed <- Seq(srcCol, dstCol))
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: input has no edge column '$needed'")
      Seq(srcCol, dstCol).foreach(n => require(n != "__w",
        s"step ${c.stepName}: edge column may not be named '__w'"))
      val w =
        if (c.params.has("weight")) {
          val wc = c.params.reqStr("weight")
          require(c.input.columns.contains(wc),
            s"step ${c.stepName}: input has no weight column '$wc'")
          col(wc).cast("long")
        } else lit(1L)
      val edges = c.input
        .select(col(srcCol), col(dstCol), w.as("__w"))
        .groupBy(col(srcCol), col(dstCol)).agg(sum(col("__w")).as("__w"))
      val iters = c.params.int("iterations", 10)
      graft.operators.Centrality.pageRank(edges, srcCol, dstCol, "__w",
        iterations = iters,
        checkpointInterval = c.params.int("checkpointEvery", 10))
    }),
    // k-core membership of the (undirected, simplified) edge input:
    // `rounds` pins an exact peel count (the oracle-mirrorable slice);
    // without it the peel runs to convergence under maxIter.
    "kcore" -> Op(Set("src", "dst", "k", "rounds", "maxIter"), { c =>
      val (srcCol, dstCol) = (c.params.str("src", "src"), c.params.str("dst", "dst"))
      for (needed <- Seq(srcCol, dstCol))
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: input has no edge column '$needed'")
      val k = c.params.reqInt("k")
      if (c.params.has("rounds"))
        graft.operators.Centrality.kCorePeel(c.input, srcCol, dstCol, k,
          rounds = c.params.reqInt("rounds"))
      else
        graft.operators.Centrality.kCore(c.input, srcCol, dstCol, k,
          maxIter = c.params.int("maxIter", 50))
    }),
    // fixed-round synchronous label propagation: (node, label)
    // community labels over the undirected simple graph
    "label_prop" -> Op(Set("src", "dst", "rounds"), { c =>
      val (srcCol, dstCol) = (c.params.str("src", "src"), c.params.str("dst", "dst"))
      for (needed <- Seq(srcCol, dstCol))
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: input has no edge column '$needed'")
      graft.operators.Centrality.labelPropagationRounds(c.input, srcCol, dstCol,
          rounds = c.params.reqInt("rounds"))
        .withColumnRenamed("lbl", "label")
    }),
    // redirect-chain collapse BEFORE admission: rewrite the url column
    // through Redirects.resolve over a named (src, dst) edge table, so
    // a moved URL and its terminal target carry ONE admission key — a
    // frontier that admits both fetches the move twice, and an
    // admitted-store that remembers the stale spelling re-fetches it
    // forever. Unresolved chains (cycles, over-deep) keep their
    // original URL — conservative: a cycle is a fetch-layer problem,
    // not a reason to drop the row silently. Runs after url_normalize
    // (edge srcs must be in canonical form) and before
    // robots_filter/dedup (the TARGET's rules and key are what
    // matter). The join is sized by the EDGE table and equi-keyed;
    // Catalyst broadcasts it when small.
    "redirects" -> Op(Set("table", "column", "src", "dst", "maxDepth"), { c =>
      val colName = c.params.str("column", c.textCol)
      require(c.input.columns.contains(colName),
        s"step ${c.stepName}: input has no url column '$colName'")
      val tblName = c.params.reqStr("table")
      val edges = c.resolve(tblName)
      val (srcCol, dstCol) = (c.params.str("src", "src"), c.params.str("dst", "dst"))
      for (needed <- Seq(srcCol, dstCol))
        require(edges.columns.contains(needed),
          s"step ${c.stepName}: table '$tblName' has no column '$needed'")
      Seq("__rd_src", "__rd_final").foreach(t =>
        require(!c.input.columns.contains(t),
          s"step ${c.stepName}: input already has internal column '$t'"))
      val resolved = graft.operators.Redirects
        .resolve(edges, srcCol, dstCol, c.params.int("maxDepth", 32))
        .filter(col("resolved"))
        .select(col("src").as("__rd_src"), col("final_url").as("__rd_final"))
      c.input
        .join(resolved, c.input(colName) === col("__rd_src"), "left")
        .withColumn(colName, coalesce(col("__rd_final"), col(colName)))
        .drop("__rd_src", "__rd_final")
    }, tableParams = Set("table")),
    // recrawl / freshness scheduling: keep only the rows whose URL is
    // DUE for (re)fetching — never fetched, publisher-modified
    // (lastmod newer than the last fetch), or aged past its
    // changefreq/default revisit interval — annotated with
    // `recrawl_reason` (new | modified | aged).
    // mode: full judges against a named `table` fetch log
    // (url, last_fetch_ts). mode: admit maintains the last-fetch
    // store under --state and stamps due URLs as fetched at `now` —
    // the nightly loop that keeps a corpus fresh: a URL re-listed
    // tomorrow is NOT re-fetched until it ages or changes again.
    // `now` (epoch seconds) is explicit for replay determinism.
    // lastmod/changefreq name discovery columns; a named column
    // absent from the input is treated as all-empty (feeds carry
    // `updated` but no changefreq).
    // adaptive: "true" stretches the aged interval by
    // 2^min(unchanged_streak, 5) — the change-rate backoff fed by a
    // change_detect step; storeFrom names that step so both loops
    // share ONE last-fetch store ($state/<storeFrom>/lastfetch) —
    // the streaks change detection writes are the streaks scheduling
    // reads.
    "recrawl" -> Op(
      Set("url", "lastmod", "changefreq", "now", "defaultAge", "buckets",
        "mode", "table", "adaptive", "storeFrom"), { c =>
      val urlCol = c.params.str("url", c.textCol)
      require(c.input.columns.contains(urlCol),
        s"step ${c.stepName}: input has no url column '$urlCol'")
      val lastmodCol = c.params.str("lastmod", "lastmod")
      val changefreqCol = c.params.str("changefreq", "changefreq")
      val nowTs = c.params.reqLong("now")
      val defaultAgeS = c.params.long("defaultAge", 604800L)
      val adaptive = c.params.str("adaptive", "false").toBoolean
      val padded = Seq(lastmodCol, changefreqCol)
        .foldLeft(c.input)((d, cc) =>
          if (d.columns.contains(cc)) d else d.withColumn(cc, lit("")))
      c.params.str("mode", "full") match {
        case "full" =>
          require(!c.params.has("storeFrom"),
            s"step ${c.stepName}: storeFrom applies to mode: admit only")
          val logName = c.params.reqStr("table")
          val log = c.resolve(logName)
          val needCols = Seq(urlCol, "last_fetch_ts") ++
            (if (adaptive) Seq("unchanged_streak") else Seq.empty)
          needCols.foreach(needed =>
            require(log.columns.contains(needed),
              s"step ${c.stepName}: table '$logName' has no column '$needed'"))
          val verdicts =
            if (adaptive) graft.operators.Recrawl.dueVerdictsAdaptive(padded,
              urlCol, lastmodCol, changefreqCol, log, nowTs, defaultAgeS)
            else graft.operators.Recrawl.dueVerdicts(padded, urlCol, lastmodCol,
              changefreqCol, log, nowTs, defaultAgeS)
          verdicts.filter(col("recrawl_due")).drop("recrawl_due")
        case "admit" =>
          require(!c.params.has("table"),
            s"step ${c.stepName}: table applies to mode: full only")
          val ownRoot = c.requireState("recrawl mode: admit")
          val sharedFrom = c.params.str("storeFrom", "")
          val storeRoot = sharedFrom match {
            case ""    => ownRoot
            case other => // share a change_detect step's last-fetch store
              ownRoot.stripSuffix(s"/${c.stepName}") + s"/$other"
          }
          val (store, sink) = (s"$storeRoot/lastfetch", s"$ownRoot/frontier")
          val buckets = c.params.int("buckets", 64)
          if (!StreamingRecrawl.initialized(store)) {
            // a SHARED store must already exist (the referenced
            // change_detect step is a topo-order dependency and
            // initializes it even on an empty batch) — initializing it
            // here would silently fork the store with this step's own
            // `buckets`, splitting the two loops' state
            require(sharedFrom.isEmpty,
              s"step ${c.stepName}: shared last-fetch store '$store' " +
                s"(storeFrom: $sharedFrom) does not exist — the " +
                "referenced step has not initialized it")
            StreamingRecrawl.initialize(
              c.input.limit(0).select(col(urlCol),
                lit(0L).as("last_fetch_ts")),
              urlCol, store, buckets)
          }
          StreamingRecrawl.applyBatch(padded, c.idCol, urlCol, lastmodCol,
            changefreqCol, store, sink, buckets, c.batchId, nowTs, defaultAgeS,
            adaptive = adaptive)
          val out = readBack(c.copy(input = padded), sink, "recrawl_reason STRING")
          // project back to the INPUT's columns (+ the reason): the
          // padding columns were plumbing unless the input had them
          out.select((c.input.columns.toSeq :+ "recrawl_reason").map(col): _*)
      }
    }, modes = Set("full", "admit"), tableParams = Set("table"),
      fullOnlyParams = Set("table"), stepRefParams = Set("storeFrom")),
    // post-fetch change detection — the other half of the freshness
    // loop: the input is FETCHED pages (url + content); each row's
    // content fingerprint (the `fingerprint` column, or md5(text) when
    // absent) compares against the URL's last-known fingerprint, and
    // only content_changed rows pass — an unchanged re-fetch must not
    // re-run extraction/dedup/annotation over identical bytes.
    // mode: full compares against a named (url, last_fp) table;
    // mode: admit maintains the fingerprint columns of a last-fetch
    // store in this step's state dir ($state/<step>/lastfetch — the
    // same StreamingRecrawl store format the recrawl step maintains;
    // one store serves both loops when wired directly through
    // StreamingRecrawl.applyBatch/applyFetchBatch) and writes the
    // annotated batch to $state/<step>/changed.
    // keep: changed (default) emits only content_changed rows — the
    // suppression filter; keep: all emits EVERY row annotated
    // (change_kind, content_changed, content_fp) — the archival shape
    // an export_warc step turns into response-or-revisit records.
    "change_detect" -> Op(
      Set("url", "fingerprint", "now", "buckets", "mode", "table", "keep"), { c =>
      val urlCol = c.params.str("url", c.textCol)
      require(c.input.columns.contains(urlCol),
        s"step ${c.stepName}: input has no url column '$urlCol'")
      val keepAll = c.params.str("keep", "changed") match {
        case "changed" => false
        case "all"     => true
        case other => throw new IllegalArgumentException(
          s"step ${c.stepName}: keep must be changed or all, got '$other'")
      }
      def project(annotated: DataFrame, fpCol: String): DataFrame =
        if (keepAll) {
          // admit mode also carries content_fp_ts — the capture
          // instant of the payload-bearing record, what an
          // export_warc revisit's refersToDateFrom points at
          val refTs =
            if (annotated.columns.contains("content_fp_ts"))
              Seq(col("content_fp_ts").cast("long").as("content_fp_ts"))
            else Seq.empty
          annotated.select(c.input.columns.toSeq.map(col) ++ Seq(
            col("change_kind"), col("content_changed").cast("boolean")
              .as("content_changed"),
            col(fpCol).cast("string").as("content_fp")) ++ refTs: _*)
        } else annotated.filter(col("content_changed").cast("boolean"))
          .select((c.input.columns.toSeq :+ "change_kind").map(col): _*)
      val (fpCol, withFpCol) =
        if (c.params.has("fingerprint")) {
          val fc = c.params.reqStr("fingerprint")
          require(c.input.columns.contains(fc),
            s"step ${c.stepName}: input has no fingerprint column '$fc'")
          (fc, c.input)
        } else {
          require(!c.input.columns.contains("__content_fp"),
            s"step ${c.stepName}: input already has internal column '__content_fp'")
          ("__content_fp", c.input.withColumn("__content_fp", md5(col(c.textCol))))
        }
      c.params.str("mode", "full") match {
        case "full" =>
          require(!c.params.has("now") && !c.params.has("buckets"),
            s"step ${c.stepName}: now/buckets apply to mode: admit only")
          val tblName = c.params.reqStr("table")
          val fps = c.resolve(tblName)
          Seq(urlCol, "last_fp").foreach(needed =>
            require(fps.columns.contains(needed),
              s"step ${c.stepName}: table '$tblName' has no column '$needed'"))
          project(graft.operators.Recrawl
            .changeVerdicts(withFpCol, urlCol, fpCol, fps), fpCol)
        case "admit" =>
          require(!c.params.has("table"),
            s"step ${c.stepName}: table applies to mode: full only")
          val root = c.requireState("change_detect mode: admit")
          val (store, sink) = (s"$root/lastfetch", s"$root/changed")
          val buckets = c.params.int("buckets", 64)
          val nowTs = c.params.reqLong("now")
          if (!StreamingRecrawl.initialized(store))
            StreamingRecrawl.initialize(
              withFpCol.limit(0).select(col(urlCol), lit(0L).as("last_fetch_ts")),
              urlCol, store, buckets)
          StreamingRecrawl.applyFetchBatch(withFpCol, c.idCol, urlCol, fpCol,
            store, sink, buckets, c.batchId, nowTs)
          project(readBack(c.copy(input = withFpCol), sink,
            "change_kind STRING, content_changed BOOLEAN, content_fp_ts BIGINT"), fpCol)
      }
    }, modes = Set("full", "admit"), tableParams = Set("table"),
      fullOnlyParams = Set("table")),
    // page-metadata annotation: each named <meta> key (property= or
    // name= spelling, first tag wins, entity-decoded) becomes a
    // column — og:title/og:description for snippets,
    // article:published_time as the freshness signal a recrawl step
    // consumes (`lastmod: article_published_time`). Chain BEFORE
    // extract_html (which rewrites the text column). Column names are
    // the keys with [:.-] mapped to '_'.
    "page_meta" -> Op(Set("keys", "html"), { c =>
      val htmlCol = c.params.str("html", c.textCol)
      require(c.input.columns.contains(htmlCol),
        s"step ${c.stepName}: input has no html column '$htmlCol'")
      val keys = c.params
        .str("keys", "og:title,og:description,article:published_time")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(keys.nonEmpty, s"step ${c.stepName}: keys must name at least one meta key")
      keys.foldLeft(c.input) { (d, k) =>
        val colName = k.map(ch => if (ch == ':' || ch == '.' || ch == '-') '_' else ch)
        require(!d.columns.contains(colName),
          s"step ${c.stepName}: output column '$colName' (for meta key '$k') " +
            "already exists on the input")
        d.withColumn(colName, TextAnalysis.htmlMetaContent(col(htmlCol), k))
      }
    }),
    "redact" -> Op(Set.empty, { c =>
      c.input.withColumn(c.textCol, TextAnalysis.redact(col(c.textCol)))
    }),
    // deterministic hash sample (scan-local, engine-portable)
    "sample_hash" -> Op(Set("fraction", "salt"), { c =>
      Sampling.hashSample(c.input, c.idCol,
        c.params.reqDouble("fraction"), c.params.str("salt", ""))
    }),
    // shape change: one row per token chunk (id, chunk_id,
    // n_chunk_tokens, chunk_text)
    "chunk" -> Op(Set("size", "stride"), { c =>
      val size = c.params.reqInt("size")
      TextAnalysis.chunkTokens(c.input, c.idCol, c.textCol,
        size = size, stride = c.params.int("stride", size))
    }),
    // shape change: pack chunk rows into (shard, seq_id, seq_pos)
    // sequences; input must be a `chunk` step's output
    "pack" -> Op(Set("chunksPerSeq", "shards"), { c =>
      Packing.packChunks(c.input, c.idCol, "chunk_id",
        chunksPerSeq = c.params.reqInt("chunksPerSeq"),
        shards = c.params.reqInt("shards"))
    }),
    // concat-and-split token-budget packing: annotates the sequence
    // span (seq_first/seq_last/seq_offset) each doc occupies when the
    // shard-local token stream is cut every seqTokens tokens. Needs
    // shard/pos (chain shuffle_shards first) and a token-count column
    // (a tokenize step's n_bpe_tokens, or token_estimate's column).
    "pack_budget" -> Op(Set("seqTokens", "tokens"), { c =>
      Seq("shard", "pos").foreach { needed =>
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: pack_budget needs a '$needed' column — " +
            "chain a shuffle_shards step before it")
      }
      val tokCol = c.params.reqStr("tokens")
      require(c.input.columns.contains(tokCol),
        s"step ${c.stepName}: input has no token column '$tokCol' " +
          "(chain a tokenize or token_estimate step)")
      Packing.packBudget(c.input, "shard", "pos", tokCol,
        seqTokens = c.params.reqLong("seqTokens"))
    }),
    // MATERIALIZED concat-and-split packing (shape change): fixed
    // seqTokens-length training sequences cut from the shard-ordered
    // token streams (Packing.packSequences — document slices, never a
    // token-level explode). Output rows are sequences: id = the
    // (shard, seq) rekey, pos = the per-shard sequence ordinal, text
    // column = bpe_tokens (the packed stream) — export_tokens consumes
    // it unchanged. Chain tokenize (keepTokens: true) and
    // shuffle_shards before it.
    "pack_sequences" -> Op(Set("seqTokens", "tokens"), { c =>
      Seq("shard", "pos").foreach { needed =>
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: pack_sequences needs a '$needed' column — " +
            "chain a shuffle_shards step before it")
      }
      val tokCol = c.params.str("tokens", "bpe_tokens")
      require(c.input.columns.contains(tokCol),
        s"step ${c.stepName}: input has no token column '$tokCol' " +
          "(chain a tokenize step with keepTokens: true)")
      val seqs = Packing.packSequences(c.input, "shard", "pos", tokCol,
        seqTokens = c.params.reqLong("seqTokens"))
      // (shard, seq_id) -> one id: shard < 2^31 by type; the seq
      // ordinal is bounded in-plan so the packed key never collides
      val guarded = when(col("seq_id") >= (1L << 32),
        raise_error(concat(
          lit(s"step ${c.stepName}: rekey overflow — shard "),
          col("shard").cast("string"), lit(" has "),
          col("seq_id").cast("string"),
          lit(" sequences (>= 2^32); raise shards or seqTokens"))))
        .otherwise(col("shard").cast("long") * (1L << 32) + col("seq_id"))
      seqs.select(
        guarded.as(c.idCol), col("shard"), col("seq_id").as("pos"),
        col("seq_tokens").as("bpe_tokens"),
        col("n_seq_tokens").cast("long").as("n_bpe_tokens"), col("n_parts"))
    }),
    // annotation table: per-doc text statistics (id + signals)
    "stats" -> Op(Set.empty, { c =>
      TextAnalysis.stats(c.input, c.idCol, c.textCol)
    }),
    // shape change: corpus-level windowed co-occurrence pair counts
    // (w1, w2, pair_count, n1, n2) — the PMI/collocation statistic.
    // Scoped variant: the tokenized-corpus cache is released before the
    // next step runs instead of living for the rest of the pipeline.
    "cooccurrence" -> Op(Set("window", "maxCount", "topK"), { c =>
      TextAnalysis.cooccurrenceScoped(c.input, c.idCol, c.textCol,
        window = c.params.int("window", 5),
        maxCount = c.params.long("maxCount", 100000L),
        topK = c.params.int("topK", 100))
    }),
    // quality gate: validate invariants and PASS THE CORPUS THROUGH,
    // or throw — because steps promote via staged writes, a failing
    // expectation never publishes the table (and never runs the rest
    // of the chain). Checks: minRows, notNull (comma-separated
    // columns), unique (one column), nonEmptyText.
    "expect" -> Op(Set("minRows", "notNull", "unique", "nonEmptyText"), { c =>
      import graft.operators.Expectations
      val fails = Seq.newBuilder[String]
      val checks = Seq.newBuilder[Expectations.Check]
      c.params.str("notNull", "").split(",").map(_.trim).filter(_.nonEmpty).foreach { cn =>
        require(c.input.columns.contains(cn), s"expect: no such column '$cn'")
        checks += Expectations.Check(s"not_null_$cn", col(cn).isNotNull)
      }
      if (c.params.str("nonEmptyText", "false").toBoolean)
        checks += Expectations.Check("non_empty_text",
          trim(col(c.textCol)).isNotNull && trim(col(c.textCol)) =!= "")
      val rowChecks = checks.result()
      val uniqueOpt = c.params.str("unique", "") match {
        case "" => None
        case cn =>
          require(c.input.columns.contains(cn), s"expect: no such column '$cn'")
          Some(cn)
      }
      // one violations report (Expectations.validate unions row checks
      // and uniqueness), one collect
      val report = (rowChecks.nonEmpty, uniqueOpt) match {
        case (true, u)        => Some(Expectations.validate(c.input, c.idCol, rowChecks, u))
        case (false, Some(k)) => Some(Expectations.uniqueness(c.input, k, s"${k}_unique"))
        case _                => None
      }
      report.foreach(_.filter(col("n_violations") > 0).collect()
        .foreach(r => fails += s"${r.getString(0)}: ${r.getLong(1)} rows " +
          s"(e.g. key=${r.get(2)})"))
      val minRows = c.params.long("minRows", 0L)
      if (minRows > 0L) {
        val n = c.input.count()
        if (n < minRows) fails += s"min_rows: $n < $minRows"
      }
      val errs = fails.result()
      if (errs.nonEmpty)
        throw new IllegalStateException(
          "expectation gate failed:\n  " + errs.mkString("\n  "))
      c.input
    }),
    // winnowing (MOSS) near-dup dedup: shared-local-fingerprint
    // candidate pairs, one survivor per component — the cheap
    // plagiarism-detector index (density ~2/(w+1) of the shingles).
    // mode: admit judges the batch against the maintained fingerprint
    // posting store (StreamingWinnowDedup) — catches LOCAL overlap
    // (a copied passage inside an otherwise new doc) that the
    // whole-document Jaccard admission dilutes away.
    "dedup_winnow" -> Op(
      Set("n", "w", "minShared", "maxBucket", "keep", "scoreCol", "scoreFrom",
        "mode", "buckets"), { c =>
      c.params.str("mode", "full") match {
        case "full" =>
          val pairs = Dedup.winnowPairs(c.input, c.idCol, c.textCol,
            n = c.params.int("n", 4), w = c.params.int("w", 5),
            minShared = c.params.long("minShared", 2L),
            maxBucket = c.params.int("maxBucket", 1000))
          keepSurvivors(c, pairs)
        case "admit" =>
          admitPostings(c, "dedup_winnow", StreamingWinnowDedup, "fingerprints",
            payloadCol = None)(StreamingWinnowDedup.Params(
              numBuckets = c.params.int("buckets", 64),
              n = c.params.int("n", 4), w = c.params.int("w", 5),
              minShared = c.params.long("minShared", 2L),
              maxBucket = c.params.int("maxBucket", 1000)))
      }
    }, modes = Set("full", "admit"), tableParams = Set("scoreFrom"),
      fullOnlyParams = Set("keep", "scoreCol", "scoreFrom")),
    // prefix-filtered exact-Jaccard near-dup dedup: one survivor per
    // cluster, exact over the full shingle universe (the PPJoin path —
    // prefer at near-dup thresholds where prefixes are short)
    "dedup_prefix" -> Op(Set("n", "minJaccard", "keep", "scoreCol", "scoreFrom"), { c =>
      val pairs = Dedup.jaccardPrefixPairs(c.input, c.idCol, c.textCol,
        n = c.params.int("n", 3), minJaccard = c.params.double("minJaccard", 0.8))
      keepSurvivors(c, pairs)
    }, tableParams = Set("scoreFrom")),
    // CCNet/RefinedWeb line-level boilerplate removal: lines occurring
    // in >= minDf distinct docs are stripped from every doc; the text
    // column is rewritten in place, all other columns ride along.
    // Docs with NULL text are dropped (lineDedup's unnest contract).
    // mode: against_store folds the batch's line-df summary into the
    // maintained store (batch-owned partition — replay-idempotent) and
    // strips the batch against the CORPUS-WIDE duplicated-line set
    // (including this batch): the batch's cleaned rows equal the full
    // rebuild's rows for these docs, without rescanning the corpus.
    "line_dedup" -> Op(Set("minDf", "delim", "mode"), { c =>
      val minDf = c.params.int("minDf", 2)
      val delim = c.params.str("delim", "\n")
      val cleaned = c.params.str("mode", "full") match {
        case "full" =>
          Dedup.lineDedup(c.input, c.idCol, c.textCol, minDf, delim)
        case "against_store" =>
          require(minDf >= 2, s"minDf must be >= 2, got $minDf")
          val store = c.requireState("line_dedup mode: against_store") + "/line_df"
          val spark = c.input.sparkSession
          if (!StreamingLineDedup.initialized(store))
            StreamingLineDedup.initialize(c.input.limit(0), c.idCol, c.textCol, store, delim)
          StreamingLineDedup.applyBatch(c.input, c.idCol, c.textCol, store, delim, c.batchId)
          StreamingLineDedup.cleanWith(c.input, c.idCol, c.textCol, store, minDf, delim)
      }
      c.input.drop(c.textCol)
        .join(cleaned.select(col(c.idCol), col("text_clean")), Seq(c.idCol))
        .withColumnRenamed("text_clean", c.textCol)
    }, modes = Set("full", "against_store")),
    // session table over an events-shaped input (entity/ts/tie/value
    // columns named by params). mode: incremental maintains the
    // session table under --state: merge the batch's sessions into the
    // maintained table (boundary-session merge + anti-join
    // passthrough — cost ∝ batch + session table, the warehouse
    // maintenance shape), under sessionizeIncremental's append-only
    // contract (every batch event later than the entity's maintained
    // events). The store is VERSIONED by batch id, so a crashed run
    // re-reads the previous version and replays deterministically.
    "sessionize" -> Op(Set("entity", "ts", "tie", "value", "gapSeconds", "mode"), { c =>
      val (e, ts, tie, v) = (c.params.str("entity", "user_id"), c.params.str("ts", "ts"),
        c.params.str("tie", "event_id"), c.params.str("value", "value"))
      val gap = c.params.long("gapSeconds", 1800L)
      c.params.str("mode", "full") match {
        case "full" => Sessions.buildSessionTable(c.input, e, ts, tie, v, gap)
        case "incremental" =>
          val root = c.requireState("sessionize mode: incremental")
          val spark = c.input.sparkSession
          val prev = s"$root/sessions_v${c.batchId - 1}"
          val next = s"$root/sessions_v${c.batchId}"
          val prevExists = java.nio.file.Files.exists(java.nio.file.Paths.get(prev))
          // "step never ran" (no sessions_v* at all — e.g. this step was
          // added to an existing state dir; a from-batch build is
          // correct) is NOT "expected version missing" (other versions
          // present — a damaged/partially-restored state dir or a path
          // typo; rebuilding from only the batch would silently discard
          // all prior session history). Fail loudly on the latter.
          if (c.batchId > 0L && !prevExists) {
            val rootPath = java.nio.file.Paths.get(root)
            val others =
              if (!java.nio.file.Files.isDirectory(rootPath)) Nil
              else {
                val it = java.nio.file.Files.list(rootPath)
                try it.iterator().asScala.map(_.getFileName.toString)
                  .filter(nm => nm.startsWith("sessions_v") &&
                    nm.stripPrefix("sessions_v").toLongOption.isDefined)
                  .filter(_ != s"sessions_v${c.batchId}").toList
                finally it.close()
              }
            require(others.isEmpty,
              s"sessionize mode: incremental — expected $prev is missing but the state dir " +
                s"holds ${others.sorted.mkString(", ")}; rebuilding from only this batch " +
                "would discard prior session history (damaged or mis-pathed state dir?)")
          }
          val merged =
            if (c.batchId == 0L || !prevExists)
              Sessions.buildSessionTable(c.input, e, ts, tie, v, gap)
            else Sessions.sessionizeIncremental(
              spark.read.parquet(prev), c.input, e, ts, tie, v, gap)
          // overwrite is rerun-safe: a replay of this batch id rebuilds
          // the same version from the same previous version
          merged.write.mode("overwrite").parquet(next)
          // GC superseded versions: a rerun of batch id N reads only
          // v(N-1), so v(N-2) and older can never be needed again —
          // without this, nightly runs accumulate one full session
          // table copy per run
          val rootPath = java.nio.file.Paths.get(root)
          if (java.nio.file.Files.isDirectory(rootPath)) {
            val it = java.nio.file.Files.list(rootPath)
            try it.iterator().asScala
              .filter(_.getFileName.toString.startsWith("sessions_v"))
              .filter { p =>
                p.getFileName.toString.stripPrefix("sessions_v").toLongOption
                  .exists(_ < c.batchId - 1)
              }
              .foreach { p =>
                org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
              }
            finally it.close()
          }
          spark.read.parquet(next)
      }
    }, modes = Set("full", "incremental")),
    // pairwise sufficient statistics (Profile.moments) over numeric
    // columns named by `cols`. mode: merge maintains per-batch moment
    // partials under --state (batch-owned partitions, additive merge —
    // replay-idempotent) and outputs the corpus-wide totals.
    "moments" -> Op(Set("cols", "mode"), { c =>
      val colsList = c.params.reqStr("cols").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val batchMoments = graft.operators.Profile.moments(c.input, colsList)
      c.params.str("mode", "full") match {
        case "full" => batchMoments
        case "merge" =>
          val store = c.requireState("moments mode: merge") + "/moments"
          val spark = c.input.sparkSession
          MaintainedStore.publish(batchMoments.withColumn(MaintainedStore.BatchCol,
            lit(c.batchId)), store, MaintainedStore.BatchCol)
          val all = spark.read.parquet(store).drop(MaintainedStore.BatchCol)
          // mergeMoments is a self-merge over the unioned partials
          graft.operators.Profile.mergeMoments(all, all.limit(0))
      }
    }, modes = Set("full", "merge")),
    // deterministic global shuffle: adds shard + dense in-shard pos
    // (pure functions of id and salt) — the order-decorrelation step
    // before packing/batch export
    "shuffle_shards" -> Op(Set("shards", "salt"), { c =>
      // after an epochs mix the SAME id recurs once per epoch; the
      // epoch column must join the shard key or tied (hash, id) rows
      // would take nondeterministic positions — breaking the byte-
      // deterministic export this step exists to feed
      val extras = if (c.input.columns.contains("epoch")) Seq("epoch") else Nil
      Sampling.shuffleShards(c.input, c.idCol,
        c.params.reqInt("shards"), c.params.str("salt", ""), extras)
    }),
    // multi-corpus blend to a token budget: `inputs` names ALL mix
    // members (steps or source tables — they become dependency edges),
    // `weights` their mixture ratios, and the domainMix hash sample
    // takes each member's share of `budgetTokens` (a member smaller
    // than its share is kept whole — the keep-all cap). `tokens` names
    // the per-row token-count column (e.g. a real BPE count); absent,
    // the bpeTokenEstimate of the text column is used. The step's own
    // `input:` must be one of the members (it anchors the chain; the
    // data comes from `inputs`). Output adds `mix_source`.
    // `maxEpochs` > 1 switches to domainMixEpochs: a member BELOW its
    // token share is repeated for whole epochs plus an exact fractional
    // one until it delivers the share (needing more than maxEpochs
    // raises); output then ALSO adds `epoch`, and the id-collision
    // guard keys on (id, epoch) — every (id, epoch) pair stays unique.
    // `alpha` REPLACES `weights`: temperature-scaled shares derived
    // from the members' own token masses (p_i ∝ n_i^alpha — the XLM-R
    // multilingual sampling rule; alpha 1 proportional, -> 0 uniform).
    "mix" -> Op(Set("inputs", "weights", "budgetTokens", "tokens", "salt",
      "maxEpochs", "alpha"), { c =>
      val names = c.params.reqStr("inputs").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(names.length >= 2, s"step ${c.stepName}: mix needs at least two inputs")
      require(names.distinct == names,
        s"step ${c.stepName}: mix inputs must be distinct, got $names")
      require(names.contains(c.inputName),
        s"step ${c.stepName}: the step's input '${c.inputName}' must be one of its " +
          s"mix inputs ($names) — `input:` anchors the chain, `inputs:` carries the data")
      require(c.params.has("weights") != c.params.has("alpha"),
        s"step ${c.stepName}: give exactly one of weights (explicit ratios) or " +
          "alpha (temperature-derived from member token masses)")
      val explicitWs: Option[Seq[Long]] = if (!c.params.has("weights")) None else {
        val ws = c.params.reqStr("weights").split(",").map(_.trim).map(w =>
          w.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
            s"step ${c.stepName}: weights must be positive longs, got '$w'")))
        require(ws.length == names.length,
          s"step ${c.stepName}: ${names.length} inputs but ${ws.length} weights")
        Some(ws.toSeq)
      }
      val tokCol = c.params.str("tokens", "")
      val frames = names.map(n => n -> c.resolve(n))
      frames.foreach { case (n, f) =>
        Seq("__mix_tokens", "mix_source", "__mix_n").foreach { reserved =>
          require(!f.columns.contains(reserved),
            s"step ${c.stepName}: mix input '$n' already has a '$reserved' column")
        }
      }
      val tagged = frames.map { case (n, f) =>
        val withTok =
          if (tokCol.isEmpty)
            f.withColumn("__mix_tokens", TextAnalysis.bpeTokenEstimate(col(c.textCol)))
          else {
            require(f.columns.contains(tokCol),
              s"step ${c.stepName}: mix input '$n' has no token column '$tokCol'")
            f.withColumn("__mix_tokens", col(tokCol).cast("long"))
          }
        // unionByName (no missing-column allowance): schema drift
        // between mix members fails loudly instead of null-padding
        withTok.withColumn("mix_source", lit(n))
      }.reduce(_.unionByName(_))
      val maxEpochs = c.params.int("maxEpochs", 1)
      require(maxEpochs >= 1,
        s"step ${c.stepName}: maxEpochs must be >= 1, got $maxEpochs")
      if (maxEpochs > 1)
        require(!tagged.columns.contains("epoch"),
          s"step ${c.stepName}: a mix input already has an 'epoch' column — " +
            "it would collide with the epoch provenance this step adds")
      val ws: Seq[Long] = explicitWs.getOrElse {
        // temperature shares from the members' OWN token masses: one
        // |members|-row aggregate to the driver, then exact-integer
        // weights — the alpha pow is the only floating-point step and
        // it happens BEFORE membership arithmetic
        val alpha = c.params.double("alpha", 0.3)
        val totals = tagged.groupBy(col("mix_source"))
          .agg(coalesce(sum(col("__mix_tokens")), lit(0L)).as("__t"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        names.foreach { n =>
          require(totals.getOrElse(n, 0L) > 0L,
            s"step ${c.stepName}: mix input '$n' has zero token mass — " +
              "temperature weights need every member non-empty")
        }
        val byName = Sampling.temperatureWeights(
          names.map(n => n -> totals(n)), alpha).toMap
        names.map(byName)
      }
      val mixed =
        (if (maxEpochs == 1)
          Sampling.domainMix(tagged, c.idCol, "mix_source", "__mix_tokens",
            names.zip(ws), c.params.reqLong("budgetTokens"), c.params.str("salt", "mix"))
        else
          Sampling.domainMixEpochs(tagged, c.idCol, "mix_source", "__mix_tokens",
            names.zip(ws), c.params.reqLong("budgetTokens"), maxEpochs,
            c.params.str("salt", "mix")))
          .drop("__mix_tokens")
      // independently produced corpora commonly number docs from 1: an
      // id surviving from TWO members would fan out every downstream
      // id-keyed join and break shuffle_shards/export determinism.
      // Guard IN-PLAN over the sampled output only (budget-bounded —
      // the full union never pays an id exchange). With epochs the key
      // is (id, epoch): the SAME id legitimately recurs across its own
      // domain's epochs, never within one.
      val guardKeys =
        if (maxEpochs == 1) Seq(c.idCol) else Seq(c.idCol, "epoch")
      duplicateKeyGuard(mixed, guardKeys,
        s"step ${c.stepName}: (${guardKeys.mkString(", ")}) = (",
        ") sampled from more than one mix input — member corpora must have " +
          "disjoint ids (re-key before mixing)")
    }, tableParams = Set("inputs")),
    // sharded JSONL training export: shuffleShards order -> one JSONL
    // file per shard under OUT_DIR/exports/<step>/shard=K/ (trainers
    // eat sharded text, not parquet). Bytes are deterministic: rows
    // render with to_json over the full schema in column order and
    // each shard's file is written by the one task holding that shard,
    // sorted by the in-shard position. The step's TABLE output is the
    // (id, shard, pos) manifest. Requires `shard`/`pos` columns — run
    // a shuffle_shards step first, or any step producing them.
    "export" -> Op(Set.empty, { c =>
      require(c.outDir.nonEmpty, s"step ${c.stepName}: export needs a pipeline OUT_DIR")
      Seq("shard", "pos").foreach { needed =>
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: export needs a '$needed' column — " +
            "chain a shuffle_shards step before it")
      }
      // int cast up front: a caller-supplied BIGINT shard column must
      // not surface as a bare ClassCastException on the driver row
      val maxShard = c.input.agg(max(col("shard").cast("int"))).head()
      // an EMPTY input still writes (and promotes) an empty export:
      // skipping would leave a prior run's shard files alongside a
      // freshly overwritten empty manifest — stale bytes a trainer
      // would happily stream
      val nShards = if (maxShard.isNullAt(0)) 1 else 1 + maxShard.getInt(0)
      // `shard` rides the partition directory; `pos` stays IN the
      // JSON so a consumer of one shard file keeps its provenance
      val payloadCols = c.input.columns.filterNot(_ == "shard").toSeq
      c.input
        .select(to_json(struct(payloadCols.map(col): _*)).as("value"),
          col("shard"), col("pos"))
        // one task per shard value: hash-repartition on the shard key
        // may co-locate two shards in one task (fine — partitionBy
        // still splits them into their own files) but never splits one
        .repartition(nShards, col("shard"))
        .sortWithinPartitions(col("shard"), col("pos"))
        // the text sink takes exactly one data column; the projection
        // after the sort preserves the in-partition order
        .select(col("value"), col("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .text(s"${c.outDir}/exports/${c.stepName}__staging")
      // same staged-promotion convention as the step tables: a reader
      // of exports/<step> never sees a half-written shard set
      Staging.promoteStaged(
        c.input.sparkSession, s"${c.outDir}/exports", c.stepName, "__staging")
      // manifest keeps epoch provenance when an epochs mix fed the
      // chain — (id, epoch) is the unique key there, not id alone
      val manifestCols =
        if (c.input.columns.contains("epoch"))
          Seq(col(c.idCol), col("epoch"), col("shard"), col("pos"))
        else Seq(col(c.idCol), col("shard"), col("pos"))
      c.input.select(manifestCols: _*)
    }),
    // trainer-facing BINARY token export (the public Megatron-LM
    // indexed-dataset shape): per shard ONE tokens.bin of little-endian
    // int32 ids in pos order, a vocab/ JSONL (token -> dense id in
    // UTF-8 byte order over the corpus's own distinct tokens), and the
    // step output as the manifest — (id, shard, pos, token_offset,
    // n_tokens), the mmap slice coordinates. Chain tokenize
    // (keepTokens: true) -> shuffle_shards before it. The id map rides
    // a broadcast (vocabulary-bounded, maxVocab-guarded, the
    // tokenizeWith merge-collect argument); the corpus shuffles ONCE
    // on the shard key, shared by the offset window and the writer.
    // vocabFrom: pin the token -> id map to a named (token, token_id)
    // table instead of deriving it from this corpus — REQUIRED for
    // incremental/nightly exports: two runs deriving their own vocabs
    // assign INCOMPATIBLE id spaces, and the trainer's mmap would mix
    // them silently. Unknown tokens still fail loud.
    // Sharded .warc.gz ARCHIVE export — the write side of the crawl
    // loop (the warc step reads this exact layout back): each row
    // becomes one WARC/1.0 record in its own gzip member, shards in
    // pos order (chain shuffle_shards first). payload names a binary
    // column (raw capture bytes) or a string column (encoded UTF-8);
    // uri names the record's target URI column ("" when absent);
    // date is the capture instant (explicit — deterministic re-export
    // is the artifact contract, rerun byte-identical). Output is the
    // (id, shard, pos, n_bytes) manifest.
    // Archival dedup: revisitWhen names a BOOLEAN column (a
    // change_detect keep: all step emits `content_changed`) — rows
    // where it is FALSE archive as WARC `revisit` records
    // (identical-payload-digest, NO payload bytes stored) with the
    // digest column (default `content_fp`) and an optional
    // refersToDate (the prior capture's WARC-Date) — the unchanged
    // page's bytes are stored once across nightly archives.
    "export_warc" -> Op(Set("payload", "uri", "recordType", "date",
      "revisitWhen", "digest", "refersToDate", "refersToDateFrom"), { c =>
      require(c.outDir.nonEmpty, s"step ${c.stepName}: export needs a pipeline OUT_DIR")
      Seq("shard", "pos").foreach { needed =>
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: export_warc needs a '$needed' column — " +
            "chain shuffle_shards before it")
      }
      val pcol = c.params.str("payload", c.textCol)
      require(c.input.columns.contains(pcol),
        s"step ${c.stepName}: input has no payload column '$pcol'")
      val date  = c.params.reqStr("date")
      val rtype = c.params.str("recordType", "resource")
      val ucol  = c.params.str("uri", "")
      if (ucol.nonEmpty) require(c.input.columns.contains(ucol),
        s"step ${c.stepName}: input has no uri column '$ucol'")
      val isBin = c.input.schema(pcol).dataType ==
        org.apache.spark.sql.types.BinaryType
      val payloadB = if (isBin) col(pcol) else encode(col(pcol), "UTF-8")
      val revisitCols =
        if (c.params.has("revisitWhen")) {
          val changedCol = c.params.reqStr("revisitWhen")
          val digestCol = c.params.str("digest", "content_fp")
          Seq(changedCol, digestCol).foreach(needed =>
            require(c.input.columns.contains(needed),
              s"step ${c.stepName}: input has no column '$needed' — " +
                "chain change_detect (keep: all) before a revisit export"))
          // refers-to-date: per-row from an epoch-seconds column
          // (refersToDateFrom — a change_detect keep: all step's
          // content_fp_ts, the payload-bearing capture's instant) or
          // one literal for the whole run (refersToDate). Per-row is
          // what lets a page unchanged across MANY nights refer to
          // the response record instead of last night's revisit.
          val refDate = c.params.str("refersToDateFrom", "") match {
            case "" => lit(c.params.str("refersToDate", ""))
            case fromCol =>
              require(!c.params.has("refersToDate"),
                s"step ${c.stepName}: refersToDate and refersToDateFrom " +
                  "are mutually exclusive")
              require(c.input.columns.contains(fromCol),
                s"step ${c.stepName}: input has no column '$fromCol' — " +
                  "chain change_detect (keep: all, mode: admit) before a " +
                  "per-row revisit export")
              coalesce(
                date_format(col(fromCol).cast("long").cast("timestamp"),
                  "yyyy-MM-dd'T'HH:mm:ss'Z'"),
                lit(""))
          }
          Seq(
            (!col(changedCol).cast("boolean")).as("revisit"),
            col(digestCol).cast("string").as("payload_digest"),
            refDate.as("refers_to_date"))
        } else {
          require(!c.params.has("digest") && !c.params.has("refersToDate") &&
            !c.params.has("refersToDateFrom"),
            s"step ${c.stepName}: digest/refersToDate/refersToDateFrom " +
              "need revisitWhen")
          Seq.empty
        }
      val prepared = c.input.select(Seq(
        col(c.idCol), col("shard").cast("int").as("shard"),
        col("pos").cast("long").as("pos"),
        lit(rtype).as("warc_type"),
        (if (ucol.nonEmpty) coalesce(col(ucol).cast("string"), lit(""))
         else lit("")).as("target_uri"),
        payloadB.as("__wp")) ++ revisitCols: _*)
      val maxShard = prepared.agg(max(col("shard"))).head()
      val nShards = if (maxShard.isNullAt(0)) 1 else 1 + maxShard.getInt(0)
      val staging = s"${c.outDir}/exports/${c.stepName}__staging"
      val spark = c.input.sparkSession
      // create the staging root even for an empty corpus so promote
      // has a directory to swap in
      new java.io.File(staging).mkdirs()
      graft.sources.WarcSink.writeShards(prepared, "__wp", staging, nShards, date)
      Staging.promoteStaged(spark, s"${c.outDir}/exports", c.stepName, "__staging")
      prepared.select(col(c.idCol), col("shard"), col("pos"),
        length(col("__wp")).cast("long").as("n_bytes"))
    }),
    // appendEod: true appends the end-of-document sentinel after each
    // document's ids (the Megatron preprocessing convention — the
    // loader splits documents on it). The sentinel token is "<eod>":
    // taken from the vocabulary when present (a vocabFrom map can pin
    // it), else assigned the next free id and RECORDED in the
    // exported vocab JSONL, so the id space stays self-describing.
    "export_tokens" -> Op(Set("tokens", "maxVocab", "vocabFrom", "appendEod"), { c =>
      require(c.outDir.nonEmpty, s"step ${c.stepName}: export needs a pipeline OUT_DIR")
      val tcol = c.params.str("tokens", "bpe_tokens")
      (Seq("shard", "pos", tcol)).foreach { needed =>
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: export_tokens needs a '$needed' column — " +
            "chain tokenize (keepTokens: true) and shuffle_shards before it")
      }
      val maxVocab = c.params.int("maxVocab", 4000000)
      val spark = c.input.sparkSession
      val vocabDf = c.params.str("vocabFrom", "") match {
        case "" =>
          // dense 0-based ids in UTF-8 byte order (Spark string order
          // IS byte order) over the corpus's own distinct tokens
          graft.exec.SurrogateKeys.assign(
            c.input.select(explode(col(tcol)).as("token")).distinct(),
            Seq("token"), "token_id", org.apache.spark.sql.types.LongType, offset = -1L)
        case from =>
          val t = c.resolve(from)
          Seq("token", "token_id").foreach { needed =>
            require(t.columns.contains(needed),
              s"step ${c.stepName}: vocabFrom table '$from' has no '$needed' column")
          }
          duplicateKeyGuard(t.select(col("token"), col("token_id").cast("long")),
            Seq("token"),
            s"step ${c.stepName}: vocabFrom table '$from' maps token ",
            " to more than one id — the binary would be ambiguous")
      }
      val appendEod = c.params.str("appendEod", "false").toBoolean
      val vocabRows0 = vocabDf.select(col("token"), col("token_id")).collect()
      val idByToken = new java.util.HashMap[String, Integer](vocabRows0.length * 2)
      vocabRows0.foreach { r =>
        val id = r.getLong(1)
        require(id >= 0 && id <= Int.MaxValue,
          s"step ${c.stepName}: token id $id for '${r.getString(0)}' outside " +
            "[0, 2^31) — tokens.bin cells are int32")
        idByToken.put(r.getString(0), id.toInt)
      }
      // end-of-document sentinel: pinned by the vocab when present,
      // else the next free id, recorded back into the exported vocab
      val eodId: Int =
        if (!appendEod) -1
        else Option(idByToken.get("<eod>")).map(_.intValue()).getOrElse {
          val next = vocabRows0.iterator.map(_.getLong(1)).foldLeft(-1L)(math.max) + 1L
          require(next <= Int.MaxValue,
            s"step ${c.stepName}: no free int32 id for <eod>")
          idByToken.put("<eod>", next.toInt)
          next.toInt
        }
      val vocabOut =
        if (appendEod && vocabRows0.forall(_.getString(0) != "<eod>")) {
          import spark.implicits._
          vocabDf.select(col("token"), col("token_id").cast("long"))
            .unionByName(Seq(("<eod>", eodId.toLong)).toDF("token", "token_id"))
        } else vocabDf.select(col("token"), col("token_id").cast("long"))
      val vocabRows = vocabOut.collect()
      require(vocabRows.length <= maxVocab,
        s"step ${c.stepName}: vocabulary ${vocabRows.length} exceeds maxVocab " +
          s"$maxVocab — not a BPE token stream? (raise maxVocab to override)")
      val bc = spark.sparkContext.broadcast(idByToken)
      val stepName = c.stepName
      val eodIdForUdf = eodId
      val toIds = udf { (ts: Seq[String]) =>
        val base =
          if (ts == null) Seq.empty[Int]
          else ts.map { t =>
            val id = bc.value.get(t)
            if (id == null) throw new IllegalArgumentException(
              s"export_tokens ($stepName): token '$t' missing from the vocabulary " +
                "built over this input — tokens column mutated after tokenize?")
            id.intValue()
          }
        if (eodIdForUdf >= 0) base :+ eodIdForUdf else base
      }
      val withIds = c.input
        .select(col(c.idCol), col("shard").cast("int").as("shard"),
          col("pos").cast("long").as("pos"), toIds(col(tcol)).as("__ids"))
        .withColumn("n_tokens", size(col("__ids")).cast("long"))
      val maxShard = withIds.agg(max(col("shard"))).head()
      val nShards = if (maxShard.isNullAt(0)) 1 else 1 + maxShard.getInt(0)
      val staging = s"${c.outDir}/exports/${c.stepName}__staging"
      // vocab first (also creates the staging dir for an empty corpus)
      vocabOut.orderBy(col("token_id")).coalesce(1)
        .select(to_json(struct(col("token"), col("token_id"))).as("value"))
        .write.mode("overwrite").text(s"$staging/vocab")
      graft.sources.TokenBinary.writeShards(
        withIds.select(col("shard"), col("pos"), col("__ids")), "__ids",
        staging, nShards)
      // Megatron-loader parity: the .idx companion makes each shard's
      // tokens.bin directly mmap-able with no manifest join
      graft.sources.TokenBinary.writeIdx(
        withIds.select(col("shard"), col("pos"), col("n_tokens")),
        staging, nShards)
      Staging.promoteStaged(spark, s"${c.outDir}/exports", c.stepName, "__staging")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("pos"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      withIds.select(col(c.idCol), col("shard"), col("pos"),
        coalesce(sum(col("n_tokens")).over(w), lit(0L)).as("token_offset"),
        col("n_tokens"))
    }, tableParams = Set("vocabFrom")),
    // SemDeDup semantic near-dup pruning [Abbas et al., 2023]: k-means
    // cluster the embeddings OF THE CURRENT INPUT (the aux table is
    // semi-restricted first — pruning against docs an earlier step
    // already removed would drop every remaining copy of their
    // content), greedily prune within-cluster pairs with cosine >=
    // minCosine (smaller id survives). Docs with no embedding row
    // pass through untouched.
    // onOversized: skip (default — clusters over maxCluster pass
    // through unpruned, the semDedup contract) | fail (raise in-plan
    // before under-pruning silently — the production-run guard)
    // mode: admit judges THIS BATCH's embeddings against the
    // maintained centroid + seen-member store under --state
    // (StreamingSemDedup: centroids pinned from the first data seen,
    // batch pruned against smaller-id cluster members only — cost ∝
    // batch × touched-cluster membership, never corpus²). Equality
    // with a full rebuild holds under the append-only-id contract.
    // SEMANTIC decontamination: drop corpus rows whose embedding sits
    // at cosine >= minCosine to ANY benchmark embedding — the
    // paraphrase-contamination pass the verbatim n-gram decontaminate
    // cannot catch. embeddings/benchmark name aux tables (corpus
    // embeddings keyed by the pipeline id; benchmark rows only need
    // the vector column). The benchmark collapses to one broadcast
    // array row; the corpus never shuffles. Docs WITHOUT an embedding
    // row pass through (no geometry, no verdict — mirror semdedup).
    "decontaminate_semantic" -> Op(
      Set("embeddings", "benchmark", "id", "vec", "minCosine", "maxBench"), { c =>
      val eid = c.params.str("id", c.idCol)
      val vec = c.params.str("vec", "embedding")
      val et = c.resolve(c.params.reqStr("embeddings"))
      val bt = c.resolve(c.params.reqStr("benchmark"))
      for ((t, needed) <- Seq(("embeddings", eid), ("embeddings", vec), ("benchmark", vec)))
        require((if (t == "embeddings") et else bt).columns.contains(needed),
          s"step ${c.stepName}: $t table has no column '$needed'")
      val scoped = et.filter(col(vec).isNotNull)
        .join(c.input.select(col(c.idCol).as(eid)), Seq(eid), "left_semi")
      val contaminated = Decontaminate.semantic(
          scoped, eid, vec, bt, vec,
          minCosine = c.params.double("minCosine", 0.9),
          maxBenchRows = c.params.int("maxBench", 100000))
        .filter(col("contaminated"))
        .select(col(eid).as(c.idCol))
      c.input.join(contaminated, Seq(c.idCol), "left_anti")
    }, tableParams = Set("embeddings", "benchmark")),
    "semdedup" -> Op(
      Set("embeddings", "id", "vec", "k", "minCosine", "maxCluster", "onOversized",
        "mode", "buckets"), { c =>
      val eid = c.params.str("id", c.idCol)
      val vec = c.params.str("vec", "embedding")
      val failLoud = c.params.str("onOversized", "skip") match {
        case "skip" => false
        case "fail" => true
        case other => throw new IllegalArgumentException(
          s"step ${c.stepName}: onOversized must be skip or fail, got '$other'")
      }
      // a NULL vector is "no embedding": filtered here so such docs
      // take the pass-through branch (semDedup's null-cluster rule
      // would otherwise drop them from BOTH kept and noEmb)
      val et = c.resolve(c.params.reqStr("embeddings"))
        .filter(col(vec).isNotNull)
        .join(c.input.select(col(c.idCol).as(eid)), Seq(eid), "left_semi")
      val kept = c.params.str("mode", "full") match {
        case "full" =>
          graft.operators.Similarity.semDedup(et, eid, vec,
            k = c.params.int("k", 64), minCosine = c.params.double("minCosine", 0.9),
            maxCluster = c.params.int("maxCluster", 10000),
            failOnOversized = failLoud)
            .select(col(eid).as(c.idCol))
        case "admit" =>
          val root = c.requireState("semdedup mode: admit")
          val p = StreamingSemDedup.Params(
            numBuckets = c.params.int("buckets", 64),
            k = c.params.int("k", 64),
            minCosine = c.params.double("minCosine", 0.9),
            maxCluster = c.params.int("maxCluster", 10000),
            failOnOversized = failLoud)
          StreamingSemDedup.applyBatch(et, c.batchId, eid, vec, root, p)
          StreamingSemDedup.admittedOf(c.input.sparkSession, root, c.batchId)
            .select(col("vid").as(c.idCol))
      }
      val noEmb = c.input.join(et.select(col(eid).as(c.idCol)), Seq(c.idCol), "left_anti")
      c.input.join(kept, Seq(c.idCol), "left_semi").unionByName(noEmb)
    }, modes = Set("full", "admit"), tableParams = Set("embeddings")),
    // persisted ANN index, step 1 of 3 — TRAIN: the input is an
    // embeddings table (id + vec columns); the output is the model
    // table (IVF centroids or PQ codebooks, [[operators.AnnIndex]]).
    // Training is deterministic (seeded, id-hash sample order), so a
    // nightly retrain over an unchanged corpus is byte-identical —
    // and a night that SKIPS this step and names a prior night's
    // model table answers queries identically (the train-once →
    // store → reuse workflow; retraining per run also makes
    // shortlists drift as the corpus grows).
    "knn_train" -> Op(Set("family", "id", "vec", "nCells", "m", "kCodes",
      "iters", "centroids"), { c =>
      val eid = c.params.str("id", c.idCol)
      val vec = c.params.str("vec", "embedding")
      for (needed <- Seq(eid, vec))
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: input has no column '$needed'")
      c.params.str("family", "ivf") match {
        case "ivf" =>
          require(!c.params.has("m") && !c.params.has("kCodes"),
            s"step ${c.stepName}: m/kCodes apply to family: pq/ivfpq only")
          require(!c.params.has("centroids"),
            s"step ${c.stepName}: centroids applies to family: ivfpq only")
          AnnIndex.trainIvf(c.input, eid, vec,
            c.params.int("nCells", 16), c.params.int("iters", 10))
        case "pq" =>
          require(!c.params.has("nCells") && !c.params.has("centroids"),
            s"step ${c.stepName}: nCells/centroids apply to other families")
          AnnIndex.trainPq(c.input, eid, vec,
            c.params.int("m", 8), c.params.int("kCodes", 16),
            c.params.int("iters", 10))
        case "ivfpq" =>
          // the composed index's residual codebooks: `centroids:`
          // names a stored IVF model (a knn_train family: ivf step or
          // a prior run's table) — the cell geometry the residuals
          // quantize against
          require(!c.params.has("nCells"),
            s"step ${c.stepName}: nCells applies to family: ivf only " +
              "(the cell count is the centroids table's)")
          AnnIndex.trainIvfPq(c.input, eid, vec,
            c.resolve(c.params.reqStr("centroids")),
            c.params.int("m", 8), c.params.int("kCodes", 16),
            c.params.int("iters", 10))
        case "opq" =>
          // rotation + codebooks train JOINTLY, so the output is the
          // combined one-table form (codebook rows + rot_row-marked
          // pretransform rows) the downstream steps dispatch on
          require(!c.params.has("nCells") && !c.params.has("centroids"),
            s"step ${c.stepName}: nCells/centroids apply to other families")
          AnnIndex.trainOpqCombined(c.input, eid, vec,
            c.params.int("m", 8), c.params.int("kCodes", 16),
            c.params.int("iters", 10))
        case other => throw new IllegalArgumentException(
          s"step ${c.stepName}: family must be ivf, pq, ivfpq, or opq, got '$other'")
      }
    }, tableParams = Set("centroids")),
    // persisted ANN index, step 2 of 3 — ENCODE: corpus vectors
    // against a stored model (`model:` names a knn_train step or a
    // prior run's model table; [[knnModel]]). Output is the codes
    // table of the model's kind ([[AnnIndex.encode]]): postings
    // (id, cell, vector) for IVF — the inverted-list layout; `quantize:
    // sq8` on a centroids model stores int8 codes instead (FAISS
    // IVF,SQ8); (id, [cell,] codes) for the PQ family. Encoding is
    // scan-local (the model rides the UDF closure), no shuffle.
    // mode: admit maintains the encoded table INCREMENTALLY under
    // --state ($state/<step>/encoded): each batch anti-joins the
    // store's bucket-pruned ids and encodes only NEW vectors against
    // the frozen model — a growing corpus pays encoding once per
    // vector over its lifetime, and (the model being frozen) the
    // incrementally-built table is identical to a from-scratch encode
    // of the full corpus. Output is always the FULL encoded table.
    "knn_encode" -> Op(Set("model", "centroids", "quantize", "id", "vec",
      "mode", "buckets"), { c =>
      val eid = c.params.str("id", c.idCol)
      val vec = c.params.str("vec", "embedding")
      for (needed <- Seq(eid, vec))
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: input has no column '$needed'")
      val quantize = c.params.str("quantize", "none")
      require(quantize == "none" || quantize == "sq8",
        s"step ${c.stepName}: quantize must be none or sq8, got '$quantize'")
      val model = knnModel(c, sq8 = quantize == "sq8")
      require(!c.params.has("quantize") || !model.codec.isInstanceOf[AnnIndex.Pq],
        s"step ${c.stepName}: quantize applies to centroid models only " +
          "(codebook models ARE the quantization)")
      val schema = model.codesSchema
      c.params.str("mode", "full") match {
        case "full" =>
          require(!c.params.has("buckets"),
            s"step ${c.stepName}: buckets applies to mode: admit only")
          AnnIndex.encode(model, c.input, eid, vec)
        case "admit" =>
          c.requireIntegralId("knn_encode mode: admit")
          val store = s"${c.requireState("knn_encode mode: admit")}/encoded"
          val buckets = c.params.int("buckets", 64)
          if (!StreamingAnnIndex.initialized(store))
            // cell-carrying kinds take the two-level (cell, bucket)
            // layout: admit keeps its bucket pruning, and the stored
            // query's probed-cell filter becomes PARTITION pruning
            StreamingAnnIndex.initialize(store, buckets, schema,
              partitionCols = model.centroids.map(_ => "cell").toSeq :+
                MaintainedStore.BucketCol)
          StreamingAnnIndex.applyBatch(
            c.input.select(col(eid), col(vec)), eid, store, schema, buckets,
            newRows => AnnIndex.encode(model, newRows, "id", vec))
          // the step output is the FULL encoded table read back off the
          // bucketed store — rebalance before the runner writes it, or
          // the write inherits one tiny output file per store file
          // (the downstream knn step and the manifest count then pay
          // the small-file tax again); rebalanced, files target the
          // AQE advisory size (guide §6's REBALANCE-before-write)
          StreamingAnnIndex.readEncoded(c.input.sparkSession, store, schema)
            .hint("rebalance")
      }
    }, modes = Set("full", "admit"), tableParams = Set("model", "centroids")),
    // stored-ANN index LIFECYCLE — the monitor → retrain → swap night:
    // input is the CUMULATIVE corpus (id + vec). Bootstrap trains and
    // publishes the live index ($state/<step>/index: centroids, books,
    // codes); later nights admit-encode only FRESH ids against the
    // frozen model, measure drift (fresh fraction in exact integer
    // arithmetic, cell-occupancy skew, sampled PQ reconstruction
    // error), and when a threshold trips retrain + re-encode into
    // index__staged and promote via ONE atomic directory rename —
    // readers (a `knn` step with `index:`) always see a complete,
    // mutually-consistent index generation. Output: the night's 1-row
    // health/decision record (every count exact, so a manifest oracle
    // can re-derive which night retrained from slice arithmetic).
    "knn_maintain" -> Op(Set("id", "vec", "mode", "nCells", "m", "kCodes",
      "buckets", "freshPermille", "skewMax", "reconMax", "seed",
      "sampleMod"), { c =>
      val eid = c.params.str("id", c.idCol)
      val vec = c.params.str("vec", "embedding")
      for (needed <- Seq(eid, vec))
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: input has no column '$needed'")
      c.requireIntegralId("knn_maintain")
      val root = c.requireState("knn_maintain")
      val inf = Double.PositiveInfinity
      val d = AnnLifecycle.maintainNight(
        c.input.select(col(eid), col(vec)), eid, vec, root,
        nCells = c.params.int("nCells", 16), m = c.params.int("m", 8),
        kCodes = c.params.int("kCodes", 16),
        buckets = c.params.int("buckets", 64),
        th = AnnLifecycle.Thresholds(
          freshPermille = c.params.long("freshPermille", 600L),
          skewMax = c.params.double("skewMax", inf),
          reconMax = c.params.double("reconMax", inf)),
        seed = c.params.long("seed", 42L),
        sampleMod = c.params.int("sampleMod", 8))
      val spark = c.input.sparkSession
      import spark.implicits._
      Seq((
        if (d.bootstrap) 1 else 0, d.nCorpus, d.nCodes, d.trainedRowsBefore,
        d.freshSinceTrain, d.cellOccMax, d.cellSkew, d.reconErr,
        if (d.retrained) 1 else 0, d.nReencoded, d.nRetrains,
        d.trainedRowsAfter))
        .toDF("bootstrap", "n_corpus", "n_codes", "trained_rows_before",
          "fresh_since_train", "cell_occ_max", "cell_skew", "recon_err",
          "retrained", "n_reencoded", "n_retrains", "trained_rows")
    }, modes = Set("admit")),
    // persisted ANN index, step 3 of 3 — QUERY: the input is the
    // QUERY table (id + vec); `model:`/`codes:` name the stored index
    // halves (same-run steps or prior-run tables; an SQ8 codes table
    // picks the SQ8 codec of a centroids model), or `index:` names a
    // knn_maintain step whose LIVE lifecycle index
    // ($state/<step>/index) supplies all three — the reader half of
    // the atomic-swap contract. IVF searches the postings directly;
    // quantized codes additionally need `corpus:` (the raw vectors)
    // for the exact rescore of the shortlist — every returned cosine
    // is exact either way. A codes table of another kind than the
    // model fails loud ([[AnnIndex.search]]). Output: (query_id,
    // neighbor_id, rank, cosine).
    "knn" -> Op(Set("model", "codes", "corpus", "centroids", "index", "id",
      "vec", "k", "nProbe", "shortlist"), { c =>
      val eid = c.params.str("id", c.idCol)
      val vec = c.params.str("vec", "embedding")
      for (needed <- Seq(eid, vec))
        require(c.input.columns.contains(needed),
          s"step ${c.stepName}: input has no column '$needed'")
      val (model, codes) =
        if (c.params.has("index")) {
          for (excl <- Seq("model", "codes", "centroids"))
            require(!c.params.has(excl),
              s"step ${c.stepName}: index replaces $excl (the live lifecycle " +
                "index IS the stored tables)")
          val spark = c.input.sparkSession
          val idxDir = c.requireState("knn index:").stripSuffix(s"/${c.stepName}") +
            s"/${c.params.reqStr("index")}/${AnnLifecycle.IndexDirName}"
          AnnLifecycle.liveIndex(spark, idxDir)
        } else {
          val codes = c.resolve(c.params.reqStr("codes"))
          (knnModel(c, sq8 = codes.columns.contains("q")), codes)
        }
      val corpus =
        if (model.codec == AnnIndex.Flat) {
          require(!c.params.has("corpus") && !c.params.has("shortlist"),
            s"step ${c.stepName}: corpus/shortlist apply to quantized codes " +
              "only (IVF postings carry the vectors)")
          None
        } else {
          val corpus = c.resolve(c.params.reqStr("corpus"))
          for (needed <- Seq(eid, vec))
            require(corpus.columns.contains(needed),
              s"step ${c.stepName}: corpus table has no column '$needed'")
          Some(corpus)
        }
      require(model.centroids.isDefined || !c.params.has("nProbe"),
        s"step ${c.stepName}: nProbe applies to ivf-family models only")
      val k = c.params.int("k", 10)
      AnnIndex.search(model, corpus, c.input, codes, eid, vec, k,
        c.params.int("nProbe", 3), c.params.int("shortlist", math.max(32, 2 * k)))
    }, tableParams = Set("model", "codes", "corpus", "centroids"),
      stepRefParams = Set("index")),
    // leakage-free train/valid/test assignment: adds a `split` column,
    // keyed on `by` (default the doc id; name a grouping column to keep
    // groups intact across splits)
    "splits" -> Op(Set("train", "valid", "test", "by"), { c =>
      Sampling.assignSplits(c.input, c.params.str("by", c.idCol), Seq(
        "train" -> c.params.double("train", 0.8),
        "valid" -> c.params.double("valid", 0.1),
        "test"  -> c.params.double("test", 0.1)))
    }),
    // annotation: BPE-ish token count estimate column for budgeting
    "token_estimate" -> Op(Set.empty, { c =>
      c.input.withColumn("n_tokens_est",
        TextAnalysis.bpeTokenEstimate(col(c.textCol)))
    }),
    // vocabulary table: corpus-learned BPE merges (Sennrich 2016) —
    // the annotation-table twin of token_estimate that COUNTS instead
    // of guessing. Output (merge_rank, left_sym, right_sym); feed it
    // to `tokenize: vocab:` steps (possibly over other corpora — train
    // on the blend, tokenize the members).
    // trainer: "local" (default) is the driver fast path — one
    // distributed word-count pass, merges trained in memory, identical
    // output (BpeSpec-pinned) at a fraction of the scheduler cost for
    // real (>= 1k-merge) vocabularies; minFreq prunes the Zipf tail
    // before the bounded collect. trainer: distributed keeps every
    // round on the cluster (the round-replay oracle target).
    // level: bytes trains over the UTF-8 byte alphabet (hex-pair
    // symbols — lossless, no OOV, the GPT-2/Llama tokenizer norm)
    // instead of codepoints; a tokenize step consuming the vocab must
    // declare the same level (checked there via the symbol shape).
    "bpe_vocab" -> Op(Set("merges", "trainer", "minFreq", "level"), { c =>
      val n = c.params.int("merges", 256)
      val byteLevel = c.params.str("level", "codepoint") match {
        case "codepoint" => false
        case "bytes"     => true
        case other => throw new IllegalArgumentException(
          s"step ${c.stepName}: unknown level '$other' (codepoint | bytes)")
      }
      c.params.str("trainer", "local") match {
        case "local" =>
          graft.operators.Bpe.trainMergesLocal(c.input, c.textCol, numMerges = n,
            minFreq = c.params.long("minFreq", 1L), byteLevel = byteLevel)
        case "distributed" =>
          require(!c.params.has("minFreq"),
            s"step ${c.stepName}: minFreq applies to trainer: local only")
          graft.operators.Bpe.trainMerges(c.input, c.textCol, numMerges = n,
            byteLevel = byteLevel)
        case other => throw new IllegalArgumentException(
          s"step ${c.stepName}: unknown trainer '$other' (local | distributed)")
      }
    }),
    // vocabulary table: corpus-learned unigram-LM pieces (Kudo 2018,
    // the SentencePiece family — bpe_vocab's sibling for corpora
    // tokenized for non-BPE models). Output (token, score, rank);
    // feed it to `tokenize family: unigram`.
    "unigram_vocab" -> Op(Set("rounds", "keep", "maxPieceLen", "minCount",
      "seedSize", "em"), { c =>
      val rounds = c.params.int("rounds", 3)
      val keep = c.params.str("keep", "") match {
        case "" => // geometric shrink ending at 1/2 of the seed's cut
          val base = c.params.int("seedSize", 1024)
          (1 to rounds).map(r => math.max(1, base >> r))
        case spec =>
          val ks = spec.split(",").toSeq.map(_.trim).map(v =>
            v.toIntOption.getOrElse(throw new IllegalArgumentException(
              s"step ${c.stepName}: keep must be comma-separated ints, got '$v'")))
          require(ks.length == rounds,
            s"step ${c.stepName}: keep has ${ks.length} entries for $rounds rounds")
          ks
      }
      graft.operators.Unigram.trainVocab(c.input, c.textCol, rounds = rounds,
        keepSchedule = keep, maxPieceLen = c.params.int("maxPieceLen", 6),
        minCount = c.params.long("minCount", 2L),
        seedSize = c.params.int("seedSize", 1024),
        // em: soft selects forward-backward expected counts (Kudo
        // 2018 proper) — better corpus likelihood, same determinism
        em = c.params.str("em", "hard"))
    }),
    // annotation: REAL BPE token count (`n_bpe_tokens`) against a
    // learned vocab table — what mix budgets (`tokens: n_bpe_tokens`)
    // and pack sizing should consume. keepTokens: true also carries
    // the token array (heavier output; for export/packing consumers).
    "tokenize" -> Op(Set("vocab", "keepTokens", "level", "family",
      "maxPieceLen"), { c =>
      val vocab = c.resolve(c.params.reqStr("vocab"))
      val toks = c.params.str("family", "bpe") match {
        case "bpe" =>
          require(!c.params.has("maxPieceLen"),
            s"step ${c.stepName}: maxPieceLen applies to family: unigram only")
          Seq("merge_rank", "left_sym", "right_sym").foreach { needed =>
            require(vocab.columns.contains(needed),
              s"step ${c.stepName}: vocab table must have a '$needed' column " +
                "(a bpe_vocab step output)")
          }
          val byteLevel = c.params.str("level", "codepoint") match {
            case "codepoint" => false
            case "bytes"     => true
            case other => throw new IllegalArgumentException(
              s"step ${c.stepName}: unknown level '$other' (codepoint | bytes)")
          }
          // a level mismatch between vocab and tokenize silently yields
          // base-symbol (unmerged) streams — the vocab's own symbol shape
          // is checkable: byte-level merges are hex pairs (+ marker)
          if (byteLevel) {
            val bad = vocab.filter(
              !regexp_replace(col("left_sym"), "</w>$", "").rlike("^[0-9A-F]+$"))
            require(bad.isEmpty,
              s"step ${c.stepName}: level: bytes but the vocab's symbols are not " +
                "hex-pair byte symbols — was the bpe_vocab step trained with level: bytes?")
          }
          graft.operators.Bpe.tokenizeWith(
            c.input.select(col(c.idCol), col(c.textCol)), c.idCol, c.textCol, vocab,
            byteLevel = byteLevel)
            .select(col(c.idCol),
              size(col("bpe_tokens")).cast("long").as("n_bpe_tokens"),
              col("bpe_tokens"))
        case "unigram" =>
          require(!c.params.has("level"),
            s"step ${c.stepName}: level applies to family: bpe only")
          Seq("token", "score").foreach { needed =>
            require(vocab.columns.contains(needed),
              s"step ${c.stepName}: vocab table must have a '$needed' column " +
                "(a unigram_vocab step output)")
          }
          // family-specific column names: a downstream export_tokens /
          // filter chain names them explicitly (tokens: unigram_tokens)
          graft.operators.Unigram.tokenizeWith(
            c.input.select(col(c.idCol), col(c.textCol)), c.idCol, c.textCol,
            vocab, maxPieceLen = c.params.int("maxPieceLen", 6))
        case other => throw new IllegalArgumentException(
          s"step ${c.stepName}: unknown family '$other' (bpe | unigram)")
      }
      val tokenCol = if (c.params.str("family", "bpe") == "unigram")
        "unigram_tokens" else "bpe_tokens"
      val annotated = c.input.join(toks, Seq(c.idCol), "left")
      if (c.params.str("keepTokens", "false").toBoolean) annotated
      else annotated.drop(tokenCol)
    }, tableParams = Set("vocab")),
    // annotation: REAL image decode metadata on every row — width,
    // height, channels, decoded byte count, pixel_md5 content address
    // (the image-quality filtering input: chain filter_rows width/
    // height cuts after it, the FineWeb-style min-dimension gate).
    // Fails loudly on an undecodable payload (decodable contract).
    "media_stats" -> Op(Set("payload"), { c =>
      val pcol = c.params.str("payload", "payload")
      require(c.input.columns.contains(pcol),
        s"step ${c.stepName}: input has no payload column '$pcol'")
      c.requireIntegralId("media_stats")
      Seq("width", "height", "channels", "n_bytes", "pixel_md5", "mime").foreach { r =>
        require(!c.input.columns.contains(r),
          s"step ${c.stepName}: input already has a '$r' column")
      }
      val meta = Multimodal.decodeImage(c.input.select(
          col(c.idCol).cast("long").as("doc_id"), col(pcol).as("payload"))).toDF()
        .select(col("doc_id").as(c.idCol), col("width"), col("height"),
          col("channels"), col("n_bytes"), col("pixel_md5"))
      c.input
        // magic-byte routing key: what the bytes ARE, vs any declared type
        .withColumn("mime", Multimodal.sniffMime(col(pcol)))
        .join(meta, Seq(c.idCol))
    }),
    // annotation table: per-doc duplicated-span (exact substring)
    // memorization signal — id, n_ngrams, n_dup_ngrams, dup_ratio
    "dup_spans" -> Op(Set("n"), { c =>
      Dedup.duplicatedSpans(c.input, c.idCol, c.textCol, c.params.int("n", 10))
    }),
    // duplicated-span REMOVAL (Lee et al. 2022 ExactSubstr cut): the
    // text column is rewritten in place minus every token covered by
    // an n-gram in >= minDf distinct docs — the boilerplate span
    // leaves, the document stays (fully-covered docs come back with
    // empty text; chain a curate step to drop them if wanted)
    "dup_spans_remove" -> Op(Set("n", "minDf"), { c =>
      val cleaned = Dedup.removeDuplicatedSpans(c.input, c.idCol, c.textCol,
        c.params.int("n", 10), c.params.int("minDf", 2))
      c.input.drop(c.textCol)
        .join(cleaned.select(col(c.idCol), col("text_clean")), Seq(c.idCol))
        .withColumnRenamed("text_clean", c.textCol)
    }),
    // annotation table: bigram-LM quality score against a reference
    // corpus (default: the input itself — within-corpus typicality).
    // Uses the one-shot score() lifecycle: the vocabulary-sized LM
    // table stays in the session cache (one entry per reference plan)
    "lm_score" -> Op(Set("reference"), { c =>
      val refName = c.params.str("reference", "")
      val ref = if (refName.isEmpty) c.input else c.resolve(refName)
      graft.operators.LanguageModel.score(c.input, ref, c.idCol, c.textCol)
    }, tableParams = Set("reference")),
    // TRAINED nearest-class-profile classifier (model-based curation,
    // the CCNet shape): train per-class token profiles on the LABELED
    // `trainFrom` table (label column `label`, default "label"),
    // annotate every input doc with `label_pred` + fixed-point
    // `score`; `keepLabel:` filters to one predicted class. The
    // training table is a dependency edge like every aux table.
    // features: tokens (default) trains whole-word profiles; chars
    // trains char-n-gram profiles (n, default 3) — the short-document
    // language-ID configuration (Cavnar–Trenkle shapes need no
    // vocabulary overlap).
    "classify" -> Op(Set("trainFrom", "label", "keepLabel", "scale",
      "features", "n"), { c =>
      require(!Seq("label_pred", "score").exists(c.input.columns.contains),
        s"step ${c.stepName}: input already has a label_pred/score column " +
          "— classify would silently shadow it")
      val train = c.resolve(c.params.reqStr("trainFrom"))
      val labelCol = c.params.str("label", "label")
      val scale = c.params.long("scale", 1000000L)
      val features = c.params.str("features", "tokens")
      require(Seq("tokens", "chars").contains(features),
        s"step ${c.stepName}: features must be tokens or chars, got '$features'")
      require(features == "chars" || !c.params.has("n"),
        s"step ${c.stepName}: n applies to features: chars only")
      val (profiles, pred) = features match {
        case "tokens" =>
          val p = graft.operators.Classify.classProfiles(train, labelCol, c.textCol)
          (p, graft.operators.Classify.nearestProfile(
            c.input, c.idCol, c.textCol, p, scale = scale))
        case "chars" =>
          val n = c.params.int("n", 3)
          val p = graft.operators.Classify.charNgramProfiles(
            train, labelCol, c.textCol, n = n)
          (p, graft.operators.Classify.nearestProfileChars(
            c.input, c.idCol, c.textCol, p, n = n, scale = scale))
      }
      val out = c.input.join(pred, Seq(c.idCol))
      c.params.str("keepLabel", "") match {
        case ""  => out
        case cls =>
          // a typo'd class silently keeps nothing — check the label
          // against the (aggregated, tiny) training label set first
          require(!profiles.select("label").distinct()
              .filter(col("label") === cls).isEmpty,
            s"step ${c.stepName}: keepLabel '$cls' is not a label in " +
              s"the training table — nothing could ever be kept")
          out.filter(col("label_pred") === cls)
      }
    }, tableParams = Set("trainFrom")),
    // the bloom-shortlist decontamination scale path: benchmark
    // n-grams become a broadcast bloom probed scan-side, exact verify
    // only on the shortlisted docs — prefer over `decontaminate` when
    // the corpus is much larger than the benchmark
    "decontaminate_bloom" -> Op(Set("benchmark", "n", "fpp", "maxShared"), { c =>
      val filter = Decontaminate.buildFilter(
        c.resolve(c.params.reqStr("benchmark")), c.idCol, c.textCol,
        n = c.params.int("n", 8), fpp = c.params.double("fpp", 0.01))
      // no release(): the returned frame is lazy, so the filter's
      // persisted bench set must outlive this call (session-cache
      // semantics, one entry per benchmark plan — the score() contract)
      Decontaminate.bloomCleanWith(c.input, filter, c.idCol, c.textCol,
        maxShared = c.params.long("maxShared", 1L))
    }, tableParams = Set("benchmark")))

  // ================================================================ execution

  /** The batch counter under a state directory: the id of the batch the
    * next run admits. */
  private val BatchCounter = "_graft_next_batch"

  /** Everything [[run]] and [[dryRun]] check before their first step:
    * the spec validates, stateful steps have a state directory, and no
    * step name shadows a source table (that would make `input:`
    * ambiguous). Returns the steps in execution order, each with its
    * main input, and this run's batch id: the committed counter under
    * the state directory, else 0. */
  private def prelude(spec: Spec, sourceDir: String,
      stateDir: Option[String]): (Seq[(Step, String)], Long) = {
    val steps = stepInputs(spec).fold(
      errs => throw new IllegalArgumentException(errs.mkString("\n")), identity)
    val stateful = statefulSteps(spec)
    require(stateful.isEmpty || stateDir.nonEmpty,
      s"steps ${stateful.mkString(", ")} run incremental modes — pass a state directory")
    steps.foreach { case (s, _) =>
      require(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(sourceDir, s.name + ".parquet")),
        s"step name '${s.name}' collides with a source table in $sourceDir")
    }
    val batchId = stateDir.flatMap(d => MaintainedStore.readMarker(d, BatchCounter).map { v =>
      v.trim.toLongOption.getOrElse(throw new IllegalStateException(
        s"${java.nio.file.Paths.get(d, BatchCounter)} holds '$v', not a batch id"))
    })
    (steps, batchId.getOrElse(0L))
  }

  /** Run a validated spec: resolve each step's input (an earlier step's
    * WRITTEN output, else a SOURCE_DIR table), execute, stage, promote.
    * Returns the written table names in execution order.
    *
    * The steps run through [[Dag]] as the levels of their dependency
    * graph — a step depends on its input and its aux tables, the edges
    * [[validate]] draws, and on the previous step (in validate's order)
    * that names the same step's state store — so the independent
    * branches of a spec run concurrently, a store has one writer at a
    * time, and a linear chain runs one step at a time. Every
    * Spark job of a step is described `pipeline <job>: step <s> (<op>)`;
    * the caller's own job description is left as it was. When a step
    * fails, the other steps of its level still run to their end, no
    * later level starts, no manifest is written, the batch counter
    * stays where it was, and the step's exception is rethrown.
    *
    * `stateDir` enables the incremental step variants (`mode: admit` /
    * `against_store` / `incremental` / `merge`): each stateful step
    * maintains its store under `STATE_DIR/<step>/`, and one run = one
    * BATCH admitted against those stores. The batch-admission contract:
    * every run presents a batch of NEW rows (each document/event
    * delivered to the pipeline exactly once across runs — the
    * admission-store contract all the streaming twins share); a
    * CRASHED run may simply be re-run — the run's batch id
    * (`STATE_DIR/_graft_next_batch`, bumped only after a fully
    * successful run, by an atomic rename) makes every store update
    * replay-idempotent (batch-owned partitions, set-union buckets,
    * versioned session stores). Feeding the SAME data again after a
    * successful run is not a replay but a second batch: the dedup
    * admissions will reject it (that is their job); sessionize/moments
    * would double-count, exactly as their operator contracts document. */
  def run(spark: SparkSession, spec: Spec, sourceDir: String, outDir: String,
      stagingSuffix: String = "_staging", stateDir: Option[String] = None,
      compactState: Boolean = false): Seq[String] = {
    val (steps, batchId) = prelude(spec, sourceDir, stateDir)
    val stepNames = spec.steps.map(_.name).toSet
    def resolve(name: String): DataFrame =
      if (stepNames.contains(name)) spark.read.parquet(s"$outDir/$name")
      else graft.sources.ParquetTables.readTable(spark, sourceDir, name)
    Staging.withWriterLease(spark, outDir) {
      // rows-by-name memo: a chained step's in_rows IS the count its
      // producer step just recorded (same written parquet), and a
      // source table read by several steps has one count — without the
      // memo every step paid two count jobs per run (the counts are
      // metadata-only but each is still a scheduled job with listing
      // and footer reads). The steps of one level share it.
      val countedRows = scala.collection.concurrent.TrieMap.empty[String, Long]
      // plans/<step>.txt — the warehouse path's plan artifact, same
      // contract: the optimized physical plan a reviewer audits for
      // pushdown/broadcast/exchange shape without re-running the job
      val plansDir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir, "plans"))
      // the steps that name one step's state store (two recrawls
      // sharing a storeFrom) also depend on the previous such step:
      // a store update reads the touched buckets, then overwrites
      // them, so two at once would lose one of them
      val lastUser = scala.collection.mutable.Map.empty[String, String]
      val manifest = Dag.run(spark, steps.map { case (s, in) =>
        val sharers = storeRefs(s).flatMap(lastUser.get)
        storeRefs(s).foreach(lastUser(_) = s.name)
        Dag.Node(s.name, (in +: auxRefs(s)) ++ sharers,
            s"pipeline ${spec.name}: step ${s.name} (${s.op})", { () =>
          val ctx = Ctx(resolve(in), spec.idCol, spec.textCol, resolve,
            new Params(s.name, s.params), s.name, stateDir, batchId, in, outDir)
          val t0  = System.nanoTime()
          val out = ops(s.op).run(ctx)
          java.nio.file.Files.write(plansDir.resolve(s"${s.name}.txt"),
            out.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          if (stagingSuffix.isEmpty) {
            out.write.mode("overwrite").parquet(s"$outDir/${s.name}")
          } else {
            out.write.mode("overwrite").parquet(s"$outDir/${s.name}$stagingSuffix")
            Staging.promoteStaged(spark, outDir, s.name, stagingSuffix)
          }
          val sec = (System.nanoTime() - t0) / 1e9
          // counts on WRITTEN/source parquet: row-group-metadata only
          // (Spark's aggregate pushdown), never a data rescan. Input rows
          // make the admission story readable straight off the manifest:
          // in_rows - rows = what this step rejected/dropped this batch.
          val rows = spark.read.parquet(s"$outDir/${s.name}").count()
          countedRows.put(s.name, rows)
          // no lock is held across the count job: two steps of one
          // level may both count a shared source, to the same figure
          val inRows = countedRows.getOrElse(in, {
            val n = ctx.input.count(); countedRows.putIfAbsent(in, n); n
          })
          (s, in, inRows, rows, sec)
        })
      })
      // run manifest: the observability record a scheduled pipeline
      // needs (which step shrank the corpus, where the time went, what
      // batch this was)
      val json = manifest.map { case (s, in, inRows, rows, sec) =>
        s"""{"name":"${s.name}","op":"${s.op}","input":"$in",""" +
          f""""in_rows":$inRows,"rows":$rows,"seconds":$sec%.3f}"""
      }.mkString(
        s"""{"pipeline":"${spec.name}","batch_id":$batchId,"steps":[""", ",", "]}\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, "pipeline_manifest.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // the batch id advances ONLY once everything promoted: a crashed
      // run re-runs under the same id and every store update replays
      // idempotently
      stateDir.foreach(MaintainedStore.writeMarker(_, BatchCounter, (batchId + 1).toString))
      // state compaction AFTER the counter bump: batches <= batchId can
      // never replay (a rerun presents the NEXT id), so folding them is
      // safe; the additive stores fold exactly (line-df group-sum,
      // moment partial-sum), and the swap is the two-rename crash-safe
      // shape (MaintainedStore.swapCompacted)
      if (compactState) stateDir.foreach { sd =>
        steps.foreach { case (s, _) =>
          (s.op, s.params.getOrElse("mode", "full")) match {
            case ("line_dedup", "against_store") =>
              graft.streaming.StreamingLineDedup.compact(
                spark, s"$sd/${s.name}/line_df",
                s.params.getOrElse("delim", "\n"), upToBatchId = batchId)
            case ("moments", "merge") =>
              val store = s"$sd/${s.name}/moments"
              MaintainedStore.swapCompacted(store) { tmp =>
                val folded = spark.read.parquet(store).drop(MaintainedStore.BatchCol)
                graft.operators.Profile.mergeMoments(folded, folded.limit(0))
                  .withColumn(MaintainedStore.BatchCol, lit(-1L))
                  .write.mode("overwrite").partitionBy(MaintainedStore.BatchCol).parquet(tmp)
              }
            // the posting stores rewrite touched buckets in place; the
            // dedup_exact fingerprint store is append-only (up to one
            // file per touched bucket per batch) and is not folded here
            case _ => ()
          }
        }
      }
      manifest.map(_._1.name)
    }
  }

  /** Validate, topo-order, and cost-preview a spec WITHOUT executing a
    * single step — the pre-flight for scheduled chains: a
    * misconfigured input, a missing aux table, or a stateful step
    * without `--state` must surface in seconds, not hours into
    * compute. Performs every check [[run]] performs before its first
    * step (spec validation + topo order, step-name/source collisions,
    * the stateful-steps-need-state rule) PLUS the existence of every
    * referenced SOURCE table, and counts each source table's rows once
    * (parquet row-group metadata — Spark's count aggregate pushdown,
    * no data scan; this is the session's only use). Step outputs
    * don't exist yet and render as `"(step output, this run)"`.
    * Returns the manifest-shaped plan text ([[run]]'s
    * `pipeline_manifest.json` shape with `dry_run: true` and per-step
    * input counts in place of actuals); writes nothing, advances no
    * batch counter, touches no store. */
  def dryRun(spark: => SparkSession, spec: Spec, sourceDir: String,
      stateDir: Option[String] = None): String = {
    val (steps, batchId) = prelude(spec, sourceDir, stateDir)
    val stepNames = spec.steps.map(_.name).toSet
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def sourceCount(name: String): Long =
      counts.getOrElseUpdate(name, {
        require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(sourceDir, s"$name.parquet")),
          s"source table '$name' not found in $sourceDir " +
            "(and no step produces it)")
        graft.sources.ParquetTables.readTable(spark, sourceDir, name).count()
      })
    val lines = steps.map { case (s, in) =>
      val rendered = (in +: auxRefs(s)).distinct.map { r =>
        if (stepNames.contains(r)) s""""$r":"(step output, this run)""""
        else s""""$r":${sourceCount(r)}"""
      }.mkString(",")
      s"""{"name":"${s.name}","op":"${s.op}","input":"$in","in_rows":{$rendered}}"""
    }
    lines.mkString(
      s"""{"pipeline":"${spec.name}","batch_id":$batchId,"dry_run":true,"steps":[""",
      ",", "]}")
  }
}
