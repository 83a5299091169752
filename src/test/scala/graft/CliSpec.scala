package graft

import java.nio.file.{Files, Paths}

/** End-to-end CLI contract: YAML model in, staged full refresh +
  * atomic swap, all artifact directories out (the reference's
  * `ringo INPUT OUTPUT` lifecycle, `app/Main.hs:24-83`, plus
  * execution). */
class CliSpec extends SparkSpec {

  private def tempDir(): String = Files.createTempDirectory("graft-cli").toString

  test("full refresh run: staged write, swap to live, all artifacts emitted") {
    val out = tempDir()
    val violations = Cli.run(
      Seq("examples/events_model.yaml", sf("sf0.001"), out,
        "--upper", "2024-01-15 00:00:00"), spark)
    assert(violations.isEmpty)
    // staging swapped away: live tables only
    for (t <- Seq("dim_event_type", "fact_event_by_minute")) {
      assert(Files.exists(Paths.get(out, t)), s"live $t missing")
      assert(!Files.exists(Paths.get(out, t + "_staging")), s"staged $t left behind")
    }
    assert(spark.read.parquet(s"$out/fact_event_by_minute").count() > 0)
    // the reference's three SQL artifact dirs + plans + metadata
    for (d <- Seq("create", "fullrefresh", "increfresh"))
      assert(Files.exists(Paths.get(out, d, "fact_event_by_minute.sql")), s"$d artifact missing")
    assert(Files.exists(Paths.get(out, "plans", "fact_event_by_minute.txt")))
    assert(Files.exists(Paths.get(out, "dependencies.json")))
    val fullSql = Files.readString(Paths.get(out, "fullrefresh", "dim_event_type.sql"))
    assert(fullSql.contains("INSERT OVERWRITE TABLE dim_event_type{{suff}}"))

    // incremental run on top appends to the live tables without staging
    val before = spark.read.parquet(s"$out/fact_event_by_minute").count()
    val v2 = Cli.run(
      Seq("examples/events_model.yaml", sf("sf0.001"), out,
        "--incremental", "2024-01-15 00:00:00", "2024-02-01 00:00:00"), spark)
    assert(v2.isEmpty)
    assert(spark.read.parquet(s"$out/fact_event_by_minute").count() > before)
  }

  test("--suffix-template '' disables staging (in-place full refresh)") {
    val out = tempDir()
    val violations = Cli.run(
      Seq("examples/events_model.yaml", sf("sf0.001"), out,
        "--upper", "2024-01-15 00:00:00", "--suffix-template", ""), spark)
    assert(violations.isEmpty)
    assert(Files.exists(Paths.get(out, "fact_event_by_minute")))
    // in-place mode: full-refresh SQL artifacts target the bare table
    val fullSql = Files.readString(Paths.get(out, "fullrefresh", "dim_event_type.sql"))
    assert(fullSql.contains("INSERT OVERWRITE TABLE dim_event_type ("))
  }

  test("--compact maintenance mode keeps content, live tables untouched mid-run") {
    val out = tempDir()
    Cli.run(Seq("examples/events_model.yaml", sf("sf0.001"), out,
      "--upper", "2024-01-15 00:00:00"), spark)
    Cli.run(Seq("examples/events_model.yaml", sf("sf0.001"), out,
      "--incremental", "2024-01-15 00:00:00", "2024-02-01 00:00:00"), spark)
    val before = spark.read.parquet(s"$out/fact_event_by_minute")
      .collect().map(_.toString).sorted.toSeq
    val v = Cli.run(Seq("examples/events_model.yaml", sf("sf0.001"), out, "--compact"), spark)
    assert(v.isEmpty)
    val after = spark.read.parquet(s"$out/fact_event_by_minute")
      .collect().map(_.toString).sorted.toSeq
    assert(after == before)
  }

  // ------------------------------------------------------------ pipeline subcommand
  test("pipeline subcommand: 5-step curation chain end-to-end from YAML") {
    val out = tempDir()
    Cli.run(Seq("pipeline", "examples/curate_pipeline.yaml", sf("sf0.001"), out), spark)
    val docs = sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
    // every step materialized, no staging debris
    for (t <- Seq("deduped", "kept", "sampled", "chunks", "packed")) {
      assert(Files.exists(Paths.get(out, t)), s"step output $t missing")
      assert(!Files.exists(Paths.get(out, t + "_staging")), s"staged $t left behind")
    }
    // dedup_exact keeps exactly one row per content fingerprint
    val deduped = spark.read.parquet(s"$out/deduped")
    assert(deduped.count() ==
      graft.operators.Dedup.exact(docs, "doc_id", "text").count())
    assert(deduped.columns.toSeq == docs.columns.toSeq, "survivor steps keep the schema")
    // each survivor step emits a subset of its input's ids
    def ids(t: String) = spark.read.parquet(s"$out/$t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids("kept").subsetOf(ids("deduped")))
    assert(ids("sampled").subsetOf(ids("kept")))
    assert(ids("sampled").nonEmpty)
    // shape-changing tail: chunks carry text windows, packed sequences
    val packed = spark.read.parquet(s"$out/packed")
    for (c <- Seq("shard", "seq_id", "seq_pos", "chunk_text"))
      assert(packed.columns.contains(c), s"packed missing $c")
    assert(packed.count() == spark.read.parquet(s"$out/chunks").count())
    // plan artifacts: one per step, same contract as the warehouse path
    for (t <- Seq("deduped", "kept", "sampled", "chunks", "packed"))
      assert(Files.exists(Paths.get(out, "plans", s"$t.txt")), s"plan for $t missing")
    // run manifest: one record per step, row counts matching the tables
    val manifest = Files.readString(Paths.get(out, "pipeline_manifest.json"))
    for (t <- Seq("deduped", "kept", "sampled", "chunks", "packed")) {
      assert(manifest.contains(s""""name":"$t""""), s"manifest missing $t")
      assert(manifest.contains(
        s""""rows":${spark.read.parquet(s"$out/$t").count()}"""),
        s"manifest row count for $t wrong:\n$manifest")
    }
  }

  test("pipeline subcommand: splits, token_estimate, and dedup_prefix compose") {
    val out  = tempDir()
    val yaml = Files.createTempFile("graft-pipe-ops", ".yaml")
    Files.writeString(yaml,
      """pipeline: budget_test
        |id: doc_id
        |text: text
        |steps:
        |  - name: nearded
        |    op: dedup_prefix
        |    input: documents
        |    params: { minJaccard: 0.8 }
        |  - name: budgeted
        |    op: token_estimate
        |  - name: assigned
        |    op: splits
        |    params: { train: 0.8, valid: 0.1, test: 0.1, by: source }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, sf("sf0.001"), out), spark)
    val docs = sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
    val nearded = spark.read.parquet(s"$out/nearded")
    // prefix survivors match the operator run directly
    val wantSurvivors = graft.operators.Dedup.survivors(docs, "doc_id",
      graft.operators.Dedup.jaccardPrefixPairs(docs, "doc_id", "text", 3, 0.8))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nearded.select("doc_id").collect().map(_.getLong(0)).toSet == wantSurvivors)
    val assigned = spark.read.parquet(s"$out/assigned")
    assert(assigned.columns.contains("n_tokens_est"), "annotations must chain")
    assert(assigned.columns.contains("split"))
    // grouped split: every source lands wholly in one split
    assert(assigned.select("source", "split").distinct().count() ==
      assigned.select("source").distinct().count())
  }

  test("pipeline subcommand: line_dedup, dedup_prefix keep:longest, shuffle_shards chain") {
    val s = spark
    import s.implicits._
    val src = tempDir()
    val out = tempDir()
    Seq(
      (1L, "HEADER\none two three four five six seven eight nine ten\nFOOTER", "en"),
      (2L, "HEADER\none two three four five six seven eight nine ten eleven twelve\nFOOTER", "en"),
      (3L, "totally different unique content here\nsecond line", "de")
    ).toDF("doc_id", "text", "lang").write.parquet(s"$src/documents.parquet")
    val yaml = Files.createTempFile("graft-pipe-line", ".yaml")
    Files.writeString(yaml,
      """pipeline: line_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: unlined
        |    op: line_dedup
        |    input: documents
        |  - name: best
        |    op: dedup_prefix
        |    params: { minJaccard: 0.5, keep: longest }
        |  - name: shuffled
        |    op: shuffle_shards
        |    params: { shards: 4, salt: t }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    // line_dedup strips HEADER/FOOTER (df=2) everywhere, keeps ride-along cols
    val unlined = spark.read.parquet(s"$out/unlined")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[String]("lang")))).toMap
    assert(unlined(1L) == (("one two three four five six seven eight nine ten", "en")))
    assert(unlined(2L) == (("one two three four five six seven eight nine ten eleven twelve", "en")))
    assert(unlined(3L) == (("totally different unique content here\nsecond line", "de")))
    // docs 1+2 are trigram-Jaccard 0.8 near-dups after the strip;
    // keep:longest keeps doc 2 (NOT the min id)
    val best = spark.read.parquet(s"$out/best")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(best == Set(2L, 3L))
    // shuffle annotation: shard in range, dense pos per shard
    val shuffled = spark.read.parquet(s"$out/shuffled")
    assert(shuffled.count() == 2)
    val rows = shuffled.select("shard", "pos").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.forall { case (sh, _) => sh >= 0 && sh < 4 })
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (0L until g.size).toSeq)
    }
  }

  test("pipeline subcommand: examples/web_pipeline.yaml runs the round-7 surface end-to-end") {
    val out = tempDir()
    Cli.run(Seq("pipeline", "examples/web_pipeline.yaml", sf("sf0.001"), out), spark)
    val docs = sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
    assert(spark.read.parquet(s"$out/validated").count() == docs.count())
    val shuffled = spark.read.parquet(s"$out/shuffled")
    // survivor steps shrink or hold; annotations ride through the chain
    assert(shuffled.count() <= docs.count() && shuffled.count() > 0)
    for (c <- Seq("doc_id", "text", "n_tokens_est", "shard", "pos"))
      assert(shuffled.columns.contains(c), s"missing $c")
    // the manifest records all five steps
    val manifest = Files.readString(Paths.get(out, "pipeline_manifest.json"))
    for (t <- Seq("validated", "unlined", "deduped", "budgeted", "shuffled"))
      assert(manifest.contains(s""""name":"$t""""), s"manifest missing $t")
  }

  test("pipeline subcommand: expect gate passes clean corpora through, blocks dirty ones unpublished") {
    val s = spark
    import s.implicits._
    val src = tempDir()
    val out = tempDir()
    Seq((1L, "alpha text", "en"), (2L, "beta text", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$src/documents.parquet")
    val okYaml = Files.createTempFile("graft-pipe-expect", ".yaml")
    Files.writeString(okYaml,
      """pipeline: gated
        |id: doc_id
        |text: text
        |steps:
        |  - name: validated
        |    op: expect
        |    input: documents
        |    params: { minRows: 2, notNull: "doc_id,lang", unique: doc_id, nonEmptyText: true }
        |  - name: normalized
        |    op: normalize
        |""".stripMargin)
    Cli.run(Seq("pipeline", okYaml.toString, src, out), spark)
    assert(spark.read.parquet(s"$out/validated").count() == 2, "gate passes the corpus through")
    assert(Files.exists(Paths.get(out, "normalized")), "chain continues past a green gate")

    // dirty corpus: duplicate id + a null lang + too few rows for minRows 5
    val src2 = tempDir()
    val out2 = tempDir()
    Seq((1L, "x", "en"), (1L, "y", null: String))
      .toDF("doc_id", "text", "lang").write.parquet(s"$src2/documents.parquet")
    val badYaml = Files.createTempFile("graft-pipe-expect-bad", ".yaml")
    Files.writeString(badYaml,
      """pipeline: gated_bad
        |id: doc_id
        |text: text
        |steps:
        |  - name: validated
        |    op: expect
        |    input: documents
        |    params: { minRows: 5, notNull: lang, unique: doc_id }
        |""".stripMargin)
    val e = intercept[IllegalStateException](
      Cli.run(Seq("pipeline", badYaml.toString, src2, out2), spark))
    assert(e.getMessage.contains("not_null_lang"), e.getMessage)
    assert(e.getMessage.contains("doc_id_unique"), e.getMessage)
    assert(e.getMessage.contains("min_rows"), e.getMessage)
    // the staged write never promoted: no published table
    assert(!Files.exists(Paths.get(out2, "validated")),
      "a failing gate must not publish the table")
  }

  test("pipeline subcommand: semdedup prunes embedded near-dups, passes docs without embeddings") {
    val s = spark
    import s.implicits._
    val src = tempDir()
    val out = tempDir()
    Seq(
      (1L, "first doc"), (2L, "second doc"), (3L, "third doc"), (4L, "no embedding doc")
    ).toDF("doc_id", "text").write.parquet(s"$src/documents.parquet")
    Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)), // identical to 1 -> pruned (larger id)
      (3L, Array(0.0f, 1.0f))  // orthogonal -> kept
    ).toDF("doc_id", "embedding").write.parquet(s"$src/embeddings.parquet")
    val yaml = Files.createTempFile("graft-pipe-sem", ".yaml")
    Files.writeString(yaml,
      """pipeline: sem_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: pruned
        |    op: semdedup
        |    input: documents
        |    params: { embeddings: embeddings, k: 1, minCosine: 0.9 }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val kept = spark.read.parquet(s"$out/pruned")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
    // onOversized: fail — a cluster over maxCluster raises in-plan
    // instead of silently under-pruning
    val yamlFail = Files.createTempFile("graft-pipe-sem-fail", ".yaml")
    Files.writeString(yamlFail,
      """pipeline: sem_fail
        |id: doc_id
        |text: text
        |steps:
        |  - name: pruned
        |    op: semdedup
        |    input: documents
        |    params: { embeddings: embeddings, k: 1, minCosine: 0.9,
        |              maxCluster: 2, onOversized: fail }
        |""".stripMargin)
    val ex = intercept[Exception] {
      Cli.run(Seq("pipeline", yamlFail.toString, src, tempDir()), spark)
    }
    def msg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg(ex).contains("maxCluster=2"), s"unexpected failure: ${msg(ex)}")
  }

  test("pipeline subcommand: decontaminate resolves its benchmark from SOURCE_DIR") {
    val src = tempDir()
    val out = tempDir()
    val docs = sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
    docs.write.parquet(s"$src/documents.parquet")
    // benchmark = 5 real documents; decontamination must drop AT LEAST
    // those (plus any doc sharing an 8-gram with them)
    val bench = docs.orderBy("doc_id").limit(5)
    bench.write.parquet(s"$src/bench_documents.parquet")
    val yaml = Files.createTempFile("graft-pipe", ".yaml")
    Files.writeString(yaml,
      """pipeline: decon_test
        |id: doc_id
        |text: text
        |steps:
        |  - name: clean
        |    op: decontaminate
        |    input: documents
        |    params: { benchmark: bench_documents, n: 8 }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val cleanIds = spark.read.parquet(s"$out/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val benchIds = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(benchIds.intersect(cleanIds).isEmpty,
      "benchmark documents must not survive decontamination")
    assert(cleanIds.nonEmpty, "unrelated documents must survive")
  }

  test("pipeline subcommand: mix blends corpora to a token budget; members are dependency edges") {
    val s = spark
    import s.implicits._
    val (src, out) = (tempDir(), tempDir())
    // two source corpora with VERY different sizes so the 50/50 budget
    // forces partial sampling of web and keep-all of tiny books
    val web = (1L to 200L).map(i => (i, s"web document number $i with enough words to count"))
      .toDF("doc_id", "text")
    val books = (1001L to 1005L).map(i => (i, s"book $i"))
      .toDF("doc_id", "text")
    web.write.parquet(s"$src/web.parquet")
    books.write.parquet(s"$src/books.parquet")
    val yaml = Files.createTempFile("graft-pipe-mix", ".yaml")
    // the blend's second member is a step declared LATER in file order:
    // the aux-dependency edges must schedule web_clean before blend
    Files.writeString(yaml,
      """pipeline: mix_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: blend
        |    op: mix
        |    input: web_clean
        |    params: { inputs: "web_clean,books", weights: "50,50",
        |              budgetTokens: 400, salt: m1 }
        |  - name: web_clean
        |    op: dedup_exact
        |    input: web
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val got = spark.read.parquet(s"$out/blend")
    assert(got.columns.toSet === Set("doc_id", "text", "mix_source"))
    // reference: domainMix over the hand-tagged union with the same
    // token estimate — the step must be exactly this composition
    val webClean = spark.read.parquet(s"$out/web_clean")
    val tagged = webClean.withColumn("mix_source", org.apache.spark.sql.functions.lit("web_clean"))
      .unionByName(books.withColumn("mix_source", org.apache.spark.sql.functions.lit("books")))
      .withColumn("__mix_tokens",
        graft.operators.TextAnalysis.bpeTokenEstimate(org.apache.spark.sql.functions.col("text")))
    val want = graft.operators.Sampling.domainMix(
      tagged, "doc_id", "mix_source", "__mix_tokens",
      Seq("web_clean" -> 50L, "books" -> 50L), 400L, "m1")
      .drop("__mix_tokens")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got.collect().map(r => (r.getLong(0), r.getString(2))).toSet === want)
    // tiny books side: its 200-token share exceeds its ~20 tokens, so
    // every book survives (keep-all); web is partially sampled
    val bySource = got.groupBy("mix_source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("books") === 5L)
    assert(bySource("web_clean") > 0L && bySource("web_clean") < 200L)
    // colliding ids ACROSS members raise in-plan: both corpora number
    // from 1 and the huge budget keeps everything, so the duplicate
    // survives into the output where the guard lives
    val dup = tempDir()
    (1L to 5L).map(i => (i, s"corpus a doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dup/a.parquet")
    (1L to 5L).map(i => (i, s"corpus b doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dup/b.parquet")
    val yamlDup = Files.createTempFile("graft-pipe-mix-dup", ".yaml")
    Files.writeString(yamlDup,
      """pipeline: mix_dup
        |id: doc_id
        |text: text
        |steps:
        |  - name: blend
        |    op: mix
        |    input: a
        |    params: { inputs: "a,b", weights: "1,1", budgetTokens: 1000000 }
        |""".stripMargin)
    val exDup = intercept[Exception] {
      Cli.run(Seq("pipeline", yamlDup.toString, dup, tempDir()), spark)
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain(exDup).contains("more than one mix input"), chain(exDup))

    // a mix member missing from inputs is a loud error
    val yamlBad = Files.createTempFile("graft-pipe-mix-bad", ".yaml")
    Files.writeString(yamlBad,
      """pipeline: mix_bad
        |id: doc_id
        |text: text
        |steps:
        |  - name: blend
        |    op: mix
        |    input: web
        |    params: { inputs: "books,web_clean", weights: "1,1", budgetTokens: 10 }
        |  - name: web_clean
        |    op: dedup_exact
        |    input: web
        |""".stripMargin)
    val ex = intercept[Exception] {
      Cli.run(Seq("pipeline", yamlBad.toString, src, tempDir()), spark)
    }
    assert(ex.getMessage.contains("must be one of its"), ex.getMessage)
  }

  test("pipeline extract_html: crawl pages reduce to main content in place") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val (src, out) = (tempDir(), tempDir())
    val pages = (1L to 20L).map { i =>
      (i, "<html><head><script>var nav = '</p>';</script></head><body>" +
        "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>" +
        s"<p>Article body number $i with enough words to pass the content rule</p>" +
        "<footer>Copyright</footer></body></html>")
    }.toDF("doc_id", "text")
    pages.write.parquet(s"$src/pages.parquet")
    val yaml = Files.createTempFile("graft-pipe-html", ".yaml")
    Files.writeString(yaml,
      """pipeline: crawl
        |id: doc_id
        |text: text
        |steps:
        |  - name: content
        |    op: extract_html
        |    input: pages
        |  - name: counted
        |    op: token_estimate
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val got = spark.read.parquet(s"$out/content")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (1L to 20L).foreach { i =>
      assert(got(i) ===
        s"Article body number $i with enough words to pass the content rule")
    }
    // downstream text op consumed the EXTRACTED text
    val counted = spark.read.parquet(s"$out/counted")
    assert(counted.filter(col("n_tokens_est") > 5).count() === 20L)
  }

  test("pipeline mix with alpha: temperature shares beat proportional for the small member") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val (src, out) = (tempDir(), tempDir())
    val web = (1L to 400L).map(i => (i, s"web document number $i with enough words to count"))
      .toDF("doc_id", "text")
    val books = (1001L to 1010L).map(i => (i, s"book $i body text here"))
      .toDF("doc_id", "text")
    web.write.parquet(s"$src/web.parquet")
    books.write.parquet(s"$src/books.parquet")
    def runMix(params: String, outDir: String): Map[String, Long] = {
      val yaml = Files.createTempFile("graft-pipe-mix-alpha", ".yaml")
      Files.writeString(yaml,
        s"""pipeline: mix_alpha
           |id: doc_id
           |text: text
           |steps:
           |  - name: blend
           |    op: mix
           |    input: web
           |    params: { inputs: "web,books", $params salt: m1 }
           |""".stripMargin)
      Cli.run(Seq("pipeline", yaml.toString, src, outDir), spark)
      spark.read.parquet(s"$outDir/blend").groupBy("mix_source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // proportional (alpha 1) vs flattened (alpha 0.3): the tiny books
    // member's share of the sampled output strictly grows
    val p  = runMix("alpha: 1.0, budgetTokens: 1500,", out)
    val t  = runMix("alpha: 0.3, budgetTokens: 1500,", tempDir())
    def share(m: Map[String, Long]) =
      m.getOrElse("books", 0L).toDouble / math.max(1L, m.values.sum)
    assert(share(t) > share(p),
      s"alpha 0.3 books share ${share(t)} must beat proportional ${share(p)}")
    // weights and alpha together is a loud spec error
    val yamlBoth = Files.createTempFile("graft-pipe-mix-both", ".yaml")
    Files.writeString(yamlBoth,
      """pipeline: mix_both
        |id: doc_id
        |text: text
        |steps:
        |  - name: blend
        |    op: mix
        |    input: web
        |    params: { inputs: "web,books", weights: "1,1", alpha: 0.5,
        |              budgetTokens: 100 }
        |""".stripMargin)
    val ex = intercept[Exception] {
      Cli.run(Seq("pipeline", yamlBoth.toString, src, tempDir()), spark)
    }
    assert(ex.getMessage.contains("exactly one of weights"), ex.getMessage)
  }

  test("pipeline mix with maxEpochs: a tiny member upsamples with epoch provenance") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val (src, out) = (tempDir(), tempDir())
    val web = (1L to 200L).map(i => (i, s"web document number $i with enough words to count"))
      .toDF("doc_id", "text")
    val books = (1001L to 1005L).map(i => (i, s"book $i body"))
      .toDF("doc_id", "text")
    web.write.parquet(s"$src/web.parquet")
    books.write.parquet(s"$src/books.parquet")
    val yaml = Files.createTempFile("graft-pipe-mix-ep", ".yaml")
    Files.writeString(yaml,
      """pipeline: mix_epochs
        |id: doc_id
        |text: text
        |steps:
        |  - name: blend
        |    op: mix
        |    input: web
        |    params: { inputs: "web,books", weights: "50,50",
        |              budgetTokens: 400, maxEpochs: 16, salt: m1 }
        |  - name: sharded
        |    op: shuffle_shards
        |    params: { shards: 2, salt: s }
        |  - name: dumped
        |    op: export
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val got = spark.read.parquet(s"$out/blend")
    assert(got.columns.toSet === Set("doc_id", "text", "mix_source", "epoch"))
    // books' 200-token share / its ~15-token corpus = multiple epochs;
    // every FULL epoch carries all 5 books
    val bookEpochs = got.filter(col("mix_source") === "books")
      .groupBy("epoch").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(bookEpochs.size >= 2, s"books must upsample, got $bookEpochs")
    val maxFull = bookEpochs.keys.max
    (0 until maxFull).foreach(e =>
      assert(bookEpochs(e) === 5L, s"full epoch $e must carry all books: $bookEpochs"))
    // web downsamples at epoch 0 only
    val webEpochs = got.filter(col("mix_source") === "web")
      .select("epoch").distinct().collect().map(_.getInt(0)).toSeq
    assert(webEpochs === Seq(0))
    // (id, epoch) unique
    assert(got.groupBy("doc_id", "epoch").count().filter(col("count") > 1).count() === 0)
    // replicated ids flow through shuffle_shards (epoch joins the
    // shard key — no nondeterministic (hash, id) position ties) and
    // the export manifest keeps epoch provenance
    val manifest = spark.read.parquet(s"$out/dumped")
    assert(manifest.columns.toSeq === Seq("doc_id", "epoch", "shard", "pos"))
    assert(manifest.count() === got.count())
    assert(manifest.groupBy("shard", "pos").count().filter(col("count") > 1).count() === 0,
      "positions must be unique within a shard")
    // byte-determinism survives the replicated ids: rerun hashes equal
    def shardHashes(root: String): Seq[(String, String)] = {
      val dir = Paths.get(root, "exports", "dumped")
      val ds = scala.jdk.CollectionConverters.IteratorHasAsScala(Files.list(dir).iterator())
        .asScala.filter(_.getFileName.toString.startsWith("shard=")).toSeq
        .sortBy(_.getFileName.toString)
      ds.map { d =>
        val f = scala.jdk.CollectionConverters.IteratorHasAsScala(Files.list(d).iterator())
          .asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.head
        d.getFileName.toString -> java.util.HexFormat.of.formatHex(
          java.security.MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f)))
      }
    }
    val outRe = tempDir()
    Cli.run(Seq("pipeline", yaml.toString, src, outRe), spark)
    assert(shardHashes(out) === shardHashes(outRe))
    // same-epoch cross-member id collision raises (both number from 1)
    val dup = tempDir()
    (1L to 5L).map(i => (i, s"corpus a doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dup/a.parquet")
    (1L to 5L).map(i => (i, s"corpus b doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dup/b.parquet")
    val yamlDup = Files.createTempFile("graft-pipe-mix-ep-dup", ".yaml")
    Files.writeString(yamlDup,
      """pipeline: mix_ep_dup
        |id: doc_id
        |text: text
        |steps:
        |  - name: blend
        |    op: mix
        |    input: a
        |    params: { inputs: "a,b", weights: "1,1", budgetTokens: 100,
        |              maxEpochs: 8 }
        |""".stripMargin)
    val exDup = intercept[Exception] {
      Cli.run(Seq("pipeline", yamlDup.toString, dup, tempDir()), spark)
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain(exDup).contains("more than one mix input"), chain(exDup))
  }

  test("pipeline subcommand: examples/training_export.yaml runs the round-9 surface end-to-end") {
    val s = spark
    import s.implicits._
    val (src, out) = (tempDir(), tempDir())
    def corpus(name: String, lo: Long, n: Long, stamp: String) =
      (lo until lo + n).map(i => (i, s"$stamp document body number $i with shared words"))
        .toDF("doc_id", "text").write.parquet(s"$src/$name.parquet")
    corpus("web", 1L, 80L, "web crawl")
    corpus("code", 1001L, 30L, "source code")
    corpus("books", 2001L, 10L, "book chapter")
    Cli.run(Seq("pipeline", "examples/training_export.yaml", src, out), spark)
    val blend = spark.read.parquet(s"$out/blend")
    assert(blend.count() > 0)
    for (c <- Seq("doc_id", "text", "n_bpe_tokens", "mix_source"))
      assert(blend.columns.contains(c), s"missing $c")
    // the small test corpus exhausts its pair space before 256 merges
    // (early stop); a real corpus fills the budget
    val nMerges = spark.read.parquet(s"$out/vocab").count()
    assert(nMerges > 50 && nMerges <= 256, s"nMerges=$nMerges")
    // every mix member contributed (the 1M budget covers all three
    // small corpora whole — keep-all)
    assert(blend.select("mix_source").distinct().count() === 3)
    // the export holds exactly the blended docs, sharded
    val manifest = spark.read.parquet(s"$out/dump")
    assert(manifest.count() === blend.count())
    assert(Files.isDirectory(Paths.get(out, "exports", "dump")))
    // the binary token export accounts for every blended token
    val binManifest = spark.read.parquet(s"$out/bin")
    assert(binManifest.count() === blend.count())
    val totalTokens = binManifest.agg(
      org.apache.spark.sql.functions.sum("n_tokens")).head().getLong(0)
    val binBytes = Files.walk(Paths.get(out, "exports", "bin")).toArray
      .map(_.toString).filter(_.endsWith("tokens.bin"))
      .map(p => Files.size(Paths.get(p))).sum
    assert(binBytes === totalTokens * 4, s"bytes=$binBytes tokens=$totalTokens")
  }

  test("pipeline subcommand: bpe_vocab + tokenize put REAL token counts into a mix budget") {
    val s = spark
    import s.implicits._
    val (src, out) = (tempDir(), tempDir())
    val docs = (1L to 30L).map(i => (i, s"alpha beta gamma doc $i"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$src/documents.parquet")
    val yaml = Files.createTempFile("graft-pipe-bpe", ".yaml")
    Files.writeString(yaml,
      """pipeline: bpe_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: vocab
        |    op: bpe_vocab
        |    input: documents
        |    params: { merges: 12 }
        |  - name: counted
        |    op: tokenize
        |    input: documents
        |    params: { vocab: vocab }
        |  - name: blend
        |    op: mix
        |    input: counted
        |    params: { inputs: "counted,documents", weights: "1,1",
        |              budgetTokens: 100000, tokens: n_bpe_tokens }
        |""".stripMargin)
    // 'documents' (the raw source) has no n_bpe_tokens column — the
    // mix must fail LOUDLY, proving real counts are actually consumed
    val ex = intercept[Exception] {
      Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    }
    assert(ex.getMessage.contains("no token column"), ex.getMessage)
    // annotate both members and the chain runs; counts equal a direct
    // trainMerges+tokenizeWith composition
    val yaml2 = Files.createTempFile("graft-pipe-bpe2", ".yaml")
    Files.writeString(yaml2,
      """pipeline: bpe_chain2
        |id: doc_id
        |text: text
        |steps:
        |  - name: vocab
        |    op: bpe_vocab
        |    input: documents
        |    params: { merges: 12 }
        |  - name: counted
        |    op: tokenize
        |    input: documents
        |    params: { vocab: vocab, keepTokens: true }
        |""".stripMargin)
    val out2 = tempDir()
    Cli.run(Seq("pipeline", yaml2.toString, src, out2), spark)
    val vocab = spark.read.parquet(s"$out2/vocab")
    assert(vocab.count() === 12)
    val counted = spark.read.parquet(s"$out2/counted")
    assert(counted.columns.toSet ===
      Set("doc_id", "text", "n_bpe_tokens", "bpe_tokens"))
    val wantCounts = graft.operators.Bpe.tokenizeWith(
      docs, "doc_id", "text",
      graft.operators.Bpe.trainMerges(docs, "text", 12))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).length.toLong).toMap
    val gotCounts = counted.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bpe_tokens")).toMap
    assert(gotCounts === wantCounts)
    // shared prefix "alpha beta gamma doc" compresses: well under the
    // codepoint count, at or above the word count
    assert(gotCounts.values.forall(n => n >= 5 && n < 15))
  }

  test("pipeline --state: semdedup admit across two runs equals the full rebuild") {
    val s = spark
    import s.implicits._
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    // append-only ids; batch 1 holds the k=2 lowest ids, so the pinned
    // centroids equal a full rebuild's lowest-id init over the union
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val docs1 = Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d").toDF("doc_id", "text")
    val emb1 = Seq(
      (1L, v(1, 0)), (2L, v(0, 1)),
      (3L, v(0.999, 0.01)),  // near-dup of 1 -> pruned in batch 1
      (4L, v(0, 0.98))       // near-dup of 2 -> pruned in batch 1
    ).toDF("doc_id", "embedding")
    val docs2 = Seq(5L -> "e", 6L -> "f", 7L -> "g no embedding").toDF("doc_id", "text")
    val emb2 = Seq(
      (5L, v(0.998, 0.02)),  // near-dup of SEEN (and pruned) 3 -> pruned
      (6L, v(-1, 0.1))       // far from everything in cluster 1... kept
    ).toDF("doc_id", "embedding")
    val yaml = Files.createTempFile("graft-pipe-semadmit", ".yaml")
    Files.writeString(yaml,
      """pipeline: sem_admit
        |id: doc_id
        |text: text
        |steps:
        |  - name: pruned
        |    op: semdedup
        |    input: batch
        |    params: { embeddings: emb, k: 2, minCosine: 0.95, mode: admit, buckets: 4 }
        |""".stripMargin)
    docs1.write.parquet(s"$src/batch.parquet")
    emb1.write.parquet(s"$src/emb.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out1, "--state", state), spark)
    def ids(p: String) = spark.read.parquet(p).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // batch 2 through the same yaml + state
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/emb.parquet"))
    docs2.write.parquet(s"$src/batch.parquet")
    emb2.write.parquet(s"$src/emb.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out2, "--state", state), spark)
    // doc 7 has no embedding -> passes through untouched
    assert(ids(s"$out2/pruned").contains(7L))
    // union of admissions == full semDedup over the union (same k,
    // threshold; plus pass-through docs) — the store judged batch-2
    // vectors against SEEN members (incl. pruned 3) without
    // re-clustering
    val allDocs = docs1.unionByName(docs2)
    val allEmb  = emb1.unionByName(emb2)
    val keptFull = graft.operators.Similarity.semDedup(
      allEmb, "doc_id", "embedding", k = 2, minCosine = 0.95)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val noEmb = Set(7L)
    assert(ids(s"$out1/pruned") ++ ids(s"$out2/pruned") === keptFull ++ noEmb)
    // and the pruning actually bit both ways
    assert(!ids(s"$out1/pruned").contains(3L))
    assert(!ids(s"$out2/pruned").contains(5L))
    assert(ids(s"$out2/pruned").contains(6L))
  }

  test("pipeline subcommand: export writes sharded JSONL that round-trips exactly") {
    val s = spark
    import s.implicits._
    val (src, out) = (tempDir(), tempDir())
    val docs = (1L to 50L).map(i => (i, s"document $i body", i * 10))
      .toDF("doc_id", "text", "score")
    docs.write.parquet(s"$src/documents.parquet")
    val yaml = Files.createTempFile("graft-pipe-export", ".yaml")
    Files.writeString(yaml,
      """pipeline: export_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: sharded
        |    op: shuffle_shards
        |    input: documents
        |    params: { shards: 4, salt: x }
        |  - name: dumped
        |    op: export
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    // the step's TABLE output is the (id, shard, pos) manifest
    val manifest = spark.read.parquet(s"$out/dumped")
    assert(manifest.columns.toSeq === Seq("doc_id", "shard", "pos"))
    assert(manifest.count() === 50L)
    // one file per shard, bytes in pos order
    val exportDir = Paths.get(out, "exports", "dumped")
    val shardDirs = Files.list(exportDir).iterator()
    val dataDirs = scala.jdk.CollectionConverters.IteratorHasAsScala(shardDirs).asScala
      .filter(_.getFileName.toString.startsWith("shard=")).toSeq
    assert(dataDirs.size === 4)
    dataDirs.foreach { d =>
      val files = Files.list(d).iterator()
      val parts = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(parts.size === 1, s"shard dir $d must hold exactly one file")
    }
    // JSONL round-trip through the hardened reader reconstructs the
    // pre-export frame EXACTLY (shard comes back as the partition col)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, score BIGINT, pos BIGINT")
    val back = graft.sources.TextTables.readJsonl(
      spark, exportDir.toString, schema, permissive = false)
    val sharded = spark.read.parquet(s"$out/sharded")
    assert(back.select("doc_id", "text", "score", "shard", "pos").collect().toSet ===
      sharded.select("doc_id", "text", "score", "shard", "pos").collect().toSet)
    // deterministic bytes: a rerun into a fresh OUT_DIR writes shard
    // files with identical content hashes
    def shardHashes(outRoot: String): Seq[(String, String)] = {
      val root = Paths.get(outRoot, "exports", "dumped")
      val ds = scala.jdk.CollectionConverters.IteratorHasAsScala(Files.list(root).iterator())
        .asScala.filter(_.getFileName.toString.startsWith("shard=")).toSeq
        .sortBy(_.getFileName.toString)
      ds.map { d =>
        val f = scala.jdk.CollectionConverters.IteratorHasAsScala(Files.list(d).iterator())
          .asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.head
        d.getFileName.toString -> java.util.HexFormat.of.formatHex(
          java.security.MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f)))
      }
    }
    val out2 = tempDir()
    Cli.run(Seq("pipeline", yaml.toString, src, out2), spark)
    assert(shardHashes(out) === shardHashes(out2))
  }

  test("pipeline export: binary media payloads round-trip byte-identically through JSONL") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Multimodal
    val (src, out) = (tempDir(), tempDir())
    // real PNG payloads: the binary column is what the media dedup
    // steps operate on; export must carry it losslessly (to_json
    // base64-encodes BINARY, the schema-typed reader decodes it)
    val imgs = Multimodal.syntheticImages(
        spark.range(1, 9).select(col("id").as("doc_id")), "doc_id")
      .withColumn("text", lit("img"))
    imgs.write.parquet(s"$src/images.parquet")
    val yaml = Files.createTempFile("graft-pipe-export-media", ".yaml")
    Files.writeString(yaml,
      """pipeline: export_media
        |id: doc_id
        |text: text
        |steps:
        |  - name: sharded
        |    op: shuffle_shards
        |    input: images
        |    params: { shards: 2, salt: x }
        |  - name: dumped
        |    op: export
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, payload BINARY, text STRING, pos BIGINT")
    val back = graft.sources.TextTables.readJsonl(
      spark, Paths.get(out, "exports", "dumped").toString, schema, permissive = false)
    // byte-identical payloads
    val orig = imgs.select("doc_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val rt = back.select("doc_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(rt === orig)
    // and the round-tripped payloads still DECODE: dHash equality
    val h0 = Multimodal.dHash(imgs.select("doc_id", "payload"))
      .collect().map(d => d.doc_id -> d.dhash).toMap
    val h1 = Multimodal.dHash(back.select("doc_id", "payload"))
      .collect().map(d => d.doc_id -> d.dhash).toMap
    assert(h1 === h0)
  }

  test("pipeline --state: examples/nightly_crawl.yaml admits two nights of captures") {
    val s = spark
    import s.implicits._
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    val pad = "carrying plenty of its own unique words for the content rule"
    def capture(i: Long, stamp: String): String = {
      val body = s"<html><body><nav><a href='/'>Home</a></nav>" +
        s"<p>Nightly $stamp article num$i alpha$i beta$i gamma$i $pad</p></body></html>"
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://h/$stamp/$i\r\n" +
        s"Content-Length: ${("HTTP/1.1 200 OK\r\n\r\n" + body).length}\r\n\r\n" +
        s"HTTP/1.1 200 OK\r\n\r\n$body\r\n\r\n"
    }
    // night 1: pages 1..10
    (1L to 10L).map(i => (i, capture(i, "one"))).toDF("doc_id", "text")
      .write.parquet(s"$src/captures.parquet")
    Cli.run(Seq("pipeline", "examples/nightly_crawl.yaml", src, out1,
      "--state", state), spark)
    def ids(out: String) = spark.read.parquet(s"$out/budgeted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(out1) === (1L to 10L).toSet)
    // night 2: 11..15 fresh; 101..103 EXACT re-crawls of night-1 pages
    // 1..3 (same extracted content, new ids) — rejected by the exact
    // store without rescanning night 1
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/captures.parquet"))
    ((11L to 15L).map(i => (i, capture(i, "two"))) ++
      (1L to 3L).map(i => (100L + i, capture(i, "one"))))
      .toDF("doc_id", "text").write.parquet(s"$src/captures.parquet")
    Cli.run(Seq("pipeline", "examples/nightly_crawl.yaml", src, out2,
      "--state", state), spark)
    assert(ids(out2) === (11L to 15L).toSet)
    assert(Files.readString(Paths.get(state, "_graft_next_batch")).trim == "2")
  }

  test("pipeline subcommand: examples/crawl_pipeline.yaml runs captures to curated export") {
    val s = spark
    import s.implicits._
    val (src, out) = (tempDir(), tempDir())
    val boiler = (1 to 12).map(i => s"footer$i").mkString(" ")
    def capture(i: Long): String = {
      // i-derived words THROUGHOUT the article so no 10 consecutive
      // tokens repeat across pages — only the boilerplate line is a
      // corpus-duplicated span
      val body = s"<html><head><script>x('</p>')</script></head><body>" +
        s"<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>" +
        // i-derived words at most 2 apart: after redaction unifies the
        // email token, EVERY 10-gram window still carries a
        // distinguishing token — only the boilerplate line despans
        s"<p>Article u$i alpha$i mailto u$i@example.com beta$i story of the " +
        s"item$i gamma$i detail delta$i in context epsilon$i end$i</p>" +
        s"<p>$boiler boilerplate padding line shared across every page</p>" +
        "</body></html>"
      // pages 29/30 live under /blocked/ — robots_filter must drop
      // them; page 28 is a 404 — the http_status filter must drop it
      val path = if (i >= 29) s"/blocked/$i" else s"/$i"
      val status = if (i == 28) "HTTP/1.1 404 Not Found" else "HTTP/1.1 200 OK"
      val http = s"$status\r\nContent-Type: text/html\r\n\r\n$body"
      s"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 15\r\n\r\nsoftware: graft\r\n\r\n" +
        s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://h$path\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n$http\r\n\r\n"
    }
    (1L to 30L).map(i => (i, capture(i))).toDF("doc_id", "text")
      .write.parquet(s"$src/captures.parquet")
    Seq(("h", "User-agent: graftbot\nDisallow: /blocked/"))
      .toDF("host", "robots_txt").write.parquet(s"$src/robots.parquet")
    Cli.run(Seq("pipeline", "examples/crawl_pipeline.yaml", src, out), spark)
    val curated = spark.read.parquet(s"$out/curated")
    assert(curated.count() === 27L)
    val texts = curated.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!texts.contains(29L) && !texts.contains(30L),
      "robots-disallowed pages leaked through robots_filter")
    assert(!texts.contains(28L), "the 404 page leaked through the status filter")
    (1L to 27L).foreach { i =>
      val t = texts(i)
      assert(t.contains(s"article u$i alpha$i mailto"),
        s"doc $i lost its content: '$t'")
      // redacted before despanning; the rebuilt text is normalized
      assert(t.contains("<email>"), s"doc $i not redacted: '$t'")
      assert(!t.contains("footer1 ") && !t.endsWith("footer1"),
        s"doc $i kept the shared boilerplate span: '$t'")
      assert(!t.contains("home"), s"doc $i kept nav text: '$t'")
    }
    assert(Files.isDirectory(Paths.get(out, "exports", "dump")))
    assert(spark.read.parquet(s"$out/dump").count() === 27L)
  }

  test("pipeline subcommand: examples/frontier_pipeline.yaml builds a polite deduped frontier") {
    val s = spark
    import s.implicits._
    val (src, out) = (tempDir(), tempDir())
    def sm(urls: Seq[String]): String =
      "<?xml version=\"1.0\"?>\n<urlset>\n" +
        urls.map(u => s"<url><loc>$u</loc></url>").mkString("\n") + "\n</urlset>"
    Seq(
      // tracking param + host case fold away; /blocked/ is disallowed
      (1L, sm(Seq("http://A.example.com/page1?utm_source=x",
        "http://a.example.com/page2",
        "http://a.example.com/blocked/secret"))),
      // a second sitemap re-listing page1 under its canonical spelling
      (2L, sm(Seq("http://a.example.com/page1",
        "http://a.example.com/page3"))))
      .toDF("doc_id", "text").write.parquet(s"$src/sitemaps.parquet")
    Seq(("a.example.com", "User-agent: graftbot\nDisallow: /blocked/"))
      .toDF("host", "robots_txt").write.parquet(s"$src/robots.parquet")
    // page3 has MOVED: the redirects step must collapse its listing to
    // the terminal target before dedup keys it
    Seq(("http://a.example.com/page3", "http://a.example.com/page3-v2"))
      .toDF("src", "dst").write.parquet(s"$src/redirects.parquet")
    // link graph for the importance prior: page1 is the most linked-to
    // (from page2 twice, page3-v2 once), page2 next, page3-v2 unlinked
    Seq(
      ("http://a.example.com/page2", "http://a.example.com/page1", 2L),
      ("http://a.example.com/page3-v2", "http://a.example.com/page1", 1L),
      ("http://a.example.com/page1", "http://a.example.com/page2", 1L))
      .toDF("src", "dst", "n_links").write.parquet(s"$src/links.parquet")
    Cli.run(Seq("pipeline", "examples/frontier_pipeline.yaml", src, out), spark)
    val unique = spark.read.parquet(s"$out/unique")
    val urls = unique.select("text").collect().map(_.getString(0)).toSet
    assert(urls === Set("http://a.example.com/page1", "http://a.example.com/page2",
      "http://a.example.com/page3-v2"))
    // the duplicate canonical URL kept its FIRST lister (min rekeyed id
    // = sitemap 1's entry), and entry provenance survived the chain
    val page1 = unique.filter(org.apache.spark.sql.functions.col("text") ===
      "http://a.example.com/page1").collect()
    assert(page1.length === 1)
    assert(page1.head.getAs[Long]("sitemap_id") === 1L)
    assert(spark.read.parquet(s"$out/dump").count() === 3L)
    // the PageRank-ranked schedule: maxPerHost 2 keeps the two
    // highest-rank pages (page1 most linked-to, then page2) and drops
    // unlinked page3-v2 — an importance-ordered budget, not a random
    // md5 sample
    val sched = spark.read.parquet(s"$out/scheduled")
      .select("text", "fetch_seq", "priority_fp").collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(sched.keySet === Set("http://a.example.com/page1", "http://a.example.com/page2"))
    assert(sched("http://a.example.com/page1")._1 === 0)
    assert(sched("http://a.example.com/page2")._1 === 1)
    assert(sched("http://a.example.com/page1")._2 > sched("http://a.example.com/page2")._2)
    // the rank table itself is a step output downstream chains can join
    val ranks = spark.read.parquet(s"$out/ranked")
    assert(ranks.columns.toSet === Set("node", "rank_fp") && ranks.count() === 3L)
  }

  test("pipeline graph steps: pagerank/kcore/label_prop from YAML equal the direct operators") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Centrality
    val (src, out) = (tempDir(), tempDir())
    // a small weighted digraph with a 2-core triangle (1,2,3) plus a
    // pendant chain 3-4-5 that peels away
    val edges = Seq(
      (1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L),
      (3L, 4L, 1L), (4L, 5L, 1L))
    edges.toDF("src", "dst", "w").write.parquet(s"$src/edges.parquet")
    val yaml = Files.createTempFile("graft-pipe-graph", ".yaml")
    Files.writeString(yaml,
      """pipeline: graph_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: pr
        |    op: pagerank
        |    input: edges
        |    params: { weight: w, iterations: "3" }
        |  - name: core
        |    op: kcore
        |    input: edges
        |    params: { k: "2", rounds: "3" }
        |  - name: comm
        |    op: label_prop
        |    input: edges
        |    params: { rounds: "2" }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val edf = edges.toDF("src", "dst", "w")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(spark.read.parquet(s"$out/pr").select("node", "rank_fp")) ===
      rows(Centrality.pageRank(edf, "src", "dst", "w", iterations = 3)
        .select(col("node").cast("long"), col("rank_fp"))))
    assert(rows(spark.read.parquet(s"$out/core").select("node", "deg")) ===
      rows(Centrality.kCorePeel(edf, "src", "dst", k = 2, rounds = 3)
        .select(col("node").cast("long"), col("deg"))))
    // the pendant chain peeled away; the triangle survives at degree 2
    assert(rows(spark.read.parquet(s"$out/core").select("node", "deg")) ===
      Set((1L, 2L), (2L, 2L), (3L, 2L)))
    assert(rows(spark.read.parquet(s"$out/comm").select("node", "label")) ===
      rows(Centrality.labelPropagationRounds(edf, "src", "dst", rounds = 2)
        .select(col("node").cast("long"), col("lbl").cast("long"))))
  }

  test("pipeline subcommand: examples/nightly_frontier.yaml rejects re-listed URLs across nights") {
    val s = spark
    import s.implicits._
    val (src, out1, out2, state) = (tempDir(), tempDir(), tempDir(), tempDir())
    def sm(urls: Seq[String]): String =
      "<urlset>\n" + urls.map(u => s"<url><loc>$u</loc></url>").mkString("\n") + "\n</urlset>"
    Seq(("a.example.com", "User-agent: graftbot\nDisallow: /blocked/"))
      .toDF("host", "robots_txt").write.parquet(s"$src/robots.parquet")
    // night 1: nothing has moved yet — empty edge table
    Seq.empty[(String, String)]
      .toDF("src", "dst").write.parquet(s"$src/redirects.parquet")
    def urls(out: String) = spark.read.parquet(s"$out/fresh")
      .select("text").collect().map(_.getString(0)).toSet
    // night 1: two pages (one robots-blocked listing drops pre-store)
    Seq((1L, sm(Seq("http://a.example.com/page1",
      "http://a.example.com/page2",
      "http://a.example.com/blocked/x"))))
      .toDF("doc_id", "text").write.parquet(s"$src/sitemaps.parquet")
    Cli.run(Seq("pipeline", "examples/nightly_frontier.yaml", src, out1,
      "--state", state), spark)
    assert(urls(out1) === Set("http://a.example.com/page1", "http://a.example.com/page2"))
    // night 2: page2 re-listed verbatim, page1 re-listed under a
    // tracking-param respelling (normalizes to the admitted key),
    // page3 genuinely new. page2 has also MOVED to page2-v2, and the
    // sitemap lists BOTH the stale spelling and the target — the
    // redirects step collapses them to ONE admission key, so the
    // frontier carries exactly one page2-v2 row and the stale
    // spelling is never fetched again
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/sitemaps.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/redirects.parquet"))
    Seq((5L, sm(Seq("http://a.example.com/page2",
      "http://A.example.com/page1?utm_source=night2",
      "http://a.example.com/page2-v2",
      "http://a.example.com/page3"))))
      .toDF("doc_id", "text").write.parquet(s"$src/sitemaps.parquet")
    Seq(("http://a.example.com/page2", "http://a.example.com/page2-v2"))
      .toDF("src", "dst").write.parquet(s"$src/redirects.parquet")
    Cli.run(Seq("pipeline", "examples/nightly_frontier.yaml", src, out2,
      "--state", state), spark)
    val night2 = spark.read.parquet(s"$out2/fresh").select("text").collect()
      .map(_.getString(0)).toSeq
    // moved URL + its target admitted as ONE key; exactly one row
    assert(night2.sorted === Seq("http://a.example.com/page2-v2",
      "http://a.example.com/page3"))
  }

  test("pipeline subcommand: examples/nightly_recrawl.yaml keeps the frontier fresh across nights") {
    val s = spark
    import s.implicits._
    val (src, out1, out2, state) = (tempDir(), tempDir(), tempDir(), tempDir())
    val t0 = 1700000000L
    // the committed example pins now for the doc header; a real
    // scheduler templates it per night — do the same here
    def nightSpec(now: Long): String = {
      val y = Files.createTempFile("graft-nightly-recrawl", ".yaml")
      Files.writeString(y, Files.readString(
        java.nio.file.Paths.get("examples/nightly_recrawl.yaml"))
        .replace("now: \"1700000000\"", s"now: \"$now\""))
      y.toString
    }
    def sm(entries: Seq[(String, String, String)]): String =
      "<urlset>\n" + entries.map { case (u, lm, cf) =>
        s"<url><loc>$u</loc>" +
          (if (lm.nonEmpty) s"<lastmod>$lm</lastmod>" else "") +
          (if (cf.nonEmpty) s"<changefreq>$cf</changefreq>" else "") +
          "</url>"
      }.mkString("\n") + "\n</urlset>"
    Seq(("a.example.com", "User-agent: graftbot\nDisallow: /blocked/"))
      .toDF("host", "robots_txt").write.parquet(s"$src/robots.parquet")
    def frontier(out: String) = spark.read.parquet(s"$out/due")
      .select("text", "recrawl_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // night 1: three listings (one robots-blocked drops pre-store)
    Seq((1L, sm(Seq(
      ("http://a.example.com/daily", "", "daily"),
      ("http://a.example.com/article", "2023-11-01", "monthly"),
      ("http://a.example.com/blocked/x", "", "daily")))))
      .toDF("doc_id", "text").write.parquet(s"$src/sitemaps.parquet")
    Cli.run(Seq("pipeline", nightSpec(t0), src, out1, "--state", state), spark)
    assert(frontier(out1) === Map(
      "http://a.example.com/daily" -> "new",
      "http://a.example.com/article" -> "new"))
    // night 2, one day later: same listings re-discovered, /article's
    // lastmod bumped past night 1's fetch, plus a genuinely new URL —
    // /daily re-enters by AGE, /article by MODIFICATION, and nothing
    // is re-fetched merely for being re-listed
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/sitemaps.parquet"))
    Seq((5L, sm(Seq(
      ("http://a.example.com/daily", "", "daily"),
      ("http://a.example.com/article", "2023-11-16", "monthly"),
      ("http://a.example.com/fresh", "", "")))))
      .toDF("doc_id", "text").write.parquet(s"$src/sitemaps.parquet")
    Cli.run(Seq("pipeline", nightSpec(t0 + 86400L), src, out2, "--state", state), spark)
    assert(frontier(out2) === Map(
      "http://a.example.com/daily" -> "aged",
      "http://a.example.com/article" -> "modified",
      "http://a.example.com/fresh" -> "new"))
    // the politeness schedule annotated every due row: host, delay,
    // dense per-host ordinal, offset = seq * delay
    val sched = s.read.parquet(s"$out2/polite_order")
      .select("text", "host", "crawl_delay_s", "fetch_seq", "fetch_offset_s")
      .collect()
    assert(sched.length === 3)
    sched.foreach { r =>
      assert(r.getString(1) === "a.example.com")
      assert(r.getLong(4) === r.getInt(3).toLong * r.getInt(2))
    }
    assert(sched.map(_.getInt(3)).sorted.toSeq === Seq(0, 1, 2))
    // the export artifact exists (the fetch fleet's input)
    assert(Files.isDirectory(java.nio.file.Paths.get(out2, "exports", "dump")))
  }

  test("pipeline subcommand: examples/crawl_loop.yaml turns fetched pages into the next frontier") {
    val s = spark
    import s.implicits._
    val (src, out1, out2, state) = (tempDir(), tempDir(), tempDir(), tempDir())
    def capture(uri: String, body: String): String = {
      val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n$http\r\n\r\n"
    }
    Seq(
      (1L, capture("http://a.example.com/start",
        "<html><body><a href=\"/next1\">n1</a><a href=\"sub/next2.html\">n2</a>" +
          "<a href=\"/blocked/x\">nope</a><a href=\"http://b.example.net/ext\">e</a>" +
          "</body></html>")),
      (2L, capture("http://a.example.com/dir/page",
        "<html><body><a href=\"/next1\">again</a><a href=\"../next3\">n3</a>" +
          "</body></html>")))
      .toDF("doc_id", "text").write.parquet(s"$src/captures.parquet")
    Seq(("a.example.com", "User-agent: graftbot\nDisallow: /blocked/"))
      .toDF("host", "robots_txt").write.parquet(s"$src/robots.parquet")
    Cli.run(Seq("pipeline", "examples/crawl_loop.yaml", src, out1,
      "--state", state), spark)
    val got = spark.read.parquet(s"$out1/next_frontier")
      .select("text").collect().map(_.getString(0)).toSet
    assert(got === Set(
      "http://a.example.com/next1", // listed by BOTH pages, admitted once
      "http://a.example.com/sub/next2.html",
      "http://a.example.com/next3", // ../next3 resolved from /dir/page
      "http://b.example.net/ext")) // no robots for that host: allowed
    // iteration 2 re-fetches the same pages: every outlink is already
    // in the frontier store -> nothing new, old frontiers not rescanned
    Cli.run(Seq("pipeline", "examples/crawl_loop.yaml", src, out2,
      "--state", state), spark)
    assert(spark.read.parquet(s"$out2/next_frontier").count() === 0L)
  }

  test("pipeline export_tokens: binary shards + vocab + manifest round-trip to the exact token streams") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val (src, out1, out2) = (tempDir(), tempDir(), tempDir())
    val docs = (1L to 12L).map { i =>
      (i, if (i == 7L) "" else s"alpha beta gamma alpha$i beta delta$i alpha")
    }
    docs.toDF("doc_id", "text").write.parquet(s"$src/documents.parquet")
    val yaml = Files.createTempFile("graft-pipe-tokexport", ".yaml")
    Files.writeString(yaml,
      """pipeline: token_export
        |id: doc_id
        |text: text
        |steps:
        |  - name: vocab
        |    op: bpe_vocab
        |    input: documents
        |    params: { merges: "32" }
        |  - name: tokenized
        |    op: tokenize
        |    input: documents
        |    params: { vocab: vocab, keepTokens: "true" }
        |  - name: spread
        |    op: shuffle_shards
        |    params: { shards: "3", salt: tok1 }
        |  - name: packed
        |    op: export_tokens
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out1), spark)
    // the independent expectation: train + tokenize directly
    val docsDf = docs.toDF("doc_id", "text")
    val merges = graft.operators.Bpe.trainMergesLocal(docsDf, "text", numMerges = 32)
    val want = graft.operators.Bpe.tokenizeWith(docsDf, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // vocab: token -> id (read back from the exported JSONL)
    val vocabLines = Files.list(Paths.get(out1, "exports", "packed", "vocab"))
      .toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.startsWith("part-") &&
        !p.endsWith(".crc")).sorted
      .flatMap(p => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(Paths.get(p))).asScala)
    val tokenById = vocabLines.map { l =>
      val m = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](l)
      m.get("token_id").toString.toLong -> m.get("token").toString
    }.toMap
    // manifest + shards: slice each doc back out of the mmap shape
    val manifest = spark.read.parquet(s"$out1/packed")
      .select("doc_id", "shard", "pos", "token_offset", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3), r.getLong(4)))
    assert(manifest.length === 12)
    val shardTokens = manifest.map(_._2).distinct.map { sh =>
      sh -> graft.sources.TokenBinary.readShard(
        s"$out1/exports/packed/shard=$sh/tokens.bin")
    }.toMap
    manifest.foreach { case (id, sh, off, n) =>
      val ids = shardTokens(sh).slice(off.toInt, (off + n).toInt)
      assert(ids.map(tokenById(_)).toSeq === want(id), s"doc $id")
    }
    // per-shard: manifest token mass accounts for every byte
    shardTokens.foreach { case (sh, toks) =>
      val mass = manifest.filter(_._2 == sh).map(_._4).sum
      assert(toks.length.toLong === mass, s"shard $sh")
    }
    // the Megatron .idx companion agrees with the manifest exactly:
    // sizes in pos order, pointers = 4-byte cumulative offsets,
    // doc_idx the trivial 0..count mapping
    shardTokens.keys.foreach { sh =>
      val (sizes, pointers, docIdx) = graft.sources.TokenBinary.readIdx(
        s"$out1/exports/packed/shard=$sh/tokens.idx")
      val wantSizes = spark.read.parquet(s"$out1/packed")
        .filter(col("shard") === sh)
        .orderBy("pos").select("n_tokens").collect().map(_.getLong(0).toInt)
      assert(sizes.toSeq === wantSizes.toSeq, s"shard $sh idx sizes")
      assert(pointers.toSeq === sizes.scanLeft(0L)((a, s) => a + s * 4L).init.toSeq,
        s"shard $sh idx pointers")
      assert(docIdx.toSeq === (0L to sizes.length.toLong).toSeq, s"shard $sh doc_idx")
      // and a pointer slice of tokens.bin is the document's stream
      val m = manifest.filter(_._2 == sh).minBy(_._3)
      assert(shardTokens(sh).slice((pointers(0) / 4).toInt,
        (pointers(0) / 4 + sizes(0)).toInt).map(tokenById(_)).toSeq === want(m._1))
    }
    assert(want(7L).isEmpty) // the empty doc exports zero tokens, no crash
    // rerun on the same input: byte-identical artifacts
    Cli.run(Seq("pipeline", yaml.toString, src, out2), spark)
    shardTokens.keys.foreach { sh =>
      val a = Files.readAllBytes(Paths.get(out1, "exports", "packed", s"shard=$sh", "tokens.bin"))
      val b = Files.readAllBytes(Paths.get(out2, "exports", "packed", s"shard=$sh", "tokens.bin"))
      assert(java.util.Arrays.equals(a, b), s"shard $sh not byte-deterministic")
    }
  }

  test("pipeline export_tokens appendEod: every document stream ends with the recorded sentinel") {
    val s = spark
    import s.implicits._
    val (src, out) = (tempDir(), tempDir())
    val docs = (1L to 6L).map { i =>
      (i, if (i == 4L) "" else s"alpha beta word$i alpha")
    }
    docs.toDF("doc_id", "text").write.parquet(s"$src/documents.parquet")
    val yaml = Files.createTempFile("graft-pipe-eod", ".yaml")
    Files.writeString(yaml,
      """pipeline: eod_export
        |id: doc_id
        |text: text
        |steps:
        |  - name: vocab
        |    op: bpe_vocab
        |    input: documents
        |    params: { merges: "16" }
        |  - name: tokenized
        |    op: tokenize
        |    input: documents
        |    params: { vocab: vocab, keepTokens: "true" }
        |  - name: spread
        |    op: shuffle_shards
        |    params: { shards: "2", salt: eod1 }
        |  - name: packed
        |    op: export_tokens
        |    params: { appendEod: "true" }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    // the sentinel is in the exported vocab at the next free id
    val vocabLines = Files.list(Paths.get(out, "exports", "packed", "vocab"))
      .toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.startsWith("part-") &&
        !p.endsWith(".crc")).sorted
      .flatMap(p => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(Paths.get(p))).asScala)
    val idByTok = vocabLines.map { l =>
      val m = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](l)
      m.get("token").toString -> m.get("token_id").toString.toLong
    }.toMap
    assert(idByTok.contains("<eod>"))
    assert(idByTok("<eod>") === idByTok.values.max)
    val eod = idByTok("<eod>").toInt
    // every document's slice ends with exactly one trailing <eod>;
    // the empty document exports as a lone sentinel (the Megatron
    // loader still sees the document boundary)
    val manifest = spark.read.parquet(s"$out/packed")
      .select("doc_id", "shard", "token_offset", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val shardToks = manifest.map(_._2).distinct.map { sh =>
      sh -> graft.sources.TokenBinary.readShard(s"$out/exports/packed/shard=$sh/tokens.bin")
    }.toMap
    manifest.foreach { case (id, sh, off, n) =>
      val ids = shardToks(sh).slice(off.toInt, (off + n).toInt)
      assert(ids.nonEmpty && ids.last === eod, s"doc $id must end with <eod>")
      assert(ids.init.forall(_ != eod), s"doc $id has an interior sentinel")
      if (id == 4L) assert(ids.toSeq === Seq(eod))
    }
  }

  test("pipeline byte-level BPE: vocab + tokenize + export_tokens round-trip losslessly") {
    val s = spark
    import s.implicits._
    val (src, out) = (tempDir(), tempDir())
    // multi-byte text: the byte-level id space is the point — a
    // codepoint vocab could not carry these losslessly through a
    // GPT-2-family id layout
    val docs = (1L to 8L).map { i =>
      (i, s"naïve café$i — über ✓ 中文 plain$i naïve")
    }
    docs.toDF("doc_id", "text").write.parquet(s"$src/documents.parquet")
    val yaml = Files.createTempFile("graft-pipe-bytetok", ".yaml")
    Files.writeString(yaml,
      """pipeline: byte_token_export
        |id: doc_id
        |text: text
        |steps:
        |  - name: vocab
        |    op: bpe_vocab
        |    input: documents
        |    params: { merges: "24", level: bytes }
        |  - name: tokenized
        |    op: tokenize
        |    input: documents
        |    params: { vocab: vocab, keepTokens: "true", level: bytes }
        |  - name: spread
        |    op: shuffle_shards
        |    params: { shards: "2", salt: btok }
        |  - name: packed
        |    op: export_tokens
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    // independent expectation: byte-level train + tokenize directly
    val docsDf = docs.toDF("doc_id", "text")
    val merges = graft.operators.Bpe.trainMergesLocal(
      docsDf, "text", numMerges = 24, byteLevel = true)
    val want = graft.operators.Bpe.tokenizeWith(
        docsDf, "doc_id", "text", merges, byteLevel = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val vocabLines = Files.list(Paths.get(out, "exports", "packed", "vocab"))
      .toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.startsWith("part-") &&
        !p.endsWith(".crc")).sorted
      .flatMap(p => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(Paths.get(p))).asScala)
    val tokenById = vocabLines.map { l =>
      val m = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](l)
      m.get("token_id").toString.toLong -> m.get("token").toString
    }.toMap
    val manifest = spark.read.parquet(s"$out/packed")
      .select("doc_id", "shard", "pos", "token_offset", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3), r.getLong(4)))
    assert(manifest.length === 8)
    val shardTokens = manifest.map(_._2).distinct.map { sh =>
      sh -> graft.sources.TokenBinary.readShard(
        s"$out/exports/packed/shard=$sh/tokens.bin")
    }.toMap
    manifest.foreach { case (id, sh, off, n) =>
      val toks = shardTokens(sh).slice(off.toInt, (off + n).toInt).map(tokenById(_)).toSeq
      assert(toks === want(id), s"doc $id token stream")
      // LOSSLESS: hex-decoding the exported id stream reproduces the
      // normalized multi-byte text exactly — end-to-end tokenizer parity
      val wordsBack = toks.foldLeft(Vector(Vector.empty[String])) { (acc, t) =>
        if (t.endsWith("</w>")) acc.init :+ (acc.last :+ t) :+ Vector.empty
        else acc.init :+ (acc.last :+ t)
      }.filter(_.nonEmpty).map(ws => graft.operators.Bpe.decodeByteTokens(ws, "</w>"))
      val orig = docs.find(_._1 == id).get._2
        .trim.replaceAll("\\s+", " ").toLowerCase
      assert(wordsBack.mkString(" ") === orig, s"doc $id lossless decode")
    }
    // level mismatch fail-loud: tokenize level: bytes over a CODEPOINT vocab
    val badYaml = Files.createTempFile("graft-pipe-bytetok-bad", ".yaml")
    Files.writeString(badYaml,
      """pipeline: byte_mismatch
        |id: doc_id
        |text: text
        |steps:
        |  - name: vocab
        |    op: bpe_vocab
        |    input: documents
        |    params: { merges: "8" }
        |  - name: tokenized
        |    op: tokenize
        |    input: documents
        |    params: { vocab: vocab, level: bytes }
        |""".stripMargin)
    val e = intercept[Exception] {
      Cli.run(Seq("pipeline", badYaml.toString, src, tempDir()), spark)
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain(e).contains("level: bytes"), chain(e))
  }

  test("pipeline pack_sequences + export_tokens: fixed-length binary training sequences") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val (src, out) = (tempDir(), tempDir())
    (1L to 20L).map(i => (i, s"alpha beta gamma doc$i delta epsilon zeta$i"))
      .toDF("doc_id", "text").write.parquet(s"$src/documents.parquet")
    val yaml = Files.createTempFile("graft-pipe-packseq", ".yaml")
    Files.writeString(yaml,
      """pipeline: packed_export
        |id: doc_id
        |text: text
        |steps:
        |  - name: vocab
        |    op: bpe_vocab
        |    input: documents
        |    params: { merges: "16" }
        |  - name: tokenized
        |    op: tokenize
        |    input: documents
        |    params: { vocab: vocab, keepTokens: "true" }
        |  - name: spread
        |    op: shuffle_shards
        |    params: { shards: "2", salt: ps1 }
        |  - name: seqs
        |    op: pack_sequences
        |    params: { seqTokens: "16" }
        |  - name: packed
        |    op: export_tokens
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    // the packed stream must equal the shard-ordered doc streams
    val docStreams = spark.read.parquet(s"$out/spread")
      .select("shard", "pos", "bpe_tokens").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[String](2)))
      .groupBy(_._1).map { case (sh, rows) =>
        sh -> rows.sortBy(_._2).flatMap(_._3).toSeq
      }
    val vocabLines = Files.list(Paths.get(out, "exports", "packed", "vocab"))
      .toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.startsWith("part-") &&
        !p.endsWith(".crc")).sorted
      .flatMap(p => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(Paths.get(p))).asScala)
    val tokenById = vocabLines.map { l =>
      val m = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](l)
      m.get("token_id").toString.toLong -> m.get("token").toString
    }.toMap
    val manifest = spark.read.parquet(s"$out/packed")
      .select("shard", "pos", "n_tokens").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    manifest.groupBy(_._1).foreach { case (sh, rows) =>
      // every sequence but the shard's last is exactly 16 tokens
      val ordered = rows.sortBy(_._2)
      ordered.init.foreach { case (_, pos, n) =>
        assert(n === 16L, s"shard $sh seq $pos")
      }
      val bin = graft.sources.TokenBinary
        .readShard(s"$out/exports/packed/shard=$sh/tokens.bin")
      assert(bin.map(tokenById(_)).toSeq === docStreams(sh), s"shard $sh stream")
    }
  }

  test("pipeline export_tokens vocabFrom: a pinned external id map governs the binary") {
    val s = spark
    import s.implicits._
    val (src, out) = (tempDir(), tempDir())
    val docs = (1L to 8L).map(i => (i, "alpha beta gamma delta"))
    docs.toDF("doc_id", "text").write.parquet(s"$src/documents.parquet")
    // pinned vocabulary with DELIBERATELY non-byte-order ids (reversed):
    // if the step derived its own byte-ordered vocab instead of using
    // the pinned one, every decoded stream would come back wrong
    val docsDf = docs.toDF("doc_id", "text")
    val merges = graft.operators.Bpe.trainMergesLocal(docsDf, "text", numMerges = 8)
    val want = graft.operators.Bpe.tokenizeWith(docsDf, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val allTokens = want.values.flatten.toSeq.distinct.sorted
    val pinned = allTokens.zipWithIndex
      .map { case (t, i) => (t, (allTokens.length - 1 - i).toLong) }
    pinned.toDF("token", "token_id").write.parquet(s"$src/vocab_pinned.parquet")
    val yaml = Files.createTempFile("graft-pipe-vocabfrom", ".yaml")
    Files.writeString(yaml,
      """pipeline: pinned_export
        |id: doc_id
        |text: text
        |steps:
        |  - name: vocab
        |    op: bpe_vocab
        |    input: documents
        |    params: { merges: "8" }
        |  - name: tokenized
        |    op: tokenize
        |    input: documents
        |    params: { vocab: vocab, keepTokens: "true" }
        |  - name: spread
        |    op: shuffle_shards
        |    params: { shards: "2", salt: vf1 }
        |  - name: packed
        |    op: export_tokens
        |    params: { vocabFrom: vocab_pinned }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val pinnedById = pinned.map { case (t, id) => id -> t }.toMap
    val manifest = spark.read.parquet(s"$out/packed")
      .select("doc_id", "shard", "token_offset", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val shardTokens = manifest.map(_._2).distinct.map { sh =>
      sh -> graft.sources.TokenBinary.readShard(
        s"$out/exports/packed/shard=$sh/tokens.bin")
    }.toMap
    manifest.foreach { case (id, sh, off, n) =>
      val ids = shardTokens(sh).slice(off.toInt, (off + n).toInt)
      assert(ids.map(i => pinnedById(i.toLong)).toSeq === want(id), s"doc $id")
    }
  }

  test("pipeline media_stats: real decode metadata feeds a min-dimension filter") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Multimodal
    val (src, out) = (tempDir(), tempDir())
    // generator dims: w = 8 + id%9, h = 8 + id%7 — ids 1..20 give a
    // spread of sizes; width >= 12 keeps ids with id%9 >= 4
    Multimodal.syntheticImages(
        spark.range(1, 21).select(col("id").as("doc_id")), "doc_id")
      .withColumn("text", org.apache.spark.sql.functions.lit("img"))
      .write.parquet(s"$src/images.parquet")
    val yaml = Files.createTempFile("graft-pipe-mediastats", ".yaml")
    Files.writeString(yaml,
      """pipeline: img_gate
        |id: doc_id
        |text: text
        |steps:
        |  - name: meta
        |    op: media_stats
        |    input: images
        |  - name: big_enough
        |    op: filter_rows
        |    params: { column: width, op: ge, value: "12" }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val meta = spark.read.parquet(s"$out/meta")
    val wh = meta.select("doc_id", "width", "height").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    (1L to 20L).foreach { i =>
      assert(wh(i) === ((8 + i % 9).toInt -> (8 + i % 7).toInt),
        s"doc $i decoded dims wrong")
    }
    val kept = spark.read.parquet(s"$out/big_enough")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === (1L to 20L).filter(i => 8 + i % 9 >= 12).toSet)
    assert(meta.columns.contains("pixel_md5") && meta.columns.contains("payload"))
  }

  test("pipeline annotate + dedup_exact column: media exact dedup by content address") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Multimodal
    val (src, out) = (tempDir(), tempDir())
    // ids 1..8 plus payload-identical recompressions of 1 and 2 (same
    // decoded pixels -> same pixel_md5, different bytes and ids)
    val base = Multimodal.syntheticImages(
      spark.range(1, 9).select(col("id").as("doc_id")), "doc_id")
    // factor = 1: decode + re-encode without rescale — SAME pixel
    // content under new ids, the true pixel-duplicate pair
    base.unionByName(Multimodal.reencodeScaled(
        Multimodal.syntheticImages(
          Seq(1L, 2L).toDF("doc_id"), "doc_id"), factor = 1, idOffset = 100L))
      .withColumn("text", lit("img")).write.parquet(s"$src/images.parquet")
    // a per-doc score annotation table
    (1L to 6L).map(i => (i, i * 1.5)).toDF("doc_id", "img_score")
      .write.parquet(s"$src/scores.parquet")
    val yaml = Files.createTempFile("graft-pipe-annotate", ".yaml")
    Files.writeString(yaml,
      """pipeline: media_exact
        |id: doc_id
        |text: text
        |steps:
        |  - name: meta
        |    op: media_stats
        |    input: images
        |  - name: unique_pixels
        |    op: dedup_exact
        |    params: { column: pixel_md5 }
        |  - name: scored
        |    op: annotate
        |    params: { table: scores }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    def ids(name: String) = spark.read.parquet(s"$out/$name")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the re-encoded copies share their originals' pixel_md5 exactly —
    // min-id survivors are the originals
    assert(ids("unique_pixels") === (1L to 8L).toSet)
    val scored = spark.read.parquet(s"$out/scored")
    assert(scored.columns.contains("img_score"))
    val sc = scored.select("doc_id", "img_score").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sc(3L) === Some(4.5))
    assert(sc(7L) === None, "unannotated rows keep NULL")
  }

  test("pipeline filter_rows / keep_in / drop_in: restricted predicates and list joins") {
    val s = spark
    import s.implicits._
    val (src, out) = (tempDir(), tempDir())
    (1L to 20L).map(i => (i, s"doc $i body", if (i % 2 == 0) "en" else "de", i * 10))
      .toDF("doc_id", "text", "lang", "score")
      .write.parquet(s"$src/documents.parquet")
    Seq(2L, 4L, 6L, 12L).toDF("bad_id").write.parquet(s"$src/killlist.parquet")
    val yaml = Files.createTempFile("graft-pipe-filter", ".yaml")
    Files.writeString(yaml,
      """pipeline: filtered
        |id: doc_id
        |text: text
        |steps:
        |  - name: en_only
        |    op: filter_rows
        |    input: documents
        |    params: { column: lang, op: eq, value: en }
        |  - name: high_score
        |    op: filter_rows
        |    params: { column: score, op: ge, value: "100" }
        |  - name: survivors
        |    op: drop_in
        |    params: { table: killlist, column: doc_id, tableColumn: bad_id }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    def ids(name: String) = spark.read.parquet(s"$out/$name")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids("en_only") === (2L to 20L by 2).toSet)
    assert(ids("high_score") === (10L to 20L by 2).toSet)
    // the kill-list cuts 12; 2/4/6 were already gone at the score gate
    assert(ids("survivors") === Set(10L, 14L, 16L, 18L, 20L))
    // keep_in allowlist on a fresh chain
    val yaml2 = Files.createTempFile("graft-pipe-keepin", ".yaml")
    Files.writeString(yaml2,
      """pipeline: allow
        |id: doc_id
        |text: text
        |steps:
        |  - name: kept
        |    op: keep_in
        |    input: documents
        |    params: { table: killlist, column: doc_id, tableColumn: bad_id }
        |""".stripMargin)
    val out2 = tempDir()
    Cli.run(Seq("pipeline", yaml2.toString, src, out2), spark)
    assert(spark.read.parquet(s"$out2/kept").select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 4L, 6L, 12L))
    // a numeric value that does not parse is a loud error
    val yamlBad = Files.createTempFile("graft-pipe-filter-bad", ".yaml")
    Files.writeString(yamlBad,
      """pipeline: badval
        |id: doc_id
        |text: text
        |steps:
        |  - name: broken
        |    op: filter_rows
        |    input: documents
        |    params: { column: score, op: ge, value: high }
        |""".stripMargin)
    val ex = intercept[Exception] {
      Cli.run(Seq("pipeline", yamlBad.toString, src, tempDir()), spark)
    }
    assert(ex.getMessage.contains("does not parse"), ex.getMessage)
  }

  test("pipeline subcommand: spec errors fail loud before Spark starts") {
    def specError(body: String): String = {
      val yaml = Files.createTempFile("graft-pipe-bad", ".yaml")
      Files.writeString(yaml,
        s"pipeline: bad\nid: doc_id\ntext: text\nsteps:\n$body")
      val e = intercept[Cli.CliError] {
        Cli.run(Seq("pipeline", yaml.toString, sf("sf0.001"), tempDir()),
          fail("session must not be forced on a spec error"))
      }
      assert(e.code == 1)
      e.msg
    }
    assert(specError("  - { name: a, op: nope, input: documents }\n")
      .contains("unknown op"))
    assert(specError("  - { name: a, op: dedup_exact, input: documents, params: { frac: 1 } }\n")
      .contains("does not take param"))
    assert(specError(
      "  - { name: a, op: dedup_exact, input: b }\n" +
        "  - { name: b, op: dedup_exact, input: a }\n")
      .contains("cycle"))
    assert(specError("  - { name: a, op: dedup_exact }\n")
      .contains("first step must name an input"))
    // path traversal must be a spec error, not a write outside OUT_DIR
    assert(specError("  - { name: ../escape, op: dedup_exact, input: documents }\n")
      .contains("unsafe"))
    assert(specError("  - { name: a, op: dedup_exact, input: ../../etc }\n")
      .contains("unsafe"))
    // storeFrom is a STEP reference: a traversal is unsafe, a
    // misspelled/undeclared step name is a spec error — it must never
    // reach run time and initialize a fresh empty store at that path
    assert(specError(
      "  - name: due\n    op: recrawl\n    input: documents\n" +
        "    params: { mode: admit, now: \"1\", storeFrom: ../../x }\n")
      .contains("unsafe"))
    assert(specError(
      "  - name: due\n    op: recrawl\n    input: documents\n" +
        "    params: { mode: admit, now: \"1\", storeFrom: chnaged }\n")
      .contains("must name a declared step"))
  }

  test("pipeline subcommand: lm_score and decontaminate_bloom ops run in a chain") {
    val src = tempDir()
    val out = tempDir()
    val docs = sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
    docs.write.parquet(s"$src/documents.parquet")
    docs.orderBy("doc_id").limit(5).write.parquet(s"$src/bench_documents.parquet")
    val yaml = Files.createTempFile("graft-pipe-lm", ".yaml")
    Files.writeString(yaml,
      """pipeline: lm_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: clean
        |    op: decontaminate_bloom
        |    input: documents
        |    params: { benchmark: bench_documents, n: 8 }
        |  - name: scored
        |    op: lm_score
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    // bloom path drops the benchmark docs like the exact path does
    val cleanIds = spark.read.parquet(s"$out/clean")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!cleanIds.contains(
      docs.orderBy("doc_id").limit(1).collect()(0).getLong(0)))
    assert(cleanIds.nonEmpty)
    val scored = spark.read.parquet(s"$out/scored")
    assert(scored.columns.contains("doc_id"))
    assert(scored.count() == cleanIds.size, "self-referenced LM scores every input doc")
  }

  test("pipeline subcommand: classify trains on a labeled table, annotates and filters") {
    import spark.implicits._
    val (src, out) = (tempDir(), tempDir())
    Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the dog ate the bone"),
      (3L, "fr", "le chat et le chien"),
      (4L, "fr", "le pain et le vin")
    ).toDF("doc_id", "lang", "text").write.parquet(s"$src/labeled.parquet")
    Seq(
      (10L, "the cat and the dog"),
      (11L, "le chat le chien le pain"),
      (12L, "zzz qqq")
    ).toDF("doc_id", "text").write.parquet(s"$src/incoming.parquet")
    val yaml = Files.createTempFile("graft-pipe-classify", ".yaml")
    Files.writeString(yaml,
      """pipeline: classify_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: tagged
        |    op: classify
        |    input: incoming
        |    params: { trainFrom: labeled, label: lang }
        |  - name: english
        |    op: classify
        |    input: incoming
        |    params: { trainFrom: labeled, label: lang, keepLabel: en }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val tagged = spark.read.parquet(s"$out/tagged")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("label_pred")).toMap
    // matches the direct operator path exactly
    val direct = graft.operators.Classify.nearestProfile(
      spark.read.parquet(s"$src/incoming.parquet"), "doc_id", "text",
      graft.operators.Classify.classProfiles(
        spark.read.parquet(s"$src/labeled.parquet"), "lang", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tagged === direct)
    assert(tagged(10L) === "en" && tagged(11L) === "fr")
    // keepLabel filters to the predicted class, annotation retained
    val en = spark.read.parquet(s"$out/english")
    assert(en.select("doc_id").collect().map(_.getLong(0)).toSet ===
      tagged.collect { case (id, "en") => id }.toSet)
    assert(en.columns.contains("label_pred") && en.columns.contains("score"))
    // features: chars — the char-trigram lang-ID configuration equals
    // the direct operator path
    val charYaml = Files.createTempFile("graft-pipe-classify-chars", ".yaml")
    Files.writeString(charYaml,
      """pipeline: classify_chars
        |id: doc_id
        |text: text
        |steps:
        |  - name: tagged
        |    op: classify
        |    input: incoming
        |    params: { trainFrom: labeled, label: lang, features: chars, n: "3" }
        |""".stripMargin)
    val charOut = tempDir()
    Cli.run(Seq("pipeline", charYaml.toString, src, charOut), spark)
    val charTagged = spark.read.parquet(s"$charOut/tagged")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("label_pred")).toMap
    val charDirect = graft.operators.Classify.nearestProfileChars(
      spark.read.parquet(s"$src/incoming.parquet"), "doc_id", "text",
      graft.operators.Classify.charNgramProfiles(
        spark.read.parquet(s"$src/labeled.parquet"), "lang", "text", n = 3), n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(charTagged === charDirect)
    assert(charTagged(11L) === "fr")
    // a keepLabel absent from the training labels fails loudly
    val badYaml = Files.createTempFile("graft-pipe-classify-bad", ".yaml")
    Files.writeString(badYaml,
      """pipeline: classify_bad
        |id: doc_id
        |text: text
        |steps:
        |  - name: oops
        |    op: classify
        |    input: incoming
        |    params: { trainFrom: labeled, label: lang, keepLabel: klingon }
        |""".stripMargin)
    val ex = intercept[Exception] {
      Cli.run(Seq("pipeline", badYaml.toString, src, tempDir()), spark)
    }
    assert(ex.getMessage.contains("keepLabel"), ex.getMessage)
  }

  // ------------------------------------------------------------ incremental pipeline mode

  test("pipeline --state: exact + near admission across two runs equals the full rebuild") {
    import spark.implicits._
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    val w15 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar"
    val t3  = "papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu nine eight seven six"
    val t4  = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat today"
    val t6  = "red green blue yellow purple orange pink brown black white silver gold cyan magenta teal"
    val t9  = "north south east west up down left right forward backward inward outward over under through"
    def lastWordSwap(s: String, w: String) = s.split(" ").dropRight(1).mkString(" ") + " " + w
    val batch1 = Seq(
      1L -> w15, 2L -> w15,                    // exact dup pair
      3L -> t3,
      4L -> t4, 5L -> lastWordSwap(t4, "now"), // in-batch near-dup pair
      6L -> t6).toDF("doc_id", "text")
    val batch2 = Seq(
      7L -> t3,                                // exact dup of admitted 3
      8L -> lastWordSwap(t6, "gray"),          // near-dup of admitted 6
      9L -> t9, 10L -> t9).toDF("doc_id", "text")
    val yaml = Files.createTempFile("graft-pipe-admit", ".yaml")
    Files.writeString(yaml,
      """pipeline: admit_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: admitted
        |    op: dedup_exact
        |    input: batch
        |    params: { mode: admit, buckets: 8 }
        |  - name: neared
        |    op: dedup_near
        |    params: { mode: admit, buckets: 8, minJaccard: 0.5 }
        |""".stripMargin)
    batch1.write.parquet(s"$src/batch.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out1, "--state", state), spark)
    def ids(p: String) = spark.read.parquet(p).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids(s"$out1/admitted") === Set(1L, 3L, 4L, 5L, 6L))
    assert(ids(s"$out1/neared") === Set(1L, 3L, 4L, 6L))
    // second run, second batch through the SAME yaml + state
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch.parquet"))
    batch2.write.parquet(s"$src/batch.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out2, "--state", state), spark)
    assert(ids(s"$out2/admitted") === Set(8L, 9L))
    assert(ids(s"$out2/neared") === Set(9L))
    // union of the two admitted outputs equals the FULL rebuild over
    // the concatenated corpus (exact: min-id per fingerprint; near:
    // one survivor per near-dup clique)
    val all = batch1.unionByName(batch2)
    val fullExact = all.join(
      graft.operators.Dedup.exact(all, "doc_id", "text")
        .select(org.apache.spark.sql.functions.col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val fullNear = graft.operators.Dedup.survivors(fullExact, "doc_id",
      graft.operators.Dedup.minhashLshPairs(fullExact, "doc_id", "text", 3, 64, 4, 0.5, 1000))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(s"$out1/neared") ++ ids(s"$out2/neared") === fullNear)
    // the state advanced exactly one batch per run
    assert(Files.readString(Paths.get(state, "_graft_next_batch")).trim == "2")
  }

  test("pipeline --state: examples/nightly_admission.yaml runs two nights end-to-end") {
    import spark.implicits._
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    val night1 = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      2L -> "COOKIE BANNER\ncompletely original article body number two with plenty of words",
      3L -> "COOKIE BANNER\nanother original piece of writing about something else entirely here")
      .toDF("doc_id", "text")
    val night2 = Seq(
      4L -> "the quick brown fox jumps over the lazy dog near the river bank today", // exact resend
      5L -> "fresh new content from the second night with no overlap whatsoever at all")
      .toDF("doc_id", "text")
    night1.write.parquet(s"$src/batch.parquet")
    Cli.run(Seq("pipeline", "examples/nightly_admission.yaml", src, out1,
      "--state", state, "--compact-state"), spark)
    def ids(p: String) = spark.read.parquet(p).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids(s"$out1/budgeted") === Set(1L, 2L, 3L))
    // the shared banner line was stripped by corpus-wide df
    val t1 = spark.read.parquet(s"$out1/stripped").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(!t1(2L).contains("COOKIE BANNER") && !t1(3L).contains("COOKIE BANNER"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch.parquet"))
    night2.write.parquet(s"$src/batch.parquet")
    Cli.run(Seq("pipeline", "examples/nightly_admission.yaml", src, out2,
      "--state", state, "--compact-state"), spark)
    // the resent doc is rejected by exact admission; the fresh one flows
    assert(ids(s"$out2/budgeted") === Set(5L))
  }

  test("pipeline --state: examples/nightly_admission.yaml over empty nights, cold and warm") {
    import spark.implicits._
    val (src, state) = (tempDir(), tempDir())
    val steps = Seq("validated", "admitted", "stripped", "novel", "budgeted")
    def night(batch: org.apache.spark.sql.DataFrame): String = {
      val out = tempDir()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch.parquet"))
      batch.write.parquet(s"$src/batch.parquet")
      Cli.run(Seq("pipeline", "examples/nightly_admission.yaml", src, out,
        "--state", state), spark)
      out
    }
    def nextBatch = Files.readString(Paths.get(state, "_graft_next_batch")).trim
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def assertEmptyNight(out: String, budgetedCols: Seq[String]): Unit = {
      for (s <- steps) {
        val t = spark.read.parquet(s"$out/$s")
        assert(t.count() === 0L, s"$s wrote rows")
        assert(t.columns.toSeq === (if (s == "budgeted") budgetedCols else Seq("doc_id", "text")),
          s"$s columns")
      }
      val manifest = Files.readString(Paths.get(out, "pipeline_manifest.json"))
      for (s <- steps)
        assert(s""""name":"$s"[^}]*"in_rows":0,"rows":0,""".r.findFirstIn(manifest).nonEmpty,
          s"manifest for $s is not in_rows = rows = 0:\n$manifest")
    }
    // cold: every store bootstraps empty, nothing reads back
    val cold = night(empty)
    assert(nextBatch === "1")
    val warm = night(Seq(1L -> "a first document with enough words to admit here",
      2L -> "a second document, different words entirely from the first").toDF("doc_id", "text"))
    assert(nextBatch === "2")
    val budgetedCols = spark.read.parquet(s"$warm/budgeted").columns.toSeq
    assertEmptyNight(cold, budgetedCols)
    // warm: the sinks hold earlier batches but none for this one
    assertEmptyNight(night(empty), budgetedCols)
    assert(nextBatch === "3")
  }

  test("pipeline --state: change_detect keep: all on an empty night keeps its column types") {
    import spark.implicits._
    val (src, state, out) = (tempDir(), tempDir(), tempDir())
    val yaml = Files.createTempFile("graft-pipe-empty-cd", ".yaml")
    Files.writeString(yaml,
      """pipeline: fresh_content
        |id: doc_id
        |text: text
        |steps:
        |  - name: changed
        |    op: change_detect
        |    input: pages
        |    params: { mode: admit, url: url, now: "1700000000", buckets: "8",
        |              keep: all }
        |""".stripMargin)
    Seq.empty[(Long, String, String)].toDF("doc_id", "url", "text")
      .write.parquet(s"$src/pages.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out, "--state", state), spark)
    val changed = spark.read.parquet(s"$out/changed")
    assert(changed.count() === 0L)
    assert(changed.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq === Seq(
      "doc_id" -> "bigint", "url" -> "string", "text" -> "string",
      "change_kind" -> "string", "content_changed" -> "boolean",
      "content_fp" -> "string", "content_fp_ts" -> "bigint"))
    assert(Files.readString(Paths.get(state, "_graft_next_batch")).trim === "1")
  }

  test("pipeline --state: dedup_winnow admit rejects cross-batch local overlap") {
    import spark.implicits._
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    val run = "p q r s t u v w x y"  // 10 shared tokens >= w + n - 1
    val batch1 = Seq(
      1L -> s"alpha beta $run gamma delta epsilon",
      2L -> "one two three four five six seven eight nine ten").toDF("doc_id", "text")
    val batch2 = Seq(
      3L -> s"completely different framing yet containing $run inside it somewhere",
      4L -> "red orange yellow green blue indigo violet cyan magenta amber").toDF("doc_id", "text")
    val yaml = Files.createTempFile("graft-pipe-winadmit", ".yaml")
    Files.writeString(yaml,
      """pipeline: winnow_admit
        |id: doc_id
        |text: text
        |steps:
        |  - name: admitted
        |    op: dedup_winnow
        |    input: batch
        |    params: { mode: admit, buckets: 8, minShared: 1 }
        |""".stripMargin)
    batch1.write.parquet(s"$src/batch.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out1, "--state", state), spark)
    def ids(p: String) = spark.read.parquet(p).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids(s"$out1/admitted") === Set(1L, 2L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch.parquet"))
    batch2.write.parquet(s"$src/batch.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out2, "--state", state), spark)
    // doc 3 shares the >= w+n-1 token run with admitted doc 1 — the
    // winnowing guarantee makes the rejection deterministic at
    // minShared 1; doc 4 is novel
    assert(ids(s"$out2/admitted") === Set(4L))
  }

  test("pipeline --state: line_dedup against_store strips with corpus-wide line df") {
    import spark.implicits._
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    val batch1 = Seq(
      1L -> "BOILER\nunique one\nFOOTER",
      2L -> "BOILER\nunique two").toDF("doc_id", "text")
    val batch2 = Seq(
      3L -> "FOOTER\nunique three",
      4L -> "unique four").toDF("doc_id", "text")
    val yaml = Files.createTempFile("graft-pipe-linestore", ".yaml")
    Files.writeString(yaml,
      """pipeline: line_store
        |id: doc_id
        |text: text
        |steps:
        |  - name: stripped
        |    op: line_dedup
        |    input: batch
        |    params: { mode: against_store, minDf: 2 }
        |""".stripMargin)
    batch1.write.parquet(s"$src/batch.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out1, "--state", state), spark)
    def texts(p: String) = spark.read.parquet(p).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // BOILER is hot within batch1 (df 2); FOOTER is df 1 so far — kept
    assert(texts(s"$out1/stripped") ===
      Map(1L -> "unique one\nFOOTER", 2L -> "unique two"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch.parquet"))
    batch2.write.parquet(s"$src/batch.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out2, "--state", state), spark)
    // FOOTER reached corpus-wide df 2 by batch2 — stripped from doc 3,
    // exactly the rows a full rebuild produces for batch2's docs
    assert(texts(s"$out2/stripped") ===
      Map(3L -> "unique three", 4L -> "unique four"))
    val full = graft.operators.Dedup.lineDedup(
      batch1.unionByName(batch2), "doc_id", "text", 2)
    assert(full.filter(org.apache.spark.sql.functions.col("doc_id") >= 3L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_clean")).toMap
      === texts(s"$out2/stripped"))
    // --compact-state folds committed batch summaries into the
    // bootstrap partition without changing the corpus-wide df: a third
    // run with the flag compacts, then behaves identically
    val batch3 = Seq(5L -> "FOOTER\nunique five").toDF("doc_id", "text")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch.parquet"))
    batch3.write.parquet(s"$src/batch.parquet")
    val out3 = tempDir()
    Cli.run(Seq("pipeline", yaml.toString, src, out3,
      "--state", state, "--compact-state"), spark)
    // FOOTER had corpus df 2 before this batch — stripped from doc 5
    assert(texts(s"$out3/stripped") === Map(5L -> "unique five"))
    val parts = new java.io.File(s"$state/stripped/line_df").listFiles()
      .map(_.getName).filter(_.startsWith("__batch_id=")).sorted.toSeq
    assert(parts === Seq("__batch_id=-1"), s"got $parts")
    // and the compacted store still answers: a fourth batch re-using a
    // folded boilerplate line gets stripped
    val batch4 = Seq(6L -> "BOILER\nunique six").toDF("doc_id", "text")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch.parquet"))
    batch4.write.parquet(s"$src/batch.parquet")
    val out4 = tempDir()
    Cli.run(Seq("pipeline", yaml.toString, src, out4, "--state", state), spark)
    assert(texts(s"$out4/stripped") === Map(6L -> "unique six"))
  }

  test("pipeline --state: sessionize incremental + moments merge equal the full rebuild") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    val batch1 = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), BigDecimal("1.500000")),
      (2L, 10L, ts("2024-01-01 10:10:00"), BigDecimal("2.250000")),
      (3L, 20L, ts("2024-01-01 09:00:00"), BigDecimal("4.000000")))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("value", col("value").cast("decimal(18,6)"))
    val batch2 = Seq(
      (4L, 10L, ts("2024-01-01 10:40:00"), BigDecimal("0.750000")), // continues 10's session
      (5L, 20L, ts("2024-01-01 12:00:00"), BigDecimal("1.000000")), // new session for 20
      (6L, 30L, ts("2024-01-01 11:00:00"), BigDecimal("3.000000"))) // fresh entity
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("value", col("value").cast("decimal(18,6)"))
    val yaml = Files.createTempFile("graft-pipe-maint", ".yaml")
    Files.writeString(yaml,
      """pipeline: maint_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: sessions
        |    op: sessionize
        |    input: batch_events
        |    params: { entity: user_id, ts: ts, tie: event_id, value: value,
        |              gapSeconds: 3600, mode: incremental }
        |  - name: mom
        |    op: moments
        |    input: batch_events
        |    params: { cols: value, mode: merge }
        |""".stripMargin)
    batch1.write.parquet(s"$src/batch_events.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out1, "--state", state), spark)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch_events.parquet"))
    batch2.write.parquet(s"$src/batch_events.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out2, "--state", state), spark)
    val all = batch1.unionByName(batch2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // maintained session table after run 2 == full rebuild over union
    assert(rows(spark.read.parquet(s"$out2/sessions")) ===
      rows(graft.operators.Sessions.buildSessionTable(
        all, "user_id", "ts", "event_id", "value", 3600L)))
    // merged moments after run 2 == full-corpus moments (exact decimal)
    val wantMoments = graft.operators.Profile.mergeMoments(
      graft.operators.Profile.moments(all, Seq("value")),
      graft.operators.Profile.moments(all, Seq("value")).limit(0))
    assert(rows(spark.read.parquet(s"$out2/mom")) === rows(wantMoments))
    // a third batch: result still equals the full rebuild, and the
    // session-store versions GC down to the last two (a rerun of batch
    // N reads only v(N-1) — older versions must not accumulate)
    val batch3 = Seq(
      (7L, 30L, ts("2024-01-01 15:00:00"), BigDecimal("2.000000")))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("value", col("value").cast("decimal(18,6)"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch_events.parquet"))
    batch3.write.parquet(s"$src/batch_events.parquet")
    val out3 = tempDir()
    Cli.run(Seq("pipeline", yaml.toString, src, out3, "--state", state), spark)
    assert(rows(spark.read.parquet(s"$out3/sessions")) ===
      rows(graft.operators.Sessions.buildSessionTable(
        all.unionByName(batch3), "user_id", "ts", "event_id", "value", 3600L)))
    val versions = new java.io.File(s"$state/sessions").listFiles()
      .map(_.getName).filter(_.startsWith("sessions_v")).sorted.toSeq
    assert(versions === Seq("sessions_v1", "sessions_v2"), s"got $versions")
    // --compact-state folds the moment partials exactly: one more run
    // with the flag, totals still equal the full-corpus moments
    val batch4 = Seq(
      (8L, 30L, ts("2024-01-01 18:00:00"), BigDecimal("5.500000")))
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("value", col("value").cast("decimal(18,6)"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/batch_events.parquet"))
    batch4.write.parquet(s"$src/batch_events.parquet")
    val out4 = tempDir()
    Cli.run(Seq("pipeline", yaml.toString, src, out4,
      "--state", state, "--compact-state"), spark)
    val parts = new java.io.File(s"$state/mom/moments").listFiles()
      .map(_.getName).filter(_.startsWith("__batch_id=")).sorted.toSeq
    assert(parts === Seq("__batch_id=-1"), s"got $parts")
    val all4 = all.unionByName(batch3).unionByName(batch4)
    val want4 = graft.operators.Profile.mergeMoments(
      graft.operators.Profile.moments(all4, Seq("value")),
      graft.operators.Profile.moments(all4, Seq("value")).limit(0))
    assert(rows(spark.read.parquet(s"$out4/mom")) === rows(want4))
  }

  test("pipeline --state: lm_score chains into dedup_near keep: best via scoreFrom") {
    import spark.implicits._
    val (src, out) = (tempDir(), tempDir())
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat today"
    val docs = Seq(
      1L -> base,
      2L -> (base.split(" ").dropRight(1).mkString(" ") + " tonight"), // near-dup of 1
      3L -> "completely different content with no overlap whatsoever in any shingle at all here now"
    ).toDF("doc_id", "text")
    docs.write.parquet(s"$src/corpus.parquet")
    val yaml = Files.createTempFile("graft-pipe-best", ".yaml")
    Files.writeString(yaml,
      """pipeline: best_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: scored
        |    op: lm_score
        |    input: corpus
        |  - name: besties
        |    op: dedup_near
        |    input: corpus
        |    params: { keep: best, scoreFrom: scored, scoreCol: mean_p, minJaccard: 0.5 }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val kept = spark.read.parquet(s"$out/besties")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the {1,2} near-dup cluster keeps exactly its best-scored member
    val scores = spark.read.parquet(s"$out/scored")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_p")).toMap
    val bestOf12 = if (scores(1L) >= scores(2L)) 1L else 2L
    assert(kept === Set(bestOf12, 3L), s"scores: $scores")
  }

  test("pipeline subcommand: dedup_winnow drops the shared-run copy, keeps the longest") {
    import spark.implicits._
    val (src, out) = (tempDir(), tempDir())
    val run = "p q r s t u v w"   // >= w + n - 1 = 8 shared tokens
    val docs = Seq(
      1L -> s"alpha beta $run gamma",
      2L -> s"one two three $run four five six seven eight nine ten", // longest copy
      3L -> "totally unrelated text with nothing shared here at all today"
    ).toDF("doc_id", "text")
    docs.write.parquet(s"$src/corpus.parquet")
    val yaml = Files.createTempFile("graft-pipe-winnow", ".yaml")
    Files.writeString(yaml,
      """pipeline: winnow_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: kept
        |    op: dedup_winnow
        |    input: corpus
        |    params: { minShared: 1, keep: longest }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val kept = spark.read.parquet(s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L))
  }

  test("pipeline media steps: image/audio/video full dedup equals the direct operators") {
    import org.apache.spark.sql.functions.{col, count, lit}
    import graft.operators.{Dedup, Multimodal}
    val (src, out) = (tempDir(), tempDir())
    val ids = spark.range(0, 6).select(col("id").as("doc_id"))
    val imgs = Multimodal.syntheticImages(ids, "doc_id")
    val imgAll = imgs.unionByName(
      Multimodal.reencodeScaled(imgs, factor = 2, idOffset = 1000000L))
    imgAll.withColumn("text", lit("img")).write.parquet(s"$src/images.parquet")
    val auds = Multimodal.syntheticAudioVaried(ids, "doc_id")
    val audAll = auds.unionByName(
      Multimodal.reencodeAttenuated(auds, shift = 1, idOffset = 1000000L))
    audAll.withColumn("text", lit("aud")).write.parquet(s"$src/clips.parquet")
    val vids = Multimodal.syntheticAviVideos(ids, "doc_id") // real RIFF/AVI bytes
    val vidAll = vids.unionByName(
      Multimodal.reencodeScaledVideo(vids, factor = 2, idOffset = 1000000L))
    vidAll.withColumn("text", lit("vid")).write.parquet(s"$src/videos.parquet")
    val yaml = Files.createTempFile("graft-pipe-media", ".yaml")
    Files.writeString(yaml,
      """pipeline: media_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: img_kept
        |    op: dedup_image
        |    input: images
        |  - name: aud_kept
        |    op: dedup_audio
        |    input: clips
        |  - name: vid_kept
        |    op: dedup_video
        |    input: videos
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    def got(name: String) = spark.read.parquet(s"$out/$name")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val copies = (1000000L to 1000005L).toSet
    // image: min-id survivor per dHash hamming component
    val ih = Multimodal.dHash(imgAll).toDF().select(col("doc_id"), col("dhash"))
    val imgExpect = Dedup.survivors(ih, "doc_id",
        Dedup.hamming64Pairs(ih, "doc_id", "dhash", 3, 1000))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got("img_kept") === imgExpect)
    assert(imgExpect.intersect(copies).isEmpty, "every rescaled image copy pairs away")
    // audio: min-id survivor per fingerprint hamming component
    val ah = Multimodal.audioFingerprint(audAll).toDF().select(col("doc_id"), col("afp"))
    val audExpect = Dedup.survivors(ah, "doc_id",
        Dedup.hamming64Pairs(ah, "doc_id", "afp", 3, 1000))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got("aud_kept") === audExpect)
    assert(audExpect.intersect(copies).isEmpty, "every attenuated clip copy pairs away")
    // video: min-id survivor per >= 1/2 frame-set-overlap component
    val vs = Multimodal.videoFrameHashes(vidAll).toDF()
      .select(col("doc_id"), col("dhash_hex").as("fp")).distinct()
    val sizes = vs.groupBy("doc_id").agg(count(lit(1)).as("__nf"))
    val vPairs = Dedup.winnowPairsFromFps(vs, "doc_id", 1L, 1000)
      .join(sizes.select(col("doc_id").as("doc_a"), col("__nf").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("__nf").as("n_b")), "doc_b")
      .filter(col("shared") * 3 >= col("n_a") + col("n_b"))
    val vidExpect = Dedup.survivors(vidAll.select("doc_id"), "doc_id", vPairs)
      .collect().map(_.getLong(0)).toSet
    assert(got("vid_kept") === vidExpect)
    assert(vidExpect.intersect(copies).isEmpty, "every transcoded video copy pairs away")
  }

  test("pipeline --state: image + audio admission rejects transcodes of admitted media") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Multimodal
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    def imgs(lo: Long, hi: Long) = Multimodal.syntheticImages(
      spark.range(lo, hi).select(col("id").as("doc_id")), "doc_id")
    def auds(lo: Long, hi: Long) = Multimodal.syntheticAudioVaried(
      spark.range(lo, hi).select(col("id").as("doc_id")), "doc_id")
    val yaml = Files.createTempFile("graft-pipe-media-admit", ".yaml")
    Files.writeString(yaml,
      """pipeline: media_admit
        |id: doc_id
        |text: text
        |steps:
        |  - name: img_admitted
        |    op: dedup_image
        |    input: images
        |    params: { mode: admit, buckets: 8 }
        |  - name: aud_admitted
        |    op: dedup_audio
        |    input: clips
        |    params: { mode: admit, buckets: 8 }
        |""".stripMargin)
    // batch 1: originals 0..3 plus an in-batch rescaled copy of 0
    val img1 = imgs(0, 4).unionByName(
      Multimodal.reencodeScaled(imgs(0, 1), factor = 2, idOffset = 1000000L))
    val aud1 = auds(0, 4).unionByName(
      Multimodal.reencodeAttenuated(auds(0, 1), shift = 1, idOffset = 1000000L))
    img1.withColumn("text", lit("i")).write.parquet(s"$src/images.parquet")
    aud1.withColumn("text", lit("a")).write.parquet(s"$src/clips.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out1, "--state", state), spark)
    def got(out: String, name: String) = spark.read.parquet(s"$out/$name")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got(out1, "img_admitted") === Set(0L, 1L, 2L, 3L))
    assert(got(out1, "aud_admitted") === Set(0L, 1L, 2L, 3L))
    // batch 2: transcodes of ADMITTED 1 and 2 reject against the
    // store without re-decoding the corpus; fresh 10..11 admit
    val img2 = imgs(10, 12).unionByName(
      Multimodal.reencodeScaled(imgs(1, 3), factor = 2, idOffset = 2000000L))
    val aud2 = auds(10, 12).unionByName(
      Multimodal.reencodeAttenuated(auds(1, 3), shift = 1, idOffset = 2000000L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/images.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/clips.parquet"))
    img2.withColumn("text", lit("i")).write.parquet(s"$src/images.parquet")
    aud2.withColumn("text", lit("a")).write.parquet(s"$src/clips.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out2, "--state", state), spark)
    assert(got(out2, "img_admitted") === Set(10L, 11L))
    assert(got(out2, "aud_admitted") === Set(10L, 11L))
    assert(Files.readString(Paths.get(state, "_graft_next_batch")).trim == "2")
  }

  test("pipeline --state: video admission rejects trims/transcodes of admitted videos") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.Multimodal
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    // real RIFF/AVI payloads through the whole admission chain
    def vids(ids: Seq[Long]) =
      Multimodal.syntheticAviVideos(ids.toDF("doc_id"), "doc_id")
    // same frame line in the legacy length-prefixed container — the
    // store is frame-hash keyed, so container MUST NOT matter
    def legacyVids(ids: Seq[Long]) =
      Multimodal.syntheticVideos(ids.toDF("doc_id"), "doc_id")
    val yaml = Files.createTempFile("graft-pipe-video-admit", ".yaml")
    Files.writeString(yaml,
      """pipeline: video_admit
        |id: doc_id
        |text: text
        |steps:
        |  - name: vid_admitted
        |    op: dedup_video
        |    input: videos
        |    params: { mode: admit, buckets: 8 }
        |""".stripMargin)
    // batch 1: videos 2 + 20 plus an in-batch transcode of 2 (min-id
    // 2 survives the pair)
    vids(Seq(2L, 20L))
      .unionByName(Multimodal.reencodeScaledVideo(
        vids(Seq(2L)), factor = 2, idOffset = 1000000L))
      .withColumn("text", lit("v")).write.parquet(s"$src/videos.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out1, "--state", state), spark)
    def got(out: String) = spark.read.parquet(s"$out/vid_admitted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got(out1) === Set(2L, 20L))
    // batch 2: trim-shaped video 3 (frame subset of ADMITTED 2 — sent
    // in the LEGACY container to prove the store is container-blind)
    // and an AVI transcode of ADMITTED 20 both reject against the
    // store without re-demuxing the corpus; frame-disjoint 40 admits
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/videos.parquet"))
    legacyVids(Seq(3L)).unionByName(vids(Seq(40L)))
      .unionByName(Multimodal.reencodeScaledVideo(
        vids(Seq(20L)), factor = 2, idOffset = 2000000L))
      .withColumn("text", lit("v")).write.parquet(s"$src/videos.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out2, "--state", state), spark)
    assert(got(out2) === Set(40L))
    assert(Files.readString(Paths.get(state, "_graft_next_batch")).trim == "2")
  }

  test("pipeline --state: change_detect suppresses unchanged re-fetches — downstream admission sees only changed pages") {
    val s = spark
    import s.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    val yaml = Files.createTempFile("graft-pipe-changed", ".yaml")
    Files.writeString(yaml,
      """pipeline: fresh_content
        |id: doc_id
        |text: text
        |steps:
        |  - name: changed
        |    op: change_detect
        |    input: pages
        |    params: { mode: admit, url: url, now: "1700000000", buckets: "8" }
        |  - name: admitted
        |    op: dedup_exact
        |    params: { mode: admit, buckets: "8" }
        |""".stripMargin)
    // night 1: two fresh pages — both new, both flow downstream
    Seq(
      (1L, "http://h/a", "alpha content one"),
      (2L, "http://h/b", "beta content two"))
      .toDF("doc_id", "url", "text").write.parquet(s"$src/pages.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out1, "--state", state), spark)
    def ids(out: String, step: String) = spark.read.parquet(s"$out/$step")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(out1, "changed") === Set(1L, 2L))
    assert(ids(out1, "admitted") === Set(1L, 2L))
    // snapshot the downstream admission store's files: the unchanged
    // page must not cause ANY partition of it to rewrite on night 2
    def storeFiles(): Map[String, Long] = {
      val root = Paths.get(state, "admitted", "fingerprints")
      val st = Files.walk(root)
      try st.filter(p => Files.isRegularFile(p)).iterator().asScala
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally st.close()
    }
    val before = storeFiles()
    // night 2: /a revised, /b re-fetched byte-identical
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/pages.parquet"))
    Seq(
      (1L, "http://h/a", "alpha content REVISED"),
      (2L, "http://h/b", "beta content two"))
      .toDF("doc_id", "url", "text").write.parquet(s"$src/pages.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out2, "--state", state), spark)
    // only the changed page passes change_detect and reaches admission
    assert(ids(out2, "changed") === Set(1L))
    assert(spark.read.parquet(s"$out2/changed")
      .select("change_kind").collect().map(_.getString(0)).toSeq === Seq("changed"))
    assert(ids(out2, "admitted") === Set(1L))
    // the annotated sink records the suppressed page as unchanged
    val sink2 = spark.read.parquet(s"$state/changed/changed")
      .filter(col("__batch_id") === 1L)
      .select("doc_id", "change_kind").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sink2 === Map(1L -> "changed", 2L -> "unchanged"))
    // downstream store partitions: only the changed page's bucket
    // rewrote — every file that changed or appeared belongs to a
    // bucket, and exactly one bucket dir was touched (page /b never
    // reached the store)
    val after = storeFiles()
    def buckets(paths: Iterable[String]): Set[String] =
      paths.flatMap(_.split("/").find(_.startsWith("__kb="))).toSet
    val touched = (after.keySet -- before.keySet) ++
      after.keySet.intersect(before.keySet).filter(p => after(p) != before(p))
    assert(buckets(touched).size === 1,
      s"expected exactly one rewritten bucket, got ${buckets(touched)}")
  }

  test("pipeline --state: change_detect sink schema evolution — a pre-upgrade partition lacking content_fp_ts must not NULL the current batch's values") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val (src, state) = (tempDir(), tempDir())
    val (out1, out2) = (tempDir(), tempDir())
    val yaml = Files.createTempFile("graft-pipe-evolve", ".yaml")
    Files.writeString(yaml,
      """pipeline: fresh_content
        |id: doc_id
        |text: text
        |steps:
        |  - name: changed
        |    op: change_detect
        |    input: pages
        |    params: { mode: admit, url: url, now: "1700000000", buckets: "8",
        |              keep: all }
        |""".stripMargin)
    Seq((1L, "http://h/a", "alpha one"), (2L, "http://h/b", "beta two"))
      .toDF("doc_id", "url", "text").write.parquet(s"$src/pages.parquet")
    Cli.run(Seq("pipeline", yaml.toString, src, out1, "--state", state), spark)
    // simulate a PRE-UPGRADE sink: batch 0's partition rewritten without
    // content_fp_ts (as old code would have written it). With
    // mergeSchema off, parquet inference sampling this older file would
    // drop the column from the whole read and the CURRENT batch's real
    // values would silently read back as NULL.
    val part0 = s"$state/changed/changed/__batch_id=0"
    val oldRows = spark.read.parquet(part0).drop("content_fp_ts")
    val tmpOld = tempDir()
    oldRows.write.parquet(s"$tmpOld/p0")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(part0))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$tmpOld/p0"), new java.io.File(part0))
    // night 2 at a later now: /a revised — its fp_ts must be the REAL
    // batch instant, not a schema-inference NULL
    val yaml2 = Files.createTempFile("graft-pipe-evolve2", ".yaml")
    Files.writeString(yaml2,
      Files.readString(yaml).replace("1700000000", "1700086400"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/pages.parquet"))
    Seq((1L, "http://h/a", "alpha REVISED"), (2L, "http://h/b", "beta two"))
      .toDF("doc_id", "url", "text").write.parquet(s"$src/pages.parquet")
    Cli.run(Seq("pipeline", yaml2.toString, src, out2, "--state", state), spark)
    val changed = spark.read.parquet(s"$out2/changed")
      .select("doc_id", "content_fp_ts").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // content_fp_ts is the PREVIOUS payload-bearing capture's instant
    // (what a revisit's Refers-To-Date points at) — night 1's ts for
    // both rows here. NULLs mean the old partition's schema won
    // inference and ate the current batch's real values.
    assert(changed === Map(1L -> Some(1700000000L), 2L -> Some(1700000000L)),
      s"current batch's content_fp_ts must survive the old partition's schema: $changed")
  }

  test("pipeline --state: adaptive recrawl over a shared change_detect store — stable pages back off, changed pages re-enter") {
    val s = spark
    import s.implicits._
    val (src, state) = (tempDir(), tempDir())
    val T1 = 1700000000L
    val Day = 86400L
    // one store serves both loops: change_detect maintains fingerprints
    // + unchanged streaks in $state/changed/lastfetch; the recrawl step
    // reads THE SAME store via storeFrom, so streaks written by change
    // detection drive the adaptive revisit interval
    def spec(now: Long) = {
      val y = Files.createTempFile("graft-pipe-adaptive", ".yaml")
      Files.writeString(y,
        s"""pipeline: fresh_adaptive
           |id: doc_id
           |text: text
           |steps:
           |  - name: changed
           |    op: change_detect
           |    input: pages
           |    params: { mode: admit, url: url, now: "$now", buckets: "8" }
           |  - name: due
           |    op: recrawl
           |    input: listings
           |    params: { mode: admit, adaptive: "true", storeFrom: changed,
           |              url: url, now: "$now", defaultAge: "$Day", buckets: "8" }
           |""".stripMargin)
      y.toString
    }
    def night(now: Long, out: String, pages: Seq[(Long, String, String)]): Set[String] = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$src/pages.parquet"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$src/listings.parquet"))
      pages.toDF("doc_id", "url", "text").write.parquet(s"$src/pages.parquet")
      Seq((1L, "http://h/a", "t")).toDF("doc_id", "url", "text")
        .write.parquet(s"$src/listings.parquet")
      Cli.run(Seq("pipeline", spec(now), src, out, "--state", state), spark)
      val dueDir = new java.io.File(s"$out/due")
      if (!dueDir.isDirectory) Set.empty
      else spark.read.parquet(s"$out/due")
        .select("url").collect().map(_.getString(0)).toSet
    }
    // night 1: nothing fetched yet; /a lists as new -> due
    assert(night(T1, tempDir(), Seq.empty) === Set("http://h/a"))
    // nights 2-4: each night the PREVIOUS night's frontier was fetched;
    // /a's content never changes, so its unchanged streak climbs
    // (night 2 records the first fingerprint = 'new', streak 0;
    // night 3 = unchanged, streak 1 — but same-batch self-exclusion
    // means the recrawl step always schedules against LAST night's
    // state, so nights 2 and 3 still re-admit at the base interval)
    assert(night(T1 + Day + 100, tempDir(),
      Seq((1L, "http://h/a", "same content"))) === Set("http://h/a"))
    assert(night(T1 + 2 * (Day + 100), tempDir(),
      Seq((1L, "http://h/a", "same content"))) === Set("http://h/a"))
    // night 4: last night's visible streak is 1 -> interval 2 days;
    // /a was fetched ~1 day ago -> SUPPRESSED
    val N4 = T1 + 3 * (Day + 100)
    assert(night(N4, tempDir(),
      Seq((1L, "http://h/a", "same content"))) === Set.empty)
    // night 5: streak 2 now visible -> interval 4 days; /a's last
    // fetch stamp is night 4's, so 4+ days later it ages out anyway —
    // backoff stretches the revisit, it never retires the page
    val N5 = N4 + 4 * Day + 100
    assert(night(N5, tempDir(), Seq.empty) === Set("http://h/a"))
    // night 6: the re-fetch finally CHANGED — the streak resets, but
    // tonight's schedule still sees last night's streak (same-batch
    // self-exclusion), so one day later /a is still inside the old
    // 4-day window
    val N6 = N5 + Day + 100
    assert(night(N6, tempDir(),
      Seq((1L, "http://h/a", "REVISED content"))) === Set.empty)
    // night 7: the reset is visible — base interval again, one day
    // stale -> due
    assert(night(N6 + Day + 100, tempDir(), Seq.empty) === Set("http://h/a"))
  }

  test("pipeline --dry-run: topo-ordered manifest-shaped plan with source counts; no step executes, nothing written") {
    import spark.implicits._
    val (src, out, state) = (tempDir(), tempDir(), tempDir())
    Seq((1L, "a text"), (2L, "b text"), (3L, "a text"))
      .toDF("doc_id", "text").write.parquet(s"$src/documents.parquet")
    Seq((9L, "bench row")).toDF("doc_id", "text")
      .write.parquet(s"$src/bench.parquet")
    val yaml = Files.createTempFile("graft-pipe-dry", ".yaml")
    Files.writeString(yaml,
      """pipeline: dry_chain
        |id: doc_id
        |text: text
        |steps:
        |  - name: unique
        |    op: dedup_exact
        |    input: documents
        |    params: { mode: admit, buckets: "8" }
        |  - name: clean
        |    op: decontaminate
        |    params: { benchmark: bench, n: "2" }
        |""".stripMargin)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Cli.run(Seq("pipeline", yaml.toString, src, out,
        "--state", state, "--dry-run"), spark)
    }
    val plan = buf.toString("UTF-8").trim
    // manifest-shaped: pipeline, batch id, topo-ordered steps with
    // source counts (the bench aux table is a dependency edge too)
    assert(plan.startsWith("""{"pipeline":"dry_chain","batch_id":0,"dry_run":true"""), plan)
    assert(plan.contains(""""name":"unique","op":"dedup_exact","input":"documents","in_rows":{"documents":3}"""), plan)
    assert(plan.contains(""""name":"clean","op":"decontaminate","input":"unique","in_rows":{"unique":"(step output, this run)","bench":1}"""), plan)
    // NOTHING executed: no step outputs, no manifest, no state store,
    // no batch counter
    assert(!Files.exists(Paths.get(out, "unique")) &&
      !Files.exists(Paths.get(out, "clean")) &&
      !Files.exists(Paths.get(out, "pipeline_manifest.json")))
    assert(!Files.exists(Paths.get(state, "unique")) &&
      !Files.exists(Paths.get(state, "_graft_next_batch")))
    // a missing source table fails the preview loudly (the whole
    // point: catch it before hours of compute)
    val badYaml = Files.createTempFile("graft-pipe-dry-bad", ".yaml")
    Files.writeString(badYaml,
      """pipeline: dry_bad
        |id: doc_id
        |text: text
        |steps:
        |  - name: clean
        |    op: decontaminate
        |    input: documents
        |    params: { benchmark: nonexistent }
        |""".stripMargin)
    val e = intercept[Exception] {
      Cli.run(Seq("pipeline", badYaml.toString, src, out, "--dry-run"), spark)
    }
    assert(e.getMessage.contains("'nonexistent' not found"), e.getMessage)
    // stateful steps still demand --state even in a dry run
    val e2 = intercept[Exception] {
      Cli.run(Seq("pipeline", yaml.toString, src, out, "--dry-run"), spark)
    }
    assert(e2.getMessage.contains("--state") ||
      e2.getMessage.contains("state directory"), e2.getMessage)
  }

  test("pipeline incremental modes validate: unknown mode and missing --state fail pre-Spark") {
    val yaml = Files.createTempFile("graft-pipe-badmode", ".yaml")
    Files.writeString(yaml,
      """pipeline: bad_mode
        |id: doc_id
        |text: text
        |steps:
        |  - name: a
        |    op: dedup_exact
        |    input: documents
        |    params: { mode: sideways }
        |""".stripMargin)
    val e1 = intercept[Cli.CliError] {
      Cli.run(Seq("pipeline", yaml.toString, sf("sf0.001"), tempDir()),
        fail("session must not be forced on a spec error"))
    }
    assert(e1.msg.contains("has no mode 'sideways'"))
    val yaml2 = Files.createTempFile("graft-pipe-nostate", ".yaml")
    Files.writeString(yaml2,
      """pipeline: no_state
        |id: doc_id
        |text: text
        |steps:
        |  - name: a
        |    op: dedup_exact
        |    input: documents
        |    params: { mode: admit }
        |""".stripMargin)
    val e2 = intercept[Cli.CliError] {
      Cli.run(Seq("pipeline", yaml2.toString, sf("sf0.001"), tempDir()),
        fail("session must not be forced when --state is missing"))
    }
    assert(e2.msg.contains("--state"))
    // a full-only param with mode: admit is a STRUCTURAL spec error —
    // caught before Spark boots, not mid-run after steps published
    val yaml3 = Files.createTempFile("graft-pipe-fullonly", ".yaml")
    Files.writeString(yaml3,
      """pipeline: full_only
        |id: doc_id
        |text: text
        |steps:
        |  - name: a
        |    op: dedup_near
        |    input: documents
        |    params: { mode: admit, keep: longest }
        |""".stripMargin)
    val e3 = intercept[Cli.CliError] {
      Cli.run(Seq("pipeline", yaml3.toString, sf("sf0.001"), tempDir()),
        fail("session must not be forced on a full-only-param spec error"))
    }
    assert(e3.msg.contains("applies to mode: full only"), e3.msg)
  }

  test("--version prints the banner with exit code 0, short aliases parse") {
    // --version anywhere in the args wins, before any validation
    // (`ArgParser.hs:106-113`)
    val v = intercept[Cli.CliError](Cli.run(Seq("--version"), spark))
    assert(v.code == 0 && v.msg.startsWith("graft "))
    // -d/-f/-t normalize to their long forms (`ArgParser.hs:27-41`):
    // a prefixed run through the aliases must produce the renamed tables
    val out = tempDir()
    val violations = Cli.run(
      Seq("examples/events_model.yaml", sf("sf0.001"), out,
        "--upper", "2024-01-15 00:00:00",
        "-d", "d_", "-f", "f_", "-t", "hour"), spark)
    assert(violations.isEmpty)
    assert(Files.exists(Paths.get(out, "d_event_type")), "-d alias ignored")
    assert(Files.exists(Paths.get(out, "f_event_by_hour")), "-f/-t aliases ignored")
  }

  test("--salt-parents validates and excludes --bucket-parents") {
    val e1 = intercept[Cli.CliError](
      Cli.run(Seq("examples/events_model.yaml", sf("sf0.001"), tempDir(),
        "--salt-parents", "1"), spark))
    assert(e1.code == 2 && e1.msg.contains("salt count > 1"))
    val e2 = intercept[Cli.CliError](
      Cli.run(Seq("examples/events_model.yaml", sf("sf0.001"), tempDir(),
        "--salt-parents", "4", "--bucket-parents", "8"), spark))
    assert(e2.code == 2 && e2.msg.contains("cannot be combined"))
  }

  test("refresh modes are mutually exclusive") {
    val e1 = intercept[Cli.CliError](
      Cli.run(Seq("examples/events_model.yaml", sf("sf0.001"), tempDir(),
        "--compact", "--incremental", "2024-01-01 00:00:00", "2024-02-01 00:00:00"), spark))
    assert(e1.code == 2 && e1.msg.contains("--compact cannot be combined"))
    val e2 = intercept[Cli.CliError](
      Cli.run(Seq("examples/events_model.yaml", sf("sf0.001"), tempDir(),
        "--compact", "--upper", "2024-01-01 00:00:00"), spark))
    assert(e2.code == 2)
    val e3 = intercept[Cli.CliError](
      Cli.run(Seq("examples/events_model.yaml", sf("sf0.001"), tempDir(),
        "--incremental", "2024-01-01 00:00:00", "2024-02-01 00:00:00",
        "--upper", "2024-01-01 00:00:00"), spark))
    assert(e3.code == 2 && e3.msg.contains("mutually exclusive"))
  }

  test("usage errors throw CliError instead of exiting") {
    val e1 = intercept[Cli.CliError](Cli.run(Seq("model.yaml"), spark))
    assert(e1.code == 2)
    val e2 = intercept[Cli.CliError](
      Cli.run(Seq("examples/events_model.yaml", sf("sf0.001"), tempDir(), "--bogus"), spark))
    assert(e2.code == 2 && e2.msg.contains("unknown flag"))
    val e3 = intercept[Cli.CliError](
      Cli.run(Seq("examples/events_model.yaml", sf("sf0.001"), tempDir(),
        "--incremental", "not-a-timestamp", "2024-01-01 00:00:00"), spark))
    assert(e3.code == 2 && e3.msg.contains("invalid timestamp"))
  }

  test("pipeline knn: night 2 reuses night 1's stored ANN index — identical neighbors, no retrain step in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dim = 12
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val (src1, out1, src2, out2) = (tempDir(), tempDir(), tempDir(), tempDir())
    val embs = (0L until 30L).map(i => (i, s"doc $i", vec(i.toInt)))
      .toDF("vec_id", "text", "embedding")
    embs.write.parquet(s"$src1/embeddings.parquet")
    embs.filter(col("vec_id") < 3).write.parquet(s"$src1/queries.parquet")
    val y1 = Files.createTempFile("graft-pipe-knn1", ".yaml")
    Files.writeString(y1,
      """pipeline: ann_nightly
        |id: vec_id
        |text: text
        |steps:
        |  - name: ann_model
        |    op: knn_train
        |    input: embeddings
        |    params: { family: ivf, nCells: "4" }
        |  - name: ann_postings
        |    op: knn_encode
        |    input: embeddings
        |    params: { model: ann_model }
        |  - name: neighbors
        |    op: knn
        |    input: queries
        |    params: { model: ann_model, codes: ann_postings, k: "3" }
        |""".stripMargin)
    Cli.run(Seq("pipeline", y1.toString, src1, out1), spark)
    def rows(out: String): Seq[(Long, Long, Int, Double)] =
      spark.read.parquet(s"$out/neighbors")
        .select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    val night1 = rows(out1)
    assert(night1.nonEmpty && night1.forall(_._3 <= 3))

    // night 2: the index tables are INPUTS (a prior run's outputs in
    // the source dir) — the spec has no knn_train/knn_encode at all
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$out1/ann_model"), new java.io.File(s"$src2/ann_model.parquet"))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$out1/ann_postings"), new java.io.File(s"$src2/ann_postings.parquet"))
    embs.filter(col("vec_id") < 3).write.parquet(s"$src2/queries.parquet")
    val y2 = Files.createTempFile("graft-pipe-knn2", ".yaml")
    Files.writeString(y2,
      """pipeline: ann_reuse
        |id: vec_id
        |text: text
        |steps:
        |  - name: neighbors
        |    op: knn
        |    input: queries
        |    params: { model: ann_model, codes: ann_postings, k: "3" }
        |""".stripMargin)
    Cli.run(Seq("pipeline", y2.toString, src2, out2), spark)
    assert(rows(out2) === night1,
      "stored-index night diverged from the build night")
    // structural no-retrain: the manifest records exactly one step
    val manifest = new String(Files.readAllBytes(
      Paths.get(out2, "pipeline_manifest.json")), "UTF-8")
    assert(manifest.contains("\"neighbors\"") && !manifest.contains("knn_train"))

    // PQ family through the same steps: corpus named for the rescore
    val (src3, out3) = (tempDir(), tempDir())
    embs.write.parquet(s"$src3/embeddings.parquet")
    embs.filter(col("vec_id") < 3).write.parquet(s"$src3/queries.parquet")
    val y3 = Files.createTempFile("graft-pipe-knn3", ".yaml")
    Files.writeString(y3,
      """pipeline: ann_pq
        |id: vec_id
        |text: text
        |steps:
        |  - name: ann_model
        |    op: knn_train
        |    input: embeddings
        |    params: { family: pq, m: "4", kCodes: "8" }
        |  - name: ann_codes
        |    op: knn_encode
        |    input: embeddings
        |    params: { model: ann_model }
        |  - name: neighbors
        |    op: knn
        |    input: queries
        |    params: { model: ann_model, codes: ann_codes, corpus: embeddings,
        |              k: "3", shortlist: "10" }
        |""".stripMargin)
    Cli.run(Seq("pipeline", y3.toString, src3, out3), spark)
    val pqRows = rows(out3)
    val retrain = graft.operators.Similarity.pqKnn(
        embs, embs.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 3, m = 4, kCodes = 8, shortlist = 10)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    assert(pqRows === retrain, "pipeline PQ path diverged from the direct retrain")
  }

  test("pipeline unigram_vocab + tokenize family unigram: trained pieces, lossless streams, budget filter chains") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val (src, out) = (tempDir(), tempDir())
    val docs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the cats sat on mats"),
      (3L, "concatenation of cat and cats"), (4L, "the mat sat still"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$src/documents.parquet")
    val yaml = Files.createTempFile("graft-pipe-unigram", ".yaml")
    Files.writeString(yaml,
      """pipeline: sp_tokens
        |id: doc_id
        |text: text
        |steps:
        |  - name: pieces
        |    op: unigram_vocab
        |    input: documents
        |    params: { rounds: "2", keep: "8,4", maxPieceLen: "4",
        |              minCount: "2", seedSize: "16" }
        |  - name: tokenized
        |    op: tokenize
        |    input: documents
        |    params: { vocab: pieces, family: unigram, maxPieceLen: "4",
        |              keepTokens: "true" }
        |""".stripMargin)
    Cli.run(Seq("pipeline", yaml.toString, src, out), spark)
    val vocab = spark.read.parquet(s"$out/pieces")
    assert(vocab.columns.toSet === Set("token", "score", "rank"))
    assert(vocab.filter(org.apache.spark.sql.functions.length(col("token")) >= 2)
      .count() <= 4, "final multi budget exceeded")
    val toks = spark.read.parquet(s"$out/tokenized")
      .select("doc_id", "n_unigram_tokens", "unigram_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2))).toSeq
    assert(toks.length === 4)
    toks.foreach { case (id, n, pieces) =>
      assert(n === pieces.length.toLong)
      val words = docs.filter(col("doc_id") === id)
        .select(graft.operators.TextAnalysis.tokens(col("text")))
        .collect().head.getSeq[String](0).filter(_.nonEmpty)
      assert(pieces.mkString === words.mkString,
        s"doc $id: unigram pieces not lossless")
    }
    // family mismatch fails loud: a unigram vocab into a bpe tokenize
    val badYaml = Files.createTempFile("graft-pipe-unigram-bad", ".yaml")
    Files.writeString(badYaml,
      """pipeline: sp_bad
        |id: doc_id
        |text: text
        |steps:
        |  - name: pieces
        |    op: unigram_vocab
        |    input: documents
        |    params: { rounds: "1", keep: "4", seedSize: "8" }
        |  - name: tokenized
        |    op: tokenize
        |    input: documents
        |    params: { vocab: pieces }
        |""".stripMargin)
    val e = intercept[Exception] {
      Cli.run(Seq("pipeline", badYaml.toString, src, tempDir()), spark)
    }
    assert(e.getMessage.contains("merge_rank"), e.getMessage)
  }

  test("pipeline knn_encode quantize: sq8 — scalar-quantized postings through train/encode/query equal the direct stored path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnIndex
    val dim = 12
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val (src, out) = (tempDir(), tempDir())
    val embs = (0L until 30L).map(i => (i, s"doc $i", vec(i.toInt)))
      .toDF("vec_id", "text", "embedding")
    embs.write.parquet(s"$src/embeddings.parquet")
    embs.filter(col("vec_id") < 3).write.parquet(s"$src/queries.parquet")
    val y = Files.createTempFile("graft-pipe-sq8", ".yaml")
    Files.writeString(y,
      """pipeline: ann_sq8
        |id: vec_id
        |text: text
        |steps:
        |  - name: ann_model
        |    op: knn_train
        |    input: embeddings
        |    params: { family: ivf, nCells: "4" }
        |  - name: ann_codes
        |    op: knn_encode
        |    input: embeddings
        |    params: { model: ann_model, quantize: sq8 }
        |  - name: neighbors
        |    op: knn
        |    input: queries
        |    params: { model: ann_model, codes: ann_codes, corpus: embeddings,
        |              k: "3", nProbe: "2", shortlist: "8" }
        |""".stripMargin)
    Cli.run(Seq("pipeline", y.toString, src, out), spark)
    // the codes table is the SQ8 shape (int8 codes + scale, no vectors)
    val codes = spark.read.parquet(s"$out/ann_codes")
    assert(codes.columns.toSet === Set("id", "cell", "scale", "q"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
      df.select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    val direct = AnnIndex.search(
      AnnIndex.load(centroids = Some(spark.read.parquet(s"$out/ann_model")), sq8 = true),
      Some(embs), embs.filter(col("vec_id") < 3), codes, "vec_id", "embedding", k = 3,
      nProbe = 2, shortlist = 8)
    assert(rows(spark.read.parquet(s"$out/neighbors")) === rows(direct),
      "pipeline SQ8 chain diverged from the direct stored path")

    // incremental maintenance of the SQ8 store (mode: admit — the
    // DOUBLE scale column must round-trip the bucket store's schema):
    // night 2 encodes only the new vectors; the maintained table
    // equals a from-scratch encode against the same frozen model
    val state = tempDir()
    val model = spark.read.parquet(s"$out/ann_model")
    val modelSrc = tempDir()
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$out/ann_model"), new java.io.File(s"$modelSrc/ann_model.parquet"))
    val y2 = Files.createTempFile("graft-pipe-sq8b", ".yaml")
    Files.writeString(y2,
      """pipeline: ann_sq8_admit
        |id: vec_id
        |text: text
        |steps:
        |  - name: codes
        |    op: knn_encode
        |    input: embeddings
        |    params: { model: ann_model, quantize: sq8, mode: admit, buckets: "8" }
        |""".stripMargin)
    def nightAdmit(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$modelSrc/embeddings.parquet"))
      rows.write.parquet(s"$modelSrc/embeddings.parquet")
      val o = tempDir()
      Cli.run(Seq("pipeline", y2.toString, modelSrc, o, "--state", state), spark)
      spark.read.parquet(s"$o/codes")
    }
    assert(nightAdmit(embs.filter(col("vec_id") < 20)).count() === 20L)
    val night2 = nightAdmit(embs)
    def codeRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Double, Seq[Int])] =
      df.select("id", "cell", "scale", "q")
        .as[(Long, Int, Double, Seq[Int])].collect().toSet
    assert(codeRows(night2) ===
      codeRows(AnnIndex.encode(AnnIndex.load(centroids = Some(model), sq8 = true),
        embs, "vec_id", "embedding")),
      "incrementally-maintained SQ8 store diverged from a from-scratch encode")
  }

  test("pipeline knn_train family: opq — the combined rotation+codebooks table through train/encode/query equals the direct stored path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnIndex
    val dim = 12
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val (src, out) = (tempDir(), tempDir())
    val embs = (0L until 30L).map(i => (i, s"doc $i", vec(i.toInt)))
      .toDF("vec_id", "text", "embedding")
    embs.write.parquet(s"$src/embeddings.parquet")
    embs.filter(col("vec_id") < 3).write.parquet(s"$src/queries.parquet")
    val y = Files.createTempFile("graft-pipe-opq", ".yaml")
    Files.writeString(y,
      """pipeline: ann_opq
        |id: vec_id
        |text: text
        |steps:
        |  - name: ann_model
        |    op: knn_train
        |    input: embeddings
        |    params: { family: opq, m: "4", kCodes: "8" }
        |  - name: ann_codes
        |    op: knn_encode
        |    input: embeddings
        |    params: { model: ann_model }
        |  - name: neighbors
        |    op: knn
        |    input: queries
        |    params: { model: ann_model, codes: ann_codes, corpus: embeddings,
        |              k: "3", shortlist: "8" }
        |""".stripMargin)
    Cli.run(Seq("pipeline", y.toString, src, out), spark)
    // the model is the combined one-table form: codebook rows plus
    // rot_row-marked rotation rows (dim of them)
    val model = spark.read.parquet(s"$out/ann_model")
    assert(model.filter(col("rot_row").isNotNull).count() === dim.toLong)
    assert(model.filter(col("rot_row").isNull).count() === 4L * 8L)
    val codes = spark.read.parquet(s"$out/ann_codes")
    assert(codes.columns.toSet === Set("id", "codes"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
      df.select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    val viaCombined = AnnIndex.load(codebooks = Some(model))
    val direct = AnnIndex.search(viaCombined, Some(embs), embs.filter(col("vec_id") < 3),
      codes, "vec_id", "embedding", k = 3, shortlist = 8)
    assert(rows(spark.read.parquet(s"$out/neighbors")) === rows(direct),
      "pipeline OPQ chain diverged from the direct stored path")
    // and the combined table's halves load to the SAME model the
    // two-table path trains (joint training is deterministic)
    val (rotT, booksT) = AnnIndex.trainOpq(embs, "vec_id", "embedding", m = 4, kCodes = 8)
    val viaPair = AnnIndex.load(rotation = Some(rotT), codebooks = Some(booksT))
    def books(m: AnnIndex.Model) = m.codec match {
      case AnnIndex.Pq(b) => b.codebooks.map(_.map(_.toSeq).toSeq).toSeq
      case other => fail(s"not a PQ codec: $other")
    }
    assert(viaCombined.rotation.get.map(_.toSeq).toSeq ===
      viaPair.rotation.get.map(_.toSeq).toSeq)
    assert(books(viaCombined) === books(viaPair))
  }

  test("pipeline ann nights: change_detect + frozen-model IVF-PQ admission over three nights equals the one-shot stored index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.AnnIndex
    val dim = 12
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val (src, state) = (tempDir(), tempDir())
    val all = (0L until 36L).map(i =>
      (i, s"http://h/p$i", s"v$i", vec(i.toInt)))
      .toDF("vec_id", "url", "text", "embedding")
    val n1 = all.filter(col("vec_id") % 3 === 0)
    // frozen model: trained once on night 1's corpus, reused as tables
    AnnIndex.trainIvf(n1, "vec_id", "embedding", nCells = 4)
      .write.parquet(s"$src/ann_centroids.parquet")
    val cents = spark.read.parquet(s"$src/ann_centroids.parquet")
    AnnIndex.trainIvfPq(n1, "vec_id", "embedding", cents, m = 4, kCodes = 8)
      .write.parquet(s"$src/ann_books.parquet")
    val model = AnnIndex.load(centroids = Some(cents),
      codebooks = Some(spark.read.parquet(s"$src/ann_books.parquet")))
    all.filter(col("vec_id") < 3).write.parquet(s"$src/queries.parquet")
    val yaml = "examples/ann_nights_pipeline.yaml"
    def night(n: Int, pages: org.apache.spark.sql.DataFrame): String = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$src/pages.parquet"))
      pages.write.parquet(s"$src/pages.parquet")
      val out = tempDir()
      Cli.run(Seq("pipeline", yaml, src, out, "--state", state), spark)
      out
    }
    val out1 = night(1, n1)
    val out2 = night(2, all.filter(col("vec_id") % 3 <= 1))
    val out3 = night(3, all)
    // fresh counts: only genuinely-new pages flow each night
    def freshCount(out: String): Long = spark.read.parquet(s"$out/fresh").count()
    assert(freshCount(out1) === 12L && freshCount(out2) === 12L &&
      freshCount(out3) === 12L)
    // the incrementally-maintained codes table equals a from-scratch
    // encode of the full corpus against the same frozen model
    def codes(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Seq[Int])] =
      df.select("id", "cell", "codes").as[(Long, Int, Seq[Int])].collect().toSet
    assert(codes(spark.read.parquet(s"$out3/encoded")) ===
      codes(AnnIndex.encode(model, all, "vec_id", "embedding")))
    // night 3's search over the maintained index equals the one-shot
    // stored-index query, bitwise
    def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
      df.select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    val oneShot = AnnIndex.search(model, Some(all), all.filter(col("vec_id") < 3),
      AnnIndex.encode(model, all, "vec_id", "embedding"), "vec_id", "embedding", k = 5,
      nProbe = 3, shortlist = 32)
    assert(hits(spark.read.parquet(s"$out3/hits")) === hits(oneShot),
      "maintained-index search diverged from the one-shot stored index")
  }
}
