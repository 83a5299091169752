package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Classify, Dedup, Multimodal, Recrawl, Robots, Sampling, Similarity, TextAnalysis, Warc}

/** Training-data pipeline queries (SURVEY §7.1 step 7): dedup,
  * similarity search, text analysis, multimodal plumbing — with DuckDB
  * oracles generated from the same formulas where SQL-expressible.
  */
object QueriesExt {

  /** Scratch paths already registered for shutdown deletion (one hook
    * per path per JVM). */
  private val jsonlScratchHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** App-scoped scratch dir for gates that persist artifacts (stored
    * ANN indexes, pipeline fixtures): deterministic within a run, so
    * repeated bench/verify invocations in one session REUSE one dir
    * (every write inside is mode=overwrite) instead of accumulating
    * fresh `createTempDirectory` copies per rep — the r13 disk leak —
    * and a per-path shutdown hook deletes it at JVM exit. Scoped by
    * application id so concurrent processes never share scratch. */
  private def scratchDir(s: SparkSession, tag: String): String = {
    val tmp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft-$tag-${s.sparkContext.applicationId}")
    if (jsonlScratchHooked.add(tmp.toString))
      sys.addShutdownHook(graft.streaming.MaintainedStore.deleteRecursively(tmp))
    java.nio.file.Files.createDirectories(tmp)
    tmp.toString
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    sources.ParquetTables.readTable(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    sources.ParquetTables.readTable(s, dir, "embeddings")

  // ---------------------------------------------------------- oracle SQL builders
  /** DuckDB expression mirroring TextAnalysis.normalized. */
  private val normSql = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** DuckDB expression mirroring TextAnalysis.wordOccurrences on
    * padded text column `p`. */
  private def occSql(w: String): String = {
    val needle = s" $w "
    s"((length(p) - length(replace(p, ' $w ', ''))) // ${needle.length})"
  }
  private def hitsSql(lang: String): String =
    TextAnalysis.stopwords(lang).map(occSql).mkString("(", " + ", ")")

  // ================================================================ text stats
  def textStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stats(docs(s, dir), "doc_id", "text")

  lazy val textStatsSql: String = {
    val langs = Seq("en", "de", "es", "fr", "zh")
    val langScores = langs.map(l => s"${hitsSql(l)} AS s_$l").mkString(",\n         ")
    val caseBranches = langs.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n              ")
    s"""WITH n AS (
       |  SELECT doc_id, $normSql AS t FROM documents
       |), b AS (
       |  SELECT doc_id, t,
       |         CASE WHEN t = '' THEN 0 ELSE len(string_split(t, ' ')) END AS n_tokens,
       |         length(t) AS n_chars,
       |         ' ' || t || ' ' AS p
       |  FROM n
       |), o AS (
       |  SELECT doc_id, t, n_tokens, n_chars,
       |         $langScores,
       |         CASE WHEN length(t) = 0 THEN 0.0
       |              ELSE CAST(length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(t)
       |         END AS punct_ratio,
       |         CASE WHEN n_tokens = 0 THEN 0.0
       |              ELSE CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens
       |         END AS avg_token_len
       |  FROM b
       |)
       |SELECT doc_id, n_tokens, n_chars, punct_ratio, avg_token_len,
       |       CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(s_en AS DOUBLE) / n_tokens END AS stopword_ratio,
       |       0.25 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
       |         + 0.25 * (1.0 - punct_ratio)
       |         + 0.30 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(s_en AS DOUBLE) / n_tokens END) * 4.0)
       |         + 0.20 * least(1.0, avg_token_len / 8.0) AS quality_score,
       |       CASE WHEN (s_en + s_de + s_es + s_fr + s_zh) = 0 THEN 'und'
       |              $caseBranches
       |            ELSE 'zh' END AS lang_pred,
       |       md5(t) AS fingerprint,
       |       CAST(len(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens
       |FROM o
       |""".stripMargin
  }

  // ================================================================ exact dedup
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text")

  lazy val dedupExactSql: String =
    s"""SELECT md5($normSql) AS fingerprint, min(doc_id) AS keep_id,
       |       count(*) AS dup_count
       |FROM documents GROUP BY 1
       |""".stripMargin

  // ================================================================ n-gram jaccard
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 3, minJaccard = 0.5)

  /** Mirrors [[graft.operators.Dedup.ngramJaccardPairs]] INCLUDING its
    * `maxDf` hot-shingle cap (default 100000): shingles above that
    * document frequency are excluded from both the intersection and the
    * size counts on BOTH sides, so the oracle stays equivalent even on
    * a corpus where the cap actually fires (below it the `hot` CTE is
    * empty and this is plain full-universe Jaccard). */
  lazy val dedupNgramJaccardSql: String = ngramJaccardSql("0.5")

  /** The full-universe exact-Jaccard oracle at threshold `theta`
    * (decimal literal string, so the SQL filter compares the same
    * double both engines compute). */
  private def ngramJaccardSql(theta: String): String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), ngr0 AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS ng
       |  FROM ws, unnest(generate_series(1, len(w) - 2)) AS t(i)
       |  WHERE len(w) >= 3
       |), hot AS (
       |  SELECT ng FROM ngr0 GROUP BY 1 HAVING count(*) > 100000
       |), ngr AS (
       |  SELECT * FROM ngr0 WHERE ng NOT IN (SELECT ng FROM hot)
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM ngr GROUP BY 1
       |), inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icount
       |  FROM ngr a JOIN ngr b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |       CAST(icount AS DOUBLE) / (sa.sz + sb.sz - icount) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(icount AS DOUBLE) / (sa.sz + sb.sz - icount) >= $theta
       |""".stripMargin

  /** Prefix-filtered exact Jaccard join — gated against the SAME
    * full-universe oracle as the inverted-index form: the prefix
    * filter is provably lossless, so any completeness bug (a missed
    * candidate) hash-mismatches here. */
  def dedupJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPrefixPairs(docs(s, dir), "doc_id", "text", n = 3, minJaccard = 0.5)

  /** The production-θ point (0.8): prefix pruning is regime-dependent —
    * at loose θ=0.5 every doc indexes half its shingles and the
    * candidate set balloons, while at the near-dup thresholds cluster
    * curation actually runs the prefixes are short and candidates
    * sparse. Benched alongside the θ=0.5 point so the driver sees both
    * regimes; gated against the same full-universe oracle at 0.8. */
  def dedupJaccardPrefixT08(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPrefixPairs(docs(s, dir), "doc_id", "text", n = 3, minJaccard = 0.8)

  lazy val dedupJaccardPrefixT08Sql: String = ngramJaccardSql("0.8")

  /** Duplicated-span signal at 10-token spans — the exact-substring
    * memorization-risk complement to whole-document Jaccard. */
  def textDupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(docs(s, dir), "doc_id", "text", n = 10)

  lazy val textDupSpansSql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), ngr AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+9], ' ') AS ng
       |  FROM ws, unnest(generate_series(1, len(w) - 9)) AS t(i)
       |  WHERE len(w) >= 10
       |), dup AS (
       |  SELECT ng FROM ngr GROUP BY 1 HAVING count(*) >= 2
       |)
       |SELECT doc_id, count(*) AS n_ngrams,
       |       count(CASE WHEN dup.ng IS NOT NULL THEN 1 END) AS n_dup_ngrams,
       |       CAST(count(CASE WHEN dup.ng IS NOT NULL THEN 1 END) AS DOUBLE)
       |         / count(*) AS dup_ratio
       |FROM ngr LEFT JOIN dup ON dup.ng = ngr.ng
       |GROUP BY 1
       |""".stripMargin

  /** Duplicated-span REMOVAL at 10-token spans — Lee et al.'s cut (the
    * memorization-risk spans leave, the document stays). The oracle
    * replays the whole construction: positioned shingles, the df ≥ 2
    * set, the flagged starts, the RUNNING-MAX coverage rule, and the
    * in-order rebuild — so a drift in any stage (including the
    * coverage window arithmetic) mismatches. */
  def textDupSpansRemove(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicatedSpans(docs(s, dir), "doc_id", "text", n = 10)

  lazy val textDupSpansRemoveSql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, $normSql AS nrm, string_split($normSql, ' ') AS w
       |  FROM documents
       |), tok AS (
       |  SELECT doc_id, i - 1 AS pos, w[i] AS t
       |  FROM ws, unnest(generate_series(1, len(w))) AS s(i)
       |  WHERE nrm <> ''
       |), sh AS (
       |  SELECT doc_id, i - 1 AS spos, array_to_string(w[i:i+9], ' ') AS ng
       |  FROM ws, unnest(generate_series(1, len(w) - 9)) AS s(i)
       |  WHERE len(w) >= 10 AND nrm <> ''
       |), dup AS (
       |  SELECT ng FROM (SELECT DISTINCT doc_id, ng FROM sh)
       |  GROUP BY ng HAVING count(*) >= 2
       |), fl AS (
       |  SELECT sh.doc_id, sh.spos FROM sh JOIN dup USING (ng)
       |), cov AS (
       |  SELECT tok.doc_id, tok.pos, tok.t,
       |         max(fl.spos) OVER (PARTITION BY tok.doc_id ORDER BY tok.pos
       |                            ROWS UNBOUNDED PRECEDING) AS runmax
       |  FROM tok LEFT JOIN fl ON fl.doc_id = tok.doc_id AND fl.spos = tok.pos
       |), kept AS (
       |  SELECT doc_id,
       |         coalesce(string_agg(t, ' ' ORDER BY pos)
       |           FILTER (runmax IS NULL OR runmax < pos - 9), '') AS text_clean,
       |         count(*) FILTER (runmax IS NULL OR runmax < pos - 9) AS n_tokens_kept
       |  FROM cov GROUP BY 1
       |)
       |SELECT d.doc_id, coalesce(k.text_clean, '') AS text_clean,
       |       CAST(CASE WHEN $normSql = '' THEN 0
       |            ELSE len(string_split($normSql, ' ')) END AS BIGINT) AS n_tokens,
       |       CAST(coalesce(k.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept
       |FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
       |""".stripMargin

  // ================================================================ minhash / simhash (no SQL oracle)
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", n = 3, k = 64, r = 4, minJaccard = 0.5)

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)

  /** Oracle-checkable LSH verification: LSH emits PAIRS VERIFIED WITH
    * EXACT JACCARD, so its output must be a subset of the exact
    * all-pairs result with identical jaccard values. The union with the
    * exact pairs therefore EQUALS the exact pairs — any false positive,
    * any jaccard disagreement (down to the last double ulp), or any
    * sub-threshold pair leaking through LSH adds a row and breaks the
    * hash match against [[dedupNgramJaccardSql]]. Recall (how many of
    * the exact pairs LSH finds) stays spec-side in DedupSpec — a recall
    * miss keeps the union equal to the exact pairs by construction. */
  def dedupMinhashLshVerified(s: SparkSession, dir: String): DataFrame =
    dedupMinhashLsh(s, dir).select("doc_a", "doc_b", "jaccard")
      .union(dedupNgramJaccard(s, dir).select("doc_a", "doc_b", "jaccard"))
      .distinct()

  /** Seeded verification universe for [[dedupSimhashVerified]]: every
    * 17th document re-emitted under `doc_id + 1e9` with
    * whitespace-only edits (leading/trailing spaces the normalizer
    * strips). The raw sf slices contain no exact-duplicate normalized
    * documents at sf<=0.01, which made the fp-equal restriction
    * VACUOUSLY empty — a hash match that would stay green with
    * simhashPairs completely broken (round-14 verdict). Seeding
    * guarantees oracle_rows > 0 and additionally verifies that the
    * simhash signature is a function of NORMALIZED text. Fails loud if
    * the seed slice is somehow empty (a vacuous gate is a bug, not a
    * pass). */
  private def simhashUniverse(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val seeds = d.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
        concat(lit(" "), col("text"), lit("  ")).as("text"))
    require(!seeds.isEmpty,
      "dedup_simhash_verified: seeded exact-dup universe is EMPTY — " +
        "the verification would be vacuous (no doc_id % 17 == 0 rows)")
    d.unionByName(seeds)
  }

  /** Oracle-checkable SimHash verification on the exact-duplicate
    * subgraph (seeded non-empty via [[simhashUniverse]]): identical
    * normalized text implies identical simhash, so every
    * exact-duplicate pair MUST surface from the banded bucket join
    * with hamming 0 (pigeonhole is trivially satisfied — all four
    * chunks collide). Restricting the SimHash pairs to
    * fingerprint-equal pairs must therefore yield EXACTLY the exact-dup
    * pair set, with hamming 0 on every row — which DuckDB recomputes
    * from scratch via md5 of the normalized text. Verifies signature
    * determinism, normalization, banding completeness, and the hamming
    * computation; near-dup (hamming 1-3) behavior stays spec-side in
    * DedupSpec. */
  def dedupSimhashVerified(s: SparkSession, dir: String): DataFrame = {
    val u = simhashUniverse(s, dir)
    val fp = u.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    Dedup.simhashPairs(u, "doc_id", "text", maxHamming = 3)
      .join(fp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("fp").as("fp_b")), "doc_b")
      .filter(col("fp_a") === col("fp_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
  }

  lazy val dedupSimhashVerifiedSql: String =
    s"""WITH u AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000000 AS doc_id, ' ' || text || '  ' AS text
       |  FROM documents WHERE doc_id % 17 = 0
       |), d AS (
       |  SELECT doc_id, md5($normSql) AS fp FROM u
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INTEGER) AS hamming
       |FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |""".stripMargin

  // ================================================================ near-dup clustering
  /** Connected components over the exact-Jaccard near-dup graph:
    * every doc in a pair converges to the min doc_id reachable through
    * the graph. Oracle: DuckDB recursive CTE transitive closure. */
  def dedupCluster(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 3, minJaccard = 0.5)
    Dedup.connectedComponents(pairs)
      .select(col("doc").as("doc_id"), col("rep").as("cluster_rep"))
  }

  lazy val dedupClusterSql: String = {
    // same inverted-index Jaccard CTEs as dedupNgramJaccardSql, then a
    // recursive min-label closure over the pair graph
    s"""WITH RECURSIVE ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), ngr0 AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS ng
       |  FROM ws, unnest(generate_series(1, len(w) - 2)) AS t(i)
       |  WHERE len(w) >= 3
       |), hot AS (
       |  SELECT ng FROM ngr0 GROUP BY 1 HAVING count(*) > 100000
       |), ngr AS (
       |  SELECT * FROM ngr0 WHERE ng NOT IN (SELECT ng FROM hot)
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM ngr GROUP BY 1
       |), inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icount
       |  FROM ngr a JOIN ngr b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(icount AS DOUBLE) / (sa.sz + sb.sz - icount) >= 0.5
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION
       |  SELECT doc_b AS a, doc_a AS b FROM pairs
       |), reach AS (
       |  SELECT a AS doc, a AS rep FROM edges
       |  UNION
       |  SELECT e.a AS doc, r.rep FROM edges e JOIN reach r ON r.doc = e.b
       |)
       |SELECT doc AS doc_id, min(rep) AS cluster_rep FROM reach GROUP BY 1
       |""".stripMargin
  }

  /** Survivor set after near-dup collapse: every doc keeps its row
    * unless a smaller doc_id is reachable through the pair graph. The
    * end-to-end shape a training-data pipeline actually materializes. */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val d     = docs(s, dir)
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, minJaccard = 0.5)
    Dedup.survivors(d, "doc_id", pairs).select(col("doc_id"), col("lang"), col("source"))
  }

  lazy val dedupSurvivorsSql: String = {
    // keep docs that are their own cluster minimum (or unpaired)
    val closure = dedupClusterSql.trim
    s"""WITH c AS (
       |$closure
       |)
       |SELECT d.doc_id, d.lang, d.source
       |FROM documents d
       |LEFT JOIN c ON c.doc_id = d.doc_id
       |WHERE c.doc_id IS NULL OR c.cluster_rep = d.doc_id
       |""".stripMargin
  }

  /** 2-core of the near-dup pair graph — its densely-duplicated heart
    * (template farms, mirror rings); chains and isolated pairs peel
    * away. Gate pins 3 peeling rounds (the `events_pagerank` fixed-
    * iteration pattern; the peel converges in 1 round on this data and
    * extra rounds are the identity, spec-pinned), mirrored by an
    * unrolled-CTE oracle over the same pair graph. */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 3, minJaccard = 0.5)
    operators.Centrality.kCorePeel(pairs, "doc_a", "doc_b", k = 2, rounds = 3)
      .select(col("node").as("doc_id"), col("deg"))
  }

  lazy val graphKcoreSql: String = {
    // every chained CTE is AS MATERIALIZED: DuckDB inlines plain CTEs
    // per reference, and the peel chain references each previous round
    // 3x — inlined, the expensive pair join re-executes exponentially
    // (measured 545s at sf0.01; materialized: sub-second)
    val peels = (0 until 3).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM e$i UNION ALL SELECT b AS node FROM e$i
         |  ) GROUP BY 1
         |), bad$i AS MATERIALIZED (
         |  SELECT node FROM d$i WHERE deg < 2
         |), e${i + 1} AS MATERIALIZED (
         |  SELECT * FROM e$i
         |  WHERE a NOT IN (SELECT node FROM bad$i)
         |    AND b NOT IN (SELECT node FROM bad$i)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $pairGraphCtes, $peels
       |SELECT node AS doc_id, count(*) AS deg FROM (
       |  SELECT a AS node FROM e3 UNION ALL SELECT b AS node FROM e3
       |) GROUP BY 1
       |""".stripMargin
  }

  /** Shared oracle prefix: the exact-Jaccard near-dup pair graph as a
    * canonical undirected edge CTE `e0(a, b)` (every chained CTE
    * MATERIALIZED — see [[graphKcoreSql]]'s inlining note). */
  private lazy val pairGraphCtes: String =
    s"""ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), ngr0 AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS ng
       |  FROM ws, unnest(generate_series(1, len(w) - 2)) AS t(i)
       |  WHERE len(w) >= 3
       |), hot AS (
       |  SELECT ng FROM ngr0 GROUP BY 1 HAVING count(*) > 100000
       |), ngr AS MATERIALIZED (
       |  SELECT * FROM ngr0 WHERE ng NOT IN (SELECT ng FROM hot)
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM ngr GROUP BY 1
       |), inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icount
       |  FROM ngr a JOIN ngr b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(icount AS DOUBLE) / (sa.sz + sb.sz - icount) >= 0.5
       |), e0 AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |)""".stripMargin

  /** Label-propagation communities over the same pair graph (3 sync
    * rounds — the fixed-round deterministic slice; see the operator's
    * oscillation note), mirrored by unrolled argmax CTEs. */
  def graphLabelprop(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 3, minJaccard = 0.5)
    operators.Centrality.labelPropagationRounds(pairs, "doc_a", "doc_b", rounds = 3)
      .select(col("node").as("doc_id"), col("lbl").as("community"))
  }

  lazy val graphLabelpropSql: String = {
    val roundCtes = (0 until 3).map { r =>
      s"""cand$r AS MATERIALIZED (
         |  SELECT n.node, l.lbl FROM neigh n JOIN l$r l ON l.node = n.nb
         |), cnt$r AS MATERIALIZED (
         |  SELECT node, lbl, count(*) AS c FROM cand$r GROUP BY 1, 2
         |), l${r + 1} AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |    FROM cnt$r
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $pairGraphCtes, neigh AS MATERIALIZED (
       |  SELECT a AS node, b AS nb FROM e0
       |  UNION ALL
       |  SELECT b AS node, a AS nb FROM e0
       |), l0 AS MATERIALIZED (
       |  SELECT node, node AS lbl FROM (
       |    SELECT DISTINCT a AS node FROM e0
       |    UNION
       |    SELECT DISTINCT b AS node FROM e0
       |  )
       |), $roundCtes
       |SELECT node AS doc_id, lbl AS community FROM l3
       |""".stripMargin
  }

  /** Quality-aware survivor set over the same near-dup graph: each
    * cluster keeps its LONGEST doc (`n_chars` max, ties to smallest
    * id) instead of the smallest id — the keep-the-best-copy curation
    * policy. Oracle: the same recursive-CTE closure, then a per-cluster
    * argmax via row_number. */
  def dedupSurvivorsBest(s: SparkSession, dir: String): DataFrame = {
    val d     = docs(s, dir)
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, minJaccard = 0.5)
    Dedup.survivorsBest(d, "doc_id", pairs, "n_chars")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  lazy val dedupSurvivorsBestSql: String = {
    val closure = dedupClusterSql.trim
    s"""WITH c AS (
       |$closure
       |), ranked AS (
       |  SELECT c.doc_id,
       |         row_number() OVER (PARTITION BY c.cluster_rep
       |                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
       |  FROM c JOIN documents d ON d.doc_id = c.doc_id
       |)
       |SELECT d.doc_id, d.lang, d.source
       |FROM documents d
       |LEFT JOIN ranked r ON r.doc_id = d.doc_id
       |WHERE r.doc_id IS NULL OR r.rn = 1
       |""".stripMargin
  }

  /** URL canonicalization: deterministic dirty URLs built from doc
    * ids (mixed-case scheme/host, default ports, tracking params,
    * fragments, empty paths) normalized to the fetch-dedup key; the
    * oracle rebuilds the same URLs and replays the same regex chain. */
  def textUrlNormalize(s: SparkSession, dir: String): DataFrame = {
    val id  = col("doc_id").cast("string")
    val raw = concat(
      when(col("doc_id") % 4 === 0, lit("HTTPS://")).otherwise(lit("HTTP://")),
      lit("Example"), (col("doc_id") % 50).cast("string"), lit(".COM"),
      when(col("doc_id") % 4 === 0, lit(":443"))
        .when(col("doc_id") % 4 === 1, lit(":80")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0, lit("")).otherwise(concat(lit("/Path/"), id)),
      lit("?utm_source=feed&id="), id,
      when(col("doc_id") % 2 === 0, lit("&fbclid=XYZ")).otherwise(lit("")),
      lit("&utm_campaign=x#Frag"))
    // the STAGED rewrite — the gate pins the codegen-viable form a
    // corpus run uses (byte-identical to the one-Column normalizeUrl)
    TextAnalysis.normalizeUrlStaged(
        docs(s, dir).select(col("doc_id"), raw.as("url_norm")), "url_norm")
      .select(col("doc_id"), col("url_norm"))
  }

  lazy val textUrlNormalizeSql: String = {
    val tr = "(?:utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)"
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://' ELSE 'HTTP://' END) ||
       |    'Example' || CAST(doc_id % 50 AS VARCHAR) || '.COM' ||
       |    (CASE WHEN doc_id % 4 = 0 THEN ':443'
       |          WHEN doc_id % 4 = 1 THEN ':80' ELSE '' END) ||
       |    (CASE WHEN doc_id % 3 = 0 THEN ''
       |          ELSE '/Path/' || CAST(doc_id AS VARCHAR) END) ||
       |    '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
       |    (CASE WHEN doc_id % 2 = 0 THEN '&fbclid=XYZ' ELSE '' END) ||
       |    '&utm_campaign=x#Frag' AS u
       |  FROM documents
       |), s1 AS (
       |  SELECT doc_id, regexp_replace(u, '#.*$$', '', 'g') AS u FROM raw
       |), split AS (
       |  SELECT doc_id,
       |         regexp_replace(u, '\\?.*$$', '', 'g') AS base,
       |         regexp_extract(u, '\\?(.*)$$', 1) AS q
       |  FROM s1
       |), q1 AS (
       |  SELECT doc_id, base, regexp_replace(q, '&$tr=[^&]*', '', 'g') AS q FROM split
       |), q2 AS (
       |  SELECT doc_id, base, regexp_replace(q, '^$tr=[^&]*&', '', 'g') AS q FROM q1
       |), q3 AS (
       |  SELECT doc_id, base, regexp_replace(q, '^$tr=[^&]*$$', '', 'g') AS q FROM q2
       |), q4 AS (
       |  SELECT doc_id, base, regexp_replace(q, '&+$$', '', 'g') AS q FROM q3
       |), s5 AS (
       |  SELECT doc_id,
       |         CASE WHEN q = '' THEN base ELSE base || '?' || q END AS u
       |  FROM q4
       |), parts AS (
       |  SELECT doc_id, u,
       |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2)) AS host0,
       |    regexp_replace(u, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*', '') AS rest0
       |  FROM s5
       |)
       |SELECT doc_id,
       |  CASE WHEN scheme = '' THEN u
       |       ELSE scheme || '://' ||
       |         (CASE WHEN scheme = 'http'  THEN regexp_replace(host0, ':80$$', '')
       |               WHEN scheme = 'https' THEN regexp_replace(host0, ':443$$', '')
       |               ELSE host0 END) ||
       |         (CASE WHEN rest0 = '' THEN '/'
       |               WHEN substr(rest0, 1, 1) = '?' THEN '/' || rest0
       |               ELSE rest0 END)
       |  END AS url_norm
       |FROM parts
       |""".stripMargin
  }

  // ================================================================ line-level boilerplate dedup
  /** CCNet/RefinedWeb-style line-level boilerplate removal. The corpus
    * has no newlines, so the gate deterministically re-lines it first —
    * a line break after every 10th word (regex mirrored in the oracle;
    * Java and RE2 agree on the pattern) — which makes the generator's
    * duplicated spans surface as cross-document duplicate lines; any
    * line found in >= 2 distinct docs is then stripped from all of
    * them. */
  def textLineDedup(s: SparkSession, dir: String): DataFrame = {
    val lined = docs(s, dir).select(
      col("doc_id"),
      regexp_replace(col("text"), "((\\S+ ){9}\\S+) ", "$1\n").as("text"))
    Dedup.lineDedup(lined, "doc_id", "text", minDf = 2)
  }

  lazy val textLineDedupSql: String =
    s"""WITH lined AS (
       |  SELECT doc_id,
       |         regexp_replace(text, '((\\S+ ){9}\\S+) ', '\\1' || chr(10), 'g') AS t
       |  FROM documents
       |), ls AS (
       |  SELECT doc_id, string_split(t, chr(10)) AS l FROM lined
       |), lines AS (
       |  SELECT doc_id, i AS idx, l[i] AS line
       |  FROM ls, unnest(generate_series(1, len(l))) AS u(i)
       |), hot AS (
       |  SELECT line FROM lines WHERE trim(line) <> ''
       |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
       |)
       |SELECT l.doc_id,
       |       count(*) AS n_lines,
       |       count(h.line) AS n_removed,
       |       coalesce(string_agg(CASE WHEN h.line IS NULL THEN l.line END,
       |                           chr(10) ORDER BY l.idx), '') AS text_clean
       |FROM lines l LEFT JOIN hot h ON h.line = l.line
       |GROUP BY 1
       |""".stripMargin

  // ================================================================ salted skew join
  /** Salted equi-join (lineitem to orders on the order key) + grouped
    * aggregation — must equal the plain join bit-for-bit; the oracle IS
    * the plain join. Exercises [[graft.exec.Skew.saltedJoin]] in the
    * gate (deterministic row-hash salt, build side replicated). */
  def skewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li  = sources.ParquetTables.readTable(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val ord = sources.ParquetTables.readTable(s, dir, "orders")
      .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
    graft.exec.Skew.saltedJoin(li, ord, "okey", salt = 8)
      .groupBy(col("o_orderstatus").as("order_status"))
      .agg(
        count(lit(1)).cast("int").as("line_count"),
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("qty"))
  }

  lazy val skewSaltedJoinSql: String =
    s"""SELECT o.o_orderstatus AS order_status,
       |       CAST(count(*) AS INTEGER) AS line_count,
       |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
       |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |GROUP BY 1
       |""".stripMargin

  // ================================================================ embedding similarity
  def embedKnnBrute(s: SparkSession, dir: String): DataFrame =
    Similarity.knnBruteExactSum(emb(s, dir), "vec_id", "embedding", numQueries = 10, k = 5)

  lazy val embedKnnBruteSql: String =
    s"""WITH pos AS (
       |  SELECT vec_id AS vid, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
       |), norms AS (
       |  SELECT vid, sum(CAST(v * v AS DECIMAL(30,15))) AS n2 FROM pos GROUP BY 1
       |), q AS (
       |  SELECT vid AS query_id, pos, v AS qv FROM pos WHERE vid < 10
       |), dots AS (
       |  SELECT q.query_id, c.vid AS neighbor_id,
       |         sum(CAST(q.qv * c.v AS DECIMAL(30,15))) AS dot
       |  FROM q JOIN pos c USING (pos)
       |  WHERE q.query_id <> c.vid
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cosine
       |  FROM dots
       |  JOIN norms qn ON qn.vid = query_id
       |  JOIN norms cn ON cn.vid = neighbor_id
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= 5
       |""".stripMargin

  def embedCosineNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(emb(s, dir), "vec_id", "embedding", minCosine = 0.45)

  lazy val embedCosineNearDupSql: String =
    s"""WITH pos AS (
       |  SELECT vec_id AS vid, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
       |), norms AS (
       |  SELECT vid, sum(CAST(v * v AS DECIMAL(30,15))) AS n2 FROM pos GROUP BY 1
       |), dots AS (
       |  SELECT a.vid AS vec_a, b.vid AS vec_b,
       |         sum(CAST(a.v * b.v AS DECIMAL(30,15))) AS dot
       |  FROM pos a JOIN pos b ON a.pos = b.pos AND a.vid < b.vid
       |  GROUP BY 1, 2
       |)
       |SELECT vec_a, vec_b,
       |       round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
       |FROM dots
       |JOIN norms na ON na.vid = vec_a
       |JOIN norms nb ON nb.vid = vec_b
       |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.45
       |""".stripMargin

  def embedKnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.lshKnn(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  def embedKnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfKnn(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  /** Oracle-checkable ANN verification (same construction as
    * [[dedupMinhashLshVerified]]): every (query, neighbor, cosine) an
    * approximate index returns must be a REAL pair with a correctly
    * computed cosine, so the union with the exact all-pairs cosine
    * table equals that table — a fabricated neighbor id, a duplicate,
    * or a cosine diverging from the exact-decimal value even at the
    * 6th decimal adds a row and breaks the hash match. Recall (did the
    * index return the BEST neighbors) stays spec-side in
    * SimilaritySpec; rank is positional within the returned set and is
    * dropped here. */
  private def knnVerified(ann: DataFrame, e: DataFrame): DataFrame =
    ann.select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
      .union(Similarity.allPairsCosineExact(e, "vec_id", "embedding", numQueries = 10))
      .distinct()

  def embedKnnQuantized(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.quantizedKnn(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  def embedKnnQuantizedVerified(s: SparkSession, dir: String): DataFrame =
    knnVerified(embedKnnQuantized(s, dir), emb(s, dir))

  /** Product-quantized ANN (Jégou et al. 2011, the FAISS memory
    * layout): 8-byte codes per vector + per-query ADC tables, exact
    * rescoring of the shortlist — rows-only raw output with the
    * [[embedKnnPqVerified]] oracle companion, the other ANN paths'
    * convention. */
  def embedKnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.pqKnn(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  def embedKnnPqVerified(s: SparkSession, dir: String): DataFrame =
    knnVerified(embedKnnPq(s, dir), emb(s, dir))

  /** Composed IVF-PQ, retrain path (Jégou et al. 2011 §IV, IVFADC):
    * residual codebooks inside IVF cells, ADC over probed cells only,
    * exact rescore — rows-only raw output with the
    * [[embedKnnIvfPqVerified]] oracle companion, the other ANN
    * families' convention. The stored-index twin is
    * [[embedKnnIvfPqStored]]. */
  def embedKnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfPqKnn(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  def embedKnnIvfPqVerified(s: SparkSession, dir: String): DataFrame =
    knnVerified(embedKnnIvfPq(s, dir), emb(s, dir))

  def embedKnnLshVerified(s: SparkSession, dir: String): DataFrame =
    knnVerified(embedKnnLsh(s, dir), emb(s, dir))

  def embedKnnIvfVerified(s: SparkSession, dir: String): DataFrame =
    knnVerified(embedKnnIvf(s, dir), emb(s, dir))

  /** STORED-index ANN (the [[operators.AnnIndex]] train-once → store →
    * reuse workflow): the index is trained, written to parquet, read
    * back, and queried — and because the indexed search shares the
    * retrain path's arithmetic verbatim, the result is IDENTICAL to
    * [[embedKnnIvf]] at the same seed, so the same soundness oracle
    * ([[embedKnnVerifiedSql]]) gates it. Exact stored==retrain
    * equality is pinned bitwise in SimilaritySpec. */
  def embedKnnIvfStored(s: SparkSession, dir: String): DataFrame =
    knnVerified(embedKnnIvfStoredRaw(s, dir), emb(s, dir))

  /** The raw stored-IVF query (build + persist + reload + search) —
    * Bench times this; the gate wraps it in the soundness union. */
  def embedKnnIvfStoredRaw(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val tmp = scratchDir(s, "ann-ivf")
    operators.AnnIndex.trainIvf(e, "vec_id", "embedding", nCells = 16)
      .write.mode("overwrite").parquet(s"$tmp/centroids")
    storedSearch(e, tmp,
      operators.AnnIndex.load(centroids = Some(s.read.parquet(s"$tmp/centroids"))))
  }

  /** The second half of every stored-index gate: encode the corpus
    * against the model (loaded ONCE after its tables' parquet round
    * trip), persist the codes — partitioned by `cell` when the index
    * has a coarse quantizer, so probes prune — read them back, and
    * search the 10-query probe set. */
  private def storedSearch(
      e: DataFrame, tmp: String, model: operators.AnnIndex.Model): DataFrame = {
    val w = operators.AnnIndex.encode(model, e, "vec_id", "embedding").write.mode("overwrite")
    (if (model.centroids.isDefined) w.partitionBy("cell") else w).parquet(s"$tmp/codes")
    operators.AnnIndex.search(model, Some(e), e.filter(col("vec_id") < 10),
      e.sparkSession.read.parquet(s"$tmp/codes"), "vec_id", "embedding", k = 5)
  }

  /** STORED PQ index — [[embedKnnIvfStored]]'s contract for the
    * codebook family: 8-byte codes persisted beside the codebooks,
    * queried without retraining. */
  def embedKnnPqStored(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val tmp = scratchDir(s, "ann-pq")
    operators.AnnIndex.trainPq(e, "vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/codebooks")
    knnVerified(storedSearch(e, tmp,
      operators.AnnIndex.load(codebooks = Some(s.read.parquet(s"$tmp/codebooks")))), e)
  }

  /** Composed STORED IVF-PQ index (FAISS `IndexIVFPQ`, the
    * billion-vector production shape): three persisted tables —
    * centroids, residual codebooks, and per-vector codes partitioned
    * by `cell` — queried without retraining. A probe reads only its
    * probed cells' partitions AND pays m table lookups per touched
    * row (the composed win neither half delivers alone). Same
    * soundness oracle as the other stored gates; stored ≡ same-seed
    * retrain pinned bitwise in SimilaritySpec, the partition pruning
    * in PlanSpec. */
  def embedKnnIvfPqStored(s: SparkSession, dir: String): DataFrame =
    knnVerified(embedKnnIvfPqStoredRaw(s, dir), emb(s, dir))

  /** The raw stored-IVF-PQ query (train both models + persist all
    * three tables + reload + search) — Bench times this; the gate
    * wraps it in the soundness union. */
  def embedKnnIvfPqStoredRaw(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val tmp = scratchDir(s, "ann-ivfpq")
    operators.AnnIndex.trainIvf(e, "vec_id", "embedding", nCells = 16)
      .write.mode("overwrite").parquet(s"$tmp/centroids")
    val cents = s.read.parquet(s"$tmp/centroids")
    operators.AnnIndex.trainIvfPq(e, "vec_id", "embedding", cents)
      .write.mode("overwrite").parquet(s"$tmp/codebooks")
    storedSearch(e, tmp, operators.AnnIndex.load(centroids = Some(cents),
      codebooks = Some(s.read.parquet(s"$tmp/codebooks"))))
  }

  /** STORED OPQ index (FAISS `OPQ{m},PQ{m}` — a learned orthogonal
    * rotation before the subspace split lifts ADC recall at the same
    * m-byte code budget): rotation + codebooks trained JOINTLY and
    * persisted as two model tables, per-vector codes as the third,
    * queried without retraining. The exact rescore runs in the
    * original space (the rotation only chooses candidates), so the
    * same soundness oracle applies; stored ≡ same-seed retrain and
    * the recall-≥-plain-PQ floor are pinned in SimilaritySpec. */
  def embedKnnOpqStored(s: SparkSession, dir: String): DataFrame =
    knnVerified(embedKnnOpqStoredRaw(s, dir), emb(s, dir))

  /** The raw stored-OPQ query (joint train + persist all three
    * tables + reload + search) — Bench times this; the gate wraps it
    * in the soundness union. */
  def embedKnnOpqStoredRaw(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val tmp = scratchDir(s, "ann-opq")
    val (rotation, books) = operators.AnnIndex.trainOpq(e, "vec_id", "embedding")
    rotation.write.mode("overwrite").parquet(s"$tmp/rotation")
    books.write.mode("overwrite").parquet(s"$tmp/codebooks")
    storedSearch(e, tmp, operators.AnnIndex.load(
      rotation = Some(s.read.parquet(s"$tmp/rotation")),
      codebooks = Some(s.read.parquet(s"$tmp/codebooks"))))
  }

  /** Fully composed STORED OPQ+IVF-PQ index (FAISS
    * `OPQ{m},IVF{x},PQ{m}`, the standard billion-vector production
    * shape): four persisted tables — rotation, centroids (trained in
    * rotated space), residual codebooks, and per-vector codes
    * partitioned by `cell`. Queries rotate into index space for
    * probing and ADC only; the exact rescore stays in the original
    * space, so the same soundness oracle applies. */
  def embedKnnIvfOpqStored(s: SparkSession, dir: String): DataFrame =
    knnVerified(embedKnnIvfOpqStoredRaw(s, dir), emb(s, dir))

  /** The raw stored query (train all three models + persist all four
    * tables + reload + search) — Bench times this; the gate wraps it
    * in the soundness union. */
  def embedKnnIvfOpqStoredRaw(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val tmp = scratchDir(s, "ann-ivfopq")
    val (rotation, centroids, books) =
      operators.AnnIndex.trainIvfOpq(e, "vec_id", "embedding", nCells = 16)
    rotation.write.mode("overwrite").parquet(s"$tmp/rotation")
    centroids.write.mode("overwrite").parquet(s"$tmp/centroids")
    books.write.mode("overwrite").parquet(s"$tmp/codebooks")
    storedSearch(e, tmp, operators.AnnIndex.load(
      centroids = Some(s.read.parquet(s"$tmp/centroids")),
      codebooks = Some(s.read.parquet(s"$tmp/codebooks")),
      rotation = Some(s.read.parquet(s"$tmp/rotation"))))
  }

  /** STORED IVF-SQ8 index (FAISS `IVF,SQ8` — scalar-quantized
    * postings, a quarter the bytes of float postings with no codebook
    * beyond the coarse quantizer): centroids + int8 codes partitioned
    * by `cell`, queried without retraining; stage-1 ranks by exact
    * integer code-space cosine within the probed cells, exact rescore
    * of the shortlist. Same soundness oracle; stored ≡ same-seed
    * retrain pinned bitwise in SimilaritySpec. */
  def embedKnnIvfSqStored(s: SparkSession, dir: String): DataFrame =
    knnVerified(embedKnnIvfSqStoredRaw(s, dir), emb(s, dir))

  /** The raw stored-IVF-SQ8 query (train + persist + reload + search)
    * — Bench times this; the gate wraps it in the soundness union. */
  def embedKnnIvfSqStoredRaw(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val tmp = scratchDir(s, "ann-ivfsq")
    operators.AnnIndex.trainIvf(e, "vec_id", "embedding", nCells = 16)
      .write.mode("overwrite").parquet(s"$tmp/centroids")
    storedSearch(e, tmp, operators.AnnIndex.load(
      centroids = Some(s.read.parquet(s"$tmp/centroids")), sq8 = true))
  }

  /** The exact all-pairs cosine universe for query ids < 10 — shared
    * oracle for both ANN verification gates ([[embedKnnBruteSql]]'s
    * CTEs without the top-k ranking). */
  lazy val embedKnnVerifiedSql: String =
    s"""WITH pos AS (
       |  SELECT vec_id AS vid, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
       |), norms AS (
       |  SELECT vid, sum(CAST(v * v AS DECIMAL(30,15))) AS n2 FROM pos GROUP BY 1
       |), q AS (
       |  SELECT vid AS query_id, pos, v AS qv FROM pos WHERE vid < 10
       |), dots AS (
       |  SELECT q.query_id, c.vid AS neighbor_id,
       |         sum(CAST(q.qv * c.v AS DECIMAL(30,15))) AS dot
       |  FROM q JOIN pos c USING (pos)
       |  WHERE q.query_id <> c.vid
       |  GROUP BY 1, 2
       |)
       |SELECT query_id, neighbor_id,
       |       round(CAST(dot AS DOUBLE) / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))), 6) AS cosine
       |FROM dots
       |JOIN norms qn ON qn.vid = query_id
       |JOIN norms cn ON cn.vid = neighbor_id
       |""".stripMargin

  // ================================================================ multimodal
  /** REAL image decode (javax.imageio, JDK codec): deterministic
    * synthetic PNGs generated per doc (pixel byte i =
    * `(doc_id·131 + i·7 + 13) mod 256`, dims `8 + id%9` × `8 + id%7`),
    * decoded back to RGB. PNG is lossless, so the oracle recomputes
    * the position-weighted pixel checksums straight from the formula —
    * one flipped pixel anywhere in encode OR decode hash-mismatches
    * the gate. `pixel_md5` (content address) is spec-verified; the
    * gate carries only SQL-computable columns. */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImage(Multimodal.syntheticImages(docs(s, dir), "doc_id"))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        col("n_bytes"), col("sum1"), col("sum2"))

  lazy val multimodalDecodeSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CAST(8 + doc_id % 9 AS INTEGER) AS w,
       |         CAST(8 + doc_id % 7 AS INTEGER) AS h
       |  FROM documents
       |), px AS (
       |  SELECT doc_id, w, h, i, (doc_id * 131 + i * 7 + 13) % 256 AS v
       |  FROM d, unnest(generate_series(0, w * h * 3 - 1)) AS t(i)
       |)
       |SELECT doc_id, w AS width, h AS height, CAST(3 AS INTEGER) AS channels,
       |       CAST(w * h * 3 AS INTEGER) AS n_bytes,
       |       CAST(sum((i + 1) * v) AS BIGINT) AS sum1,
       |       CAST(sum((i + 1) * (i + 1) * v) AS BIGINT) AS sum2
       |FROM px GROUP BY 1, 2, 3
       |""".stripMargin

  /** REAL frame extraction: RIFF/AVI videos built in-plan
    * ([[graft.operators.Multimodal.renderAvi]] over the formula-PNG
    * frame line), demuxed back through the strict AVI walker and
    * per-frame DECODED to position-weighted pixel checksums — the
    * oracle recomputes every frame's sums from the synthetic pixel
    * formula (frame `f` of video `id` is image `id + f`), so a
    * mis-sliced chunk, swapped frame order, or flipped pixel anywhere
    * in mux/demux/decode mismatches. */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoFrameDecode(
      Multimodal.syntheticAviVideos(docs(s, dir), "doc_id")).toDF()

  lazy val multimodalFramesSql: String =
    s"""WITH vm AS (
       |  SELECT doc_id AS vid, f AS frame_idx, doc_id + f AS fid
       |  FROM documents, unnest(generate_series(0, 1 + doc_id % 3)) AS t(f)
       |), d AS (
       |  SELECT vid, frame_idx, fid,
       |         CAST(8 + fid % 9 AS INTEGER) AS w,
       |         CAST(8 + fid % 7 AS INTEGER) AS h
       |  FROM vm
       |), px AS (
       |  SELECT vid, frame_idx, w, h, i, (fid * 131 + i * 7 + 13) % 256 AS v
       |  FROM d, unnest(generate_series(0, w * h * 3 - 1)) AS t(i)
       |)
       |SELECT vid AS doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       |       w AS width, h AS height,
       |       CAST(w * h * 3 AS INTEGER) AS n_bytes,
       |       CAST(sum((i + 1) * v) AS BIGINT) AS sum1,
       |       CAST(sum((i + 1) * (i + 1) * v) AS BIGINT) AS sum2
       |FROM px GROUP BY 1, 2, 3, 4
       |""".stripMargin

  /** REAL decode + nearest-neighbor resize to 8×6 (floor sampling
    * convention `src = out·dim div out_dim`): the oracle evaluates the
    * generator formula AT THE SAMPLED SOURCE INDICES, so the gate
    * pins decoded-pixel content flowing through the resampler, not
    * just buffer shapes. */
  def multimodalResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeImage(
      Multimodal.syntheticImages(docs(s, dir), "doc_id"), outW = 8, outH = 6).toDF()
      .select(col("doc_id"), col("out_width"), col("out_height"), col("out_bytes"),
        col("sum1"), col("sum2"))

  lazy val multimodalResizeSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents
       |), px AS (
       |  SELECT doc_id, (y * 8 + x) * 3 + c AS j,
       |         (doc_id * 131
       |            + ((((y * h) // 6) * w + ((x * w) // 8)) * 3 + c) * 7
       |            + 13) % 256 AS v
       |  FROM d,
       |       unnest(generate_series(0, 7)) AS tx(x),
       |       unnest(generate_series(0, 5)) AS ty(y),
       |       unnest(generate_series(0, 2)) AS tc(c)
       |)
       |SELECT doc_id, CAST(8 AS INTEGER) AS out_width, CAST(6 AS INTEGER) AS out_height,
       |       CAST(8 * 6 * 3 AS INTEGER) AS out_bytes,
       |       CAST(sum((j + 1) * v) AS BIGINT) AS sum1,
       |       CAST(sum((j + 1) * (j + 1) * v) AS BIGINT) AS sum2
       |FROM px GROUP BY 1
       |""".stripMargin

  /** Perceptual 64-bit dHash per image off the REAL decode path: 9×8
    * integer-luma grid (floor-convention NN downsample of genuinely
    * decoded pixels), horizontal-gradient bits, rendered as row-byte
    * hex. The oracle recomputes every luma sample from the synthetic
    * pixel formula and re-derives all 64 bits — one flipped gradient
    * anywhere mismatches. */
  def multimodalDhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.dHash(Multimodal.syntheticImages(docs(s, dir), "doc_id"))
      .toDF().select(col("doc_id"), col("dhash_hex"))

  /** Shared luma-grid + row-byte CTE prefix over an image set `imgs
    * (img_id, doc_id, w, h)` whose pixels follow the synthetic
    * formula. */
  private def dhashRowBytesSql(imgsCte: String): String =
    s"""$imgsCte, grid AS (
       |  SELECT img_id, gx, gy,
       |         (299 * ((doc_id * 131 + ((((gy * h) // 8) * w + (gx * w) // 9) * 3 + 0) * 7 + 13) % 256)
       |        +  587 * ((doc_id * 131 + ((((gy * h) // 8) * w + (gx * w) // 9) * 3 + 1) * 7 + 13) % 256)
       |        +  114 * ((doc_id * 131 + ((((gy * h) // 8) * w + (gx * w) // 9) * 3 + 2) * 7 + 13) % 256)) // 1000 AS luma
       |  FROM imgs, unnest(generate_series(0, 8)) AS tx(gx), unnest(generate_series(0, 7)) AS ty(gy)
       |), rb AS (
       |  SELECT a.img_id, a.gy,
       |         CAST(sum(CASE WHEN b.luma > a.luma THEN 1 << a.gx ELSE 0 END) AS INTEGER) AS rowbyte
       |  FROM grid a JOIN grid b ON b.img_id = a.img_id AND b.gy = a.gy AND b.gx = a.gx + 1
       |  WHERE a.gx < 8
       |  GROUP BY 1, 2
       |)""".stripMargin

  lazy val multimodalDhashSql: String =
    dhashRowBytesSql(
      s"""WITH d AS (
         |  SELECT doc_id, CAST(8 + doc_id % 9 AS INTEGER) AS w,
         |         CAST(8 + doc_id % 7 AS INTEGER) AS h
         |  FROM documents
         |), imgs AS (SELECT doc_id AS img_id, doc_id, w, h FROM d)""".stripMargin) +
      s"""
         |SELECT img_id AS doc_id,
         |       string_agg(lower(lpad(to_hex(rowbyte), 2, '0')), '' ORDER BY gy) AS dhash_hex
         |FROM rb GROUP BY 1
         |""".stripMargin

  /** Perceptual near-dup pairs over originals + 2× nearest-neighbor
    * upscaled PNG re-encodes (ids offset by 1,000,000): dHash both,
    * pair by the exact-recall 4×16-bit hamming banding
    * ([[Dedup.hamming64Pairs]] — the text SimHash machinery reused for
    * media). The floor-division composition identity makes each scaled
    * copy hash IDENTICALLY to its original, so every (id, id+1M) pair
    * must surface at hamming 0 — and the oracle independently rebuilds
    * every hash from the pixel formula, mirrors the bucket cap, and
    * recomputes hamming byte-wise, so accidental cross-doc pairs are
    * pinned too. */
  def multimodalNeardup(s: SparkSession, dir: String): DataFrame = {
    val orig   = Multimodal.syntheticImages(docs(s, dir), "doc_id")
    val copies = Multimodal.reencodeScaled(orig, factor = 2, idOffset = 1000000L)
    val hashes = Multimodal.dHash(orig.unionByName(copies)).toDF()
    Dedup.hamming64Pairs(hashes, "doc_id", "dhash", maxHamming = 3, maxBucket = 1000)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
  }

  lazy val multimodalNeardupSql: String =
    dhashRowBytesSql(
      s"""WITH d AS (
         |  SELECT doc_id, CAST(8 + doc_id % 9 AS INTEGER) AS w,
         |         CAST(8 + doc_id % 7 AS INTEGER) AS h
         |  FROM documents
         |), imgs AS (
         |  -- a 2x floor-convention NN upscale samples the same source
         |  -- pixels at every 9x8 grid position (floor-division
         |  -- composition), so copies reuse the original's formula
         |  SELECT doc_id AS img_id, doc_id, w, h FROM d
         |  UNION ALL
         |  SELECT doc_id + 1000000, doc_id, w, h FROM d)""".stripMargin) +
      s"""
         |, chunks AS (
         |  -- hash bits [16b, 16b+16) = row bytes 2b and 2b+1 — the same
         |  -- 4x16 banding hamming64Pairs derives for maxHamming = 3
         |  SELECT e.img_id, e.gy // 2 AS band, e.rowbyte + 256 * o.rowbyte AS chunk
         |  FROM rb e JOIN rb o ON o.img_id = e.img_id AND o.gy = e.gy + 1
         |  WHERE e.gy % 2 = 0
         |), ok AS (
         |  SELECT band, chunk FROM chunks GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 1000
         |), cand AS (
         |  SELECT DISTINCT a.img_id AS doc_a, b.img_id AS doc_b
         |  FROM chunks a
         |  JOIN ok USING (band, chunk)
         |  JOIN chunks b ON b.band = a.band AND b.chunk = a.chunk AND a.img_id < b.img_id
         |)
         |SELECT doc_a, doc_b, CAST(sum(bit_count(xor(ra.rowbyte, rbb.rowbyte))) AS INTEGER) AS hamming
         |FROM cand
         |JOIN rb ra  ON ra.img_id = cand.doc_a
         |JOIN rb rbb ON rbb.img_id = cand.doc_b AND rbb.gy = ra.gy
         |GROUP BY 1, 2
         |HAVING sum(bit_count(xor(ra.rowbyte, rbb.rowbyte))) <= 3
         |""".stripMargin

  /** REAL audio decode (javax.sound.sampled, JDK WAV codec):
    * deterministic synthetic PCM16 per doc (sample i = `((id·31 + i·7
    * + 11) mod 65536) − 32768`, `256 + id % 241` samples), round-
    * tripped through the real encoder+decoder. WAV is lossless, so
    * the oracle recomputes the position-weighted sample checksums
    * straight from the formula — one flipped sample or sign error
    * anywhere in encode OR decode mismatches. */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAudio(Multimodal.syntheticAudio(docs(s, dir), "doc_id")).toDF()

  lazy val multimodalAudioSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(256 + doc_id % 241 AS BIGINT) AS n FROM documents
       |), sm AS (
       |  SELECT doc_id, i, (doc_id * 31 + i * 7 + 11) % 65536 - 32768 AS s
       |  FROM d, unnest(generate_series(0, n - 1)) AS t(i)
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       |       CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
       |       CAST(sum((i + 1) * s) AS BIGINT) AS sum1,
       |       CAST(sum((i + 1) * (i + 1) * s) AS BIGINT) AS sum2
       |FROM sm GROUP BY 1
       |""".stripMargin

  /** Per-window energy over the REALLY-decoded samples (160-sample
    * windows, short tail kept) — the VAD primitive, window sums
    * recomputed by the oracle from the same formula. */
  def multimodalAudioEnergy(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioEnergyWindows(
      Multimodal.syntheticAudio(docs(s, dir), "doc_id"), windowSize = 160).toDF()

  lazy val multimodalAudioEnergySql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(256 + doc_id % 241 AS BIGINT) AS n FROM documents
       |), sm AS (
       |  SELECT doc_id, i, (doc_id * 31 + i * 7 + 11) % 65536 - 32768 AS s
       |  FROM d, unnest(generate_series(0, n - 1)) AS t(i)
       |)
       |SELECT doc_id, CAST(i // 160 AS INTEGER) AS window_idx,
       |       CAST(count(*) AS INTEGER) AS n,
       |       CAST(sum(s * s) AS BIGINT) AS energy
       |FROM sm GROUP BY 1, 2
       |""".stripMargin

  /** A/V container demux — BOTH streams of one real capture: in-plan
    * AVI-with-audio bytes ([[graft.operators.Multimodal.renderAviAv]],
    * PNG frames + interleaved PCM16 `01wb` soundtrack, odd ids inside
    * `rec ` groups) demux through the strict walker, frames decode
    * through the real PNG codec and the soundtrack routes through
    * [[graft.operators.Multimodal.aviAudioWav]] + the real JDK WAV
    * decoder — the exact path audio dedup admits from. The oracle
    * recomputes the frame-weighted pixel checksum and the
    * position-weighted sample checksums straight from the generator
    * formulas: one dropped chunk, mis-sliced interleave, or
    * byte-order error anywhere mismatches. */
  def multimodalAvDemux(s: SparkSession, dir: String): DataFrame =
    Multimodal.avContentChecksums(
      Multimodal.syntheticAvVideos(docs(s, dir), "doc_id")).toDF()

  /** REAL ISO-BMFF (MP4) demux: the same A/V content as
    * [[multimodalAvDemux]] packaged through
    * [[graft.operators.Multimodal.renderMp4]] (video samples under a
    * `png ` entry, PCM16 soundtrack under `twos`, odd ids via
    * `co64`), demuxed back by reconstructing the sample tables
    * (`stsc` × `stco`/`co64` × `stsz`), frames really decoded and
    * the soundtrack routed through the JDK WAV path audio dedup
    * admits from. Same oracle as the AVI gate — the content formulas
    * are container-independent, so one mis-sliced sample, swapped
    * chunk, or endianness error anywhere in mux/demux mismatches. */
  def multimodalMp4Demux(s: SparkSession, dir: String): DataFrame =
    Multimodal.avContentChecksums(
      Multimodal.syntheticMp4Videos(docs(s, dir), "doc_id")).toDF()

  /** REAL Matroska/WebM (EBML) demux: the same A/V content as
    * [[multimodalAvDemux]] packaged through
    * [[graft.operators.Multimodal.renderWebm]] (frames as
    * per-cluster SimpleBlocks, PCM16 soundtrack under the Matroska
    * `A_PCM/INT/LIT` codec id — `/BIG` with byte swap on odd ids),
    * demuxed back by walking the EBML element tree, frames really
    * decoded and the soundtrack routed through the JDK WAV path audio
    * dedup admits from. Same oracle as the AVI and MP4 gates — the
    * content formulas are container-independent, so one mis-tiled
    * element, dropped block, or endianness error anywhere in mux/demux
    * mismatches. */
  def multimodalWebmDemux(s: SparkSession, dir: String): DataFrame =
    Multimodal.avContentChecksums(
      Multimodal.syntheticWebmVideos(docs(s, dir), "doc_id")).toDF()

  lazy val multimodalAvDemuxSql: String =
    s"""WITH vm AS (
       |  SELECT doc_id AS vid, f AS frame_idx, doc_id + f AS fid
       |  FROM documents, unnest(generate_series(0, 1 + doc_id % 3)) AS t(f)
       |), d AS (
       |  SELECT vid, frame_idx, fid,
       |         8 + fid % 9 AS w, 8 + fid % 7 AS h
       |  FROM vm
       |), px AS (
       |  SELECT vid, frame_idx, i, (fid * 131 + i * 7 + 13) % 256 AS v
       |  FROM d, unnest(generate_series(0, w * h * 3 - 1)) AS t(i)
       |), video AS (
       |  SELECT vid AS doc_id,
       |         CAST(count(DISTINCT frame_idx) AS INTEGER) AS n_frames,
       |         CAST(sum((frame_idx + 1) * (i + 1) * v) AS BIGINT) AS v_sum
       |  FROM px GROUP BY 1
       |), sm AS (
       |  SELECT doc_id, i, (doc_id * 31 + i * 7 + 11) % 65536 - 32768 AS s
       |  FROM documents,
       |       unnest(generate_series(0, 128 + doc_id % 97 - 1)) AS t(i)
       |), audio AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
       |         CAST(sum((i + 1) * s) AS BIGINT) AS a_sum1,
       |         CAST(sum((i + 1) * (i + 1) * s) AS BIGINT) AS a_sum2
       |  FROM sm GROUP BY 1
       |)
       |SELECT video.doc_id, n_frames, v_sum, n_samples, a_sum1, a_sum2
       |FROM video JOIN audio ON video.doc_id = audio.doc_id
       |""".stripMargin

  /** Video near-dup over REAL RIFF/AVI payloads (built in-plan by
    * [[graft.operators.Multimodal.renderAvi]], demuxed back through
    * the strict AVI chunk walker): demux + REAL
    * per-frame decode + dHash, a video's signature = its distinct
    * frame-hash set, pairs by shared-frame-hash blocking (the
    * winnow/MOSS machinery — [[Dedup.winnowPairsFromFps]]) kept at
    * set-overlap ≥ ½ via the integer cross-multiplication
    * `3·shared ≥ n_a + n_b`. Synthetic videos slide a 2–4-frame
    * window over the formula-image line (consecutive docs share
    * frames — genuine near-dup structure), and the copy set is a
    * demux → 2× upscale → re-encode transcode whose frames hash
    * identically. The oracle rebuilds every frame hash from the pixel
    * formula and replays the blocking, cap and overlap arithmetic
    * relationally. */
  def multimodalVideoNeardup(s: SparkSession, dir: String): DataFrame = {
    val orig   = Multimodal.syntheticAviVideos(docs(s, dir), "doc_id")
    val copies = Multimodal.reencodeScaledVideo(orig, factor = 2, idOffset = 1000000L)
    val sigs = Multimodal.videoFrameHashes(orig.unionByName(copies)).toDF()
      .select(col("doc_id"), col("dhash_hex").as("fp")).distinct()
    val pairs = Dedup.winnowPairsFromFps(sigs, "doc_id", minShared = 1L, maxBucket = 1000)
    val sizes = sigs.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("nf").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nf").as("n_b")), "doc_b")
      .filter(col("shared") * 3 >= col("n_a") + col("n_b"))
      .select(col("doc_a"), col("doc_b"), col("shared").cast("int").as("shared"),
        col("n_a").cast("int").as("n_a"), col("n_b").cast("int").as("n_b"))
  }

  lazy val multimodalVideoNeardupSql: String =
    dhashRowBytesSql(
      s"""WITH vm AS (
         |  -- video membership: doc id's frames are images id + f,
         |  -- f in [0, 1 + id % 3] — a sliding window over the image line
         |  SELECT doc_id AS vid, doc_id + f AS fid
         |  FROM documents, unnest(generate_series(0, 1 + doc_id % 3)) AS t(f)
         |), vboth AS (
         |  -- originals + 2x-upscale transcodes (identical frame hashes)
         |  SELECT vid, fid FROM vm
         |  UNION ALL
         |  SELECT vid + 1000000, fid FROM vm
         |), imgs AS (
         |  SELECT DISTINCT fid AS img_id, fid AS doc_id,
         |         CAST(8 + fid % 9 AS INTEGER) AS w,
         |         CAST(8 + fid % 7 AS INTEGER) AS h
         |  FROM vm)""".stripMargin) +
      s"""
         |, fh AS MATERIALIZED (
         |  SELECT img_id AS fid,
         |         string_agg(lower(lpad(to_hex(rowbyte), 2, '0')), '' ORDER BY gy) AS fp
         |  FROM rb GROUP BY 1
         |), vh AS MATERIALIZED (
         |  SELECT DISTINCT vb.vid, fh.fp FROM vboth vb JOIN fh USING (fid)
         |), sizes AS (
         |  SELECT vid, count(*) AS nf FROM vh GROUP BY 1
         |), ok AS (
         |  SELECT fp FROM vh GROUP BY fp HAVING count(*) BETWEEN 2 AND 1000
         |), pairs AS (
         |  SELECT a.vid AS doc_a, b.vid AS doc_b, count(*) AS shared
         |  FROM vh a JOIN ok USING (fp) JOIN vh b ON b.fp = a.fp AND a.vid < b.vid
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, CAST(shared AS INTEGER) AS shared,
         |       CAST(sa.nf AS INTEGER) AS n_a, CAST(sb.nf AS INTEGER) AS n_b
         |FROM pairs
         |JOIN sizes sa ON sa.vid = doc_a
         |JOIN sizes sb ON sb.vid = doc_b
         |WHERE 3 * shared >= sa.nf + sb.nf
         |""".stripMargin

  /** Shared oracle prefix for the audio fingerprint: replay the varied
    * sample formula (attenuated by `1 << shift` with truncating
    * division — DuckDB `//` truncates toward zero exactly like Java)
    * over a member set `m (fp_id, doc_id, shift, n)`, window the first
    * 65 × 4-sample energies (windows past the clip end count 0), and
    * fold delta-sign bits into per-byte `rowbyte`s — the
    * [[graft.operators.Multimodal.audioFingerprint]] contract in pure
    * SQL. */
  private def afpRowBytesSql(membersCte: String): String =
    s"""$membersCte, sm AS MATERIALIZED (
       |  SELECT fp_id, i,
       |         (((doc_id + 17) * (i + 1) * (i + 2) + doc_id * 131 + 11) % 65536 - 32768) // (1 << shift) AS s
       |  FROM m, unnest(generate_series(0, n - 1)) AS t(i)
       |), wn AS (
       |  SELECT fp_id, w FROM m, unnest(generate_series(0, 64)) AS t(w)
       |), en AS MATERIALIZED (
       |  SELECT wn.fp_id, wn.w, coalesce(sum(sm.s * sm.s), 0) AS e
       |  FROM wn LEFT JOIN sm ON sm.fp_id = wn.fp_id AND sm.i // 4 = wn.w
       |  GROUP BY 1, 2
       |), rb AS MATERIALIZED (
       |  SELECT e0.fp_id, e0.w // 8 AS b,
       |         CAST(sum(CASE WHEN e1.e > e0.e THEN 1 << (e0.w % 8) ELSE 0 END) AS INTEGER) AS rowbyte
       |  FROM en e0 JOIN en e1 ON e1.fp_id = e0.fp_id AND e1.w = e0.w + 1
       |  WHERE e0.w < 64
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** 64-bit perceptual audio fingerprint over the REAL decode path
    * (sign of consecutive window-energy deltas — Haitsma–Kalker in
    * integer arithmetic): synthetic varied-signal WAVs round-trip the
    * real JDK codec, and the oracle rebuilds every fingerprint from
    * the sample formula — one wrong sample, window sum, or bit
    * position mismatches. */
  def multimodalAudioFp(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFingerprint(Multimodal.syntheticAudioVaried(docs(s, dir), "doc_id"))
      .toDF().select(col("doc_id"), col("afp_hex"))

  lazy val multimodalAudioFpSql: String =
    afpRowBytesSql(
      s"""WITH m AS (
         |  SELECT doc_id AS fp_id, doc_id, 0 AS shift,
         |         CAST(256 + doc_id % 241 AS BIGINT) AS n
         |  FROM documents)""".stripMargin) +
      s"""
         |SELECT fp_id AS doc_id,
         |       string_agg(lower(lpad(to_hex(rowbyte), 2, '0')), '' ORDER BY b) AS afp_hex
         |FROM rb GROUP BY 1
         |""".stripMargin

  /** Audio near-dup pairs over originals + half-amplitude re-encodes
    * (real decode → `s/2` → real re-encode, ids offset by 1,000,000):
    * fingerprint both, pair by the exact-recall 4×16-bit hamming
    * banding — the [[multimodalNeardup]] construction for audio.
    * Attenuation scales window energies by ~4 and keeps delta signs
    * up to truncation noise, so every (id, id+1M) pair lands within
    * the radius (hamming 0 for almost all clips, the occasional
    * near-tie flip within it); the oracle rebuilds BOTH fingerprints
    * from the formula, mirrors the banding and bucket cap, and
    * recomputes hamming byte-wise. */
  def multimodalAudioNeardup(s: SparkSession, dir: String): DataFrame = {
    val orig   = Multimodal.syntheticAudioVaried(docs(s, dir), "doc_id")
    val copies = Multimodal.reencodeAttenuated(orig, shift = 1, idOffset = 1000000L)
    val fps    = Multimodal.audioFingerprint(orig.unionByName(copies)).toDF()
    Dedup.hamming64Pairs(fps, "doc_id", "afp", maxHamming = 3, maxBucket = 1000)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
  }

  lazy val multimodalAudioNeardupSql: String =
    afpRowBytesSql(
      s"""WITH d AS (
         |  SELECT doc_id, CAST(256 + doc_id % 241 AS BIGINT) AS n FROM documents
         |), m AS (
         |  SELECT doc_id AS fp_id, doc_id, 0 AS shift, n FROM d
         |  UNION ALL
         |  SELECT doc_id + 1000000, doc_id, 1 AS shift, n FROM d)""".stripMargin) +
      s"""
         |, chunks AS MATERIALIZED (
         |  -- hash bits [16b, 16b+16) = bytes 2b and 2b+1 — the same
         |  -- 4x16 banding hamming64Pairs derives for maxHamming = 3
         |  SELECT e.fp_id, e.b // 2 AS band, e.rowbyte + 256 * o.rowbyte AS chunk
         |  FROM rb e JOIN rb o ON o.fp_id = e.fp_id AND o.b = e.b + 1
         |  WHERE e.b % 2 = 0
         |), ok AS (
         |  SELECT band, chunk FROM chunks GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 1000
         |), cand AS (
         |  SELECT DISTINCT a.fp_id AS doc_a, b.fp_id AS doc_b
         |  FROM chunks a
         |  JOIN ok USING (band, chunk)
         |  JOIN chunks b ON b.band = a.band AND b.chunk = a.chunk AND a.fp_id < b.fp_id
         |)
         |SELECT doc_a, doc_b, CAST(sum(bit_count(xor(ra.rowbyte, rbb.rowbyte))) AS INTEGER) AS hamming
         |FROM cand
         |JOIN rb ra  ON ra.fp_id = cand.doc_a
         |JOIN rb rbb ON rbb.fp_id = cand.doc_b AND rbb.b = ra.b
         |GROUP BY 1, 2
         |HAVING sum(bit_count(xor(ra.rowbyte, rbb.rowbyte))) <= 3
         |""".stripMargin

  // ================================================================ sampling
  /** Deterministic 10% decimation keyed by doc_id (salt "graft"): the
    * oracle checks literal MEMBERSHIP, not just the count — the whole
    * point of hash sampling is that any engine reproduces the same
    * subset. */
  def sampleHash(s: SparkSession, dir: String): DataFrame =
    Sampling.hashSample(docs(s, dir), "doc_id", fraction = 0.1, salt = "graft")
      .select(col("doc_id"), length(col("text")).cast("int").as("text_len"))

  lazy val sampleHashSql: String =
    // hexThreshold(0.1) = floor(0.1 * 65536) = 6553 = 0x1999
    s"""SELECT doc_id, CAST(length(text) AS INTEGER) AS text_len
       |FROM documents
       |WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) < '1999'
       |""".stripMargin

  /** Windowed co-occurrence: top token pairs within 5 positions, with
    * per-token totals (exact integers — PMI is one log away for the
    * caller, kept out for bit-portability). */
  def textCooccurrence(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cooccurrence(docs(s, dir), "doc_id", "text",
      window = 5, maxCount = 100000L, topK = 100)

  lazy val textCooccurrenceSql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), tok AS (
       |  SELECT doc_id, i AS pos, w[i] AS tok
       |  FROM ws, unnest(generate_series(1, len(w))) AS t(i)
       |  WHERE w[i] <> ''
       |), totals AS (
       |  SELECT tok, count(*) AS n FROM tok GROUP BY 1
       |), cold AS (
       |  SELECT * FROM tok
       |  WHERE tok NOT IN (SELECT tok FROM totals WHERE n > 100000)
       |), pairs AS (
       |  SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2,
       |         count(*) AS pair_count
       |  FROM cold a JOIN cold b
       |    ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 5
       |  WHERE a.tok <> b.tok
       |  GROUP BY 1, 2
       |)
       |SELECT w1, w2, pair_count, t1.n AS n1, t2.n AS n2
       |FROM pairs
       |JOIN totals t1 ON t1.tok = w1
       |JOIN totals t2 ON t2.tok = w2
       |ORDER BY pair_count DESC, w1, w2
       |LIMIT 100
       |""".stripMargin

  /** Deterministic global shuffle: shard + dense in-shard position,
    * both pure functions of (doc_id, salt) — the corpus-order
    * decorrelation step before packing/batching. The oracle recomputes
    * the identical permutation from md5 alone. */
  def sampleShuffleShards(s: SparkSession, dir: String): DataFrame =
    Sampling.shuffleShards(docs(s, dir).select(col("doc_id")),
      "doc_id", shards = 8, salt = "r7")
      .select(col("doc_id"), col("shard"), col("pos"))

  lazy val sampleShuffleShardsSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'r7') AS hh FROM documents
       |), sh AS (
       |  SELECT doc_id, hh,
       |         CAST('0x' || substr(hh, 1, 4) AS INTEGER) % 8 AS shard
       |  FROM h
       |)
       |SELECT doc_id, shard,
       |       CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1
       |            AS BIGINT) AS pos
       |FROM sh
       |""".stripMargin

  /** Stable train/valid/test assignment (80/10/10) keyed by doc_id:
    * a row's split never changes when other rows come or go. */
  def sampleSplits(s: SparkSession, dir: String): DataFrame =
    Sampling.assignSplits(docs(s, dir), "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))

  lazy val sampleSplitsSql: String =
    // cumulative thresholds: 0.8 -> 0xcccc, 0.9 -> 0xe666
    s"""SELECT doc_id,
       |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
       |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'valid'
       |            ELSE 'test' END AS split
       |FROM documents
       |""".stripMargin

  /** Leakage-free GROUPED split: the split key is the `source` column,
    * not the doc id, so every document of a source lands in the same
    * split by construction — near-duplicates inside a source can never
    * straddle train/test (the split-contamination hazard doc-keyed
    * splits carry). Same scan-local md5 rule as [[sampleSplits]]; the
    * oracle re-derives the split from the source per ROW, which is
    * only consistent because membership is a pure function of the
    * group key — group atomicity is what the hash-match proves. */
  def sampleSplitsGrouped(s: SparkSession, dir: String): DataFrame =
    Sampling.assignSplits(docs(s, dir), "source",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("source"), col("split"))

  lazy val sampleSplitsGroupedSql: String =
    s"""SELECT doc_id, source,
       |       CASE WHEN substr(md5(source), 1, 4) < 'cccc' THEN 'train'
       |            WHEN substr(md5(source), 1, 4) < 'e666' THEN 'valid'
       |            ELSE 'test' END AS split
       |FROM documents
       |""".stripMargin

  /** Quartile-stratified 50% sample of event values: the
    * distribution-shape-preserving cut (a global sample lets the
    * dominant quartile swamp the tails). ntile + md5 membership, both
    * re-derived literally by the oracle. */
  def sampleQuantileStrata(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.quantileStrata(
      sources.ParquetTables.readTable(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value")),
      Seq("event_type"), "value", "event_id",
      buckets = 4, fraction = 0.5, salt = "qs")
      .select(col("event_id"), col("event_type"),
        col("quantile_bucket").cast("int").as("quantile_bucket"))

  lazy val sampleQuantileStrataSql: String =
    s"""WITH q AS (
       |  SELECT event_id, event_type,
       |         ntile(4) OVER (PARTITION BY event_type
       |                        ORDER BY value, event_id) AS qb
       |  FROM events WHERE value IS NOT NULL
       |)
       |SELECT event_id, event_type, CAST(qb AS INTEGER) AS quantile_bucket
       |FROM q
       |WHERE substr(md5(CAST(event_id AS VARCHAR) || 'qs'), 1, 4) < '8000'
       |""".stripMargin

  /** Exactly-20-per-language stratified sample (md5-ranked, ties by
    * key): the balanced-eval-slice primitive. Literal-membership
    * oracle, like the other sampling gates. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang", k = 20, salt = "graft")
      .select(col("doc_id"), col("lang"), col("stratum_rank"))

  lazy val sampleStratifiedSql: String =
    s"""SELECT doc_id, lang, CAST(rk AS INTEGER) AS stratum_rank
       |FROM (
       |  SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang
       |                            ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft'),
       |                                     doc_id) AS rk
       |  FROM documents
       |)
       |WHERE rk <= 20
       |""".stripMargin

  /** Systematic PPS sample of ~50 docs weighted by n_chars — exact
    * integer prefix-sum arithmetic, distributed two-phase prefix. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSystematic(
      docs(s, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", k = 50)

  lazy val sampleWeightedSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, n_chars,
       |         CAST(sum(n_chars) OVER (ORDER BY doc_id
       |                                 ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum
       |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
       |t AS (SELECT CAST(sum(n_chars) AS HUGEINT) AS total FROM documents
       |      WHERE n_chars IS NOT NULL AND n_chars >= 0)
       |SELECT c.doc_id, c.n_chars,
       |       CAST((c.cum // (t.total // 50))
       |            - ((c.cum - c.n_chars) // (t.total // 50)) AS BIGINT) AS picks
       |FROM c CROSS JOIN t
       |WHERE (c.cum // (t.total // 50)) - ((c.cum - c.n_chars) // (t.total // 50)) > 0
       |""".stripMargin

  /** Corpus mixing to a token budget: 60/25/10/5 over four sources,
    * 20k chars total — src0's target exceeds its corpus at small sf,
    * exercising the keep-all cap alongside partial sampling. */
  def sampleDomainMix(s: SparkSession, dir: String): DataFrame =
    Sampling.domainMix(
      docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
      "doc_id", "source", "n_chars",
      weights = Seq("src0" -> 60L, "src1" -> 25L, "src2" -> 10L, "src3" -> 5L),
      budgetTokens = 20000L, salt = "mix")

  lazy val sampleDomainMixSql: String =
    s"""WITH w(source, wgt) AS (VALUES ('src0', 60), ('src1', 25), ('src2', 10), ('src3', 5)),
       |tot AS (SELECT source, CAST(sum(n_chars) AS HUGEINT) AS toks
       |        FROM documents GROUP BY 1),
       |thr AS (
       |  SELECT t.source,
       |         CASE WHEN (CAST(65536 AS HUGEINT) * 20000 * w.wgt) // (100 * t.toks) >= 65536
       |              THEN 'g'
       |              -- lower(): DuckDB to_hex is UPPERCASE, md5 is lowercase
       |              ELSE lpad(lower(to_hex((CAST(65536 AS HUGEINT) * 20000 * w.wgt) // (100 * t.toks))), 4, '0')
       |         END AS th
       |  FROM tot t JOIN w ON w.source = t.source)
       |SELECT d.doc_id, d.source, d.n_chars
       |FROM documents d JOIN thr ON d.source = thr.source
       |WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 4) < thr.th
       |""".stripMargin

  /** Mixture WITH UPSAMPLING: src0 at weight 60 against a 40k-token
    * budget needs a 24k share — 3 full epochs + a fractional one at
    * small sf (its corpus is ~8k tokens), while at sf0.1 (~73k) the
    * same spec DOWNSAMPLES (F = 0) — one gate spans both regimes.
    * src1 sits at ~1 epoch + fraction, src2/src3 downsample. The
    * oracle replays the exact decimal F/remainder arithmetic, the
    * per-epoch thresholds, and the md5 membership per (doc, epoch). */
  def sampleDomainMixEpochs(s: SparkSession, dir: String): DataFrame =
    Sampling.domainMixEpochs(
      docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
      "doc_id", "source", "n_chars",
      weights = Seq("src0" -> 60L, "src1" -> 25L, "src2" -> 10L, "src3" -> 5L),
      budgetTokens = 40000L, maxEpochs = 4, salt = "mixep")

  lazy val sampleDomainMixEpochsSql: String =
    s"""WITH w(source, wgt) AS (VALUES ('src0', 60), ('src1', 25), ('src2', 10), ('src3', 5)),
       |tot AS (SELECT source, CAST(sum(n_chars) AS HUGEINT) AS toks
       |        FROM documents GROUP BY 1),
       |fr AS (
       |  SELECT t.source,
       |         CAST(100 AS HUGEINT) * t.toks AS den,
       |         CAST(40000 AS HUGEINT) * w.wgt AS num,
       |         (CAST(40000 AS HUGEINT) * w.wgt) // (CAST(100 AS HUGEINT) * t.toks) AS f
       |  FROM tot t JOIN w ON w.source = t.source),
       |ep AS (
       |  SELECT source, e.epoch,
       |         CASE WHEN e.epoch < f THEN 'g'
       |              -- lower(): DuckDB to_hex is UPPERCASE, md5 is
       |              -- lowercase — an uppercase threshold flips
       |              -- membership when the deciding char is a hex letter
       |              ELSE lpad(lower(to_hex((CAST(65536 AS HUGEINT) * (num - f * den)) // den)), 4, '0')
       |         END AS th
       |  FROM fr, unnest(generate_series(0, CAST(f AS BIGINT))) AS e(epoch)
       |  WHERE e.epoch < f OR num - f * den > 0)
       |SELECT d.doc_id, d.source, d.n_chars, CAST(ep.epoch AS INTEGER) AS epoch
       |FROM documents d JOIN ep ON d.source = ep.source
       |WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'mixep'), 1, 4) < ep.th
       |""".stripMargin

  // ================================================================ winnowing
  /** Winnowing fingerprints [Schleimer et al., SIGMOD 2003] over the
    * documents table: 4-gram md5 hashes, window 5, rightmost-min
    * selection — the oracle re-derives the selection rule
    * relationally (same md5-hex prefixes, min by (hash, pos desc) via
    * an encoded sort key). */
  def textWinnow(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text", n = 4, w = 5)

  lazy val textWinnowSql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), g AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 16) AS h,
       |         len(w) - 3 AS m
       |  FROM ws, unnest(generate_series(1, len(w) - 3)) AS t(i)
       |), wins AS (
       |  -- window j covers gram positions [j, j+4]; j ranges over
       |  -- [0, max(m-5, 0)] — short docs winnow one window.
       |  -- pos desc is encoded as a fixed 9-digit pad of 999999999-pos:
       |  -- valid only while pos < 10^9 (a per-DOCUMENT gram count —
       |  -- far past any real document), asserted so a larger future
       |  -- gate fails loudly instead of mis-ordering.
       |  SELECT doc_id, j,
       |         min(h || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0')) AS sel
       |  FROM g, unnest(generate_series(
       |         greatest(pos - 4, 0), least(pos, greatest(m - 5, 0)))) AS tw(j)
       |  GROUP BY 1, 2
       |), bound AS (
       |  -- coalesce: an all-short-docs corpus leaves g empty and
       |  -- max(m) NULL, which must pass, not raise
       |  SELECT CASE WHEN coalesce(max(m), 0) < 1000000000 THEN 1
       |              ELSE error('winnow oracle: doc exceeds 10^9 grams, pad encoding invalid')
       |         END AS ok FROM g
       |)
       |SELECT DISTINCT doc_id,
       |       CAST(999999999 - CAST(substr(sel, 17, 9) AS BIGINT) AS INTEGER) AS pos,
       |       substr(sel, 1, 16) AS fp
       |FROM wins, bound
       |""".stripMargin

  /** MOSS-style shared-fingerprint candidate pairs: docs sharing >= 2
    * distinct winnowed hashes (fingerprint buckets capped like every
    * blocking join). */
  def dedupWinnowPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairs(docs(s, dir), "doc_id", "text",
      n = 4, w = 5, minShared = 2L, maxBucket = 1000)

  lazy val dedupWinnowPairsSql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), g AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 16) AS h,
       |         len(w) - 3 AS m
       |  FROM ws, unnest(generate_series(1, len(w) - 3)) AS t(i)
       |), wins AS (
       |  -- same 9-digit pos-desc pad as the textWinnow oracle (valid
       |  -- while every doc has < 10^9 grams; no bound guard needed here
       |  -- — pads only break ties among EQUAL hashes, so the selected
       |  -- fp set, the only thing this query reads, is pad-independent)
       |  SELECT doc_id, j,
       |         min(h || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0')) AS sel
       |  FROM g, unnest(generate_series(
       |         greatest(pos - 4, 0), least(pos, greatest(m - 5, 0)))) AS tw(j)
       |  GROUP BY 1, 2
       |), fps AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, substr(sel, 1, 16) AS fp FROM wins
       |), ok AS (
       |  SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 1000
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |FROM fps a
       |JOIN ok USING (fp)
       |JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= 2
       |""".stripMargin
  /** Normalized text as a materialized column (the shared preprocessing
    * of every text operator, exposed as its own output). */
  def textNormalize(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextAnalysis.normalized(col("text")).as("norm_text"))

  lazy val textNormalizeSql: String =
    s"""SELECT doc_id, $normSql AS norm_text
       |FROM documents
       |""".stripMargin

  // ================================================================ HTML extraction
  /** HTML main-content extraction over deterministically CONSTRUCTED
    * pages: each document's text is wrapped in a full page — comment,
    * head (title/script/style, the script body containing a decoy
    * `</p>`), a nav full of links, a short heading, the content
    * paragraph, an entity-bearing paragraph, an all-anchor line ≥
    * minChars (the link-density rule's specific target), short list
    * boilerplate, and a footer — and [[TextAnalysis.extractHtml]] must
    * recover EXACTLY the two content lines. The oracle constructs the
    * expected output directly (prefix + collapsed text, then the
    * decoded entity line), so a drift anywhere — container removal,
    * block splitting, tag stripping, entity order, the integer
    * link-density rule, the minChars rule — mismatches byte-for-byte. */
  def textExtractHtml(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><!-- generated --><head><title>Doc "), col("doc_id"),
      lit(" &amp; Co</title>" +
        "<script>var x = '</p>';</script><style>p { color: red }</style></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>" +
        " <a href=\"/contact\">Contact</a></nav>"),
      lit("<h1>Doc "), col("doc_id"), lit("</h1>"),
      lit("<p>First paragraph main content: "), col("text"), lit("</p>"),
      lit("<p>Entities &amp; more &lt;tags&gt; here &nbsp; with plenty of padding</p>"),
      lit("<div><a href=\"/x\">A very long navigation link line that is all anchor" +
        " text</a></div>"),
      lit("<ul><li>Nav</li><li>Links</li></ul><div>short</div>"),
      lit("<footer>Copyright 2024 Example Corp</footer></body></html>"))
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.htmlTitle(html).as("title"),
      TextAnalysis.extractHtml(html).as("extracted"))
  }

  lazy val textExtractHtmlSql: String =
    """SELECT doc_id,
      |  'Doc ' || doc_id || ' & Co' AS title,
      |  trim(regexp_replace('First paragraph main content: ' || text, '\s+', ' ', 'g'))
      |    || chr(10) || 'Entities & more <tags> here with plenty of padding' AS extracted
      |FROM documents
      |""".stripMargin

  // ================================================================ WARC parsing
  /** WARC record parsing over deterministically CONSTRUCTED captures:
    * each document becomes a two-record WARC file (a warcinfo record,
    * then a response record whose HTTP body STARTS with a decoy
    * `WARC/1.0` line — only Content-Length byte accounting parses
    * that correctly; any delimiter splitter would cut the record in
    * half). The oracle constructs the expected parse directly —
    * record order, types, URIs, exact content lengths, and the
    * HTTP-body split — so a drift anywhere in the slicing mismatches
    * byte-for-byte. */
  def warcExtract(s: SparkSession, dir: String): DataFrame = {
    val httpPayload = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nWARC/1.0 decoy\n"),
      col("text"))
    val infoPayload = lit("software: graft\r\n")
    val warc = concat(
      lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: "),
      length(infoPayload).cast("string"), lit("\r\n\r\n"), infoPayload, lit("\r\n\r\n"),
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://example.com/"),
      col("doc_id").cast("string"),
      lit("\r\nContent-Length: "), length(httpPayload).cast("string"),
      lit("\r\n\r\n"), httpPayload, lit("\r\n\r\n"))
    Warc.parseRecords(
        docs(s, dir).select(col("doc_id"), warc.as("warc")), "doc_id", "warc")
      .toDF()
      .select(col("doc_id"), col("rec_idx"), col("warc_type"), col("target_uri"),
        col("content_length"), Warc.httpBody(col("payload")).as("body"))
  }

  lazy val warcExtractSql: String =
    """WITH resp AS (
      |  SELECT doc_id,
      |         'WARC/1.0 decoy' || chr(10) || text AS body,
      |         CAST(length('HTTP/1.1 200 OK' || chr(13) || chr(10) ||
      |                     'Content-Type: text/plain' || chr(13) || chr(10) ||
      |                     chr(13) || chr(10) ||
      |                     'WARC/1.0 decoy' || chr(10) || text) AS BIGINT) AS len
      |  FROM documents)
      |SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type, '' AS target_uri,
      |       CAST(17 AS BIGINT) AS content_length,
      |       'software: graft' || chr(13) || chr(10) AS body
      |FROM documents
      |UNION ALL
      |SELECT doc_id, 1, 'response', 'http://example.com/' || doc_id, len, body
      |FROM resp
      |""".stripMargin

  /** BYTE-EXACT WARC parsing over constructed `.warc.gz`-shaped
    * captures: each document becomes two records, each wrapped as its
    * own gzip member (the CommonCrawl layout) — a response whose HTTP
    * body carries MULTI-BYTE UTF-8 (em-dash, accents, a check mark:
    * octet lengths diverge from UTF-16 counts, so only byte
    * accounting slices it; the string path would mis-slice and abort)
    * and a `resource` record holding RAW BINARY (PNG magic + NULs +
    * invalid-UTF-8 bytes) that no string column could carry at all.
    * The oracle reconstructs every field independently — DuckDB's
    * `octet_length(encode(...))` recomputes the response's byte
    * Content-Length, the binary payload round-trips as hex. */
  def warcExtractBinary(s: SparkSession, dir: String): DataFrame = {
    val suffix = " — naïve café ✓"
    val httpPayload = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
      col("text"), lit(suffix))
    val binHex = "89504E470D0A1A0A0000FF00DEADBEEF" // 16 bytes, invalid UTF-8
    val rec1 = concat(
      encode(concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://example.com/"),
        col("doc_id").cast("string"),
        lit("\r\nContent-Length: "), octet_length(httpPayload).cast("string"),
        lit("\r\n\r\n")), "UTF-8"),
      encode(httpPayload, "UTF-8"), encode(lit("\r\n\r\n"), "UTF-8"))
    val rec2 = concat(
      encode(lit("WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 16\r\n\r\n"),
        "UTF-8"),
      unhex(lit(binHex)), encode(lit("\r\n\r\n"), "UTF-8"))
    val gz = udf { (b: Array[Byte]) => Warc.gzipMember(b) }
    val captures = docs(s, dir)
      .select(col("doc_id"), concat(gz(rec1), gz(rec2)).as("warc"))
    Warc.parseRecordsBytes(captures, "doc_id", "warc", gzipped = true)
      .toDF()
      .select(col("doc_id"), col("rec_idx"), col("warc_type"), col("target_uri"),
        col("content_length"),
        when(col("warc_type") === "response",
          Warc.httpBody(col("payload").cast("string"))).as("body"),
        when(col("warc_type") === "resource", hex(col("payload"))).as("payload_hex"))
  }

  lazy val warcExtractBinarySql: String =
    """WITH resp AS (
      |  SELECT doc_id,
      |         text || ' — naïve café ✓' AS body,
      |         CAST(octet_length(encode(
      |           'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
      |           'Content-Type: text/html; charset=utf-8' || chr(13) || chr(10) ||
      |           chr(13) || chr(10) || text || ' — naïve café ✓')) AS BIGINT) AS len
      |  FROM documents)
      |SELECT doc_id, 0 AS rec_idx, 'response' AS warc_type,
      |       'http://example.com/' || doc_id AS target_uri,
      |       len AS content_length, body, NULL AS payload_hex
      |FROM resp
      |UNION ALL
      |SELECT doc_id, 1, 'resource', '', 16, NULL, '89504E470D0A1A0A0000FF00DEADBEEF'
      |FROM documents
      |""".stripMargin

  /** WARC `revisit` records — the archival-dedup loop closed at the
    * byte level: per document, a REAL two-record `.warc.gz` archive is
    * built with the production renderers (a full `response` capture at
    * D1, then a `revisit` record at D2 carrying the
    * identical-payload-digest profile, the payload's md5 content
    * address, and `WARC-Refers-To-Date: D1` — NO payload bytes
    * stored), and parsed back through the strict byte/gzip path. The
    * oracle recomputes the digest (`md5(text)`) and states the profile
    * and dates — a drift anywhere in render, member framing, header
    * parse, or digest formatting mismatches. */
  def warcRevisit(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val (d1, d2) = ("2024-03-01T00:00:00Z", "2024-03-08T00:00:00Z")
    val archives = docs(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val uri = s"http://h$id.example.com/page"
          val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          md.reset()
          val digest = md.digest(payload).map(b => f"${b & 0xff}%02x").mkString
          (id,
            Warc.gzipMember(Warc.renderRecordBytes("response", uri, d1, payload)) ++
              Warc.gzipMember(Warc.renderRevisitBytes(uri, d2, digest, d1)))
        }
      }.toDF("doc_id", "warc")
    Warc.parseRevisits(archives, "doc_id", "warc", gzipped = true).toDF()
  }

  lazy val warcRevisitSql: String =
    s"""SELECT doc_id, 1 AS rec_idx,
       |       'http://h' || doc_id || '.example.com/page' AS target_uri,
       |       '${operators.Warc.RevisitProfileIdenticalDigest}' AS profile,
       |       'md5:' || md5(text) AS payload_digest,
       |       '2024-03-01T00:00:00Z' AS refers_to_date
       |FROM documents
       |""".stripMargin

  /** Charset-honoring HTTP body decode over three constructed byte
    * payloads per document: an ISO-8859-1 page whose latin-1 bytes a
    * blind UTF-8 cast would mojibake, a default-UTF-8 page with
    * multi-byte content, and a CHUNKED UTF-8 page whose first chunk
    * boundary splits an em-dash mid-sequence — only byte-level
    * dechunk-then-decode reassembles it (decode-then-dechunk would
    * miscount every size and shred the character). The oracle states
    * each decoded body directly. */
  def warcCharsetBody(s: SparkSession, dir: String): DataFrame = {
    val latin1Body = "636166E920BD" // "café ½" in ISO-8859-1
    val iso = concat(
      encode(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
        "charset=iso-8859-1\r\n\r\n"), "UTF-8"),
      unhex(lit(latin1Body)))
    val plainStr = concat(lit("naïve — "), col("text"))
    val plain = concat(
      encode(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), "UTF-8"),
      encode(plainStr, "UTF-8"))
    val enc = encode(plainStr, "UTF-8")
    val c1 = substring(enc, 1, 10) // splits the em dash (bytes 9..11)
    val c2 = substring(enc, 11, 100000000)
    val chunked = concat(
      encode(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        "Transfer-Encoding: chunked\r\n\r\n"), "UTF-8"),
      encode(concat(lower(hex(length(c1))), lit("\r\n")), "UTF-8"), c1,
      encode(lit("\r\n"), "UTF-8"),
      encode(concat(lower(hex(length(c2))), lit("\r\n")), "UTF-8"), c2,
      encode(lit("\r\n0\r\n\r\n"), "UTF-8"))
    // kind 4: NO header charset — the <meta charset> prescan governs
    // (latin-1 bytes after an ASCII meta tag)
    val meta = concat(
      encode(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        "<meta charset=\"iso-8859-1\"><p>caf"), "UTF-8"),
      unhex(lit("E9")), encode(lit("</p>"), "UTF-8"))
    docs(s, dir)
      .select(col("doc_id"), explode(map(
        lit(1), iso, lit(2), plain, lit(3), chunked, lit(4), meta))
        .as(Seq("kind", "payload")))
      .select(col("doc_id"), col("kind"),
        Warc.httpBodyCharset(col("payload")).as("body"))
  }

  lazy val warcCharsetBodySql: String =
    """SELECT doc_id, 1 AS kind, 'café ½' AS body FROM documents
      |UNION ALL
      |SELECT doc_id, 2, 'naïve — ' || text FROM documents
      |UNION ALL
      |SELECT doc_id, 3, 'naïve — ' || text FROM documents
      |UNION ALL
      |SELECT doc_id, 4, '<meta charset="iso-8859-1"><p>café</p>' FROM documents
      |""".stripMargin

  // ================================================================ learned classifier
  /** TRAINED nearest-class-profile classifier (Rocchio / linear
    * multinomial NB in exact fixed-point — the model-based curation
    * primitive): train per-lang token profiles on the doc_id % 5 != 0
    * folds, predict the held-out fold. The oracle RETRAINS the
    * profiles and replays the integer scoring + argmax relationally,
    * so a drift anywhere — tokenization, counts, normalization
    * arithmetic, tie-break — mismatches. (The synthetic corpus draws
    * text from one shared vocabulary regardless of `lang` — a full
    * log-likelihood NB scores ≈ the majority baseline on it — so the
    * gate pins the TRAIN+PREDICT arithmetic, not model quality;
    * ClassifySpec demonstrates discrimination on a separable
    * corpus.) */
  def textClassifyProfile(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (train, test) = Classify.holdout(d, "doc_id", folds = 5, fold = 0)
    Classify.nearestProfile(test, "doc_id", "text",
      Classify.classProfiles(train, "lang", "text"))
  }

  lazy val textClassifyProfileSql: String =
    s"""WITH tr AS (
       |  SELECT lang, t.token
       |  FROM (SELECT lang, string_split($normSql, ' ') AS w
       |        FROM documents WHERE doc_id % 5 <> 0),
       |       unnest(w) AS t(token)
       |  WHERE t.token <> ''
       |), prof AS MATERIALIZED (
       |  SELECT lang, token, count(*) AS cnt FROM tr GROUP BY 1, 2
       |), tot AS (
       |  SELECT lang, sum(cnt) AS total FROM prof GROUP BY 1
       |), te AS (
       |  SELECT doc_id, t.token
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w
       |        FROM documents WHERE doc_id % 5 = 0),
       |       unnest(w) AS t(token)
       |  WHERE t.token <> ''
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM te GROUP BY 1, 2
       |), dots AS (
       |  SELECT tf.doc_id, prof.lang, sum(tf.tf * prof.cnt) AS dot
       |  FROM tf JOIN prof USING (token) GROUP BY 1, 2
       |), grid AS (
       |  SELECT d.doc_id, tot.lang, tot.total
       |  FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d, tot
       |), scores AS (
       |  SELECT g.doc_id, g.lang,
       |         CAST(coalesce(dots.dot, 0) * 1000000 // g.total AS BIGINT) AS score
       |  FROM grid g
       |  LEFT JOIN dots ON dots.doc_id = g.doc_id AND dots.lang = g.lang
       |)
       |SELECT doc_id, lang AS label_pred, score
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
       |      FROM scores)
       |WHERE rn = 1
       |""".stripMargin

  /** Char-TRIGRAM language classifier (Cavnar–Trenkle features through
    * the same exact fixed-point nearest-profile scoring): train
    * per-lang trigram profiles on the `doc_id % 5 != 0` folds over the
    * NORMALIZED text (spaces kept — word-boundary shape is signal),
    * predict the held-out fold. Char n-grams are the short-document
    * lang-ID primitive the stopword-hit heuristic cannot be — no
    * vocabulary overlap needed. The oracle retrains the trigram
    * profiles and replays scoring + argmax relationally
    * (`text_classify_profile` pattern); ClassifySpec demonstrates
    * separation on multilingual sentences where stopword lang-ID
    * fails. */
  def textLangidNgram(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val (train, test) = Classify.holdout(d, "doc_id", folds = 5, fold = 0)
    Classify.nearestProfileChars(test, "doc_id", "text",
      Classify.charNgramProfiles(train, "lang", "text", n = 3), n = 3)
  }

  lazy val textLangidNgramSql: String =
    s"""WITH tr AS (
       |  SELECT lang, substring(norm, i, 3) AS token
       |  FROM (SELECT lang, $normSql AS norm FROM documents WHERE doc_id % 5 <> 0),
       |       unnest(generate_series(1, greatest(length(norm) - 2, 0))) AS t(i)
       |), prof AS MATERIALIZED (
       |  SELECT lang, token, count(*) AS cnt FROM tr GROUP BY 1, 2
       |), tot AS (
       |  SELECT lang, sum(cnt) AS total FROM prof GROUP BY 1
       |), te AS (
       |  SELECT doc_id, substring(norm, i, 3) AS token
       |  FROM (SELECT doc_id, $normSql AS norm FROM documents WHERE doc_id % 5 = 0),
       |       unnest(generate_series(1, greatest(length(norm) - 2, 0))) AS t(i)
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM te GROUP BY 1, 2
       |), dots AS (
       |  SELECT tf.doc_id, prof.lang, sum(tf.tf * prof.cnt) AS dot
       |  FROM tf JOIN prof USING (token) GROUP BY 1, 2
       |), grid AS (
       |  SELECT d.doc_id, tot.lang, tot.total
       |  FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d, tot
       |), scores AS (
       |  SELECT g.doc_id, g.lang,
       |         CAST(coalesce(dots.dot, 0) * 1000000 // g.total AS BIGINT) AS score
       |  FROM grid g
       |  LEFT JOIN dots ON dots.doc_id = g.doc_id AND dots.lang = g.lang
       |)
       |SELECT doc_id, lang AS label_pred, score
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
       |      FROM scores)
       |WHERE rn = 1
       |""".stripMargin

  // ================================================================ learned BPE
  /** Corpus-learned BPE merge table [Sennrich et al. 2016], 8 merges
    * over the normalized-word frequency table. The oracle REPLAYS
    * TRAINING round by round in SQL (the unrolled `events_pagerank`
    * pattern): pair counts with freq weighting, `(cnt DESC, l, rt)`
    * best-pair selection, greedy non-overlapping merge application
    * via run-alternation — any divergence in any round shifts every
    * later merge and mismatches. */
  def textBpeVocab(s: SparkSession, dir: String): DataFrame =
    Bpe.trainMerges(docs(s, dir), "text", numMerges = 8)

  /** Tokenization of the corpus against the learned merges: per-doc
    * REAL BPE token count + the full token stream joined in document
    * order — replacing the `len/4` estimate with counting. */
  /** Deep-vocabulary BPE training — the driver fast path
    * ([[Bpe.trainMergesLocal]]) at a production merge count (4,096).
    * The synthetic corpus has only ~31 distinct words, far too few to
    * sustain 4k merges, so the word table is enriched IN-PLAN first:
    * fused word trigrams (`a_b_c`, ~31³ shapes) stand in for a real
    * crawl's vocabulary. Bench-only by design — a 4,096-round DuckDB
    * training replay is not a feasible oracle; the trainer's
    * correctness is pinned by BpeSpec (in-memory ≡ distributed ≡
    * independent reference, incl. UTF-8 tie-break order). */
  private def bpe4kFused(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__ws"))
      .select(col("doc_id"),
        when(size(col("__ws")) >= 3, array_join(expr(
          "transform(sequence(1, size(__ws) - 2), " +
            "i -> concat_ws('_', element_at(__ws, i), element_at(__ws, i + 1), " +
            "element_at(__ws, i + 2)))"), " "))
          .otherwise(lit("")).as("text"))

  // The trained 4k merge table, cached per (session, dir):
  // trainMergesLocal executes eagerly (the collect + in-memory trainer
  // happen inside the call) and returns a LocalRelation of driver
  // data, so caching it lets textBpeTokenize4k time ENCODE ONLY —
  // re-training inside the tokenize entry double-counted the ~5s
  // training cost already timed by textBpeVocab4k and overstated
  // encode ~4×. textBpeVocab4k itself never reads this cache (it IS
  // the training bench). Keyed by the session's UUID (stable and
  // never reused, unlike identityHashCode) and bounded: inserting for
  // a session evicts every other session's entries, so a retired
  // session's DataFrames are not pinned for the JVM lifetime and a
  // recycled identity can never serve a stale merge table.
  private val bpe4kMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  // a stable never-reused per-session id, minted on first use into the
  // session's own runtime conf (identityHashCode CAN be reused after a
  // session is GC'd, which could serve a stale merge table; Spark's
  // sessionUUID is private[sql])
  private def bpe4kSessionId(s: SparkSession): String = {
    val key = "graft.internal.bpe4kSessionId"
    s.conf.getOption(key).getOrElse {
      val id = java.util.UUID.randomUUID().toString
      s.conf.set(key, id)
      id
    }
  }

  private def bpe4kCachePut(s: SparkSession, dir: String, merges: DataFrame): Unit = {
    val prefix = s"${bpe4kSessionId(s)}:"
    bpe4kMergeCache.keySet.removeIf(k => !k.startsWith(prefix))
    bpe4kMergeCache.put(s"$prefix$dir", merges)
  }

  def textBpeVocab4k(s: SparkSession, dir: String): DataFrame = {
    val merges = Bpe.trainMergesLocal(bpe4kFused(s, dir), "text", numMerges = 4096)
    bpe4kCachePut(s, dir, merges)
    merges
  }

  /** Deep-vocabulary tokenization — the RANKED encoder against the 4k
    * trigram vocabulary ([[textBpeVocab4k]]'s corpus): per-word cost is
    * vocabulary-INDEPENDENT (lowest-rank-first with a pair→rank
    * lookup), where the fold form pays O(4096) merge passes per
    * distinct word. Bench-only; ranked ≡ fold is BpeSpec-pinned.
    * Reuses the cached vocabulary when [[textBpeVocab4k]] already
    * trained it this session, so the bench times encode, not a
    * retrain. */
  def textBpeTokenize4k(s: SparkSession, dir: String): DataFrame = {
    val fused = bpe4kFused(s, dir)
    val merges = bpe4kMergeCache.computeIfAbsent(
      s"${bpe4kSessionId(s)}:$dir",
      _ => Bpe.trainMergesLocal(fused, "text", numMerges = 4096))
    Bpe.tokenizeWith(fused, "doc_id", "text", merges, ranked = true)
      .select(col("doc_id"), size(col("bpe_tokens")).cast("long").as("n_bpe_tokens"))
  }

  /** Deep-vocabulary BYTE-LEVEL training — the production tokenizer
    * regime (4,096 merges over the 256-symbol UTF-8 alphabet) on the
    * trigram-enriched corpus. Bench-only; byte-level correctness is
    * pinned by the `text_bpe_bytes*` gates and BpeSpec. */
  def textBpeBytesVocab4k(s: SparkSession, dir: String): DataFrame =
    Bpe.trainMergesLocal(bpe4kFused(s, dir), "text", numMerges = 4096,
      byteLevel = true)

  def textBpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val corpus = docs(s, dir)
    val merges = Bpe.trainMerges(corpus, "text", numMerges = 8)
    Bpe.tokenizeWith(corpus, "doc_id", "text", merges)
      .select(col("doc_id"),
        size(col("bpe_tokens")).cast("long").as("n_bpe_tokens"),
        array_join(col("bpe_tokens"), " ").as("bpe_text"))
      .filter(col("n_bpe_tokens") > 0)
  }

  /** Shared unrolled-training CTE prefix: `wf` (word, freq) and
    * symbol tables `s0..s{rounds}` with per-round best pair `m{r}`.
    * Every chained CTE is MATERIALIZED — DuckDB inlines plain CTEs
    * per reference, which goes exponential over 8 rounds. */
  private def bpeTrainSql(rounds: Int, byteLevel: Boolean = false): String = {
    val s0 =
      if (byteLevel)
        """s0 AS MATERIALIZED (
          |  -- initial symbols: UTF-8 bytes as uppercase hex pairs
          |  -- (DuckDB hex(BLOB) is uppercase — the byteSyms alphabet),
          |  -- end-of-word marker on the last
          |  SELECT w, CAST(i AS INTEGER) AS pos,
          |         CASE WHEN i = octet_length(encode(w))
          |              THEN substr(hex(encode(w)), 2*i-1, 2) || '</w>'
          |              ELSE substr(hex(encode(w)), 2*i-1, 2) END AS sym
          |  FROM (SELECT DISTINCT w FROM wf),
          |       unnest(generate_series(1, octet_length(encode(w)))) AS t(i)
          |)""".stripMargin
      else
        """s0 AS MATERIALIZED (
          |  -- initial symbols: codepoints, end-of-word marker on the last
          |  SELECT w, CAST(i AS INTEGER) AS pos,
          |         CASE WHEN i = length(w) THEN substr(w, i, 1) || '</w>'
          |              ELSE substr(w, i, 1) END AS sym
          |  FROM (SELECT DISTINCT w FROM wf),
          |       unnest(generate_series(1, length(w))) AS t(i)
          |)""".stripMargin
    def round(r: Int): String =
      s"""p$r AS MATERIALIZED (
         |  SELECT a.sym AS l, b.sym AS rt, sum(wf.freq) AS cnt
         |  FROM s$r a JOIN s$r b ON b.w = a.w AND b.pos = a.pos + 1
         |  JOIN wf ON wf.w = a.w
         |  GROUP BY 1, 2
         |), m$r AS MATERIALIZED (
         |  SELECT l, rt FROM p$r ORDER BY cnt DESC, l, rt LIMIT 1
         |), mk$r AS MATERIALIZED (
         |  -- candidate match positions for this round's pair
         |  SELECT a.w, a.pos
         |  FROM s$r a JOIN s$r b ON b.w = a.w AND b.pos = a.pos + 1, m$r
         |  WHERE a.sym = m$r.l AND b.sym = m$r.rt
         |), tk$r AS MATERIALIZED (
         |  -- greedy left-to-right non-overlap: in each RUN of
         |  -- consecutive match positions (only l = rt makes runs),
         |  -- take the 1st, 3rd, ... match
         |  SELECT w, pos FROM (
         |    SELECT w, pos, row_number() OVER (PARTITION BY w, grp ORDER BY pos) AS k
         |    FROM (SELECT w, pos,
         |                 pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
         |          FROM mk$r))
         |  WHERE k % 2 = 1
         |), s${r + 1} AS MATERIALIZED (
         |  -- taken left halves merge with their right neighbor, taken
         |  -- right halves drop, positions renumber contiguously
         |  SELECT w, CAST(row_number() OVER (PARTITION BY w ORDER BY pos) AS INTEGER) AS pos,
         |         sym
         |  FROM (
         |    SELECT s.w, s.pos,
         |           CASE WHEN t.pos IS NOT NULL THEN s.sym || nxt.sym ELSE s.sym END AS sym
         |    FROM s$r s
         |    LEFT JOIN tk$r t  ON t.w = s.w AND t.pos = s.pos
         |    LEFT JOIN tk$r t2 ON t2.w = s.w AND t2.pos = s.pos - 1
         |    LEFT JOIN s$r nxt ON nxt.w = s.w AND nxt.pos = s.pos + 1
         |    WHERE t2.pos IS NULL
         |  )
         |)""".stripMargin
    s"""WITH ws AS MATERIALIZED (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), wf AS MATERIALIZED (
       |  SELECT t.tok AS w, count(*) AS freq
       |  FROM ws, unnest(w) AS t(tok)
       |  WHERE len(t.tok) >= 1
       |  GROUP BY 1
       |), $s0,
       |${(0 until rounds).map(round).mkString(",\n")}""".stripMargin
  }

  lazy val textBpeVocabSql: String =
    bpeTrainSql(8) +
      (0 until 8).map(r =>
        s"\nSELECT CAST($r AS INTEGER) AS merge_rank, l AS left_sym, rt AS right_sym FROM m$r")
        .mkString("", "\nUNION ALL", "\n")

  lazy val textBpeTokenizeSql: String =
    bpeTrainSql(8) +
      s"""
         |, tok AS MATERIALIZED (
         |  SELECT w, count(*) AS n_sym, string_agg(sym, ' ' ORDER BY pos) AS toks
         |  FROM s8 GROUP BY 1
         |), dw AS MATERIALIZED (
         |  SELECT doc_id, i AS widx, w[i] AS word
         |  FROM ws, unnest(generate_series(1, len(w))) AS t(i)
         |  WHERE len(w[i]) >= 1
         |)
         |SELECT doc_id, CAST(sum(tok.n_sym) AS BIGINT) AS n_bpe_tokens,
         |       string_agg(tok.toks, ' ' ORDER BY widx) AS bpe_text
         |FROM dw JOIN tok ON tok.w = dw.word
         |GROUP BY 1
         |""".stripMargin

  /** BYTE-LEVEL BPE training [Radford et al. 2019's byte-level base
    * alphabet over the Sennrich trainer], 8 merges: symbols are UTF-8
    * bytes as uppercase hex pairs, so the vocabulary is lossless on
    * any input with no OOV — tokenizer parity with the GPT-2/Llama
    * family's id space shape. The oracle REPLAYS TRAINING round by
    * round over the byte alphabet rebuilt from `hex(encode(w))` —
    * same per-round pair counts, same `(cnt DESC, l, rt)` tie-break
    * (pure-ASCII hex symbols: binary string order on both engines),
    * same greedy merge application. */
  def textBpeBytes(s: SparkSession, dir: String): DataFrame =
    Bpe.trainMerges(docs(s, dir), "text", numMerges = 8, byteLevel = true)

  lazy val textBpeBytesSql: String =
    bpeTrainSql(8, byteLevel = true) +
      (0 until 8).map(r =>
        s"\nSELECT CAST($r AS INTEGER) AS merge_rank, l AS left_sym, rt AS right_sym FROM m$r")
        .mkString("", "\nUNION ALL", "\n")

  /** Byte-level tokenization against the learned byte merges: per-doc
    * token count + the token stream in document order — the encoder
    * half of tokenizer parity (ranked, the production path; ranked ≡
    * fold is BpeSpec-pinned, as is losslessness: hex-decoding the
    * stream reproduces every word). */
  def textBpeBytesTokenize(s: SparkSession, dir: String): DataFrame = {
    val corpus = docs(s, dir)
    val merges = Bpe.trainMerges(corpus, "text", numMerges = 8, byteLevel = true)
    Bpe.tokenizeWith(corpus, "doc_id", "text", merges, ranked = true, byteLevel = true)
      .select(col("doc_id"),
        size(col("bpe_tokens")).cast("long").as("n_bpe_tokens"),
        array_join(col("bpe_tokens"), " ").as("bpe_text"))
      .filter(col("n_bpe_tokens") > 0)
  }

  lazy val textBpeBytesTokenizeSql: String =
    bpeTrainSql(8, byteLevel = true) +
      s"""
         |, tok AS MATERIALIZED (
         |  SELECT w, count(*) AS n_sym, string_agg(sym, ' ' ORDER BY pos) AS toks
         |  FROM s8 GROUP BY 1
         |), dw AS MATERIALIZED (
         |  SELECT doc_id, i AS widx, w[i] AS word
         |  FROM ws, unnest(generate_series(1, len(w))) AS t(i)
         |  WHERE len(w[i]) >= 1
         |)
         |SELECT doc_id, CAST(sum(tok.n_sym) AS BIGINT) AS n_bpe_tokens,
         |       string_agg(tok.toks, ' ' ORDER BY widx) AS bpe_text
         |FROM dw JOIN tok ON tok.w = dw.word
         |GROUP BY 1
         |""".stripMargin

  // ================================================================ unigram LM tokenizer
  /** Unigram-LM (SentencePiece-family) vocabulary training replayed
    * ROUND BY ROUND in SQL (the [[textBpeVocabSql]] convention):
    * substring seeding with the (cnt DESC, token) top-`seedSize` cut,
    * then per round a full Viterbi-segmentation replay — the
    * recursive CTE enumerates every segmentation of every distinct
    * word over the current vocabulary and picks the (fewest pieces,
    * highest score, smallest joined rendering) winner, exactly the
    * integer lexicographic objective the Scala DP optimizes — usage
    * counting, and the singles-always + top-`keep` multi prune. Any
    * divergence in any round shifts every later vocabulary and
    * mismatches. */
  private val ugRounds = 3
  private val ugKeep = Seq(24, 16, 12)
  private val ugMaxPiece = 6
  private val ugSeed = 64

  def textUnigramVocab(s: SparkSession, dir: String): DataFrame =
    operators.Unigram.trainVocab(docs(s, dir), "text", rounds = ugRounds,
      keepSchedule = ugKeep, maxPieceLen = ugMaxPiece, minCount = 2,
      seedSize = ugSeed)

  /** The shared WITH-prefix: wf + v0 seeding + `rounds` hard-EM
    * rounds, ending at CTE `v$rounds` (token, score). */
  private def unigramTrainSql(rounds: Int): String = {
    def round(r: Int): String =
      s"""path$r AS (
         |  SELECT w, 1 AS pos, 0 AS ntok, CAST(0 AS BIGINT) AS ssum, '' AS path
         |  FROM (SELECT DISTINCT w FROM wf)
         |  UNION ALL
         |  SELECT p.w, p.pos + length(v.token), p.ntok + 1, p.ssum + v.score,
         |         CASE WHEN p.path = '' THEN v.token
         |              ELSE p.path || ' ' || v.token END
         |  FROM path$r p JOIN v$r v
         |    ON substr(p.w, p.pos, length(v.token)) = v.token
         |  WHERE p.pos <= length(p.w)
         |), best$r AS MATERIALIZED (
         |  SELECT w, path FROM (
         |    SELECT w, path, row_number() OVER (
         |      PARTITION BY w ORDER BY ntok, ssum DESC, path) AS rn
         |    FROM path$r WHERE pos = length(w) + 1)
         |  WHERE rn = 1
         |), usage$r AS MATERIALIZED (
         |  SELECT t.tok AS token, CAST(sum(wf.freq) AS BIGINT) AS u
         |  FROM best$r b JOIN wf ON wf.w = b.w,
         |       unnest(string_split(b.path, ' ')) AS t(tok)
         |  GROUP BY 1
         |), v${r + 1} AS MATERIALIZED (
         |  SELECT s.token, coalesce(u.u, CAST(0 AS BIGINT)) AS score
         |  FROM (SELECT token FROM v0 WHERE length(token) = 1) s
         |  LEFT JOIN usage$r u USING (token)
         |  UNION ALL
         |  SELECT token, u AS score FROM (
         |    SELECT v.token, u.u, row_number() OVER (ORDER BY u.u DESC, v.token) AS rn
         |    FROM v$r v JOIN usage$r u USING (token)
         |    WHERE length(v.token) >= 2 AND u.u > 0)
         |  WHERE rn <= ${ugKeep(r)}
         |)""".stripMargin
    s"""WITH RECURSIVE ws AS MATERIALIZED (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), wf AS MATERIALIZED (
       |  SELECT t.tok AS w, count(*) AS freq
       |  FROM ws, unnest(w) AS t(tok)
       |  WHERE len(t.tok) >= 1
       |  GROUP BY 1
       |), sub AS MATERIALIZED (
       |  SELECT substr(w, i, l) AS token, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM wf,
       |       unnest(generate_series(1, length(w))) AS ti(i),
       |       unnest(generate_series(1, $ugMaxPiece)) AS tl(l)
       |  WHERE i + l <= length(w) + 1
       |  GROUP BY 1
       |), v0 AS MATERIALIZED (
       |  SELECT token, cnt AS score FROM sub WHERE length(token) = 1
       |  UNION ALL
       |  SELECT token, cnt AS score FROM (
       |    SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rn
       |    FROM sub WHERE length(token) >= 2 AND cnt >= 2)
       |  WHERE rn <= $ugSeed
       |),
       |${(0 until rounds).map(round).mkString(",\n")}""".stripMargin
  }

  lazy val textUnigramVocabSql: String =
    unigramTrainSql(ugRounds) +
      s"""
         |SELECT token, CAST(score AS BIGINT) AS score,
         |       CAST(row_number() OVER (ORDER BY score DESC, token) - 1 AS INTEGER) AS rank
         |FROM v$ugRounds
         |""".stripMargin

  /** Viterbi tokenization against the trained unigram vocabulary:
    * per-doc piece count + the piece stream in document order — the
    * [[textBpeTokenize]] shape for the SentencePiece family. */
  def textUnigramTokenize(s: SparkSession, dir: String): DataFrame = {
    val corpus = docs(s, dir)
    val vocab = operators.Unigram.trainVocab(corpus, "text", rounds = ugRounds,
      keepSchedule = ugKeep, maxPieceLen = ugMaxPiece, minCount = 2,
      seedSize = ugSeed)
    operators.Unigram.tokenizeWith(corpus, "doc_id", "text", vocab, maxPieceLen = ugMaxPiece)
      .select(col("doc_id"), col("n_unigram_tokens"),
        array_join(col("unigram_tokens"), " ").as("unigram_text"))
      .filter(col("n_unigram_tokens") > 0)
  }

  lazy val textUnigramTokenizeSql: String =
    unigramTrainSql(ugRounds) +
      s""", pathF AS (
         |  SELECT w, 1 AS pos, 0 AS ntok, CAST(0 AS BIGINT) AS ssum, '' AS path
         |  FROM (SELECT DISTINCT w FROM wf)
         |  UNION ALL
         |  SELECT p.w, p.pos + length(v.token), p.ntok + 1, p.ssum + v.score,
         |         CASE WHEN p.path = '' THEN v.token
         |              ELSE p.path || ' ' || v.token END
         |  FROM pathF p JOIN v$ugRounds v
         |    ON substr(p.w, p.pos, length(v.token)) = v.token
         |  WHERE p.pos <= length(p.w)
         |), bestF AS MATERIALIZED (
         |  SELECT w, path, len(string_split(path, ' ')) AS n_sym FROM (
         |    SELECT w, path, row_number() OVER (
         |      PARTITION BY w ORDER BY ntok, ssum DESC, path) AS rn
         |    FROM pathF WHERE pos = length(w) + 1)
         |  WHERE rn = 1
         |), dw AS MATERIALIZED (
         |  SELECT doc_id, i AS widx, w[i] AS word
         |  FROM ws, unnest(generate_series(1, len(w))) AS t(i)
         |  WHERE len(w[i]) >= 1
         |)
         |SELECT doc_id, CAST(sum(bestF.n_sym) AS BIGINT) AS n_unigram_tokens,
         |       string_agg(bestF.path, ' ' ORDER BY widx) AS unigram_text
         |FROM dw JOIN bestF ON bestF.w = dw.word
         |GROUP BY 1
         |""".stripMargin

  // ================================================================ term frequencies
  /** Corpus-level term frequencies with document frequencies — the
    * vocabulary-building / tokenizer-training primitive. One explode +
    * one shuffle on the token (map-side partial agg); document
    * frequency rides the same aggregation via a distinct-doc count.
    * Top 100 by (tf desc, token) for a deterministic gate. */
  def textTermFreq(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(100)
      .select(col("token"), col("tf"), col("df"),
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("tf").desc, col("token")))
          .cast("int").as("rank"))

  lazy val textTermFreqSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, t.token
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |       unnest(w) AS t(token)
       |  WHERE t.token <> ''
       |), agg AS (
       |  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
       |  FROM toks GROUP BY 1
       |)
       |SELECT token, tf, df,
       |       CAST(row_number() OVER (ORDER BY tf DESC, token) AS INTEGER) AS rank
       |FROM agg
       |ORDER BY tf DESC, token
       |LIMIT 100
       |""".stripMargin

  /** Inverted-index postings (cap 20): df over all docs, posting list
    * capped pre-shuffle (WindowGroupLimit). Arrays flatten to a
    * comma-joined string for the gate. */
  def textPostings(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.postings(docs(s, dir), "doc_id", "text", cap = 20)
      .select(col("token"), col("df"),
        array_join(col("postings"), ",").as("postings"))

  lazy val textPostingsSql: String =
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, t.token
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |       unnest(w) AS t(token)
       |  WHERE t.token <> '')
       |SELECT token, CAST(count(*) AS BIGINT) AS df,
       |       array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
       |FROM toks GROUP BY 1
       |""".stripMargin

  /** Incremental exact dedup: an 80/20 deterministic split plays
    * corpus vs new batch; batch docs whose fingerprint exists in the
    * corpus (or in a smaller-id batch-mate) are dropped. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val h = substring(md5(concat(col("doc_id").cast("string"), lit("inc"))), 1, 4)
    val batch  = d.filter(h >= "cccc").select(col("doc_id"), col("text"), col("n_chars"))
    val corpus = Dedup.fingerprints(d.filter(h < "cccc"), "text")
    Dedup.exactIncremental(batch, corpus, "doc_id", "text")
      .select(col("doc_id"), col("n_chars"))
  }

  lazy val dedupIncrementalSql: String =
    // coalesce mirrors the operator's null-text sentinel (no null rows
    // in the fixture, but the semantics are declared identical)
    s"""WITH f AS (
       |  SELECT doc_id, n_chars, coalesce(md5($normSql), '__NULL_TEXT__') AS fp,
       |         substr(md5(CAST(doc_id AS VARCHAR) || 'inc'), 1, 4) AS h
       |  FROM documents),
       |b AS (SELECT * FROM f WHERE h >= 'cccc'),
       |c AS (SELECT DISTINCT fp FROM f WHERE h < 'cccc')
       |SELECT b.doc_id, b.n_chars FROM b
       |WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.fp = b.fp)
       |  AND NOT EXISTS (SELECT 1 FROM b b2
       |                  WHERE b2.fp = b.fp AND b2.doc_id < b.doc_id)
       |""".stripMargin

  // ================================================================ token chunking
  /** Overlapping 32-token windows with stride 24 — the context-window
    * packing step of a training pipeline, scan-local on both sides. */
  def textChunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(docs(s, dir), "doc_id", "text", size = 32, stride = 24)

  lazy val textChunksSql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |  WHERE $normSql <> ''
       |)
       |SELECT doc_id,
       |       CAST(st // 24 AS INTEGER) AS chunk_id,
       |       CAST(len(w[st + 1:st + 32]) AS INTEGER) AS n_chunk_tokens,
       |       array_to_string(w[st + 1:st + 32], ' ') AS chunk_text
       |FROM ws, unnest(generate_series(0, len(w) - 1, 24)) AS t(st)
       |""".stripMargin

  // ================================================================ curation decision
  /** One-scan keep-or-drop curation ([[TextAnalysis.curate]]): quality
    * score, language, and repetition signals composed into a boolean +
    * machine-readable reasons. The oracle recomputes every signal from
    * scratch (the textStats and textRepetition SQL bodies joined on the
    * doc) and rebuilds the same reason list; keep decisions compare the
    * UNROUNDED doubles, which match bit-for-bit because both engines
    * evaluate the identical IEEE expression tree (the text_stats gate
    * already hash-matches unrounded quality_score). */
  def textCurate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.curate(
      // null out a deterministic slice (the text_repetition trick) so
      // the gate exercises the null-text -> too_short contract; the
      // oracle mirrors the slice AND the coalesce-to-empty
      docs(s, dir).withColumn("text",
        when(col("doc_id") % 101 === 0, lit(null)).otherwise(col("text"))),
      "doc_id", "text", minTokens = 20, minQuality = 0.4)

  lazy val textCurateSql: String = {
    val langs = Seq("en", "de", "es", "fr", "zh")
    val langScores = langs.map(l => s"${hitsSql(l)} AS s_$l").mkString(",\n         ")
    val caseBranches = langs.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n              ")
    s"""WITH dset AS (
       |  SELECT doc_id, CASE WHEN doc_id % 101 = 0 THEN NULL ELSE text END AS text
       |  FROM documents
       |), n AS (
       |  -- the engine coalesces null text to '' before scoring
       |  SELECT doc_id, coalesce($normSql, '') AS t FROM dset
       |), b AS (
       |  SELECT doc_id, t,
       |         CASE WHEN t = '' THEN 0 ELSE len(string_split(t, ' ')) END AS n_tokens,
       |         length(t) AS n_chars,
       |         ' ' || t || ' ' AS p
       |  FROM n
       |), o AS (
       |  SELECT doc_id, n_tokens, n_chars,
       |         $langScores,
       |         CASE WHEN length(t) = 0 THEN 0.0
       |              ELSE CAST(length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(t)
       |         END AS punct_ratio,
       |         CASE WHEN n_tokens = 0 THEN 0.0
       |              ELSE CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens
       |         END AS avg_token_len
       |  FROM b
       |), q AS (
       |  SELECT doc_id, n_tokens,
       |         0.25 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
       |           + 0.25 * (1.0 - punct_ratio)
       |           + 0.30 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(s_en AS DOUBLE) / n_tokens END) * 4.0)
       |           + 0.20 * least(1.0, avg_token_len / 8.0) AS quality,
       |         CASE WHEN (s_en + s_de + s_es + s_fr + s_zh) = 0 THEN 'und'
       |                $caseBranches
       |              ELSE 'zh' END AS lang_pred
       |  FROM o
       |), ws AS (
       |  SELECT doc_id, string_split(t, ' ') AS w FROM n WHERE t <> ''
       |), tok AS (
       |  SELECT doc_id, u.token FROM ws, unnest(w) AS u(token)
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2
       |), agg AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS tn,
       |         CAST(count(*) AS BIGINT) AS d, CAST(max(c) AS BIGINT) AS m
       |  FROM tf GROUP BY 1
       |), bi AS (
       |  SELECT doc_id, array_to_string(w[i:i + 1], ' ') AS bg
       |  FROM ws, unnest(generate_series(1, len(w) - 1)) AS t2(i)
       |  WHERE len(w) >= 2
       |), biagg AS (
       |  SELECT doc_id, count(*) AS nb, count(DISTINCT bg) AS db FROM bi GROUP BY 1
       |), rr AS (
       |  SELECT n.doc_id,
       |         CASE WHEN tn IS NULL THEN 0.0 ELSE CAST(m AS DOUBLE) / tn END AS ttr,
       |         CASE WHEN nb IS NULL OR nb = 0 THEN 0.0
       |              ELSE CAST(nb - db AS DOUBLE) / nb END AS dbr
       |  FROM n
       |  LEFT JOIN agg a ON a.doc_id = n.doc_id
       |  LEFT JOIN biagg bb ON bb.doc_id = n.doc_id
       |)
       |SELECT q.doc_id, CAST(q.n_tokens AS INTEGER) AS n_tokens,
       |       round(q.quality, 6) AS quality_score, q.lang_pred,
       |       round(rr.ttr, 6) AS top_token_ratio,
       |       round(rr.dbr, 6) AS dup_bigram_ratio,
       |       NOT (q.n_tokens < 20 OR q.quality < 0.4
       |            OR rr.ttr > 0.20 OR rr.dbr > 0.30) AS keep,
       |       concat_ws(',',
       |         CASE WHEN q.n_tokens < 20 THEN 'too_short' END,
       |         CASE WHEN q.quality < 0.4 THEN 'low_quality' END,
       |         CASE WHEN rr.ttr > 0.20 OR rr.dbr > 0.30 THEN 'repetitive' END) AS reasons
       |FROM q JOIN rr ON rr.doc_id = q.doc_id
       |""".stripMargin
  }

  // ================================================================ sequence packing
  /** Chunk → training-sequence packing: non-overlapping 32-token chunks
    * packed 8-per-sequence across 16 deterministic md5 shards
    * ([[operators.Packing]]). The oracle replays the identical
    * closed-form assignment — hex-shard, per-shard (doc, chunk) order,
    * row_number arithmetic — so any drift in shard hashing, ordering,
    * or boundary arithmetic breaks the hash match. */
  /** Token-budget concat-and-split packing ([[operators.Packing
    * .packBudget]]): docs stream in shuffleShards order, a sequence
    * cut every 512 tokens (n_chars as the count). The oracle replays
    * the closed-form cut arithmetic off the same exclusive prefix sum
    * — any drift in ordering, the running sum, or the integral
    * boundary division breaks the hash match. */
  def textPackBudget(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packBudget(
      Sampling.shuffleShards(
        docs(s, dir).select(col("doc_id"), col("n_chars")), "doc_id", 8, "r7"),
      "shard", "pos", "n_chars", seqTokens = 512L)
      .select(col("doc_id"), col("shard"), col("pos"), col("tok_start"),
        col("seq_first"), col("seq_last"), col("seq_offset"))

  lazy val textPackBudgetSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR) || 'r7') AS hh FROM documents
       |), sh AS (
       |  SELECT doc_id, n_chars, hh,
       |         CAST('0x' || substr(hh, 1, 4) AS INTEGER) % 8 AS shard
       |  FROM h
       |), sp AS (
       |  SELECT doc_id, shard, n_chars,
       |         CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1
       |              AS BIGINT) AS pos
       |  FROM sh
       |), c AS (
       |  SELECT doc_id, shard, pos, n_chars,
       |         CAST(sum(n_chars) OVER (PARTITION BY shard ORDER BY pos)
       |              - n_chars AS BIGINT) AS tok_start
       |  FROM sp
       |)
       |SELECT doc_id, shard, pos, tok_start,
       |       CAST(CASE WHEN n_chars > 0 THEN tok_start // 512 END AS BIGINT) AS seq_first,
       |       CAST(CASE WHEN n_chars > 0 THEN (tok_start + n_chars - 1) // 512 END AS BIGINT) AS seq_last,
       |       CAST(CASE WHEN n_chars > 0 THEN tok_start % 512 END AS BIGINT) AS seq_offset
       |FROM c
       |""".stripMargin

  def textPack(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packChunks(
      TextAnalysis.chunkTokens(docs(s, dir), "doc_id", "text", size = 32, stride = 32),
      "doc_id", "chunk_id", chunksPerSeq = 8, shards = 16)
      .select(col("shard"), col("seq_id"), col("seq_pos"),
        col("doc_id"), col("chunk_id"), col("n_chunk_tokens"))

  lazy val textPackSql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |  WHERE $normSql <> ''
       |), ch AS (
       |  SELECT doc_id,
       |         CAST(st // 32 AS INTEGER) AS chunk_id,
       |         CAST(len(w[st + 1:st + 32]) AS INTEGER) AS n_chunk_tokens
       |  FROM ws, unnest(generate_series(0, len(w) - 1, 32)) AS t(st)
       |), sh AS (
       |  SELECT *, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 16 AS shard
       |  FROM ch
       |), rn AS (
       |  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id, chunk_id) - 1 AS r
       |  FROM sh
       |)
       |SELECT shard, CAST(r // 8 AS INTEGER) AS seq_id, CAST(r % 8 AS INTEGER) AS seq_pos,
       |       doc_id, chunk_id, n_chunk_tokens
       |FROM rn
       |""".stripMargin

  // ================================================================ repetition stats
  /** Gopher-style repetition quality filter: duplicate-token fraction,
    * top-token share, duplicate-bigram fraction, and the curation flag.
    * Spark computes them in one compiled pass per document; the oracle
    * recomputes via explode + group-by from scratch. */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(
      // null out a deterministic slice so the gate EXERCISES the
      // empty-doc zeros-row contract (the corpus has no empty docs);
      // mirrored in the oracle's documents CTE
      docs(s, dir).withColumn("text",
        when(col("doc_id") % 101 === 0, lit(null)).otherwise(col("text"))),
      "doc_id", "text")

  lazy val textRepetitionSql: String =
    s"""WITH dset AS (
       |  SELECT doc_id, CASE WHEN doc_id % 101 = 0 THEN NULL ELSE text END AS text
       |  FROM documents
       |), ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM dset
       |  WHERE $normSql <> ''
       |), tok AS (
       |  SELECT doc_id, t.token FROM ws, unnest(w) AS t(token)
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2
       |), agg AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |         CAST(count(*) AS BIGINT) AS d, CAST(max(c) AS BIGINT) AS m
       |  FROM tf GROUP BY 1
       |), bi AS (
       |  SELECT doc_id, array_to_string(w[i:i + 1], ' ') AS bg
       |  FROM ws, unnest(generate_series(1, len(w) - 1)) AS t(i)
       |  WHERE len(w) >= 2
       |), biagg AS (
       |  SELECT doc_id, count(*) AS nb, count(DISTINCT bg) AS db FROM bi GROUP BY 1
       |), r AS (
       |  -- LEFT JOIN from documents: an empty/null-normalized doc has no
       |  -- token rows but must still emit a zeros row, matching the
       |  -- engine's coalesce-to-empty contract in repetitionStats
       |  SELECT ds.doc_id,
       |         CAST(coalesce(n, 0) AS INTEGER) AS n_tokens,
       |         CASE WHEN n IS NULL THEN 0.0 ELSE CAST(m AS DOUBLE) / n END AS top_token_ratio,
       |         CASE WHEN n IS NULL THEN 0.0 ELSE CAST(n - d AS DOUBLE) / n END AS dup_token_ratio,
       |         CASE WHEN nb IS NULL OR nb = 0 THEN 0.0
       |              ELSE CAST(nb - db AS DOUBLE) / nb END AS dup_bigram_ratio
       |  FROM dset ds
       |  LEFT JOIN agg a ON a.doc_id = ds.doc_id
       |  LEFT JOIN biagg b ON b.doc_id = ds.doc_id
       |)
       |SELECT doc_id, n_tokens, top_token_ratio, dup_token_ratio, dup_bigram_ratio,
       |       (top_token_ratio > 0.20 OR dup_bigram_ratio > 0.30) AS flagged
       |FROM r
       |""".stripMargin

  // ================================================================ decontamination
  /** Train/benchmark n-gram contamination: the benchmark set is the
    * deterministic doc_id % 97 slice, train is the rest; a train doc is
    * contaminated when it shares any distinct 3-gram with the benchmark
    * set. The bench n-gram set broadcasts (eval suites are small by
    * construction) so the pass is scan-shaped over the train corpus. */
  def deconNgramOverlap(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    operators.Decontaminate.overlap(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 3)
  }

  lazy val deconNgramOverlapSql: String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS w FROM documents
       |), ngr AS (
       |  SELECT DISTINCT doc_id, array_to_string(w[i:i + 2], ' ') AS ng
       |  FROM ws, unnest(generate_series(1, len(w) - 2)) AS t(i)
       |  WHERE len(w) >= 3
       |), bench AS (
       |  SELECT DISTINCT ng FROM ngr WHERE doc_id % 97 = 0
       |)
       |SELECT doc_id, count(*) AS n_shared
       |FROM ngr JOIN bench USING (ng)
       |WHERE doc_id % 97 <> 0
       |GROUP BY 1
       |""".stripMargin

  /** The decontaminated survivor corpus (left anti against any-overlap
    * contamination) — what the pipeline actually materializes. */
  def deconClean(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    operators.Decontaminate.clean(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 3)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  lazy val deconCleanSql: String = {
    val overlap = deconNgramOverlapSql.trim
    s"""WITH c AS (
       |$overlap
       |)
       |SELECT d.doc_id, d.lang, d.source
       |FROM documents d
       |LEFT JOIN c ON c.doc_id = d.doc_id
       |WHERE d.doc_id % 97 <> 0 AND c.doc_id IS NULL
       |""".stripMargin
  }

  /** The SAME survivor corpus computed through the bloom-filter
    * shortlist ([[operators.Decontaminate.bloomClean]]) and gated
    * against the SAME exact oracle: blooms have no false negatives and
    * the exact-verify join removes false positives, so the outputs are
    * identical — but the full-corpus pass here is a pure scan with a
    * codegen'd `bloom_filter_contains` predicate (no join, no shuffle
    * of the n-gram stream), the shape that survives a bench n-gram set
    * too large to broadcast. */
  def deconBloomClean(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    operators.Decontaminate.bloomClean(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 3, fpp = 0.03)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  // ================================================================ heavy hitters
  /** Exact heavy-hitter tokens (frequency > 1/200 of the corpus token
    * stream) via the two-pass Misra-Gries construction
    * ([[operators.HeavyHitters]]): candidates from a k=200-counter
    * mergeable sketch (bounded memory at any cardinality), exact
    * recount with a scan-local IN-set (no join). The threshold compare
    * is integer-exact (`cnt * 200 > total`), so the gate hash-matches
    * the plain GROUP BY / HAVING oracle. */
  def textHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    operators.HeavyHitters.exact(toks, "token", denom = 200)
      .withColumnRenamed("value", "token")
  }

  lazy val textHeavyHittersSql: String =
    s"""WITH toks AS (
       |  SELECT t.token
       |  FROM (SELECT string_split($normSql, ' ') AS w FROM documents),
       |       unnest(w) AS t(token)
       |  WHERE t.token <> ''
       |), tot AS (SELECT count(*) AS n FROM toks)
       |SELECT token, CAST(count(*) AS BIGINT) AS cnt
       |FROM toks, tot
       |GROUP BY token, n
       |HAVING count(*) * 200 > n
       |""".stripMargin

  // ================================================================ tf-idf terms
  /** Top-5 characteristic terms per document: ranked by (tf desc,
    * df asc, token) — integer-exact keys, so the ranking is
    * bit-reproducible across engines — with the classic
    * tf·ln(N/df) score emitted as a 6-decimal output column (ln is not
    * correctly-rounded IEEE, so it must not participate in ranking).
    * Shape at scale: ONE tokenize + (doc, token) shuffle builds tf;
    * df is a whole-partition window count over tf (tf rows are
    * distinct per (doc, token), so rows-per-token == docs-per-token) —
    * a reshuffle of the small AGGREGATE, never a second scan/explode
    * of the corpus — then a WindowGroupLimit top-k on the doc. The
    * join formulation (tf ⋈ tf.groupBy(token)) was rejected on plan
    * evidence: Spark plans common DataFrame subplans independently, so
    * the df side re-tokenized the whole corpus (two Generate nodes).
    * The window form makes the single tokenize STRUCTURAL, and
    * TextPipelineSpec pins it. */
  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nDocs = d.select(count(lit(1)).as("n_docs"))
    val tokens = d
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val tf = tokens.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df"), col("token"))
    tf.withColumn("df", count(lit(1)).over(wTok))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        row_number().over(w).as("rk"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
      .filter(col("rk") <= 5)
  }

  lazy val textTfidfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, t.token
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |       unnest(w) AS t(token)
       |  WHERE t.token <> ''
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
       |), df AS (
       |  SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
       |), n AS (
       |  SELECT count(*) AS n_docs FROM documents
       |), ranked AS (
       |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
       |         row_number() OVER (PARTITION BY tf.doc_id
       |                            ORDER BY tf.tf DESC, df.df, tf.token) AS rk,
       |         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
       |  FROM tf JOIN df USING (token), n
       |)
       |SELECT doc_id, token, tf, df, CAST(rk AS INTEGER) AS rk, tfidf
       |FROM ranked WHERE rk <= 5
       |""".stripMargin

  // ================================================================ BM25 terms
  /** Okapi BM25 (k1=1.2, b=0.75) for the top-5 terms per document —
    * the length-normalized retrieval scorer that complements
    * [[textTfidf]] (quality-vs-reference-corpus filters and ranked
    * retrieval both run on BM25, not raw tf·idf). Ranking reuses
    * tfidf's integer-exact keys (tf desc, df asc, token) so row
    * selection is bit-reproducible across engines; the BM25 score —
    * whose ln/division chain is not a sound cross-engine sort key —
    * is emitted as a 6-decimal output column with an expression tree
    * written identically on both sides. Shape at scale: the SAME
    * single-tokenize structure as tfidf (spec-pinned); doc length
    * `dl` is a window SUM over the tf aggregate (tf rows are distinct
    * per (doc, token)), sharing the doc_id exchange with the rank
    * window. The corpus length + doc count come from ONE extra
    * scan-local pass over documents (`sum(size(tokens))`, a partial
    * agg — NOT a second explode or a global window, both of which
    * re-shuffle the token stream; a `tf.agg(sum)` lineage was
    * rejected on plan evidence: Spark plans the shared tf subplan
    * twice, re-tokenizing the corpus). */
  def textBm25(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val globals = d.agg(
      count(lit(1)).as("n_docs"),
      sum(size(filter(TextAnalysis.tokens(col("text")), t => t =!= "")))
        .as("corpus_len"))
    val tokens = d
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val tf = tokens.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df"), col("token"))
    val avgdl = col("corpus_len").cast("double") / col("n_docs")
    tf.withColumn("df", count(lit(1)).over(wTok))
      .withColumn("dl", sum(col("tf")).over(wDoc))
      .crossJoin(broadcast(globals))
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("dl"),
        row_number().over(w).as("rk"),
        round(
          log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5)) + lit(1.0)) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)),
          6).as("bm25"))
      .filter(col("rk") <= 5)
  }

  lazy val textBm25Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, t.token
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |       unnest(w) AS t(token)
       |  WHERE t.token <> ''
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
       |), stats AS (
       |  SELECT doc_id, token, tf,
       |         CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df,
       |         CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
       |  FROM tf
       |), n AS (
       |  SELECT count(*) AS n_docs FROM documents
       |), tot AS (
       |  SELECT CAST(sum(tf) AS BIGINT) AS corpus_len FROM tf
       |), ranked AS (
       |  SELECT s.doc_id, s.token, s.tf, s.df, s.dl,
       |         row_number() OVER (PARTITION BY s.doc_id
       |                            ORDER BY s.tf DESC, s.df, s.token) AS rk,
       |         round(
       |           ln((CAST(n.n_docs AS DOUBLE) - s.df + 0.5) / (s.df + 0.5) + 1.0) *
       |             (s.tf * 2.2) /
       |             (s.tf + 1.2 * (0.25 + 0.75 * s.dl /
       |                (CAST(tot.corpus_len AS DOUBLE) / n.n_docs))),
       |           6) AS bm25
       |  FROM stats s, n, tot
       |)
       |SELECT doc_id, token, tf, df, dl, CAST(rk AS INTEGER) AS rk, bm25
       |FROM ranked WHERE rk <= 5
       |""".stripMargin

  // ================================================================ PII redaction
  /** The synthetic corpus carries no organic PII, so the gate
    * CONSTRUCTS it deterministically from corpus columns — both engines
    * build the identical email/URL/phone/IP-bearing text, redact it,
    * and must agree byte-for-byte. A regex divergence between Spark's
    * Java regex and DuckDB's RE2, a missed match, or an over-eager
    * match all break the hash. */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    val pii = concat(
      col("text"),
      lit(" contact "), col("source"), lit("@example.com via http://"),
      col("lang"), lit(".example.org/d?id="), col("doc_id").cast("string"),
      lit(" or +1 (555) 010-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
      lit("."), ((col("doc_id") / 256).cast("long") % 256).cast("string"))
    docs(s, dir).select(
      col("doc_id"),
      TextAnalysis.redact(pii).as("redacted"))
  }

  lazy val textRedactSql: String = {
    val pii =
      """text || ' contact ' || source || '@example.com via http://' ||
        | lang || '.example.org/d?id=' || CAST(doc_id AS VARCHAR) ||
        | ' or +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        | ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        | '.' || CAST((doc_id // 256) % 256 AS VARCHAR)""".stripMargin.replace("\n", "")
    val redacted = TextAnalysis.redactionPatterns.foldLeft(s"($pii)") {
      case (expr, (pat, tag)) =>
        // DuckDB standard strings keep backslashes literal — only
        // quotes need escaping for the embedded regex
        val escaped = pat.replace("'", "''")
        s"regexp_replace($expr, '$escaped', '$tag', 'g')"
    }
    s"""SELECT doc_id, $redacted AS redacted
       |FROM documents
       |""".stripMargin
  }

  // ---------------------------------------------------------- int8 quantization
  /** Symmetric per-vector int8 embedding quantization, exploded to
    * (vec_id, pos, scale, q) rows so the oracle can value-compare the
    * codes; the operator itself keeps packed arrays (scan-local, no
    * shuffle — QuantizeSpec pins the plan and the reconstruction
    * error bound). */
  def embedQuantize(s: SparkSession, dir: String): DataFrame =
    operators.Quantize.int8(emb(s, dir), "vec_id", "embedding")
      .select(col("vec_id"), col("scale"), posexplode(col("q")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("pos"),
        col("scale"), col("col").as("q"))

  lazy val embedQuantizeSql: String =
    s"""WITH s AS (
       |  SELECT vec_id,
       |         CAST(list_max(list_transform(embedding,
       |                x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE) AS scale,
       |         embedding
       |  FROM embeddings
       |)
       |SELECT vec_id, CAST(i AS INTEGER) AS pos, scale,
       |       CAST(CASE WHEN scale = 0 THEN 0
       |                 ELSE round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
       |                            * 127.0 / scale)
       |            END AS INTEGER) AS q
       |FROM (SELECT vec_id, scale, embedding,
       |             unnest(range(1, len(embedding) + 1)) AS i
       |      FROM s)
       |""".stripMargin

  // ---------------------------------------------------------- distributed k-means
  /** Full-corpus nearest-centroid assignment (the scan-local half of
    * distributed k-means) against deterministic centroids — the k
    * lowest-id embeddings, so the oracle can name them as `vid < k`.
    * KmeansSpec pins the Lloyd iterations (not SQL-expressible) and
    * the zero-exchange assignment plan. */
  def embedKmeansAssign(s: SparkSession, dir: String): DataFrame = {
    val e     = emb(s, dir)
    val cents = operators.Kmeans.initLowestIds(e, "vec_id", "embedding", 8)
    operators.Kmeans.assign(e, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("cluster"),
        round(col("dist2"), 6).as("dist2"))
  }

  /** Oracle: exact decimal dot products, the same
    * `|v|^2 + (|c|^2 - 2 v·c)` parenthesization as the operator, and
    * row_number over (d2, cid) mirroring the lowest-index tie-break. */
  lazy val embedKmeansAssignSql: String =
    s"""WITH pos AS (
       |  SELECT vec_id AS vid, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
       |), c AS (
       |  SELECT vid AS cid, pos, v AS cv FROM pos WHERE vid < 8
       |), cn AS (
       |  SELECT cid, sum(CAST(cv * cv AS DECIMAL(30,15))) AS n2 FROM c GROUP BY 1
       |), vn AS (
       |  SELECT vid, sum(CAST(v * v AS DECIMAL(30,15))) AS n2 FROM pos GROUP BY 1
       |), dots AS (
       |  SELECT p.vid, c.cid, sum(CAST(p.v * c.cv AS DECIMAL(30,15))) AS dot
       |  FROM pos p JOIN c USING (pos) GROUP BY 1, 2
       |), d2 AS (
       |  SELECT vid, cid,
       |         CAST(vn.n2 AS DOUBLE)
       |           + (CAST(cn.n2 AS DOUBLE) - 2 * CAST(dot AS DOUBLE)) AS d2
       |  FROM dots JOIN vn USING (vid) JOIN cn USING (cid)
       |), ranked AS (
       |  SELECT vid, cid, d2,
       |         row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn
       |  FROM d2
       |)
       |SELECT vid AS vec_id, CAST(cid AS INTEGER) AS cluster,
       |       round(d2, 6) AS dist2
       |FROM ranked WHERE rn = 1
       |""".stripMargin

  /** Semantic decontamination over the embeddings table: benchmark =
    * the first 8 embeddings, corpus = the rest; every corpus row
    * annotated with its exact max-cosine to the benchmark and the
    * `contaminated` verdict at 0.45 (the corpus's near-dup band, so
    * both verdicts occur). Exact-decimal form; the production
    * broadcast-array form is spec-pinned equivalent and benched. */
  def deconSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.operators.Decontaminate.semanticExact(
      e.filter(col("vec_id") >= 8), "vec_id", "embedding",
      e.filter(col("vec_id") < 8), "vec_id", "embedding", minCosine = 0.45)
  }

  /** The production form for the bench: one broadcast benchmark array
    * row, scan-local codegen'd max-cosine fold. */
  def deconSemanticBench(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    graft.operators.Decontaminate.semantic(
        e.filter(col("vec_id") >= 8), "vec_id", "embedding",
        e.filter(col("vec_id") < 8), "embedding", minCosine = 0.45)
      .select(col("vec_id"), col("contaminated"))
  }

  lazy val deconSemanticSql: String =
    """WITH pos AS (
      |  SELECT vec_id AS vid, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      |), b AS (
      |  SELECT vid AS bid, pos, v AS bv FROM pos WHERE vid < 8
      |), cp AS (
      |  SELECT vid, pos, v FROM pos WHERE vid >= 8
      |), cn AS (
      |  SELECT vid, sum(CAST(v * v AS DECIMAL(30,15))) AS n2 FROM cp GROUP BY 1
      |), bn AS (
      |  SELECT bid, sum(CAST(bv * bv AS DECIMAL(30,15))) AS n2 FROM b GROUP BY 1
      |), dots AS (
      |  SELECT cp.vid, b.bid, sum(CAST(cp.v * b.bv AS DECIMAL(30,15))) AS dot
      |  FROM cp JOIN b USING (pos) GROUP BY 1, 2
      |), mc AS (
      |  SELECT vid,
      |         max(CAST(dot AS DOUBLE)
      |             / (sqrt(CAST(cn.n2 AS DOUBLE)) * sqrt(CAST(bn.n2 AS DOUBLE)))) AS m
      |  FROM dots JOIN cn USING (vid) JOIN bn USING (bid)
      |  GROUP BY 1
      |)
      |SELECT e.vec_id, round(mc.m, 6) AS max_bench_cosine,
      |       coalesce(mc.m >= 0.45, false) AS contaminated
      |FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id >= 8) e
      |LEFT JOIN mc ON mc.vid = e.vec_id
      |""".stripMargin

  /** SemDeDup over the embeddings table: cluster with the lowest-8-id
    * centroids (the [[embedKmeansAssign]] assignment, already gated),
    * prune within clusters at the near-dup threshold the
    * `embed_cosine_neardup` gate uses. */
  def embedSemdedup(s: SparkSession, dir: String): DataFrame =
    operators.Similarity.semDedup(emb(s, dir), "vec_id", "embedding",
      k = 8, minCosine = 0.45)

  /** The production SemDeDup shape for the bench: codegen'd array-dot
    * cosines instead of the oracle-exact decimal explode (the
    * sketch-vs-exact-companion convention; equivalence spec-compared
    * on the gate data). */
  def embedSemdedupBench(s: SparkSession, dir: String): DataFrame =
    operators.Similarity.semDedupFast(emb(s, dir), "vec_id", "embedding",
      k = 8, minCosine = 0.45)

  /** The oversized-cluster skip, SURFACED (VERDICT r7 #2): maxCluster
    * is set BELOW the corpus's largest k=8 cluster (48–71 members at
    * the gate SFs), so some clusters prune normally
    * (`pruned_eligible = 1`) while the oversized ones pass every
    * member through flagged `pruned_eligible = 0` — both regimes
    * pinned by one oracle. */
  def embedSemdedupFlagged(s: SparkSession, dir: String): DataFrame =
    operators.Similarity.semDedupAudit(emb(s, dir), "vec_id", "embedding",
      k = 8, minCosine = 0.45, maxCluster = 60)

  /** Oracle: the [[embedKmeansAssignSql]] assignment CTEs, then exact
    * decimal pair dots within each cluster and the greedy
    * smaller-id-wins prune. */
  lazy val embedSemdedupSql: String =
    s"""WITH pos AS (
       |  SELECT vec_id AS vid, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
       |), c AS (
       |  SELECT vid AS cid, pos, v AS cv FROM pos WHERE vid < 8
       |), cn AS (
       |  SELECT cid, sum(CAST(cv * cv AS DECIMAL(30,15))) AS n2 FROM c GROUP BY 1
       |), vn AS (
       |  SELECT vid, sum(CAST(v * v AS DECIMAL(30,15))) AS n2 FROM pos GROUP BY 1
       |), cdots AS (
       |  SELECT p.vid, c.cid, sum(CAST(p.v * c.cv AS DECIMAL(30,15))) AS dot
       |  FROM pos p JOIN c USING (pos) GROUP BY 1, 2
       |), d2 AS (
       |  SELECT vid, cid,
       |         CAST(vn.n2 AS DOUBLE)
       |           + (CAST(cn.n2 AS DOUBLE) - 2 * CAST(dot AS DOUBLE)) AS d2
       |  FROM cdots JOIN vn USING (vid) JOIN cn USING (cid)
       |), assigned AS (
       |  SELECT vid, CAST(cid AS INTEGER) AS cluster
       |  FROM (SELECT vid, cid,
       |               row_number() OVER (PARTITION BY vid ORDER BY d2, cid) AS rn
       |        FROM d2)
       |  WHERE rn = 1
       |), pdots AS (
       |  SELECT pa.vid AS hi, pb.vid AS lo,
       |         sum(CAST(pa.v * pb.v AS DECIMAL(30,15))) AS dot
       |  FROM pos pa
       |  JOIN assigned aa ON aa.vid = pa.vid
       |  JOIN pos pb ON pb.pos = pa.pos AND pb.vid < pa.vid
       |  JOIN assigned ab ON ab.vid = pb.vid AND ab.cluster = aa.cluster
       |  GROUP BY 1, 2
       |), pruned AS (
       |  SELECT DISTINCT hi AS vid FROM pdots
       |  JOIN vn na ON na.vid = hi
       |  JOIN vn nb ON nb.vid = lo
       |  WHERE CAST(dot AS DOUBLE)
       |          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.45
       |)
       |SELECT vid AS vec_id, cluster FROM assigned
       |WHERE vid NOT IN (SELECT vid FROM pruned)
       |""".stripMargin

  /** Oracle for the flagged variant: identical CTEs with the pair
    * space restricted to clusters of size in [2, 60]; oversized
    * clusters surface every member with pruned_eligible = 0. */
  lazy val embedSemdedupFlaggedSql: String = {
    val base = embedSemdedupSql
      // 5 references to `assigned` after the splice — materialize once
      // (the DuckDB plain-CTE inlining trap)
      .replace("), assigned AS (", "), assigned AS MATERIALIZED (")
      .replace("), pdots AS (",
        """), csz AS (
          |  SELECT cluster, count(*) AS cn FROM assigned GROUP BY 1
          |), eligible AS (
          |  SELECT a.vid FROM assigned a JOIN csz USING (cluster)
          |  WHERE cn BETWEEN 2 AND 60
          |), pdots AS (""".stripMargin)
      .replace("JOIN assigned aa ON aa.vid = pa.vid",
        "JOIN assigned aa ON aa.vid = pa.vid\n  JOIN eligible ea ON ea.vid = pa.vid")
      .replace("""SELECT vid AS vec_id, cluster FROM assigned
                 |WHERE vid NOT IN (SELECT vid FROM pruned)""".stripMargin,
        """SELECT a.vid AS vec_id, a.cluster,
          |       CAST(CASE WHEN cn <= 60 THEN 1 ELSE 0 END AS INTEGER) AS pruned_eligible
          |FROM assigned a JOIN csz USING (cluster)
          |WHERE a.vid NOT IN (SELECT vid FROM pruned)""".stripMargin)
    require(base.contains("csz") && base.contains("pruned_eligible"),
      "embedSemdedupFlaggedSql: template splice failed — base oracle changed shape")
    base
  }

  // ---------------------------------------------------------- token diversity
  /** Per-document lexical diversity: token count, distinct tokens, and
    * the Gini–Simpson index `1 − Σ tf² / n²` — the log-free diversity
    * signal (entropy's cross-engine hazard is libm `log`, whose last
    * ulp differs between JVMs and DuckDB; Σ tf² is EXACT integer, so
    * the one final division is bit-identical everywhere). Low gini =
    * the doc repeats a few tokens (template/spam smell); high =
    * diverse vocabulary. One explode + one partial-aggregated groupBy
    * on (doc, token), re-aggregated per doc. */
  def textDiversity(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * col("tf")).as("sum_tf2"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(lit(1.0) - col("sum_tf2").cast("double")
          / (col("n_tokens") * col("n_tokens")).cast("double"), 9).as("gini"))

  lazy val textDiversitySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, t AS token
       |  FROM (SELECT doc_id, unnest(string_split($normSql, ' ')) AS t
       |        FROM documents)
       |  WHERE t <> ''
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
       |)
       |SELECT doc_id,
       |       CAST(sum(tf) AS BIGINT) AS n_tokens,
       |       count(*) AS n_distinct,
       |       round(1.0 - CAST(sum(tf * tf) AS DOUBLE)
       |                   / CAST(sum(tf) * sum(tf) AS DOUBLE), 9) AS gini
       |FROM tf GROUP BY 1
       |""".stripMargin

  // ---------------------------------------------------------- expectations
  /** Data-quality expectations over documents: four row checks share
    * ONE scan + ONE global aggregate (2 accumulators per check per
    * task), uniqueness adds the one groupBy it needs. `min_length_100`
    * genuinely fails on short docs, so the gate exercises a nonzero
    * violation count and its deterministic min-key repro pointer. */
  def tableExpectations(s: SparkSession, dir: String): DataFrame = {
    import operators.Expectations.Check
    operators.Expectations.validate(
      docs(s, dir), "doc_id",
      Seq(
        Check("doc_id_nonnull", col("doc_id").isNotNull),
        Check("lang_known", col("lang").isin("en", "de", "es", "fr", "zh")),
        Check("n_chars_consistent", col("n_chars") === length(col("text"))),
        Check("min_length_100", col("n_chars") >= 100)),
      uniqueKey = Some("doc_id"))
  }

  lazy val tableExpectationsSql: String = {
    def row(name: String, badWhere: String): String =
      s"""SELECT '$name' AS "check",
         |       CAST(count(*) FILTER (WHERE $badWhere) AS BIGINT) AS n_violations,
         |       min(doc_id) FILTER (WHERE $badWhere) AS sample_key
         |FROM documents""".stripMargin
    Seq(
      row("doc_id_nonnull", "doc_id IS NULL"),
      row("lang_known",
        "NOT coalesce(lang IN ('en','de','es','fr','zh'), FALSE)"),
      row("n_chars_consistent", "NOT coalesce(n_chars = length(text), FALSE)"),
      row("min_length_100", "NOT coalesce(n_chars >= 100, FALSE)"),
      s"""SELECT 'doc_id_unique' AS "check",
         |       CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n_violations,
         |       min(CASE WHEN c > 1 THEN doc_id END) AS sample_key
         |FROM (SELECT doc_id, count(*) AS c FROM documents GROUP BY 1)""".stripMargin
    ).mkString("", "\nUNION ALL\n", "\n")
  }

  // ---------------------------------------------------------- BPE-ish token estimate
  /** Per-document pre-tokenizer piece count and ~4-chars-per-token LLM
    * token estimate — the budget-planning companion to the whitespace
    * tokenCount the stats gate already verifies. Scan-local. */
  def textTokenEstimate(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(TextAnalysis.bpePieces(col("text"))).cast("long").as("n_pieces"),
      TextAnalysis.bpeTokenEstimate(col("text")).as("n_tokens_est"))

  /** Oracle: the same pure-alternation regex is valid RE2, and the
    * per-piece cost is mirrored with integer division. */
  lazy val textTokenEstimateSql: String = {
    val pat = TextAnalysis.bpePiecePattern
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(coalesce(text, ''), '$pat')) AS BIGINT)
       |         AS n_pieces,
       |       CAST(coalesce(list_sum(list_transform(
       |              regexp_extract_all(coalesce(text, ''), '$pat'),
       |              p -> greatest(1, (length(p) + 3) // 4))), 0) AS BIGINT)
       |         AS n_tokens_est
       |FROM documents
       |""".stripMargin
  }

  // ---------------------------------------------------------- random projection
  /** JL random projection 64 → 8 dims with the deterministic
    * md5-Rademacher matrix, exploded to (vec_id, dim, proj) so the
    * oracle can regenerate the same matrix in SQL and value-compare.
    * ProjectionSpec pins the packed-array operator shape and the
    * zero-exchange plan. */
  def embedRandomProjection(s: SparkSession, dir: String): DataFrame =
    operators.Projection.randomProject(emb(s, dir), "vec_id", "embedding", d = 64, r = 8)
      .select(col("vec_id"), posexplode(col("proj")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("dim"),
        round(col("col"), 6).as("proj"))

  /** Oracle: the sign matrix is regenerated in SQL from the same rule
    * (+1 iff md5("j_i") starts with a 0–7 hex digit), summed in exact
    * decimal, divided by √r AFTER the sum like the operator. */
  lazy val embedRandomProjectionSql: String =
    s"""WITH pos AS (
       |  SELECT vec_id AS vid, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
       |), signs AS (
       |  SELECT j, i,
       |         CASE WHEN strpos('01234567', substr(md5(j || '_' || i), 1, 1)) > 0
       |              THEN 1.0 ELSE -1.0 END AS sgn
       |  FROM unnest(generate_series(1, 8)) AS tj(j),
       |       unnest(generate_series(1, 64)) AS ti(i)
       |), proj AS (
       |  SELECT vid, j, sum(CAST(v * sgn AS DECIMAL(30,15))) AS s
       |  FROM pos JOIN signs ON signs.i = pos.pos
       |  GROUP BY 1, 2
       |)
       |SELECT vid AS vec_id, CAST(j AS INTEGER) AS dim,
       |       round(CAST(s AS DOUBLE) / sqrt(8.0), 6) AS proj
       |FROM proj
       |""".stripMargin

  // ---------------------------------------------------------- projected KNN
  /** The project-then-search composition: cosine top-5 computed in the
    * 8-dim JL-projected space (8x less per-pair arithmetic and IO than
    * full-space brute force — the candidate-generation regime at
    * 100 TB, rescored in full space when precision demands). Both
    * stages are deterministic, so the whole pipeline is hash-gated:
    * the oracle regenerates the matrix, projects, and ranks in SQL.
    * Norms are hoisted per row BEFORE the pair join (the r5 lesson:
    * inlined, each |Q|x|C| pair would re-reduce both vectors). */
  def embedKnnProjected(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DotProduct
    import org.apache.spark.sql.expressions.Window
    val p = operators.Projection.randomProject(emb(s, dir), "vec_id", "embedding", d = 64, r = 8)
    val withNorm = p.select(col("vec_id"), col("proj"),
      sqrt(DotProduct(col("proj"), col("proj"))).as("nrm"))
    val q = withNorm.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("proj").as("qv"), col("nrm").as("qn"))
    val c = withNorm
      .select(col("vec_id").as("neighbor_id"), col("proj").as("cv"), col("nrm").as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        DotProduct(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("rank"), round(col("cosine"), 6).as("cosine"))
  }

  lazy val embedKnnProjectedSql: String =
    s"""WITH pos AS (
       |  SELECT vec_id AS vid, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
       |), signs AS (
       |  SELECT j, i,
       |         CASE WHEN strpos('01234567', substr(md5(j || '_' || i), 1, 1)) > 0
       |              THEN 1.0 ELSE -1.0 END AS sgn
       |  FROM unnest(generate_series(1, 8)) AS tj(j),
       |       unnest(generate_series(1, 64)) AS ti(i)
       |), proj AS (
       |  SELECT vid, j,
       |         CAST(sum(CAST(v * sgn AS DECIMAL(30,15))) AS DOUBLE) / sqrt(8.0) AS p
       |  FROM pos JOIN signs ON signs.i = pos.pos
       |  GROUP BY 1, 2
       |), n2 AS (
       |  SELECT vid, sum(CAST(p * p AS DECIMAL(30,15))) AS n2 FROM proj GROUP BY 1
       |), q AS (
       |  SELECT vid AS query_id, j, p AS qp FROM proj WHERE vid < 10
       |), dots AS (
       |  SELECT q.query_id, c.vid AS neighbor_id,
       |         sum(CAST(q.qp * c.p AS DECIMAL(30,15))) AS dot
       |  FROM q JOIN proj c USING (j)
       |  WHERE q.query_id <> c.vid
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(dot AS DOUBLE)
       |           / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE))) AS cosine
       |  FROM dots
       |  JOIN n2 qn ON qn.vid = query_id
       |  JOIN n2 cn ON cn.vid = neighbor_id
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       |       round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= 5
       |""".stripMargin

  // ---------------------------------------------------------- table profile
  /** Per-column profile of the documents table (row/null/distinct
    * counts, min/max). Floating columns are excluded by design — their
    * string forms are engine-specific (Profile scaladoc); the profiled
    * four are BIGINT/VARCHAR, whose casts match everywhere. */
  def tableProfile(s: SparkSession, dir: String): DataFrame =
    operators.Profile.profile(docs(s, dir), Seq("doc_id", "lang", "source", "n_chars"))

  lazy val tableProfileSql: String = {
    // min/max are TYPED (numeric extremes, not lexicographic), cast to
    // string after aggregation — mirroring Profile.profile
    def one(c: String) =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count($c) AS BIGINT) AS n_nonnull,
         |       CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) AS n_distinct,
         |       CAST(min($c) AS VARCHAR) AS min_val,
         |       CAST(max($c) AS VARCHAR) AS max_val
         |FROM documents""".stripMargin
    Seq("doc_id", "lang", "source", "n_chars").map(one).mkString("", "\nUNION ALL\n", "\n")
  }

  /** JSONL ingestion round-trip: the documents table written as
    * newline-delimited JSON and read back through the hardened
    * explicit-schema reader must reproduce the parquet table exactly
    * (the oracle reads the original). Corrupt-record capture and CSV
    * are spec-verified (TextTablesSpec) — this gate pins the
    * clean-path fidelity the quarantine contract builds on. */
  def sourceJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text", "lang", "source", "n_chars")
    // deterministic WITHIN a run (overwrite, so repeated gate runs in
    // one session reuse one dir rather than accumulating corpus
    // copies), but scoped by the Spark application id: two concurrent
    // verify/bench processes on one machine must not overwrite each
    // other's scratch mid-read
    val tmp = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft-jsonl-gate-${s.sparkContext.applicationId}").toString
    // one shutdown hook per scratch path: without it every process
    // leaves a corpus-sized JSON copy in tmpdir (sweeping OTHER
    // processes' dirs at startup would race live runs — each process
    // cleans only its own)
    if (jsonlScratchHooked.add(tmp))
      sys.addShutdownHook(graft.streaming.MaintainedStore.deleteRecursively(
        java.nio.file.Paths.get(tmp)))
    d.write.mode("overwrite").json(tmp)
    sources.TextTables.quarantine(
      sources.TextTables.readJsonl(s, tmp, d.schema))._1
  }

  lazy val sourceJsonlRoundtripSql: String =
    "SELECT doc_id, text, lang, source, n_chars FROM documents\n"

  private val momentCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Pairwise sufficient statistics (exact decimal moments) of the
    * lineitem measures, rendered as fixed-scale STRINGS for the
    * cross-engine hash: decimal→double is NOT the same rounding in
    * both engines (DuckDB divides the int128 by the scale in floating
    * point — measured one-ulp drift), while both print decimals plain
    * at full scale. */
  def tableMoments(s: SparkSession, dir: String): DataFrame =
    operators.Profile.moments(
      sources.ParquetTables.readTable(s, dir, "lineitem"), momentCols)
      .select(col("col_1"), col("col_2"), col("n"),
        col("sum1").cast("string").as("sum1"),
        col("sum2").cast("string").as("sum2"),
        col("sum11").cast("string").as("sum11"),
        col("sum22").cast("string").as("sum22"),
        col("sum12").cast("string").as("sum12"))

  /** Incremental moments maintenance: moments of two disjoint halves
    * (split on the order key's parity) merged with [[operators.Profile
    * .mergeMoments]] must equal the one-shot full-table moments —
    * gated against the SAME full oracle, the [[tableMoments]]
    * re-aggregability contract executed at the driver gate. */
  def tableMomentsIncremental(s: SparkSession, dir: String): DataFrame = {
    val li = sources.ParquetTables.readTable(s, dir, "lineitem")
    val a  = operators.Profile.moments(li.filter(col("l_orderkey") % 2 === 0), momentCols)
    val b  = operators.Profile.moments(li.filter(col("l_orderkey") % 2 =!= 0), momentCols)
    operators.Profile.mergeMoments(a, b)
      .select(col("col_1"), col("col_2"), col("n"),
        col("sum1").cast("string").as("sum1"),
        col("sum2").cast("string").as("sum2"),
        col("sum11").cast("string").as("sum11"),
        col("sum22").cast("string").as("sum22"),
        col("sum12").cast("string").as("sum12"))
  }

  lazy val tableMomentsSql: String = {
    val pairs = for {
      (c1, i) <- momentCols.zipWithIndex
      c2      <- momentCols.drop(i)
    } yield (c1, c2)
    def one(c1: String, c2: String) = {
      // DECIMAL(19,6), not (18,6): DuckDB stores width<=18 in int64 and
      // its product overflows at runtime (the engine's own hint says
      // cast wider); width 19 forces int128 and 19+19 binds the product
      // at exactly the 38 cap. Values are identical — (19,6) ⊇ (18,6).
      def d(e: String) =
        s"CASE WHEN $c1 IS NOT NULL AND $c2 IS NOT NULL THEN CAST($e AS DECIMAL(19,6)) END"
      def m(e: String, name: String) =
        s"CAST(sum(CAST($e AS DECIMAL(38,12))) AS VARCHAR) AS $name"
      s"""SELECT '$c1' AS col_1, '$c2' AS col_2,
         |       count(${d(c1)}) AS n,
         |       ${m(d(c1), "sum1")},
         |       ${m(d(c2), "sum2")},
         |       ${m(s"${d(c1)} * ${d(c1)}", "sum11")},
         |       ${m(s"${d(c2)} * ${d(c2)}", "sum22")},
         |       ${m(s"${d(c1)} * ${d(c2)}", "sum12")}
         |FROM lineitem""".stripMargin
    }
    pairs.map { case (a, b) => one(a, b) }.mkString("", "\nUNION ALL\n", "\n")
  }

  /** The approx-distinct profile ([[operators.Profile.profileApprox]])
    * gated like the HLL sketch: the HLL++ estimate is checked within-ε
    * against the exact distinct count, and the oracle asserts the flag
    * (`1`) plus all the exactly-reproducible columns. ε = 0.15 = 3
    * standard errors at rsd 0.05 (small cardinalities run HLL++'s
    * exact sparse mode, so the slack is for the big columns). */
  def tableProfileApprox(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    val eps  = 0.15
    val d    = docs(s, dir)
    val approx = operators.Profile.profileApprox(d, cols, rsd = 0.05)
    val exact  = operators.Profile.profile(d, cols)
      .select(col("col_name"), col("n_distinct"))
    approx.join(exact, Seq("col_name"))
      .select(
        col("col_name"), col("n_rows"), col("n_nonnull"), col("n_distinct"),
        (abs(col("n_distinct_approx").cast("double") - col("n_distinct").cast("double")) /
          col("n_distinct").cast("double") <= lit(eps)).cast("int").as("within_eps"),
        col("min_val"), col("max_val"))
  }

  /** Bench-only production shape: the approx profile WITHOUT the exact
    * companion the gate adds — on a cluster the sketch exists precisely
    * to avoid the exact distinct state. */
  def tableProfileApproxBench(s: SparkSession, dir: String): DataFrame =
    operators.Profile.profileApprox(
      docs(s, dir), Seq("doc_id", "lang", "source", "n_chars"), rsd = 0.05)

  lazy val tableProfileApproxSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count($c) AS BIGINT) AS n_nonnull,
         |       CAST(count(DISTINCT CAST($c AS VARCHAR)) AS BIGINT) AS n_distinct,
         |       CAST(1 AS INTEGER) AS within_eps,
         |       CAST(min($c) AS VARCHAR) AS min_val,
         |       CAST(max($c) AS VARCHAR) AS max_val
         |FROM documents""".stripMargin
    Seq("doc_id", "lang", "source", "n_chars").map(one).mkString("", "\nUNION ALL\n", "\n")
  }

  // ---------------------------------------------------------- bigram LM scoring
  /** CCNet-style LM quality score: a bigram LM built from the 5%
    * md5-split reference slice (doc_id hash < '0ccc'), every document
    * scored by mean smoothed in-model probability. The small slice
    * keeps the OOV path non-vacuous (2539/3641/127 OOV bigrams at
    * sf0.001/0.01/0.1); the unseen-context 1/V branch fires at the two
    * smaller sfs and is spec-pinned deterministically
    * (LanguageModelSpec). */
  def textLmScore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ref = d.filter(
      substring(md5(col("doc_id").cast("string")), 1, 4) < "0ccc")
    operators.LanguageModel.score(d, ref, "doc_id", "text")
  }

  lazy val textLmScoreSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split($normSql, ' '), t -> t <> '') AS w,
       |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccc' AS is_train
       |  FROM documents
       |), big AS (
       |  SELECT doc_id, is_train,
       |         w[CAST(i AS INTEGER)] AS w1, w[CAST(i AS INTEGER)+1] AS w2
       |  FROM (SELECT doc_id, is_train, w, unnest(range(1, len(w))) AS i FROM toks)
       |), c12 AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM big WHERE is_train GROUP BY 1, 2
       |), c1 AS (
       |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1
       |), vv AS (
       |  SELECT CAST(count(*) AS BIGINT) AS v FROM c1
       |), scored AS (
       |  SELECT b.doc_id, c.c12 IS NULL AS is_oov,
       |         CASE WHEN u.c1 IS NULL THEN CAST(1.0 AS DOUBLE) / CAST(vv.v AS DOUBLE)
       |              ELSE CAST(coalesce(c.c12, 0) + 1 AS DOUBLE)
       |                   / CAST(u.c1 + vv.v AS DOUBLE)
       |         END AS p
       |  FROM big b
       |  LEFT JOIN c12 c ON b.w1 = c.w1 AND b.w2 = c.w2
       |  LEFT JOIN c1 u ON b.w1 = u.w1
       |  CROSS JOIN vv
       |)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(count(CASE WHEN is_oov THEN 1 END) AS BIGINT) AS n_oov,
       |       CAST(sum(CAST(round(p, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_p,
       |       CAST(sum(CAST(round(p, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS mean_p
       |FROM scored GROUP BY 1
       |""".stripMargin

  // ================================================================ robots.txt (RFC 9309)
  /** The constructed robots.txt body for host h<doc_id>: two agents
    * sharing a group (with wildcard/anchored/empty rules and a
    * crawl-delay), a `*` fallback group, a global sitemap, and a
    * comment — every parser rule the gate pins. */
  private def robotsBody: org.apache.spark.sql.Column =
    concat(
      lit("# robots for h"), col("doc_id"),
      lit("\nUser-Agent: GraftBot\nUser-agent: OtherBot\n" +
        "Disallow: /private/\nAllow: /private/pub*\nDisallow: /doc"),
      col("doc_id"),
      lit("$\nCrawl-delay: 5\nDisallow:\n\nUser-agent: *\nDisallow: /\n" +
        "Sitemap: http://h"),
      col("doc_id"), lit(".example.com/sitemap.xml\n"))

  /** robots.txt parsing over deterministically CONSTRUCTED bodies: the
    * oracle builds the expected record table directly — group
    * accumulation across consecutive user-agent lines, per-agent rule
    * explosion, file-order rule ordinals, comment stripping, the
    * empty-disallow record, the out-of-group sitemap — so a drift
    * anywhere in the grouping state machine mismatches. */
  def crawlRobotsRules(s: SparkSession, dir: String): DataFrame =
    Robots.parseRules(
        docs(s, dir).select(col("doc_id"), robotsBody.as("body")),
        "doc_id", "body")
      .toDF()

  lazy val crawlRobotsRulesSql: String =
    """WITH cases(group_idx, rule_idx, agent, rule_type, v) AS (VALUES
      |  (0, 0, 'graftbot', 'disallow', '/private/'),
      |  (0, 0, 'otherbot', 'disallow', '/private/'),
      |  (0, 1, 'graftbot', 'allow', '/private/pub*'),
      |  (0, 1, 'otherbot', 'allow', '/private/pub*'),
      |  (0, 2, 'graftbot', 'disallow', '/doc<ID>$'),
      |  (0, 2, 'otherbot', 'disallow', '/doc<ID>$'),
      |  (0, 3, 'graftbot', 'crawl-delay', '5'),
      |  (0, 3, 'otherbot', 'crawl-delay', '5'),
      |  (0, 4, 'graftbot', 'disallow', ''),
      |  (0, 4, 'otherbot', 'disallow', ''),
      |  (1, 5, '*', 'disallow', '/'),
      |  (-1, 6, '', 'sitemap', 'http://h<ID>.example.com/sitemap.xml'))
      |SELECT CAST(doc_id AS VARCHAR) AS robots_key, group_idx, rule_idx,
      |       agent, rule_type,
      |       replace(v, '<ID>', CAST(doc_id AS VARCHAR)) AS value
      |FROM documents, cases
      |""".stripMargin

  /** Per-(host, agent) crawl delays off the same constructed bodies —
    * the politeness scheduler's input (both group-0 agents inherit the
    * `Crawl-delay: 5` record). */
  def crawlRobotsDelays(s: SparkSession, dir: String): DataFrame =
    Robots.crawlDelays(crawlRobotsRules(s, dir))

  lazy val crawlRobotsDelaysSql: String =
    """SELECT CAST(doc_id AS VARCHAR) AS robots_key, agent,
      |       5 AS crawl_delay_s
      |FROM documents, (SELECT unnest(['graftbot', 'otherbot']) AS agent) a
      |""".stripMargin

  /** Politeness schedule over a constructed frontier: three URLs on
    * each robots-governed host (graftbot inherits the group's
    * `Crawl-delay: 5`) and one on a host with no robots (the default
    * delay of 1 applies). The oracle replays the per-host
    * `md5(url)`-order fetch ordinals and offsets directly. */
  def crawlSchedule(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val host = concat(lit("h"), col("doc_id"), lit(".example.com"))
    val delays = Robots.crawlDelays(Robots.parseRules(
      d.select(host.as("host"), robotsBody.as("body")), "host", "body").toDF())
    val hid = col("doc_id").cast("string")
    val frontier = d.select(col("doc_id"), explode(array(
      concat(lit("http://h"), hid, lit(".example.com/p1")),
      concat(lit("http://h"), hid, lit(".example.com/p2")),
      concat(lit("http://h"), hid, lit(".example.com/p3")),
      concat(lit("http://quiet"), hid, lit(".example.net/x")))).as("url"))
    Robots.fetchSchedule(frontier, "url", delays, "GraftBot", defaultDelayS = 1)
      .select(col("doc_id"), col("url"), col("host"),
        col("crawl_delay_s"), col("fetch_seq"), col("fetch_offset_s"))
  }

  lazy val crawlScheduleSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |         'http://h' || doc_id || '.example.com/' || s AS url,
      |         'h' || doc_id || '.example.com' AS host, 5 AS delay
      |  FROM documents, (SELECT unnest(['p1', 'p2', 'p3']) AS s) p
      |  UNION ALL
      |  SELECT doc_id, 'http://quiet' || doc_id || '.example.net/x',
      |         'quiet' || doc_id || '.example.net', 1
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, url, host, delay,
      |         CAST(row_number() OVER (PARTITION BY host
      |           ORDER BY md5(url), url) - 1 AS INTEGER) AS fetch_seq
      |  FROM u
      |)
      |SELECT doc_id, url, host, delay AS crawl_delay_s, fetch_seq,
      |       CAST(fetch_seq * delay AS BIGINT) AS fetch_offset_s
      |FROM r
      |""".stripMargin

  /** Importance-ordered politeness schedule — [[crawlSchedule]]'s
    * frontier with the per-host fetch order driven by URL-level
    * fixed-point integer PageRank (3 iterations,
    * [[graft.operators.Centrality.pageRank]]) over a constructed
    * per-host link graph (`p1→p2` w1, `p1→p3` w2, `p2→p3` w1,
    * `p3→p1` w1 — ranks come out p1 > p3 > p2, a different order than
    * md5). The quiet-host URL is absent from the graph and schedules
    * unranked (NULL priority, behind ranked URLs). The oracle replays
    * the UNROLLED integer PageRank arithmetic (the `events_pagerank`
    * convention) and the ranked window — exact ranks AND ordinals. */
  def crawlScheduleRanked(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val host = concat(lit("h"), col("doc_id"), lit(".example.com"))
    val delays = Robots.crawlDelays(Robots.parseRules(
      d.select(host.as("host"), robotsBody.as("body")), "host", "body").toDF())
    val hid = col("doc_id").cast("string")
    def u(p: String) = concat(lit("http://h"), hid, lit(s".example.com/$p"))
    val frontier = d.select(col("doc_id"), explode(array(
      u("p1"), u("p2"), u("p3"),
      concat(lit("http://quiet"), hid, lit(".example.net/x")))).as("url"))
    val edges = d.select(explode(array(
      struct(u("p1").as("src"), u("p2").as("dst"), lit(1L).as("w")),
      struct(u("p1").as("src"), u("p3").as("dst"), lit(2L).as("w")),
      struct(u("p2").as("src"), u("p3").as("dst"), lit(1L).as("w")),
      struct(u("p3").as("src"), u("p1").as("dst"), lit(1L).as("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
    val ranks = operators.Centrality.pageRank(edges, "src", "dst", "w", iterations = 3)
    Robots.fetchScheduleRanked(frontier, "url", delays, "GraftBot", ranks,
        defaultDelayS = 1)
      .select(col("doc_id"), col("url"), col("host"), col("crawl_delay_s"),
        col("priority_fp"), col("fetch_seq"), col("fetch_offset_s"))
  }

  lazy val crawlScheduleRankedSql: String = {
    def it(prev: String, out: String): String =
      s"""c_$out AS (
         |  SELECT e.d AS v,
         |         sum((85 * $prev.r * e.n) // (CAST(100 AS HUGEINT) * ow.w)) AS infl
         |  FROM e
         |  JOIN $prev ON $prev.v = e.s
         |  JOIN ow ON ow.s = e.s
         |  GROUP BY 1),
         |$out AS (
         |  SELECT nodes.v,
         |         (CAST(15 AS HUGEINT) * 1000000000) // (100 * nn.n)
         |           + coalesce(c_$out.infl, 0) AS r
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN c_$out ON c_$out.v = nodes.v)""".stripMargin
    s"""WITH ecases(sp, dp, n) AS (VALUES
       |  ('p1', 'p2', 1), ('p1', 'p3', 2), ('p2', 'p3', 1), ('p3', 'p1', 1)),
       |e AS (
       |  SELECT 'http://h' || doc_id || '.example.com/' || sp AS s,
       |         'http://h' || doc_id || '.example.com/' || dp AS d,
       |         CAST(n AS HUGEINT) AS n
       |  FROM documents, ecases
       |),
       |nodes AS (SELECT s AS v FROM e UNION SELECT d FROM e),
       |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM nodes),
       |ow AS (SELECT s, CAST(sum(n) AS HUGEINT) AS w FROM e GROUP BY 1),
       |r0 AS (SELECT v, CAST(1000000000 AS HUGEINT) // nn.n AS r
       |       FROM nodes CROSS JOIN nn),
       |${(1 to 3).map(i => it(s"r${i - 1}", s"r$i")).mkString(",\n")},
       |u AS (
       |  SELECT doc_id,
       |         'http://h' || doc_id || '.example.com/' || p AS url,
       |         'h' || doc_id || '.example.com' AS host, 5 AS delay
       |  FROM documents, (SELECT unnest(['p1', 'p2', 'p3']) AS p) pp
       |  UNION ALL
       |  SELECT doc_id, 'http://quiet' || doc_id || '.example.net/x',
       |         'quiet' || doc_id || '.example.net', 1
       |  FROM documents
       |), seq AS (
       |  SELECT doc_id, url, host, delay,
       |         CAST(r3.r AS BIGINT) AS priority_fp,
       |         CAST(row_number() OVER (PARTITION BY host
       |           ORDER BY CAST(r3.r AS BIGINT) DESC NULLS LAST, md5(url), url)
       |           - 1 AS INTEGER) AS fetch_seq
       |  FROM u LEFT JOIN r3 ON r3.v = u.url
       |)
       |SELECT doc_id, url, host, delay AS crawl_delay_s, priority_fp, fetch_seq,
       |       CAST(fetch_seq * delay AS BIGINT) AS fetch_offset_s
       |FROM seq
       |""".stripMargin
  }

  /** The YAML pipeline surface run END TO END as a gate —
    * `examples/frontier_pipeline.yaml` over formula fixtures: sitemap
    * parse (rekey id·65536+entry), URL canonicalization (uppercase
    * scheme/host + tracking param + fragment), redirect collapse
    * (every third shared page moved), RFC 9309 robots admission
    * (/blocked/ paths dropped), exact dedup (min rekeyed id keeps the
    * first lister), fixed-point PageRank over the link graph, and the
    * rank-ordered politeness schedule with a per-host budget
    * (maxPerHost 2 keeps each host's IMPORTANT pages). The gate
    * output is the scheduled frontier PLUS the run manifest's
    * listed/unique/scheduled row counts — the oracle recomputes the
    * whole chain relationally (PageRank unrolled, per-host ordinals
    * replayed) AND the counts, so the YAML surface, the topo order,
    * and the manifest accounting are all under the hash. */
  def crawlFrontierRanked(s: SparkSession, dir: String): DataFrame = {
    val sub = docs(s, dir).filter(col("doc_id") % 10 === 0)
    val hid = (col("doc_id") % 7).cast("string")
    val kid = (col("doc_id") % 21).cast("string")
    val did = col("doc_id").cast("string")
    val v2 = when(col("doc_id") % 21 % 3 === 0, lit("-v2")).otherwise(lit(""))
    val xml = concat(
      lit("<?xml version=\"1.0\"?><urlset>"),
      lit("<url><loc>HTTP://H"), hid, lit(".EXAMPLE.com/p"), did,
      lit("?utm_source=x#f</loc></url>"),
      lit("<url><loc>http://h"), hid, lit(".example.com/shared"), kid,
      lit("</loc></url>"),
      lit("<url><loc>http://h"), hid, lit(".example.com/blocked/s"), did,
      lit("</loc></url></urlset>"))
    val src = scratchDir(s, "frontier-src")
    val out = scratchDir(s, "frontier-out")
    sub.select(col("doc_id"), xml.as("text"))
      .write.mode("overwrite").parquet(s"$src/sitemaps.parquet")
    s.range(0, 7).select(
      concat(lit("h"), col("id"), lit(".example.com")).as("host"),
      concat(lit("User-agent: graftbot\nDisallow: /blocked/\nCrawl-delay: "),
        (col("id") % 3 + 1).cast("string")).as("robots_txt"))
      .write.mode("overwrite").parquet(s"$src/robots.parquet")
    s.range(0, 21).filter(col("id") % 3 === 0).select(
      concat(lit("http://h"), (col("id") % 7).cast("string"),
        lit(".example.com/shared"), col("id").cast("string")).as("src"),
      concat(lit("http://h"), (col("id") % 7).cast("string"),
        lit(".example.com/shared"), col("id").cast("string"), lit("-v2")).as("dst"))
      .write.mode("overwrite").parquet(s"$src/redirects.parquet")
    sub.select(
      concat(lit("http://h"), hid, lit(".example.com/p"), did).as("src"),
      concat(lit("http://h"), hid, lit(".example.com/shared"), kid, v2).as("dst"),
      (col("doc_id") % 3 + 1).cast("long").as("n_links"))
      .write.mode("overwrite").parquet(s"$src/links.parquet")
    val yaml = "examples/frontier_pipeline.yaml"
    require(new java.io.File(yaml).exists,
      s"crawl_frontier_ranked: $yaml not found — run from the repo root")
    Cli.run(Seq("pipeline", yaml, src, out), s)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "pipeline_manifest.json")), "UTF-8")
    def rowsOf(step: String): Long =
      ("\"name\":\"" + step + "\"[^}]*\"rows\":(\\d+)").r
        .findFirstMatchIn(manifest).map(_.group(1).toLong).getOrElse(
          throw new IllegalStateException(
            s"crawl_frontier_ranked: manifest has no rows for step $step"))
    s.read.parquet(s"$out/scheduled")
      .select(col("doc_id"), col("sitemap_id"), col("text").as("url"),
        col("host"), col("crawl_delay_s").cast("int").as("crawl_delay_s"),
        col("priority_fp"), col("fetch_seq"), col("fetch_offset_s"))
      .withColumn("n_listed", lit(rowsOf("listed")))
      .withColumn("n_unique", lit(rowsOf("unique")))
      .withColumn("n_scheduled", lit(rowsOf("scheduled")))
  }

  lazy val crawlFrontierRankedSql: String = {
    def it(prev: String, out: String): String =
      s"""c_$out AS (
         |  SELECT e.dt AS v,
         |         sum((85 * $prev.r * e.n) // (CAST(100 AS HUGEINT) * ow.w)) AS infl
         |  FROM e
         |  JOIN $prev ON $prev.v = e.s
         |  JOIN ow ON ow.s = e.s
         |  GROUP BY 1),
         |$out AS (
         |  SELECT nodes.v,
         |         (CAST(15 AS HUGEINT) * 1000000000) // (100 * nn.n)
         |           + coalesce(c_$out.infl, 0) AS r
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN c_$out ON c_$out.v = nodes.v)""".stripMargin
    s"""WITH sub AS (SELECT doc_id AS d FROM documents WHERE doc_id % 10 = 0),
       |listed AS (
       |  -- post-normalize, post-redirect, post-robots survivors:
       |  -- entry 0 (canonicalized p-page) and entry 1 (shared page,
       |  -- every third one moved); entry 2 is robots-blocked
       |  SELECT d, d * 65536 + 0 AS id, d AS sitemap_id, d % 7 AS h,
       |         'http://h' || (d % 7) || '.example.com/p' || d AS url
       |  FROM sub
       |  UNION ALL
       |  SELECT d, d * 65536 + 1, d, d % 7,
       |         'http://h' || (d % 7) || '.example.com/shared' || (d % 21) ||
       |           (CASE WHEN (d % 21) % 3 = 0 THEN '-v2' ELSE '' END)
       |  FROM sub
       |), uniq AS (
       |  SELECT url, min(id) AS id, min(h) AS h FROM listed GROUP BY 1
       |), e AS (
       |  SELECT 'http://h' || (d % 7) || '.example.com/p' || d AS s,
       |         'http://h' || (d % 7) || '.example.com/shared' || (d % 21) ||
       |           (CASE WHEN (d % 21) % 3 = 0 THEN '-v2' ELSE '' END) AS dt,
       |         CAST(d % 3 + 1 AS HUGEINT) AS n
       |  FROM sub
       |),
       |nodes AS (SELECT s AS v FROM e UNION SELECT dt FROM e),
       |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM nodes),
       |ow AS (SELECT s, CAST(sum(n) AS HUGEINT) AS w FROM e GROUP BY 1),
       |r0 AS (SELECT v, CAST(1000000000 AS HUGEINT) // nn.n AS r
       |       FROM nodes CROSS JOIN nn),
       |${(1 to 3).map(i => it(s"r${i - 1}", s"r$i")).mkString(",\n")},
       |seq AS (
       |  SELECT u.id AS doc_id, u.id // 65536 AS sitemap_id, u.url,
       |         'h' || u.h || '.example.com' AS host,
       |         CAST(u.h % 3 + 1 AS INTEGER) AS crawl_delay_s,
       |         CAST(r3.r AS BIGINT) AS priority_fp,
       |         CAST(row_number() OVER (
       |           PARTITION BY u.h
       |           ORDER BY CAST(r3.r AS BIGINT) DESC NULLS LAST, md5(u.url), u.url)
       |           - 1 AS INTEGER) AS fetch_seq
       |  FROM uniq u LEFT JOIN r3 ON r3.v = u.url
       |), counts AS (
       |  SELECT (SELECT 3 * count(*) FROM sub) AS n_listed,
       |         (SELECT count(*) FROM uniq) AS n_unique,
       |         (SELECT count(*) FROM seq WHERE fetch_seq < 2) AS n_scheduled
       |)
       |SELECT doc_id, sitemap_id, url, host, crawl_delay_s, priority_fp,
       |       fetch_seq,
       |       CAST(fetch_seq AS BIGINT) * crawl_delay_s AS fetch_offset_s,
       |       n_listed, n_unique, n_scheduled
       |FROM seq CROSS JOIN counts
       |WHERE fetch_seq < 2
       |""".stripMargin
  }

  /** Stored-ANN MAINTENANCE night chain
    * (`examples/ann_nights_pipeline.yaml` run THREE times under one
    * `--state`, the [[crawlFrontierRanked]] whole-YAML convention):
    * a growing corpus (night 1 `vec_id % 3 = 0`, night 2 `% 3 <= 1`,
    * night 3 all) flows through change_detect admission (unchanged
    * re-fetches suppressed), the frozen-model composed-IVF-PQ
    * incremental encoder (`knn_encode mode: admit` — only fresh
    * vectors encode), and the stored-index query. The gate output is
    * night 3's search wrapped in the ANN soundness union
    * ([[embedKnnIvfPqStored]]'s oracle) PLUS every night's
    * fresh/encoded manifest row counts — the oracle recomputes the
    * counts from the slice arithmetic, so a night that re-encoded a
    * known vector, dropped a fresh one, or forked the store
    * mismatches. Proves the frozen-model incremental story composes
    * with the crawl loop end to end. */
  def annNightsStored(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val tmp = scratchDir(s, "ann-nights")
    // stateful admission is NOT idempotent across invocations in one
    // session — reset this gate's state and outputs so every run
    // replays the same three nights
    Seq("state", "out1", "out2", "out3").foreach(d =>
      graft.streaming.MaintainedStore.deleteRecursively(
        java.nio.file.Paths.get(tmp, d)))
    val src = s"$tmp/src"
    val withPage = e.select(col("vec_id"),
      concat(lit("http://h/p"), col("vec_id")).as("url"),
      concat(lit("v"), col("vec_id")).as("text"),
      col("embedding"))
    // frozen model: trained ONCE on night 1's corpus
    val n1 = withPage.filter(col("vec_id") % 3 === 0)
    operators.AnnIndex.trainIvf(n1, "vec_id", "embedding", nCells = 16)
      .write.mode("overwrite").parquet(s"$src/ann_centroids.parquet")
    val cents = s.read.parquet(s"$src/ann_centroids.parquet")
    operators.AnnIndex.trainIvfPq(n1, "vec_id", "embedding", cents)
      .write.mode("overwrite").parquet(s"$src/ann_books.parquet")
    withPage.filter(col("vec_id") < 10)
      .write.mode("overwrite").parquet(s"$src/queries.parquet")
    val yaml = "examples/ann_nights_pipeline.yaml"
    require(new java.io.File(yaml).exists,
      s"ann_nights_stored: $yaml not found — run from the repo root")
    def night(n: Int, pages: DataFrame): String = {
      pages.write.mode("overwrite").parquet(s"$src/pages.parquet")
      Cli.run(Seq("pipeline", yaml, src, s"$tmp/out$n", "--state", s"$tmp/state"), s)
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$tmp/out$n", "pipeline_manifest.json")), "UTF-8")
    }
    val manifests = Seq(
      night(1, n1),
      night(2, withPage.filter(col("vec_id") % 3 <= 1)),
      night(3, withPage))
    def rowsOf(manifest: String, step: String): Long =
      ("\"name\":\"" + step + "\"[^}]*\"rows\":(\\d+)").r
        .findFirstMatchIn(manifest).map(_.group(1).toLong).getOrElse(
          throw new IllegalStateException(
            s"ann_nights_stored: manifest has no rows for step $step"))
    val verified = knnVerified(
      s.read.parquet(s"$tmp/out3/hits")
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine")), e)
    manifests.zipWithIndex.foldLeft(verified) { case (df, (m, i)) =>
      df.withColumn(s"n_fresh_${i + 1}", lit(rowsOf(m, "fresh")))
        .withColumn(s"n_encoded_${i + 1}", lit(rowsOf(m, "encoded")))
    }
  }

  /** [[embedKnnVerifiedSql]]'s soundness universe with the night
    * counts stated from the slice arithmetic. */
  lazy val annNightsStoredSql: String =
    s"""WITH verified AS (
       |${embedKnnVerifiedSql.linesIterator.map("  " + _).mkString("\n")}
       |), counts AS (
       |  SELECT
       |    CAST(count(*) FILTER (WHERE vec_id % 3 = 0) AS BIGINT) AS n_fresh_1,
       |    CAST(count(*) FILTER (WHERE vec_id % 3 = 0) AS BIGINT) AS n_encoded_1,
       |    CAST(count(*) FILTER (WHERE vec_id % 3 = 1) AS BIGINT) AS n_fresh_2,
       |    CAST(count(*) FILTER (WHERE vec_id % 3 <= 1) AS BIGINT) AS n_encoded_2,
       |    CAST(count(*) FILTER (WHERE vec_id % 3 = 2) AS BIGINT) AS n_fresh_3,
       |    CAST(count(*) AS BIGINT) AS n_encoded_3
       |  FROM embeddings
       |)
       |SELECT verified.*, counts.* FROM verified CROSS JOIN counts
       |""".stripMargin

  /** ANN index LIFECYCLE gate
    * (`examples/ann_lifecycle_pipeline.yaml` run THREE times under one
    * `--state`, the [[annNightsStored]] convention): the growing
    * corpus bootstraps the live index on night 1, stays under the
    * 600‰ fresh-fraction retrain threshold on night 2 (fresh ≈ 500‰),
    * and trips it on night 3 (fresh ≈ 667‰) — retrain + full
    * re-encode + atomic whole-index swap. Three pins:
    * (1) the per-night health/decision counts are gate COLUMNS and the
    * oracle re-derives the full trigger recurrence (which night
    * retrained, final trained rows, re-encoded counts) from slice
    * arithmetic — a maintainer that retrains on the wrong night,
    * re-encodes a stale count, or forks the store mismatches;
    * (2) post-swap hits must equal a same-seed FROM-SCRATCH build
    * BITWISE (asserted in-gate via symmetric except — the swap
    * determinism contract);
    * (3) night 3's hits wrap in the exact-KNN soundness union
    * ([[knnVerified]]). Reader-during-swap atomicity is pinned
    * spec-side (AnnLifecycleSpec). */
  def annRetrainSwap(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val tmp = scratchDir(s, "ann-retrain")
    Seq("state", "out1", "out2", "out3").foreach(d =>
      graft.streaming.MaintainedStore.deleteRecursively(
        java.nio.file.Paths.get(tmp, d)))
    val src = s"$tmp/src"
    val withPage = e.select(col("vec_id"),
      concat(lit("http://h/p"), col("vec_id")).as("url"),
      concat(lit("v"), col("vec_id")).as("text"),
      col("embedding"))
    withPage.filter(col("vec_id") < 10)
      .write.mode("overwrite").parquet(s"$src/queries.parquet")
    val yaml = "examples/ann_lifecycle_pipeline.yaml"
    require(new java.io.File(yaml).exists,
      s"ann_retrain_swap: $yaml not found — run from the repo root")
    def night(n: Int, pages: DataFrame): Unit = {
      pages.write.mode("overwrite").parquet(s"$src/pages.parquet")
      Cli.run(Seq("pipeline", yaml, src, s"$tmp/out$n", "--state", s"$tmp/state"), s)
    }
    night(1, withPage.filter(col("vec_id") % 3 === 0))
    night(2, withPage.filter(col("vec_id") % 3 <= 1))
    night(3, withPage)
    val decisions = (1 to 3).map(n =>
      s.read.parquet(s"$tmp/out$n/maintained").collect() match {
        case Array(row) => row
        case rows => throw new IllegalStateException(
          s"ann_retrain_swap: night $n decision table has ${rows.length} rows")
      })
    // post-swap ≡ from-scratch bitwise: rebuild at night-3 scope with
    // the same seed/params through the same parquet round-trip path
    graft.streaming.MaintainedStore.deleteRecursively(
      java.nio.file.Paths.get(s"$tmp/scratchidx"))
    operators.AnnIndex.trainIvf(withPage, "vec_id", "embedding", nCells = 16)
      .write.parquet(s"$tmp/scratchidx/centroids")
    val cents = s.read.parquet(s"$tmp/scratchidx/centroids")
    operators.AnnIndex.trainIvfPq(withPage, "vec_id", "embedding", cents)
      .write.parquet(s"$tmp/scratchidx/books")
    val model = operators.AnnIndex.load(centroids = Some(cents),
      codebooks = Some(s.read.parquet(s"$tmp/scratchidx/books")))
    val fromScratch = operators.AnnIndex.search(model, Some(withPage),
      withPage.filter(col("vec_id") < 10),
      operators.AnnIndex.encode(model, withPage, "vec_id", "embedding"),
      "vec_id", "embedding", k = 5, nProbe = 3, shortlist = 32)
    val hits3 = s.read.parquet(s"$tmp/out3/hits")
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
    // bitwise multiset equality via TWO bounded collects (k × nQueries
    // rows each by construction) — the previous symmetric exceptAll
    // pair evaluated the whole from-scratch search pipeline TWICE and
    // the parquet read twice for the same answer
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(identity).view.mapValues(_.length).toMap
    require(multiset(hits3.collect()) == multiset(fromScratch.collect()),
      "ann_retrain_swap: post-swap hits differ from a same-seed " +
        "from-scratch build — the retrain+swap broke determinism")
    def cnt(night: Int, field: String): Long =
      decisions(night - 1).getLong(decisions(night - 1).fieldIndex(field))
    def flag(night: Int): Int =
      decisions(night - 1).getInt(decisions(night - 1).fieldIndex("retrained"))
    knnVerified(hits3, e)
      .withColumn("n_codes_1", lit(cnt(1, "n_codes")))
      .withColumn("retrained_1", lit(flag(1)))
      .withColumn("n_codes_2", lit(cnt(2, "n_codes")))
      .withColumn("retrained_2", lit(flag(2)))
      .withColumn("n_codes_3", lit(cnt(3, "n_codes")))
      .withColumn("retrained_3", lit(flag(3)))
      .withColumn("fresh_since_train_3", lit(cnt(3, "fresh_since_train")))
      .withColumn("trained_rows_3", lit(cnt(3, "trained_rows")))
      .withColumn("n_retrains_3", lit(cnt(3, "n_retrains")))
      .withColumn("n_reencoded_3", lit(cnt(3, "n_reencoded")))
  }

  /** [[embedKnnVerifiedSql]]'s soundness universe with the whole
    * trigger recurrence restated from slice arithmetic: night 2's
    * trained base is night 1's bootstrap count unless night 2 tripped,
    * and night 3's decision runs against whichever base survived. */
  lazy val annRetrainSwapSql: String =
    s"""WITH verified AS (
       |${embedKnnVerifiedSql.linesIterator.map("  " + _).mkString("\n")}
       |), c AS (
       |  SELECT
       |    CAST(count(*) FILTER (WHERE vec_id % 3 = 0) AS BIGINT) AS c1,
       |    CAST(count(*) FILTER (WHERE vec_id % 3 <= 1) AS BIGINT) AS c2,
       |    CAST(count(*) AS BIGINT) AS c3
       |  FROM embeddings
       |), rec AS (
       |  SELECT c1, c2, c3,
       |         ((c2 - c1) * 1000 > 600 * c2) AS trip2,
       |         CASE WHEN ((c2 - c1) * 1000 > 600 * c2) THEN c2 ELSE c1 END AS base3
       |  FROM c
       |), counts AS (
       |  SELECT
       |    c1 AS n_codes_1, CAST(0 AS INTEGER) AS retrained_1,
       |    c2 AS n_codes_2, CAST(CASE WHEN trip2 THEN 1 ELSE 0 END AS INTEGER) AS retrained_2,
       |    c3 AS n_codes_3,
       |    CAST(CASE WHEN (c3 - base3) * 1000 > 600 * c3 THEN 1 ELSE 0 END AS INTEGER) AS retrained_3,
       |    c3 - base3 AS fresh_since_train_3,
       |    CASE WHEN (c3 - base3) * 1000 > 600 * c3 THEN c3 ELSE base3 END AS trained_rows_3,
       |    CAST((CASE WHEN trip2 THEN 1 ELSE 0 END) +
       |         (CASE WHEN (c3 - base3) * 1000 > 600 * c3 THEN 1 ELSE 0 END) AS BIGINT) AS n_retrains_3,
       |    CASE WHEN (c3 - base3) * 1000 > 600 * c3 THEN c3 ELSE CAST(0 AS BIGINT) END AS n_reencoded_3
       |  FROM rec
       |)
       |SELECT verified.*, counts.* FROM verified CROSS JOIN counts
       |""".stripMargin

  /** Page-metadata extraction over constructed heads: Open Graph tags
    * in BOTH attribute orders (property-first and content-first), a
    * duplicate og:title (first wins), `article:published_time` (the
    * freshness signal a recrawl mix consumes), a plain
    * `name=description`, an entity-encoded value, and an absent key
    * (`""`). The oracle states every value directly. */
  def crawlPageMeta(s: SparkSession, dir: String): DataFrame = {
    val hid = col("doc_id").cast("string")
    val day = (col("doc_id") % 9 + 1).cast("string")
    val html = concat(
      lit("<html><head><meta property=\"og:title\" content=\"Title &amp; co "), hid,
      lit("\"><meta content=\"Second title\" property=\"og:title\">" +
        "<meta content=\"Desc — detail\" property=\"og:description\">" +
        "<meta property=\"article:published_time\" content=\"2024-03-0"), day,
      lit("T12:00:00Z\"><meta name=\"description\" content=\"plain description\">" +
        "</head><body><p>body og:image text</p></body></html>"))
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.htmlMetaContent(html, "og:title").as("og_title"),
      TextAnalysis.htmlMetaContent(html, "og:description").as("og_description"),
      TextAnalysis.htmlMetaContent(html, "article:published_time").as("published_time"),
      TextAnalysis.htmlMetaContent(html, "description").as("description"),
      TextAnalysis.htmlMetaContent(html, "og:image").as("og_image"))
  }

  lazy val crawlPageMetaSql: String =
    """SELECT doc_id,
      |       'Title & co ' || doc_id AS og_title,
      |       'Desc — detail' AS og_description,
      |       '2024-03-0' || (doc_id % 9 + 1) || 'T12:00:00Z' AS published_time,
      |       'plain description' AS description,
      |       '' AS og_image
      |FROM documents
      |""".stripMargin

  /** Recrawl/freshness verdicts over eight constructed (discovery,
    * fetch-log) shapes per document — one per rule branch: never
    * fetched (`new`), freshly fetched under its `daily` interval (not
    * due), fetched past the interval (`aged`), publisher `lastmod`
    * newer than the fetch (`modified`, shadowing a not-yet-aged
    * `weekly`), `changefreq: never` a year stale (not due — age alone
    * must not re-crawl it), an unknown `changefreq` with junk
    * `lastmod` past the default age (`aged` — junk dates are no-ops,
    * not stalls), and a NULL `changefreq` both past (`aged` — NULL
    * hints must not disable the age rule; the `never` compare is
    * null-safe) and inside the default age (not due). Fixed epoch
    * instants; the oracle states every verdict directly
    * (hand-computed truth table). */
  def crawlRecrawlDue(s: SparkSession, dir: String): DataFrame = {
    val now = 1700000000L // 2023-11-14 22:13:20 UTC
    val d = docs(s, dir)
    val hid = col("doc_id").cast("string")
    def u(suffix: String) =
      concat(lit("http://h"), hid, lit(s".example.com/$suffix"))
    val disc = d.select(col("doc_id"), explode(array(
      struct(lit(1).as("kind"), u("new").as("url"),
        lit("").as("lastmod"), lit("daily").as("changefreq")),
      struct(lit(2).as("kind"), u("fresh").as("url"),
        lit("2023-11-01 00:00:00").as("lastmod"), lit("daily").as("changefreq")),
      struct(lit(3).as("kind"), u("aged").as("url"),
        lit("").as("lastmod"), lit("daily").as("changefreq")),
      struct(lit(4).as("kind"), u("modified").as("url"),
        lit("2023-11-14 00:00:00").as("lastmod"), lit("weekly").as("changefreq")),
      struct(lit(5).as("kind"), u("never").as("url"),
        lit("").as("lastmod"), lit("never").as("changefreq")),
      struct(lit(6).as("kind"), u("default").as("url"),
        lit("not-a-date").as("lastmod"), lit("quarterly").as("changefreq")),
      struct(lit(7).as("kind"), u("nullcf").as("url"),
        lit("").as("lastmod"), lit(null).cast("string").as("changefreq")),
      struct(lit(8).as("kind"), u("nullcf_fresh").as("url"),
        lit("").as("lastmod"), lit(null).cast("string").as("changefreq"))))
      .as("e"))
      .select(col("doc_id"), col("e.kind").as("kind"), col("e.url").as("url"),
        col("e.lastmod").as("lastmod"), col("e.changefreq").as("changefreq"))
    val lastFetch = d.select(explode(array(
      struct(u("fresh").as("url"), lit(now - 3600L).as("last_fetch_ts")),
      struct(u("aged").as("url"), lit(now - 90000L).as("last_fetch_ts")),
      struct(u("modified").as("url"), lit(now - 90000L).as("last_fetch_ts")),
      struct(u("never").as("url"), lit(now - 31536000L).as("last_fetch_ts")),
      struct(u("default").as("url"), lit(now - 700000L).as("last_fetch_ts")),
      struct(u("nullcf").as("url"), lit(now - 700000L).as("last_fetch_ts")),
      struct(u("nullcf_fresh").as("url"), lit(now - 3600L).as("last_fetch_ts"))))
      .as("e"))
      .select(col("e.url").as("url"), col("e.last_fetch_ts").as("last_fetch_ts"))
    Recrawl.dueVerdicts(disc, "url", "lastmod", "changefreq",
        lastFetch, nowTs = now, defaultAgeS = 604800L)
      .select(col("doc_id"), col("kind"), col("url"),
        col("recrawl_due"), col("recrawl_reason"))
  }

  lazy val crawlRecrawlDueSql: String =
    """WITH k(kind, suffix, due, reason) AS (VALUES
      |  (1, 'new', true, NULL),
      |  (2, 'fresh', false, NULL),
      |  (3, 'aged', true, 'aged'),
      |  (4, 'modified', true, 'modified'),
      |  (5, 'never', false, NULL),
      |  (6, 'default', true, 'aged'),
      |  (7, 'nullcf', true, 'aged'),
      |  (8, 'nullcf_fresh', false, NULL))
      |SELECT doc_id, kind,
      |       'http://h' || doc_id || '.example.com/' || suffix AS url,
      |       due AS recrawl_due,
      |       CASE WHEN kind = 1 THEN 'new' ELSE reason END AS recrawl_reason
      |FROM documents, k
      |""".stripMargin

  /** ADAPTIVE recrawl verdicts over nine constructed (discovery,
    * fetch-log) shapes per document — the change-rate backoff rules on
    * top of [[crawlRecrawlDue]]'s: a streak-0 page ages at its base
    * interval; streak 2 stretches `daily` to 4 days (same age now NOT
    * due; 4x-stale IS); streak 6 pins the `maxBackoffShift = 5` cap
    * (due at 32x base where an uncapped 64x would still sleep, and
    * not due under 32x); a publisher `lastmod` newer than the fetch
    * fires `modified` THROUGH any backoff; `never` stays age-exempt;
    * a missing record is `new`; a NULL streak (pre-column store)
    * backs off nothing. Fixed epoch instants; the oracle states every
    * verdict directly (hand-computed truth table). */
  def crawlRecrawlAdaptive(s: SparkSession, dir: String): DataFrame = {
    val now = 1700000000L
    val d = docs(s, dir)
    val hid = col("doc_id").cast("string")
    def u(suffix: String) =
      concat(lit("http://h"), hid, lit(s".example.com/$suffix"))
    def disc(kind: Int, suffix: String, lastmod: String, cf: String) =
      struct(lit(kind).as("kind"), u(suffix).as("url"),
        lit(lastmod).as("lastmod"), lit(cf).as("changefreq"))
    val discovered = d.select(col("doc_id"), explode(array(
      disc(1, "base", "", "daily"),
      disc(2, "backoff", "", "daily"),
      disc(3, "expired", "", "daily"),
      disc(4, "capped", "", "daily"),
      disc(5, "under", "", "daily"),
      disc(6, "modified", "2023-11-14 22:10:00", "daily"),
      disc(7, "never", "", "never"),
      disc(8, "new", "", "daily"),
      disc(9, "nullstreak", "", "daily"))).as("e"))
      .select(col("doc_id"), col("e.kind").as("kind"), col("e.url").as("url"),
        col("e.lastmod").as("lastmod"), col("e.changefreq").as("changefreq"))
    def lf(suffix: String, age: Long, streak: Option[Long]) =
      struct(u(suffix).as("url"), lit(now - age).as("last_fetch_ts"),
        streak.map(v => lit(v)).getOrElse(lit(null)).cast("long")
          .as("unchanged_streak"))
    val lastFetch = d.select(explode(array(
      lf("base", 90000L, Some(0L)),
      lf("backoff", 90000L, Some(2L)),
      lf("expired", 400000L, Some(2L)),
      lf("capped", 3000000L, Some(6L)),
      lf("under", 2000000L, Some(6L)),
      lf("modified", 1000L, Some(3L)),
      lf("never", 31536000L, Some(0L)),
      lf("nullstreak", 90000L, None))).as("e"))
      .select(col("e.url").as("url"), col("e.last_fetch_ts").as("last_fetch_ts"),
        col("e.unchanged_streak").as("unchanged_streak"))
    Recrawl.dueVerdictsAdaptive(discovered, "url", "lastmod", "changefreq",
        lastFetch, nowTs = now, defaultAgeS = 604800L, maxBackoffShift = 5)
      .select(col("doc_id"), col("kind"), col("url"),
        col("recrawl_due"), col("recrawl_reason"))
  }

  lazy val crawlRecrawlAdaptiveSql: String =
    """WITH k(kind, suffix, due, reason) AS (VALUES
      |  (1, 'base', true, 'aged'),
      |  (2, 'backoff', false, NULL),
      |  (3, 'expired', true, 'aged'),
      |  (4, 'capped', true, 'aged'),
      |  (5, 'under', false, NULL),
      |  (6, 'modified', true, 'modified'),
      |  (7, 'never', false, NULL),
      |  (8, 'new', true, 'new'),
      |  (9, 'nullstreak', true, 'aged'))
      |SELECT doc_id, kind,
      |       'http://h' || doc_id || '.example.com/' || suffix AS url,
      |       due AS recrawl_due, reason AS recrawl_reason
      |FROM documents, k
      |""".stripMargin

  /** Post-fetch change detection over five constructed (fetch, store)
    * shapes per document — one per rule branch: a URL with no store
    * row (`new`), a re-fetch whose fingerprint equals the stored one
    * (`unchanged` — downstream re-processing suppressed), a re-fetch
    * whose fingerprint differs (`changed`), a store row carrying a
    * NULL fingerprint (`new` — conservative: re-process), and a NULL
    * batch fingerprint against a stored one (`changed` — the content
    * address disappeared). The oracle states every verdict directly. */
  def crawlChangeDetect(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val hid = col("doc_id").cast("string")
    def u(suffix: String) =
      concat(lit("http://h"), hid, lit(s".example.com/$suffix"))
    def f(prefix: String) = concat(lit(prefix), hid)
    val fetched = d.select(col("doc_id"), explode(array(
      struct(lit(1).as("kind"), u("new").as("url"), f("fp-").as("fp")),
      struct(lit(2).as("kind"), u("same").as("url"), f("fp-").as("fp")),
      struct(lit(3).as("kind"), u("diff").as("url"), f("fp2-").as("fp")),
      struct(lit(4).as("kind"), u("nullstore").as("url"), f("fp-").as("fp")),
      struct(lit(5).as("kind"), u("nullbatch").as("url"),
        lit(null).cast("string").as("fp")))).as("e"))
      .select(col("doc_id"), col("e.kind").as("kind"),
        col("e.url").as("url"), col("e.fp").as("fp"))
    val lastFp = d.select(explode(array(
      struct(u("same").as("url"), f("fp-").as("last_fp")),
      struct(u("diff").as("url"), f("fp-").as("last_fp")),
      struct(u("nullstore").as("url"), lit(null).cast("string").as("last_fp")),
      struct(u("nullbatch").as("url"), f("fp-").as("last_fp")))).as("e"))
      .select(col("e.url").as("url"), col("e.last_fp").as("last_fp"))
    Recrawl.changeVerdicts(fetched, "url", "fp", lastFp)
      .select(col("doc_id"), col("kind"), col("url"),
        col("change_kind"), col("content_changed"))
  }

  lazy val crawlChangeDetectSql: String =
    """WITH k(kind, suffix, ck) AS (VALUES
      |  (1, 'new', 'new'),
      |  (2, 'same', 'unchanged'),
      |  (3, 'diff', 'changed'),
      |  (4, 'nullstore', 'new'),
      |  (5, 'nullbatch', 'changed'))
      |SELECT doc_id, kind,
      |       'http://h' || doc_id || '.example.com/' || suffix AS url,
      |       ck AS change_kind,
      |       ck <> 'unchanged' AS content_changed
      |FROM documents, k
      |""".stripMargin

  /** robots URL admission over the constructed per-host rule sets and
    * seven URL shapes per host × two product tokens: longest-match
    * precedence, allow-beats-disallow ties (via the wildcard rule
    * outranking the shorter disallow), the trailing-$ anchor (and its
    * defeat by a query string — RFC matches path PLUS query),
    * case-insensitive hosts vs case-sensitive paths, exact-group
    * shadowing of `*`, the `*` fallback for an unlisted agent, and the
    * allowed-by-default orphan host. The oracle constructs every
    * verdict directly. */
  def crawlRobotsFilter(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val host = concat(lit("h"), col("doc_id"), lit(".example.com"))
    val rules = Robots.parseRules(
      d.select(host.as("host"), robotsBody.as("body")), "host", "body").toDF()
    val hid = col("doc_id").cast("string")
    val urls = d.select(col("doc_id"), explode(array(
      concat(lit("http://H"), hid, lit(".EXAMPLE.com/index.html")),
      concat(lit("http://h"), hid, lit(".example.com/private/secret.html")),
      concat(lit("http://h"), hid, lit(".example.com/private/pub"), hid, lit("?page=2")),
      concat(lit("http://h"), hid, lit(".example.com/doc"), hid),
      concat(lit("http://h"), hid, lit(".example.com/doc"), hid, lit("?q=1")),
      concat(lit("http://h"), hid, lit(".example.com/Private/x")),
      concat(lit("http://orphan"), hid, lit(".example.net/x")))).as("url"))
    val asGraft = Robots.admissions(urls, "url", rules, "GraftBot")
      .withColumn("agent", lit("graftbot"))
    val asNew = Robots.admissions(urls, "url", rules, "newbot")
      .withColumn("agent", lit("newbot"))
    asGraft.unionByName(asNew)
      .select(col("doc_id"), col("agent"), col("url"),
        col("robots_allowed"), col("robots_rule"))
  }

  lazy val crawlRobotsFilterSql: String =
    """WITH u AS (
      |  SELECT doc_id, 1 AS kind,
      |         'http://H' || doc_id || '.EXAMPLE.com/index.html' AS url
      |  FROM documents
      |  UNION ALL SELECT doc_id, 2,
      |    'http://h' || doc_id || '.example.com/private/secret.html' FROM documents
      |  UNION ALL SELECT doc_id, 3,
      |    'http://h' || doc_id || '.example.com/private/pub' || doc_id || '?page=2'
      |  FROM documents
      |  UNION ALL SELECT doc_id, 4,
      |    'http://h' || doc_id || '.example.com/doc' || doc_id FROM documents
      |  UNION ALL SELECT doc_id, 5,
      |    'http://h' || doc_id || '.example.com/doc' || doc_id || '?q=1' FROM documents
      |  UNION ALL SELECT doc_id, 6,
      |    'http://h' || doc_id || '.example.com/Private/x' FROM documents
      |  UNION ALL SELECT doc_id, 7,
      |    'http://orphan' || doc_id || '.example.net/x' FROM documents
      |)
      |SELECT doc_id, a.agent, url,
      |  CASE WHEN a.agent = 'graftbot' THEN kind IN (1, 3, 5, 6, 7)
      |       ELSE kind = 7 END AS robots_allowed,
      |  CASE WHEN a.agent = 'graftbot' THEN
      |         CASE kind WHEN 2 THEN '/private/'
      |                   WHEN 3 THEN '/private/pub*'
      |                   WHEN 4 THEN '/doc' || doc_id || '$' END
      |       ELSE CASE WHEN kind <> 7 THEN '/' END
      |  END AS robots_rule
      |FROM u CROSS JOIN (SELECT unnest(['graftbot', 'newbot']) AS agent) a
      |""".stripMargin

  /** HTTP message metadata + chunked-transfer decoding over three
    * constructed payload shapes per document: a 200 text/html response
    * whose body arrives `Transfer-Encoding: chunked` (lowercase header
    * name, extra whitespace, a chunk extension, a two-chunk split of
    * the document text), a plain 404, and a non-HTTP payload (NULL
    * status, empty content type, body = payload). The oracle
    * constructs every expected row directly, so a drift in status
    * extraction, header lookup, header-block bounding, or the chunk
    * framing decode mismatches byte-for-byte. */
  def warcHttpMeta(s: SparkSession, dir: String): DataFrame = {
    val c1 = substring(col("text"), 1, 10)
    val c2 = substring(col("text"), 11, 1000000)
    val chunked = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        "transfer-encoding:  chunked\r\n\r\n"),
      lower(hex(length(c1))), lit("\r\n"), c1, lit("\r\n"),
      when(length(c2) > 0,
        concat(lower(hex(length(c2))), lit(";ext=1\r\n"), c2, lit("\r\n")))
        .otherwise(lit("")),
      lit("0\r\n\r\n"))
    docs(s, dir)
      .select(col("doc_id"), explode(map(
        lit(1), chunked,
        lit(2), lit("HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n\r\ngone"),
        lit(3), col("text"))).as(Seq("kind", "payload")))
      .select(col("doc_id"), col("kind"),
        Warc.httpStatus(col("payload")).as("http_status"),
        Warc.httpHeader(col("payload"), "Content-Type").as("content_type"),
        Warc.httpBodyDechunked(col("payload")).as("body"))
  }

  lazy val warcHttpMetaSql: String =
    """SELECT doc_id, 1 AS kind, 200 AS http_status,
      |       'text/html; charset=utf-8' AS content_type, text AS body
      |FROM documents
      |UNION ALL
      |SELECT doc_id, 2, 404, 'text/plain', 'gone' FROM documents
      |UNION ALL
      |SELECT doc_id, 3, NULL, '', text FROM documents
      |""".stripMargin

  /** Outlink extraction + RFC 3986 resolution over constructed pages:
    * nine href shapes per document — absolute, scheme-relative,
    * root-relative, directory-relative, parent-relative (dot-segment
    * collapse), query-only, fragment-only, single-quoted with an
    * escaped `&amp;`, and unquoted — against a two-directory base URL.
    * The oracle constructs every (href, resolved) pair directly, so a
    * drift in attribute tokenization, entity decoding, any resolution
    * branch, or the dot-segment collapse mismatches byte-for-byte. */
  def crawlExtractLinks(s: SparkSession, dir: String): DataFrame = {
    val hid = col("doc_id").cast("string")
    val html = concat(
      lit("<html><body><a href=\"http://other.example.net/abs\">x</a>" +
        "<A HREF=\"//cdn.example.com/lib.js\">y</A>" +
        "<a class=\"z\" href=\"/root/doc"), hid,
      lit("\">z</a><a href=\"sub/page"), hid,
      lit(".html\">r</a><a href=\"../up/one\">p</a>" +
        "<a href=\"?page=2\">q</a><a href=\"#section\">f</a>" +
        "<a href='/q?a=1&amp;b=2'>e</a><a href=bare"), hid,
      lit(">u</a></body></html>"))
    val base = concat(lit("http://h"), hid, lit(".example.com/a/b/index.html"))
    val exploded = docs(s, dir)
      .select(col("doc_id"), base.as("base"), html.as("html"))
      .select(col("doc_id"), col("base"),
        posexplode(TextAnalysis.extractLinks(col("html"))).as(Seq("link_idx", "href")))
    TextAnalysis.resolveLinksStaged(exploded, "base", "href", "url")
      .select(col("doc_id"), col("link_idx"), col("href"), col("url"))
  }

  lazy val crawlExtractLinksSql: String =
    """WITH cases(link_idx, href, u) AS (VALUES
      |  (0, 'http://other.example.net/abs', 'http://other.example.net/abs'),
      |  (1, '//cdn.example.com/lib.js', 'http://cdn.example.com/lib.js'),
      |  (2, '/root/doc<ID>', 'http://h<ID>.example.com/root/doc<ID>'),
      |  (3, 'sub/page<ID>.html', 'http://h<ID>.example.com/a/b/sub/page<ID>.html'),
      |  (4, '../up/one', 'http://h<ID>.example.com/a/up/one'),
      |  (5, '?page=2', 'http://h<ID>.example.com/a/b/index.html?page=2'),
      |  (6, '#section', 'http://h<ID>.example.com/a/b/index.html'),
      |  (7, '/q?a=1&b=2', 'http://h<ID>.example.com/q?a=1&b=2'),
      |  (8, 'bare<ID>', 'http://h<ID>.example.com/a/b/bare<ID>'))
      |SELECT doc_id, link_idx,
      |       replace(href, '<ID>', CAST(doc_id AS VARCHAR)) AS href,
      |       replace(u, '<ID>', CAST(doc_id AS VARCHAR)) AS url
      |FROM documents, cases
      |""".stripMargin

  /** MATERIALIZED concat-and-split packing over the corpus's own
    * whitespace tokens: shard + order from the deterministic md5
    * shuffle (the `text_pack_budget` derivation), then
    * [[operators.Packing.packSequences]] cuts every 64 tokens. The
    * oracle REBUILDS the sequences relationally — token-level absolute
    * positions via the unnest-range pattern, `// 64` grouping, ordered
    * string_agg — so a drift in the cut arithmetic, slice bounds, or
    * reassembly order mismatches byte-for-byte (`text_pack_budget`
    * pins the coordinates; this pins the materialization). */
  def textPackSequences(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      filter(TextAnalysis.tokens(col("text")), t => t =!= "").as("__toks"))
    operators.Packing.packSequences(
        Sampling.shuffleShards(toks, "doc_id", 8, "r10"),
        "shard", "pos", "__toks", seqTokens = 64L)
      .select(col("shard"), col("seq_id"), col("n_seq_tokens"), col("n_parts"),
        array_join(col("seq_tokens"), " ").as("seq_text"))
  }

  lazy val textPackSequencesSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, list_filter(string_split($normSql, ' '), t -> t <> '') AS w,
       |         md5(CAST(doc_id AS VARCHAR) || 'r10') AS hh FROM documents
       |), sh AS (
       |  SELECT doc_id, w, hh,
       |         CAST('0x' || substr(hh, 1, 4) AS INTEGER) % 8 AS shard
       |  FROM h
       |), sp AS (
       |  SELECT doc_id, w, shard,
       |         CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1
       |              AS BIGINT) AS pos
       |  FROM sh
       |), c AS (
       |  SELECT doc_id, shard, pos, w,
       |         CAST(sum(len(w)) OVER (PARTITION BY shard ORDER BY pos)
       |              - len(w) AS BIGINT) AS tok_start
       |  FROM sp
       |), tok AS (
       |  SELECT doc_id, shard, tok_start + i AS abs_pos,
       |         w[CAST(i + 1 AS INTEGER)] AS token
       |  FROM (SELECT doc_id, shard, tok_start, w,
       |               unnest(range(0, len(w))) AS i
       |        FROM c)
       |)
       |SELECT shard, CAST(abs_pos // 64 AS BIGINT) AS seq_id,
       |       CAST(count(*) AS INTEGER) AS n_seq_tokens,
       |       CAST(count(DISTINCT doc_id) AS INTEGER) AS n_parts,
       |       string_agg(token, ' ' ORDER BY abs_pos) AS seq_text
       |FROM tok GROUP BY 1, 2
       |""".stripMargin

  /** Magic-byte MIME sniffing over six payload shapes per document: a
    * REAL encoded PNG (the full decode path's own payloads), four
    * constructed magic prefixes (JPEG/JFIF, GIF89a, RIFF+WAVE at the
    * byte-9 format field, ISO-BMFF `ftyp` at byte 5), and plain text
    * bytes (octet-stream). The oracle constructs every verdict
    * directly — a drift in any magic offset mismatches. */
  def multimodalSniff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val png = Multimodal.syntheticImages(d.select(col("doc_id")), "doc_id")
      .select(col("doc_id"), lit(1).as("kind"), col("payload"))
    val magics = d.select(col("doc_id"), explode(map(
      lit(2), to_binary(lit("FFD8FFE000104A464946"), lit("hex")),
      lit(3), to_binary(lit("47494638396100AA"), lit("hex")),
      lit(4), to_binary(lit("52494646AAAAAAAA57415645"), lit("hex")),
      lit(5), to_binary(lit("00000018667479706D703432"), lit("hex")),
      lit(6), concat(lit("txt:"), col("text")).cast("binary")))
      .as(Seq("kind", "payload")))
    png.unionByName(magics)
      .select(col("doc_id"), col("kind"),
        Multimodal.sniffMime(col("payload")).as("mime"))
  }

  lazy val multimodalSniffSql: String =
    """WITH cases(kind, mime) AS (VALUES
      |  (1, 'image/png'), (2, 'image/jpeg'), (3, 'image/gif'),
      |  (4, 'audio/wav'), (5, 'video/mp4'),
      |  (6, 'application/octet-stream'))
      |SELECT doc_id, kind, mime FROM documents, cases
      |""".stripMargin

  /** Page-level compliance metadata over constructed pages: meta
    * robots (both attribute orders, whitespace normalization),
    * canonical link (href-first order), and follow-link extraction —
    * a rel="nofollow" token drops its anchor, a page-level `nofollow`
    * drops them all, empty hrefs never follow. The oracle constructs
    * every verdict directly. */
  def crawlHtmlMeta(s: SparkSession, dir: String): DataFrame = {
    val hid = col("doc_id").cast("string")
    val m3 = col("doc_id") % 3
    val head = concat(
      when(m3 === 1, lit("<meta name=\"robots\" content=\"noindex, follow\">"))
        .otherwise(lit("")),
      when(m3 === 2, lit("<META content=\"nofollow\" name=\"robots\">"))
        .otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit("<link href=\"/canon"), hid, lit("\" rel=\"canonical\">")))
        .otherwise(lit("")))
    val html = concat(lit("<html><head>"), head,
      lit("</head><body><a href=\"/a\">x</a>" +
        "<a rel=\"external nofollow\" href=\"/nf\">y</a>" +
        "<a rel=\"external\" href=\"/b\">z</a><a href=\"\">self</a>" +
        "</body></html>"))
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.htmlMetaRobots(html).as("meta_robots"),
      TextAnalysis.htmlCanonical(html).as("canonical"),
      size(TextAnalysis.extractLinks(html)).as("n_links"),
      array_join(TextAnalysis.extractFollowLinks(html), " ").as("follow_urls"))
  }

  lazy val crawlHtmlMetaSql: String =
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 1 THEN 'noindex,follow'
      |                  WHEN 2 THEN 'nofollow' ELSE '' END AS meta_robots,
      |  CASE WHEN doc_id % 2 = 0 THEN '/canon' || doc_id ELSE '' END AS canonical,
      |  4 AS n_links,
      |  CASE WHEN doc_id % 3 = 2 THEN '' ELSE '/a /b' END AS follow_urls
      |FROM documents
      |""".stripMargin

  /** Redirect-chain resolution over constructed edge sets: a 3-hop
    * chain to a terminal, a 2-cycle, and a self-loop per host. The
    * oracle constructs every verdict — terminal target, exact hop
    * counts, unresolved cycles with NULL target/hops — so a drift in
    * the pointer-doubling arithmetic mismatches. */
  def crawlRedirects(s: SparkSession, dir: String): DataFrame = {
    val hid = col("doc_id").cast("string")
    def u(p: String) =
      concat(lit("http://h"), hid, lit(".example.com/"), lit(p))
    val edges = docs(s, dir).select(explode(array(
        struct(u("a").as("src"), u("b").as("dst")),
        struct(u("b").as("src"), u("c").as("dst")),
        struct(u("c").as("src"), u("d").as("dst")),
        struct(u("x").as("src"), u("y").as("dst")),
        struct(u("y").as("src"), u("x").as("dst")),
        struct(u("z").as("src"), u("z").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    operators.Redirects.resolve(edges, "src", "dst", maxDepth = 16)
  }

  lazy val crawlRedirectsSql: String =
    """WITH cases(sfx, fin, hops, resolved) AS (VALUES
      |  ('a', 'd', 3, true), ('b', 'd', 2, true), ('c', 'd', 1, true),
      |  ('x', NULL, NULL, false), ('y', NULL, NULL, false),
      |  ('z', NULL, NULL, false))
      |SELECT 'http://h' || doc_id || '.example.com/' || sfx AS src,
      |       CASE WHEN fin IS NULL THEN NULL
      |            ELSE 'http://h' || doc_id || '.example.com/' || fin
      |       END AS final_url,
      |       CAST(hops AS BIGINT) AS hops, resolved
      |FROM documents, cases
      |""".stripMargin

  /** RSS/Atom feed parsing over constructed feeds: a fully-attributed
    * item/entry and a minimal one per document, channel/feed-level
    * titles OUTSIDE the entry blocks (must not leak in), an
    * attribute-bearing guid, an entity in an RSS title, whitespace
    * inside an RSS link, and Atom's attribute-form links. The oracle
    * constructs every row directly. */
  def crawlFeedItems(s: SparkSession, dir: String): DataFrame = {
    val hid = col("doc_id").cast("string")
    val rss = concat(
      lit("<rss><channel><title>chan</title>" +
        "<item><title>First &amp; got</title><link>http://h"), hid,
      lit(".example.com/rss1</link><guid isPermaLink=\"false\">g"), hid,
      lit("-1</guid><pubDate>Mon, 01 Jan 2024</pubDate></item>" +
        "<item><link>\n  http://h"), hid,
      lit(".example.com/rss2\n</link></item></channel></rss>"))
    val atom = concat(
      lit("<feed><title>feedtitle</title>" +
        "<entry><title>A1</title><link rel=\"alternate\" href=\"http://h"), hid,
      lit(".example.com/atom1\"/><id>tag:"), hid,
      lit(":1</id><updated>2024-01-02</updated></entry>" +
        "<entry><link href=\"http://h"), hid,
      lit(".example.com/atom2\"/></entry></feed>"))
    val d = docs(s, dir)
    operators.Feeds.rssItems(
        d.select(col("doc_id"), rss.as("xml")), "doc_id", "xml")
      .withColumn("format", lit("rss"))
      .unionByName(operators.Feeds.atomEntries(
          d.select(col("doc_id"), atom.as("xml")), "doc_id", "xml")
        .withColumn("format", lit("atom")))
  }

  lazy val crawlFeedItemsSql: String =
    """WITH cases(format, entry_idx, linksfx, title, eid, updated) AS (VALUES
      |  ('rss', 0, '/rss1', 'First & got', 'g<ID>-1', 'Mon, 01 Jan 2024'),
      |  ('rss', 1, '/rss2', '', '', ''),
      |  ('atom', 0, '/atom1', 'A1', 'tag:<ID>:1', '2024-01-02'),
      |  ('atom', 1, '/atom2', '', '', ''))
      |SELECT doc_id, entry_idx,
      |       'http://h' || doc_id || '.example.com' || linksfx AS link,
      |       title,
      |       replace(eid, '<ID>', CAST(doc_id AS VARCHAR)) AS entry_id,
      |       updated, format
      |FROM documents, cases
      |""".stripMargin

  /** Host-level link graph over the same constructed pages — the
    * input shape of crawl-quality PageRank: (src_host, dst_host,
    * n_links) with ONE declared groupBy shuffle over the resolved
    * outlinks (seven same-host links, one external host, one CDN host
    * per page). Composition gate: a drift anywhere in extraction,
    * resolution, or host parsing shifts an edge count. */
  def crawlLinkGraph(s: SparkSession, dir: String): DataFrame =
    crawlExtractLinks(s, dir)
      .select(
        concat(lit("h"), col("doc_id").cast("string"), lit(".example.com"))
          .as("src_host"),
        operators.Robots.urlHost(col("url")).as("dst_host"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))

  lazy val crawlLinkGraphSql: String =
    """WITH hosts(dst, n) AS (VALUES
      |  ('other.example.net', 1), ('cdn.example.com', 1), ('<SELF>', 7))
      |SELECT 'h' || doc_id || '.example.com' AS src_host,
      |       replace(dst, '<SELF>', 'h' || doc_id || '.example.com') AS dst_host,
      |       CAST(n AS BIGINT) AS n_links
      |FROM documents, hosts
      |""".stripMargin

  /** Sitemap XML parsing over deterministically CONSTRUCTED files:
    * three `<url>` entries per document — one fully-attributed with an
    * entity-escaped query URL, one bare, one with whitespace/newlines
    * inside `<loc>` — inside a real `<urlset>` wrapper (which must NOT
    * match as an entry). The oracle constructs the expected frontier
    * rows directly, so a drift in entry splitting, tag extraction,
    * trimming, or entity decoding mismatches byte-for-byte. */
  def crawlSitemapUrls(s: SparkSession, dir: String): DataFrame = {
    val hid = col("doc_id").cast("string")
    val xml = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "<url><loc>http://h"), hid,
      lit(".example.com/a?x=1&amp;y=2</loc><lastmod>2024-01-15</lastmod>" +
        "<changefreq>daily</changefreq><priority>0.8</priority></url>\n" +
        "<url><loc>http://h"), hid, lit(".example.com/page"), hid,
      lit("</loc></url>\n<url>\n  <loc>\n    http://h"), hid,
      lit(".example.com/ws\n  </loc>\n</url>\n</urlset>\n"))
    operators.Sitemaps.urlEntries(
      docs(s, dir).select(col("doc_id"), xml.as("xml")), "doc_id", "xml")
  }

  lazy val crawlSitemapUrlsSql: String =
    """WITH cases(entry_idx, locsuf, lastmod, changefreq, priority) AS (VALUES
      |  (0, '/a?x=1&y=2', '2024-01-15', 'daily', '0.8'),
      |  (1, '/page<ID>', '', '', ''),
      |  (2, '/ws', '', '', ''))
      |SELECT doc_id, entry_idx,
      |       'http://h' || doc_id || '.example.com' ||
      |         replace(locsuf, '<ID>', CAST(doc_id AS VARCHAR)) AS loc,
      |       lastmod, changefreq, priority
      |FROM documents, cases
      |""".stripMargin
}
