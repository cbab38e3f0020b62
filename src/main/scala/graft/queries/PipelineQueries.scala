package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Profiler, Similarity, TextAnalysis}

/** Training-data-pipeline operator queries (dedup / similarity /
  * multimodal / text analysis / sampling / profiling) over the
  * `documents` and `embeddings` tables. EVERY query carries a DuckDB
  * oracle: SQL-expressible computations are replicated directly;
  * hash/probe-based operators are pinned by construction-proof oracles
  * (exhaustive-SQL recall proofs, recall self-checks emitted as
  * verified columns, or bit-exact SQL replicas of their kernels).
  *
  * The documents table has no natural duplicates, so the dedup queries
  * union deterministic perturbed copies (ids offset by +100000) into
  * the input: exact copies for exact dedup, drop-last-word copies for
  * near-dup, scaled embeddings for cosine near-dup. The oracle applies
  * the same construction in SQL, so the expected pair set is exact.
  */
object PipelineQueries {

  private val CopyIdOffset = 100000L

  /** documents plus exact copies of doc_id < 50. */
  private def docsWithExactCopies(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + CopyIdOffset))
  }

  /** documents plus near-dup copies (last word dropped) of doc_id < 50. */
  private def docsWithNearCopies(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    val w = split(col("text"), " ")
    d.unionByName(
      d.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + CopyIdOffset)
        .withColumn("text", concat_ws(" ", slice(w, lit(1), size(w) - 1))))
  }

  private val augExactSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)""".stripMargin

  private val augNearSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000,
      |   array_to_string(string_split(text, ' ')[1:len(string_split(text, ' '))-1], ' ')
      | FROM documents WHERE doc_id < 50)""".stripMargin

  /** DuckDB replica of Dedup.shingles (normalize → whitespace tokens →
    * distinct word k-grams), as a SQL fragment over column `text`. */
  private def shinglesSql(k: Int): String = {
    val slice = s"w[i:i+${k - 1}]"
    s"""CASE WHEN len(w) < $k THEN [array_to_string(w, ' ')]
       | ELSE list_distinct(list_transform(range(1, len(w) - ${k - 2}),
       |        i -> array_to_string($slice, ' '))) END""".stripMargin
  }

  private val normTokensSql =
    """string_split_regex(trim(regexp_replace(regexp_replace(lower(text),
      | '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')), '\s+')""".stripMargin

  // ------------------------------------------------------------- dedup

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docsWithExactCopies(s, dir)).orderBy(col("doc_id"))

  val dedupExactSql: String =
    s"""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
       |FROM $augExactSql
       |GROUP BY text
       |ORDER BY doc_id""".stripMargin

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docsWithNearCopies(s, dir), threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))

  /** Oracle = EXACT jaccard over all pairs — checks both LSH recall
    * (banding must surface every qualifying pair of this dataset) and
    * the verify step's exact jaccard arithmetic. */
  def jaccardPairOracle(threshold: Double, k: Int, aug: String,
                        extraPred: String = ""): String =
    s"""WITH aug AS (SELECT doc_id, text FROM $aug),
       |sh AS (SELECT doc_id AS id, sh FROM (
       |  SELECT doc_id, (SELECT ${shinglesSql(k)} FROM (SELECT $normTokensSql AS w)) AS sh
       |  FROM aug)),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
       |  FROM sh a, sh b WHERE a.id < b.id$extraPred)
       |SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs
       |WHERE j >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  val dedupMinhashLshSql: String = jaccardPairOracle(0.8, 3, augNearSql)

  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docsWithNearCopies(s, dir), threshold = 0.5, k = 3)
      .orderBy(col("id_a"), col("id_b"))

  val dedupNgramJaccardSql: String = jaccardPairOracle(0.5, 3, augNearSql)

  /** SimHash as the candidate stage of a verified near-dup pipeline:
    * 128-bit signatures, HmSearch-style multi-index at radius 15 —
    * 8 chunks × exactly 16-bit keys + 1-bit-variant probes (keyspace
    * 2¹⁶ per chunk, uniform; see Dedup.simhashPairs128) — then exact
    * shingle-Jaccard verification. The exhaustive-Jaccard oracle
    * proves the candidate generation surfaces EVERY ≥ τ pair of the
    * oracle dataset (measured max Hamming-128 over true pairs at
    * sf0.01 is 12 — radius 15 covers it with margin; the 64-bit
    * scheme's margin was 0 at its radius 6).
    *
    * Radius honesty (measured by tools/SimhashRadiusProbe against the
    * recall-guaranteed PPJoin pair set): at sf0.1, radius 15 covers
    * 309 of 311 qualifying pairs — vs 299/311 for the old 64-bit
    * radius-6 scheme — and the 2-pair tail (Hamming 16 and 24) sits at
    * the Jaccard ≈ 0.5 boundary, where SimHash distance is only
    * probabilistically tied to Jaccard: NO fixed radius closes it
    * (full sf0.1 coverage needs radius 24 ⇒ 13 chunks of ~10-bit keys,
    * whose n²/2¹⁰ bucket collisions are exactly the scale hazard the
    * multi-index exists to avoid). The contract is therefore explicit:
    * SimHash is the cheap high-recall-not-total candidate stage;
    * `dedup_minhash_lsh` is the recall-guaranteed operator. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs128(docsWithNearCopies(s, dir), radius = 15,
        verifyJaccard = Some(0.5))
      .orderBy(col("id_a"), col("id_b"))

  val dedupSimhashSql: String = jaccardPairOracle(0.5, 3, augNearSql)

  /** Near-dup CLUSTERS: the minhash pair list collapsed into connected
    * components (A~B, B~C ⇒ {A,B,C} even when A~C never surfaced),
    * emitted per cluster as (min-id representative, size, member-id
    * sum — the sum pins exact membership). The oracle rebuilds the
    * components from the exhaustive-Jaccard pair set with a recursive
    * CTE, so BOTH the pairwise recall and the label-propagation
    * convergence are hash-verified. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(docsWithNearCopies(s, dir), threshold = 0.8)
    Dedup.connectedComponents(pairs)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("sum_members"))
      .orderBy(col("cluster"))
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE aug AS (SELECT doc_id, text FROM $augNearSql),
       |sh AS (SELECT doc_id AS id,
       |  (SELECT ${shinglesSql(3)} FROM (SELECT $normTokensSql AS w)) AS sh FROM aug),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM sh a, sh b WHERE a.id < b.id
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(id) AS BIGINT) AS sum_members
       |FROM comp GROUP BY cluster
       |ORDER BY cluster""".stripMargin

  /** Leakage-free split: near-dup CLUSTERS (not documents) are
    * assigned to train/val/test by the md5-threshold rule, so a
    * held-out doc can never have a near-copy in train — the eval-
    * contamination failure mode. The oracle recomputes components via
    * the recursive CTE, the singleton fallback, and the exact hex
    * thresholds — a green hash proves cluster-atomic membership AND
    * the deterministic assignment. */
  def sampleLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val aug = docsWithNearCopies(s, dir)
    val pairs = graft.operators.Dedup.minhashLshPairs(aug, threshold = 0.8)
    graft.operators.Sampling.leakageFreeSplit(aug.select(col("doc_id")), pairs,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("cluster"), col("split"))
      .orderBy(col("doc_id"))
  }

  val sampleLeakageSplitSql: String = {
    val t80 = graft.operators.Sampling.hashThreshold(0.8)
    val t90 = graft.operators.Sampling.hashThreshold(0.9)
    s"""WITH RECURSIVE aug AS (SELECT doc_id, text FROM $augNearSql),
       |sh AS (SELECT doc_id AS id,
       |  (SELECT ${shinglesSql(3)} FROM (SELECT $normTokensSql AS w)) AS sh FROM aug),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM sh a, sh b WHERE a.id < b.id
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       |assigned AS (
       |  SELECT a.doc_id, coalesce(c.cluster, a.doc_id) AS cluster
       |  FROM aug a LEFT JOIN comp c ON a.doc_id = c.id)
       |SELECT doc_id, cluster,
       |  CASE WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 8) < '$t80' THEN 'train'
       |       WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 8) < '$t90' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM assigned
       |ORDER BY doc_id""".stripMargin
  }

  /** Benchmark decontamination: training docs (source ≠ src1) sharing
    * ≥ 2 distinct 5-gram shingles with any eval doc (source = src1).
    * The oracle recomputes the intersection sizes exhaustively. */
  def textContamination(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    Dedup.crossCorpusOverlap(
        d.filter(col("source") =!= "src1"),
        d.filter(col("source") === "src1"),
        n = 5, minShared = 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  val textContaminationSql: String =
    s"""WITH tr AS (SELECT doc_id, text FROM documents WHERE source <> 'src1'),
       |ev AS (SELECT doc_id, text FROM documents WHERE source = 'src1'),
       |sa AS (SELECT doc_id AS id_a,
       |  (SELECT ${shinglesSql(5)} FROM (SELECT $normTokensSql AS w)) AS sh FROM tr),
       |sb AS (SELECT doc_id AS id_b,
       |  (SELECT ${shinglesSql(5)} FROM (SELECT $normTokensSql AS w)) AS sh FROM ev)
       |SELECT id_a, id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared
       |FROM sa a, sb b
       |WHERE len(list_intersect(a.sh, b.sh)) >= 2
       |ORDER BY id_a, id_b""".stripMargin

  /** Decontamination as a transform: the training split minus every
    * doc sharing ≥2 distinct 5-gram shingles with the eval split —
    * `text_contamination`'s detection turned into the removal. The
    * per-source survivor rollup pins exact membership. */
  def pipelineDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    Dedup.decontaminate(
        d.filter(col("source") =!= "src1"),
        d.filter(col("source") === "src1"),
        n = 5, minShared = 2)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))
  }

  val pipelineDecontaminateSql: String =
    s"""WITH tr AS (SELECT doc_id, text, source FROM documents WHERE source <> 'src1'),
       |ev AS (SELECT doc_id, text FROM documents WHERE source = 'src1'),
       |sa AS (SELECT doc_id AS id_a,
       |  (SELECT ${shinglesSql(5)} FROM (SELECT $normTokensSql AS w)) AS sh FROM tr),
       |sb AS (SELECT doc_id AS id_b,
       |  (SELECT ${shinglesSql(5)} FROM (SELECT $normTokensSql AS w)) AS sh FROM ev),
       |hits AS (SELECT DISTINCT id_a FROM sa a, sb b
       |         WHERE len(list_intersect(a.sh, b.sh)) >= 2)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM tr WHERE doc_id NOT IN (SELECT id_a FROM hits)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Deterministic stratified sampling (eval-set carving): per-source
    * hash-threshold fractions, membership pinned exactly by per-source
    * count + id sum — the same md5-prefix rule evaluated in DuckDB. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
    graft.operators.Sampling.stratifiedHashSample(d, "source", "doc_id",
        Map("src1" -> 0.8, "src2" -> 0.5), default = 0.25)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))
  }

  val sampleStratifiedSql: String = {
    import graft.operators.Sampling.hashThreshold
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM documents
       |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
       |  CASE source WHEN 'src1' THEN '${hashThreshold(0.8)}'
       |              WHEN 'src2' THEN '${hashThreshold(0.5)}'
       |              ELSE '${hashThreshold(0.25)}' END
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** Token-budget mixture sampling: B = 8000 tokens across weighted
    * sources (src1 0.5 / src2 0.3 / src3 0.2; unweighted sources drop).
    * Emitted per source: kept docs, their token sum, the realized rate,
    * and an id-sum membership pin. The oracle recomputes token totals,
    * the min(1, B·w/tokens) rate, the %08x hash threshold, and the
    * md5-rule sample — the ENTIRE mixing computation — in SQL. */
  def sampleTokenBudget(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.tokenBudgetSample(
        Tables.t(s, dir, "documents"), budgetTokens = 8000,
        weights = Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sampled_tokens"),
        round(max(col("rate")), 9).as("rate"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))

  val sampleTokenBudgetSql: String =
    s"""WITH tok AS (SELECT doc_id, source, CAST($nTokensSql AS BIGINT) AS n_tokens
       |             FROM documents),
       |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
       |        FROM tok GROUP BY source),
       |rates AS (SELECT source,
       |    least(1.0, 8000.0 * CASE source WHEN 'src1' THEN 0.5
       |                                    WHEN 'src2' THEN 0.3
       |                                    WHEN 'src3' THEN 0.2
       |                                    ELSE 0.0 END
       |          / CAST(greatest(src_tokens, 1) AS DOUBLE)) AS rate
       |  FROM tot),
       |th AS (SELECT source, rate,
       |    printf('%08x', least(CAST(floor(rate * 4294967296.0) AS BIGINT),
       |                         4294967295)) AS th
       |  FROM rates),
       |kept AS (SELECT t.doc_id, t.source, t.n_tokens, r.rate
       |  FROM tok t JOIN th r USING (source)
       |  WHERE substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) < r.th)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sampled_tokens,
       |  round(max(rate), 9) AS rate,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM kept GROUP BY source
       |ORDER BY source""".stripMargin

  /** Document chunking (64-token windows, stride 48 — ~25% overlap):
    * the embedding-pipeline preprocessing step. The md5 pin of every
    * chunk verifies the window boundaries, the stop-at-end rule, and
    * the verbatim chunk text against DuckDB's slice arithmetic. */
  def textChunk(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunk(Tables.t(s, dir, "documents"), size = 64, stride = 48)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val textChunkSql: String =
    """WITH tok AS (SELECT doc_id,
      |    string_split_regex(trim(text), '\s+') AS t FROM documents),
      |sized AS (SELECT doc_id, t, len(t) AS n,
      |    CASE WHEN len(t) <= 64 THEN 1
      |         ELSE (len(t) - 64 + 47) // 48 + 1 END AS n_chunks
      |  FROM tok),
      |chunks AS (SELECT doc_id,
      |    unnest(range(0, n_chunks)) AS chunk_idx,
      |    unnest(list_transform(range(0, n_chunks),
      |      i -> array_to_string(t[i*48 + 1 : least(i*48 + 64, n)], ' '))) AS chunk
      |  FROM sized)
      |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
      |  CAST(len(string_split_regex(chunk, '\s+')) AS INTEGER) AS n_tokens,
      |  md5(chunk) AS chunk_md5
      |FROM chunks
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Temperature-scaled mixture sampling (T = 2 → weights ∝ √tokens,
    * flattening toward uniform — the mBERT/XLM-R rebalancing rule with
    * no hand weights). The oracle recomputes token totals, the rounded
    * pow terms, the EXACT decimal normalizer, the 9-decimal rates, the
    * %08x thresholds, and the md5-rule membership — the entire mixing
    * computation — in SQL. */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureSample(
        Tables.t(s, dir, "documents"), budgetTokens = 8000, temperature = 2.0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sampled_tokens"),
        round(max(col("rate")), 9).as("rate"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))

  val sampleTemperatureSql: String =
    s"""WITH tok AS (SELECT doc_id, source, CAST($nTokensSql AS BIGINT) AS n_tokens
       |             FROM documents),
       |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t
       |        FROM tok GROUP BY source),
       |p AS (SELECT source, t,
       |    CAST(round(pow(CAST(greatest(t, 1) AS DOUBLE), 0.5), 6)
       |         AS DECIMAL(38,6)) AS pw
       |  FROM tot),
       |s AS (SELECT sum(pw) AS sp FROM p),
       |rates AS (SELECT source,
       |    round(least(1.0, 8000.0 * (CAST(pw AS DOUBLE) / CAST(sp AS DOUBLE))
       |          / CAST(t AS DOUBLE)), 9) AS rate
       |  FROM p CROSS JOIN s),
       |th AS (SELECT source, rate,
       |    printf('%08x', least(CAST(floor(rate * 4294967296.0) AS BIGINT),
       |                         4294967295)) AS th
       |  FROM rates),
       |kept AS (SELECT t.doc_id, t.source, t.n_tokens, r.rate
       |  FROM tok t JOIN th r USING (source)
       |  WHERE substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) < r.th)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sampled_tokens,
       |  round(max(rate), 9) AS rate,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM kept GROUP BY source
       |ORDER BY source""".stripMargin

  /** PII scrub: deterministic planted PII (email/SSN/phone/IPv4
    * suffix for doc_id < 50), per-type counts over the original text,
    * and an md5 pin of the REDACTED text — so pattern matching and the
    * ordered redaction are both hash-verified end to end against the
    * same RE2-compatible regexes run by DuckDB. */
  def textPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.withColumn("text",
      when(col("doc_id") < 50,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com call 555-867-5309 from 10.0."),
          (col("doc_id") % 200).cast("string"), lit(".7 ssn 123-45-6789")))
        .otherwise(col("text")))
    planted.select(col("doc_id"),
        TextAnalysis.piiCounts(col("text")).as("pii"),
        TextAnalysis.redactPii(col("text")).as("red"))
      .select(col("doc_id"),
        col("pii.n_email").as("n_email"), col("pii.n_ssn").as("n_ssn"),
        col("pii.n_phone").as("n_phone"), col("pii.n_ipv4").as("n_ipv4"),
        length(col("red")).as("redacted_len"),
        md5(col("red")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val textPiiRedactSql: String = {
    val ps = TextAnalysis.PiiPatterns.toMap
    val redacted = TextAnalysis.PiiPatterns.foldLeft("text") {
      case (acc, (n, p)) => s"regexp_replace($acc, '$p', '[${n.toUpperCase}]', 'g')"
    }
    def cnt(n: String) =
      s"CAST(len(regexp_extract_all(text, '${ps(n)}')) AS INTEGER) AS n_$n"
    s"""WITH aug AS (SELECT doc_id,
       |    CASE WHEN doc_id < 50 THEN text || ' contact user' ||
       |      CAST(doc_id AS VARCHAR) || '@example.com call 555-867-5309 from 10.0.' ||
       |      CAST(doc_id % 200 AS VARCHAR) || '.7 ssn 123-45-6789'
       |    ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id, ${cnt("email")}, ${cnt("ssn")}, ${cnt("phone")},
       |  ${cnt("ipv4")},
       |  CAST(length($redacted) AS INTEGER) AS redacted_len,
       |  md5($redacted) AS redacted_md5
       |FROM aug
       |ORDER BY doc_id""".stripMargin
  }

  /** embeddings plus near-identical copies: element i scaled by
    * 1 + (i%5)/100 (deterministic, non-uniform so cosine < 1). */
  private def embWithNearCopies(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    e.unionByName(
      e.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + CopyIdOffset)
        .withColumn("embedding",
          zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => x.cast("double") * (lit(1.0) + (i % 5).cast("double") / 100.0))))
  }

  private val augEmbSql =
    """(SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |   FROM embeddings
      | UNION ALL
      | SELECT vec_id + 100000,
      |   list_transform(range(0, len(embedding)),
      |     i -> CAST(embedding[i+1] AS DOUBLE) * (1.0 + (i % 5) / 100.0))
      | FROM embeddings WHERE vec_id < 50)""".stripMargin

  /** The LSH-banded (100 TB) plan IS the oracle-hash-verified query,
    * with the signature width derived from corpus plan statistics
    * (`Similarity.sizedBits` — no benchmark-bound constant): at τ=0.9
    * the per-hyperplane agreement of a qualifying pair is ≥ 0.857
    * (≥ 0.985 for the ≈1-cosine pairs here), so 8 OR-amplified bands
    * keep recall ≈1.0 across the whole sized-bits range while random
    * pairs collide in ~1% of buckets per band — the exact-SQL oracle
    * below then proves recall 1.0 on this data through non-degenerate
    * buckets. The O(n²) exhaustive form exists only as a test
    * reference (OperatorsSpec), never in a shipped plan. */
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(embWithNearCopies(s, dir), threshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  val dedupEmbeddingCosineSql: String =
    s"""WITH aug AS (SELECT vec_id, v FROM $augEmbSql)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM aug a, aug b
       |WHERE a.vec_id < b.vec_id
       |  AND list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
       |      (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
       |       sqrt(list_sum(list_transform(b.v, x -> x*x)))) >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  /** Multi-signal near-dup: the text (MinHash-verified jaccard ≥ 0.8)
    * and embedding (LSH-verified cosine ≥ 0.9) pair sets joined FULL
    * OUTER on the pair key, each pair flagged per signal — the
    * cross-modal evidence view a curation run uses to pick dedup
    * policy (drop on either signal vs require both). Oracle = the two
    * exhaustive pair sets composed with the same outer join. */
  def dedupMultiSignal(s: SparkSession, dir: String): DataFrame = {
    val textPairs = Dedup.minhashLshPairs(docsWithNearCopies(s, dir), threshold = 0.8)
      .select(col("id_a"), col("id_b"), lit(true).as("text_dup"))
    val embPairs = Dedup.embeddingCosinePairs(embWithNearCopies(s, dir), threshold = 0.9)
      .select(col("id_a"), col("id_b"), lit(true).as("emb_dup"))
    textPairs.join(embPairs, Seq("id_a", "id_b"), "full_outer")
      .select(col("id_a"), col("id_b"),
        coalesce(col("text_dup"), lit(false)).as("text_dup"),
        coalesce(col("emb_dup"), lit(false)).as("emb_dup"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupMultiSignalSql: String =
    s"""WITH aug AS (SELECT doc_id, text FROM $augNearSql),
       |sh AS (SELECT doc_id AS id,
       |  (SELECT ${shinglesSql(3)} FROM (SELECT $normTokensSql AS w)) AS sh FROM aug),
       |tp AS (SELECT a.id AS id_a, b.id AS id_b
       |  FROM sh a, sh b WHERE a.id < b.id
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
       |ae AS (SELECT vec_id, v FROM $augEmbSql),
       |ep AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM ae a, ae b WHERE a.vec_id < b.vec_id
       |    AND list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
       |        (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
       |         sqrt(list_sum(list_transform(b.v, x -> x*x)))) >= 0.9)
       |SELECT coalesce(t.id_a, e.id_a) AS id_a, coalesce(t.id_b, e.id_b) AS id_b,
       |  (t.id_a IS NOT NULL) AS text_dup, (e.id_a IS NOT NULL) AS emb_dup
       |FROM tp t FULL OUTER JOIN ep e ON t.id_a = e.id_a AND t.id_b = e.id_b
       |ORDER BY id_a, id_b""".stripMargin

  /** Deterministic per-SF store for the persisted MinHash dedup index —
    * built by `dedup_index_build`, probed by `dedup_index_probe`; keyed
    * by the source parquet's fingerprint like the ANN/BM25 indexes. */
  private def minhashIndexCollection(s: SparkSession, dir: String): graft.store.Collection = {
    val src = new java.io.File(dir, "documents.parquet")
    val fp = s"${src.length}_${src.lastModified}"
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_verify", s"minhash_index_${new java.io.File(dir).getName}_$fp")
    java.nio.file.Files.createDirectories(root)
    graft.store.GraftStore(s, "store", root).collection("minhash")
  }

  private def buildAndSaveMinhash(s: SparkSession, dir: String): Unit = {
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.DedupIndex.buildAndSaveMinhashIndex(docs,
      minhashIndexCollection(s, dir), "mh", overwrite = true)
  }

  /** MinHash dedup index BUILD: one corpus tokenize → persisted band
    * rows + shingle sets (the incremental-dedup analogue of the
    * IVF/BM25 build split). Emits structural proof rows the oracle
    * recomputes from scratch: doc count, band-row count (= docs ×
    * bands), total and distinct shingle counts — a green hash proves
    * the persisted shingle item matches a from-scratch derivation and
    * the band item has exactly the LSH shape the probe relies on. */
  def dedupIndexBuild(s: SparkSession, dir: String): DataFrame = {
    buildAndSaveMinhash(s, dir)
    val idx = graft.operators.DedupIndex.MinhashIndex.load(
      minhashIndexCollection(s, dir), "mh")
    val shStats = idx.shingles.agg(
      count(lit(1)).as("n_docs"), sum(size(col("sh"))).as("sum_shingles"))
    val distinctSh = idx.shingles
      .select(explode(col("sh")).as("s")).agg(count_distinct(col("s")).as("n_distinct_shingles"))
    val bandRows = idx.bands.agg(count(lit(1)).as("n_band_rows"))
    shStats.crossJoin(bandRows).crossJoin(distinctSh)
      .select(col("n_docs"), col("n_band_rows"), col("sum_shingles"),
        col("n_distinct_shingles"))
  }

  val dedupIndexBuildSql: String =
    s"""WITH sh AS (SELECT doc_id,
       |  (SELECT ${shinglesSql(3)} FROM (SELECT $normTokensSql AS w)) AS sh
       |  FROM documents)
       |SELECT count(*) AS n_docs,
       |  count(*) * 16 AS n_band_rows,
       |  CAST(sum(len(sh)) AS BIGINT) AS sum_shingles,
       |  (SELECT count(DISTINCT s) FROM (SELECT unnest(sh) AS s FROM sh)) AS n_distinct_shingles
       |FROM sh""".stripMargin

  /** MinHash dedup index PROBE — incremental batch-vs-corpus dedup, the
    * hot path: a NEW batch (the near-dup copies, ids offset +100000) is
    * deduplicated against the PERSISTED corpus index. The corpus text
    * is never read: band keys equi-join the skinny persisted band item
    * and verification reads only matched candidates' shingle rows
    * (IN-pushdown-pruned). Oracle = exhaustive cross-Jaccard over all
    * (corpus ∪ batch) pairs restricted to batch-side membership — the
    * same recall-proof construction as `dedup_minhash_lsh`, so a green
    * hash proves the probe surfaces EVERY qualifying batch pair. */
  def dedupIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val c = minhashIndexCollection(s, dir)
    if (!c.hasItem("mh__shingles")) buildAndSaveMinhash(s, dir) // verify-order safety
    val idx = graft.operators.DedupIndex.MinhashIndex.load(c, "mh")
    val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    val w = split(col("text"), " ")
    val batch = d.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + CopyIdOffset)
      .withColumn("text", concat_ws(" ", slice(w, lit(1), size(w) - 1)))
    graft.operators.DedupIndex.probeMinhashIndex(idx, batch, threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupIndexProbeSql: String =
    jaccardPairOracle(0.8, 3, augNearSql, extraPred = " AND b.id >= 100000")

  /** Streaming-ingest gate REPLAYED as a batch plan — the oracle
    * anchor for the persisted-index streaming matrix: runs the EXACT
    * functions `StreamAppend.intoMinhashIndex` executes per
    * micro-batch (first-batch self-dedup rule, then the steady-state
    * probe-and-drop rule against the persisted index), over a
    * deterministic two-batch schedule. StreamingSpec proves sink ≡
    * these functions; this query proves the functions ≡ the
    * declarative SQL spec — so the stream's drop decisions are
    * hash-anchored end to end. Batch 2 exercises every drop rule arm:
    * near-copies of indexed docs (+100000: batch-corpus, batch side
    * dies), fresh docs (+300000: survive), and near-copies of those
    * fresh docs (+400000: batch-batch, larger id dies). */
  def streamMinhashGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DedupIndex
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_verify", "stream_gate")
    graft.store.FsOps.deleteRecursively(root)
    java.nio.file.Files.createDirectories(root)
    val c = graft.store.GraftStore(s, "store", root).collection("gate")
    val d = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    def dropLast(df: DataFrame): DataFrame = {
      val ww = split(col("text"), " ")
      df.withColumn("text", concat_ws(" ", slice(ww, lit(1), size(ww) - 1)))
    }
    // batch 1: seed corpus — first-batch self-dedup rule, then build
    val seed = d.filter(col("doc_id") < 40)
    val surv0 = DedupIndex.minhashSelfSurvivors(seed, threshold = 0.8)
    val idx = DedupIndex.buildAndSaveMinhashIndex(surv0, c, "g")
    // batch 2: all three drop-rule arms
    val batch = dropLast(d.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 100000L))
      .unionByName(d.filter(col("doc_id") >= 40 && col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 300000L))
      .unionByName(dropLast(d.filter(col("doc_id") >= 40 && col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 400000L)))
    val (surv1Raw, retained) = DedupIndex.minhashGateSurvivors(idx, batch, threshold = 0.8)
    // the probe's batch-lifetime caches must not outlive this query in
    // the shared session: checkpoint the (tiny) survivor set eagerly to
    // cut the dependency, then release them — the sink's per-batch
    // turnover, replayed
    val surv1 = surv1Raw.select(col("doc_id")).localCheckpoint(true)
    retained.foreach(_.unpersist(blocking = false))
    surv0.select(col("doc_id"), lit("seed").as("src"))
      .unionByName(surv1.withColumn("src", lit("batch")))
      .orderBy(col("doc_id"))
  }

  private def shingleCte(src: String, k: Int = 3): String =
    s"""SELECT doc_id AS id,
       |  (SELECT ${shinglesSql(k)} FROM (SELECT $normTokensSql AS w)) AS sh
       |FROM $src""".stripMargin

  val streamMinhashGateSql: String = {
    val jac = """CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))""".stripMargin
    val dropw =
      "array_to_string(string_split(text, ' ')[1:len(string_split(text, ' '))-1], ' ')"
    s"""WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
       |sh_seed AS (${shingleCte("seed")}),
       |drops0 AS (
       |  SELECT DISTINCT b.id AS did FROM sh_seed a, sh_seed b
       |  WHERE a.id < b.id AND $jac >= 0.8),
       |surv0 AS (SELECT id FROM sh_seed WHERE id NOT IN (SELECT did FROM drops0)),
       |batch AS (
       |  SELECT doc_id + 100000 AS doc_id, $dropw AS text
       |  FROM documents WHERE doc_id < 20
       |  UNION ALL
       |  SELECT doc_id + 300000, text FROM documents WHERE doc_id >= 40 AND doc_id < 50
       |  UNION ALL
       |  SELECT doc_id + 400000, $dropw
       |  FROM documents WHERE doc_id >= 40 AND doc_id < 50),
       |sh_b AS (${shingleCte("batch")}),
       |sh_corpus AS (SELECT * FROM sh_seed WHERE id IN (SELECT id FROM surv0)),
       |drops1 AS (
       |  SELECT DISTINCT b.id AS did FROM sh_b b, sh_corpus a WHERE $jac >= 0.8
       |  UNION
       |  SELECT DISTINCT b.id AS did FROM sh_b a, sh_b b
       |  WHERE a.id < b.id AND $jac >= 0.8),
       |surv1 AS (SELECT id FROM sh_b WHERE id NOT IN (SELECT did FROM drops1))
       |SELECT id AS doc_id, 'seed' AS src FROM surv0
       |UNION ALL
       |SELECT id AS doc_id, 'batch' AS src FROM surv1
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic per-SF store for the persisted Hamming fingerprint
    * index — built by `dedup_hamming_index_build`, probed by
    * `dedup_hamming_index_probe`. */
  private[graft] def hammingIndexCollection(s: SparkSession, dir: String): graft.store.Collection = {
    val src = new java.io.File(dir, "documents.parquet")
    val fp = s"${src.length}_${src.lastModified}"
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_verify", s"hamming_index_${new java.io.File(dir).getName}_$fp")
    java.nio.file.Files.createDirectories(root)
    graft.store.GraftStore(s, "store", root).collection("hamming")
  }

  private def buildAndSaveHamming(s: SparkSession, dir: String): Unit = {
    val corpus = Multimodal.imageAHash(Multimodal.imageTable(
      Tables.t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 40), rich = true))
    graft.operators.DedupIndex.buildAndSaveHammingIndex(corpus,
      hammingIndexCollection(s, dir), "img", radius = 2,
      idCol = "media_id", hashCol = "ahash", overwrite = true)
  }

  /** Hamming fingerprint index BUILD: the image corpus is decoded and
    * aHashed ONCE, chunk-keyed, and persisted (the MinHash/IVF/BM25
    * build split applied to media fingerprints). Emits each indexed
    * signature's popcount — the oracle recomputes every hash bit from
    * the closed-form raster, so a green hash proves the persisted
    * signatures match a from-scratch derivation bit for bit. */
  def dedupHammingIndexBuild(s: SparkSession, dir: String): DataFrame = {
    buildAndSaveHamming(s, dir)
    val idx = graft.operators.DedupIndex.HammingIndex.load(
      hammingIndexCollection(s, dir), "img")
    idx.chunkRows.select(col("id").as("media_id"), col("h")).distinct()
      .select(col("media_id"), bit_count(col("h")).cast("long").as("bits"))
      .orderBy(col("media_id"))
  }

  val dedupHammingIndexBuildSql: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id AS src FROM documents WHERE doc_id < 40),
      |px AS (SELECT i.id,
      |    (t1.x * 8) // 16 AS bx, (t2.y * 8) // 12 AS by,
      |    (i.src * 7 + t1.x * 3 + t2.y * 5) * (i.src * 13 + t1.x * 7 + t2.y * 11) % 256 +
      |    (i.src * 11 + t1.x + t2.y * 2) * (i.src * 3 + t1.x * 5 + t2.y * 7) % 256 +
      |    (i.src * 13 + t1.x * 3 + t2.y) * (i.src * 5 + t1.x * 11 + t2.y * 3) % 256 AS gray
      |  FROM ids i, range(0, 16) t1(x), range(0, 12) t2(y)),
      |bm AS (SELECT id, by, bx, avg(gray) AS g FROM px GROUP BY 1, 2, 3),
      |gm AS (SELECT id, avg(g) AS m FROM bm GROUP BY 1),
      |bits AS (SELECT bm.id, CASE WHEN g > m THEN 1 ELSE 0 END AS b
      |  FROM bm JOIN gm ON bm.id = gm.id)
      |SELECT id AS media_id, CAST(sum(b) AS BIGINT) AS bits
      |FROM bits GROUP BY 1 ORDER BY media_id""".stripMargin

  /** Hamming fingerprint index PROBE — incremental media dedup, the hot
    * path: a NEW batch (8 unseen images + 8 payload copies of indexed
    * ones under +100000 ids) is fingerprinted and probed against the
    * PERSISTED chunk index; corpus payloads are never re-decoded.
    * Oracle = exhaustive Hamming join over all (corpus ∪ batch) pairs
    * restricted to batch-side membership — a green hash proves the
    * chunk-key probe surfaces EVERY qualifying batch pair. */
  def dedupHammingIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val c = hammingIndexCollection(s, dir)
    if (!c.hasItem("img__hchunks")) buildAndSaveHamming(s, dir) // verify-order safety
    val idx = graft.operators.DedupIndex.HammingIndex.load(c, "img")
    val d = Tables.t(s, dir, "documents").select(col("doc_id"))
    val fresh = Multimodal.imageTable(
      d.filter(col("doc_id") >= 40 && col("doc_id") < 48), rich = true)
    val copies = Multimodal.imageTable(d.filter(col("doc_id") < 8), rich = true)
      .withColumn("media_id", col("media_id") + CopyIdOffset)
    val batch = Multimodal.imageAHash(fresh.unionByName(copies))
    graft.operators.DedupIndex.probeHammingIndex(idx, batch,
        idCol = "media_id", hashCol = "ahash")
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupHammingIndexProbeSql: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id AS src FROM documents WHERE doc_id < 48
      |  UNION ALL SELECT doc_id + 100000, doc_id FROM documents WHERE doc_id < 8),
      |px AS (SELECT i.id,
      |    (t1.x * 8) // 16 AS bx, (t2.y * 8) // 12 AS by,
      |    (i.src * 7 + t1.x * 3 + t2.y * 5) * (i.src * 13 + t1.x * 7 + t2.y * 11) % 256 +
      |    (i.src * 11 + t1.x + t2.y * 2) * (i.src * 3 + t1.x * 5 + t2.y * 7) % 256 +
      |    (i.src * 13 + t1.x * 3 + t2.y) * (i.src * 5 + t1.x * 11 + t2.y * 3) % 256 AS gray
      |  FROM ids i, range(0, 16) t1(x), range(0, 12) t2(y)),
      |bm AS (SELECT id, by, bx, avg(gray) AS g FROM px GROUP BY 1, 2, 3),
      |gm AS (SELECT id, avg(g) AS m FROM bm GROUP BY 1),
      |bits AS (SELECT bm.id, by * 8 + bx AS pos,
      |    CASE WHEN g > m THEN 1 ELSE 0 END AS b
      |  FROM bm JOIN gm ON bm.id = gm.id),
      |ham AS (SELECT a.id AS id_a, b.id AS id_b,
      |    CAST(sum(abs(a.b - b.b)) AS BIGINT) AS hamming
      |  FROM bits a JOIN bits b ON a.pos = b.pos AND a.id < b.id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, hamming FROM ham
      |WHERE hamming <= 2 AND id_b >= 40
      |ORDER BY id_a, id_b""".stripMargin

  /** Semantic dedup (SemDeDup): k-means clusters + within-cluster
    * cosine + connected components → the drop list (member → kept
    * representative). The oracle rebuilds the drop list from the
    * EXHAUSTIVE cosine pair graph with a recursive CTE — a green hash
    * proves (a) the cluster-bounded candidate stage surfaced every
    * qualifying pair of this dataset (the nassign=2 multi-assignment
    * covered all boundary pairs), (b) exact-cosine verification
    * arithmetic, and (c) component convergence. */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(embWithNearCopies(s, dir), threshold = 0.9,
        nClusters = 0 /* auto: corpus-sized, cells bounded ~256 */,
        nassign = 2, kmeansIters = 2)
      .orderBy(col("drop_id"))

  val dedupSemanticSql: String =
    s"""WITH RECURSIVE ae AS (SELECT vec_id, v FROM $augEmbSql),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM ae a, ae b WHERE a.vec_id < b.vec_id
       |    AND list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
       |        (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
       |         sqrt(list_sum(list_transform(b.v, x -> x*x)))) >= 0.9),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |comp AS (SELECT id, min(r) AS kept FROM reach GROUP BY id)
       |SELECT id AS drop_id, kept AS kept_id FROM comp WHERE id <> kept
       |ORDER BY drop_id""".stripMargin

  // -------------------------------------------------------- similarity

  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
      .withColumn("cos", round(col("cos"), 6))
      .orderBy(col("query_id"), col("rank"))
  }

  val annBruteForceSql: String =
    """WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |           FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS nbr_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |      FROM embeddings),
       |s AS (SELECT query_id, nbr_id,
       |  round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])) /
       |    (sqrt(list_sum(list_transform(qv, x -> x*x))) *
       |     sqrt(list_sum(list_transform(cv, x -> x*x)))), 9) AS cos9
       |  FROM q, c WHERE query_id <> nbr_id)
       |SELECT query_id, rank, nbr_id, round(cos9, 6) AS cos FROM (
       |  SELECT query_id, nbr_id, cos9,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos9 DESC, nbr_id) AS rank
       |  FROM s) t
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Deterministic per-SF store for the persisted IVF index — built by
    * `ann_ivf_build`, loaded by `ann_ivf_search`. NOT recreated per
    * query (the whole point of the split is build-once / search-many),
    * but keyed by the source parquet's (size, mtime) fingerprint so
    * regenerated testdata can never silently serve a stale index. */
  private def ivfIndexCollection(s: SparkSession, dir: String): graft.store.Collection = {
    val src = new java.io.File(dir, "embeddings.parquet")
    val fp = s"${src.length}_${src.lastModified}"
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_verify", s"ivf_index_${new java.io.File(dir).getName}_$fp")
    java.nio.file.Files.createDirectories(root)
    graft.store.GraftStore(s, "store", root).collection("ivf")
  }

  private def buildAndSaveIvf(s: SparkSession, dir: String): Unit = {
    val idx = Similarity.buildIvfIndex(Tables.t(s, dir, "embeddings"),
      nlist = 16, kmeansIters = 3)
    idx.save(ivfIndexCollection(s, dir), "emb", overwrite = true)
  }

  /** IVF index BUILD: fit the k-means quantizer, assign the corpus,
    * persist through the store (cid-indexed so a later search's
    * probe-list filter prunes row groups), then verify the fresh index
    * with the recall self-oracle — search through the SAVED index vs
    * brute-force top-5, emitting per-query (n_results, recall5_ok =
    * recall ≥ 0.8). The suite additionally asserts MEAN recall ≥ 0.9
    * (OperatorsSpec). This query intentionally times fit+persist; the
    * round-over-round search number is `ann_ivf_search`. */
  def annIvfBuild(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    buildAndSaveIvf(s, dir)
    val idx = Similarity.IvfIndex.load(ivfIndexCollection(s, dir), "emb")
    val ivf = Similarity.ivfSearch(idx, q, k = 5, nprobe = 8)
    val bf = Similarity.bruteForceTopK(e, q, k = 5)
    val hits = ivf.join(bf.select(col("query_id"), col("nbr_id")),
        Seq("query_id", "nbr_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    ivf.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_results"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0 >= 0.8).as("recall5_ok"))
      .orderBy(col("query_id"))
  }

  val annIvfBuildSql: String =
    """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results, TRUE AS recall5_ok
      |FROM embeddings WHERE vec_id < 10
      |ORDER BY query_id""".stripMargin

  /** IVF SEARCH — load + probe only, the build-once/search-many hot
    * path (the number to compare round-over-round). Probes are
    * perturbed copies of 10 corpus vectors (cos ≈ 0.9997 to their
    * original), so the true top-1 is KNOWN (the original) and the
    * search result is hash-verifiable in DuckDB without timing a
    * brute-force pass: the probed lists must contain the original's
    * list (the copy ranks centroids like its original does; nprobe=8
    * of 16), and exact in-list ranking must put it first. */
  def annIvfSearch(s: SparkSession, dir: String): DataFrame = {
    val c = ivfIndexCollection(s, dir)
    if (!c.hasItem("emb__assigned")) buildAndSaveIvf(s, dir) // verify-order safety
    val idx = Similarity.IvfIndex.load(c, "emb")
    val q = Tables.t(s, dir, "embeddings").filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + CopyIdOffset)
      .withColumn("embedding",
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => x.cast("double") * (lit(1.0) + (i % 5).cast("double") / 100.0)))
    val res = Similarity.ivfSearch(idx, q, k = 5, nprobe = 8)
    val top1 = res.filter(col("rank") === 1)
      .select(col("query_id"), col("nbr_id").as("top1_nbr"),
        round(col("cos"), 6).as("top1_cos"))
    res.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
      .join(top1, Seq("query_id"))
      .orderBy(col("query_id"))
  }

  val annIvfSearchSql: String =
    """SELECT vec_id + 100000 AS query_id, CAST(5 AS BIGINT) AS n_results,
      |  vec_id AS top1_nbr,
      |  round(round(
      |    list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> (CAST(embedding[i] AS DOUBLE) * (1.0 + ((i-1) % 5) / 100.0)) * CAST(embedding[i] AS DOUBLE))) /
      |    (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> pow(CAST(embedding[i] AS DOUBLE) * (1.0 + ((i-1) % 5) / 100.0), 2)))) *
      |     sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 9), 6) AS top1_cos
      |FROM embeddings WHERE vec_id < 10
      |ORDER BY query_id""".stripMargin

  private def buildAndSavePq(s: SparkSession, dir: String): Unit = {
    val idx = Similarity.buildPqIndex(Tables.t(s, dir, "embeddings"),
      m = 8, ksub = 64, iters = 3)
    idx.save(ivfIndexCollection(s, dir), "pq", overwrite = true)
  }

  /** PQ index BUILD: fit per-subspace codebooks (3 Lloyd iterations),
    * PQ-encode the corpus (32× smaller than the vectors at m=8),
    * persist through the store, then verify the fresh index with the
    * recall self-oracle — ADC top-`sizedRerank` + exact re-rank vs
    * brute-force top-5, searched through the LOADED index so the depth
    * sizing sees real parquet statistics. Same bench split as IVF:
    * this query times fit+persist, the round-over-round number is
    * `ann_pq_search`. */
  def annPqBuild(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    buildAndSavePq(s, dir)
    val idx = Similarity.PqIndex.load(ivfIndexCollection(s, dir), "pq")
    val pq = Similarity.pqSearch(idx, q, k = 5)
    val bf = Similarity.bruteForceTopK(e, q, k = 5)
    val hits = pq.join(bf.select(col("query_id"), col("nbr_id")),
        Seq("query_id", "nbr_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    pq.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_results"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0 >= 0.8).as("recall5_ok"))
      .orderBy(col("query_id"))
  }

  val annPqBuildSql: String =
    """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_results, TRUE AS recall5_ok
      |FROM embeddings WHERE vec_id < 10
      |ORDER BY query_id""".stripMargin

  /** PQ SEARCH — load + ADC scan + exact re-rank, the hot path. Same
    * known-ground-truth probe design as `ann_ivf_search`: probes are
    * perturbed corpus vectors whose true top-1 (the original) DuckDB
    * pins exactly, so the timed query runs no brute-force pass. */
  def annPqSearch(s: SparkSession, dir: String): DataFrame = {
    val c = ivfIndexCollection(s, dir)
    if (!c.hasItem("pq__codes")) buildAndSavePq(s, dir) // verify-order safety
    val idx = Similarity.PqIndex.load(c, "pq")
    val q = Tables.t(s, dir, "embeddings").filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + CopyIdOffset)
      .withColumn("embedding",
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => x.cast("double") * (lit(1.0) + (i % 5).cast("double") / 100.0)))
    val res = Similarity.pqSearch(idx, q, k = 5)
    val top1 = res.filter(col("rank") === 1)
      .select(col("query_id"), col("nbr_id").as("top1_nbr"),
        round(col("cos"), 6).as("top1_cos"))
    res.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
      .join(top1, Seq("query_id"))
      .orderBy(col("query_id"))
  }

  // identical contract to the IVF search oracle: same probes, same
  // pinned top-1 arithmetic
  val annPqSearchSql: String = annIvfSearchSql

  private def buildAndSaveIvfPq(s: SparkSession, dir: String): Unit = {
    // REUSE the persisted coarse quantizer (fit by `ann_ivf_build` —
    // deterministic k-means, so loaded ≡ refit): one coarse quantizer
    // serves both the IVF and the IVF-PQ index, exactly as a
    // production deployment shares it. Only the residual PQ codebooks
    // are fit here.
    val c = ivfIndexCollection(s, dir)
    if (!c.hasItem("emb__assigned")) buildAndSaveIvf(s, dir)
    val ivf = Similarity.IvfIndex.load(c, "emb")
    val idx = Similarity.buildIvfPqIndex(Tables.t(s, dir, "embeddings"),
      nlist = 16, kmeansIters = 3, m = 8, ksub = 64, pqIters = 3,
      residual = true, coarse = Some(ivf))
    idx.save(c, "ivfpq", overwrite = true)
  }

  /** IVF-PQ index BUILD — the flagship ANN composition (coarse
    * quantizer + FAISS-style RESIDUAL product quantizer: PQ codebooks
    * fit on x̂ − centroid, q̂·x̂ restored at search as q̂·c + q̂·r).
    * Fits both quantizers, encodes the corpus cid-tagged, persists
    * through the store, then verifies the fresh index with the same
    * recall self-oracle as `ann_ivf_build`/`ann_pq_build`: search
    * through the SAVED index vs brute-force top-5, per-query
    * recall5_ok = recall ≥ 0.8 (suite asserts mean ≥ 0.8 too). Times
    * fit+persist by declared intent; the round-over-round number is
    * `ann_ivfpq_search`. */
  def annIvfPqBuild(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    buildAndSaveIvfPq(s, dir)
    val idx = Similarity.IvfPqIndex.load(ivfIndexCollection(s, dir), "ivfpq")
    val res = Similarity.ivfPqSearch(idx, q, k = 5, nprobe = 8)
    val bf = Similarity.bruteForceTopK(e, q, k = 5)
    val hits = res.join(bf.select(col("query_id"), col("nbr_id")),
        Seq("query_id", "nbr_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    res.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_results"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0 >= 0.8).as("recall5_ok"))
      .orderBy(col("query_id"))
  }

  val annIvfPqBuildSql: String = annIvfBuildSql

  /** IVF-PQ SEARCH — load + coarse-probe + in-list ADC + exact re-rank
    * only, the hot path. Same known-ground-truth probe design as
    * `ann_ivf_search`: probes are perturbed corpus vectors whose true
    * top-1 (the original, cos ≈ 0.9997) DuckDB pins exactly — the
    * probed lists must contain the original's list (the copy ranks
    * centroids like its original) and the residual-ADC top-`rerank`
    * must surface it for the exact re-rank to put first. */
  def annIvfPqSearch(s: SparkSession, dir: String): DataFrame = {
    val c = ivfIndexCollection(s, dir)
    if (!c.hasItem("ivfpq__codes")) buildAndSaveIvfPq(s, dir) // verify-order safety
    val idx = Similarity.IvfPqIndex.load(c, "ivfpq")
    val q = Tables.t(s, dir, "embeddings").filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + CopyIdOffset)
      .withColumn("embedding",
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => x.cast("double") * (lit(1.0) + (i % 5).cast("double") / 100.0)))
    val res = Similarity.ivfPqSearch(idx, q, k = 5, nprobe = 8)
    val top1 = res.filter(col("rank") === 1)
      .select(col("query_id"), col("nbr_id").as("top1_nbr"),
        round(col("cos"), 6).as("top1_cos"))
    res.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
      .join(top1, Seq("query_id"))
      .orderBy(col("query_id"))
  }

  // identical contract to the IVF/PQ search oracles: same probes, same
  // pinned top-1 arithmetic
  val annIvfPqSearchSql: String = annIvfSearchSql

  /** Multi-band hyperplane-LSH ANN, measured on the regime LSH is FOR:
    * retrieving genuinely-similar neighbors (cos ≥ 0.9) from a corpus
    * that contains them — not the top-5 of uniform-random vectors,
    * where neighbor cosines (~0.4) leave no density gap and NO honest
    * constant beats brute force (the r2 constants bits=2/bands=24 made
    * every vector a candidate, i.e. brute force in disguise).
    *
    * Signature width comes from corpus plan stats (`sizedBits`);
    * the emitted row is a recall self-oracle: per query, `n_true` =
    * exhaustive count of cos ≥ 0.9 neighbors (DuckDB re-computes it),
    * `recall_ok` = LSH surfaced ≥ 90% of them, plus the top-1 neighbor
    * id and cosine (DuckDB re-computes both exhaustively — a real
    * ranking check, not just a boolean). Expected miss probability per
    * true pair at sized bits 6–7 is < 10⁻¹⁰ (PLANS.md), so recall 1.0
    * here is honest, not constructed. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.cosine_sim
    val corpus = embWithNearCopies(s, dir)
    val q = Tables.t(s, dir, "embeddings").filter(col("vec_id") < 10)
    val top = Similarity.lshTopK(corpus, q, k = 5)
    // exhaustive radius ground truth: 10 broadcast queries × one
    // streamed corpus pass — same shape as bruteForceTopK
    val c = corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("cv"))
    val qq = q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val truth = c.join(broadcast(qq), col("query_id") =!= col("nbr_id"))
      .withColumn("cos", round(cosine_sim(col("cv"), col("qv")), 9))
      .filter(col("cos") >= 0.9)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
    val found = top.filter(col("cos") >= 0.9)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_found"))
    val top1 = top.filter(col("rank") === 1)
      .select(col("query_id"), col("nbr_id").as("top1_nbr"),
        round(col("cos"), 6).as("top1_cos"))
    truth.join(found, Seq("query_id"), "left").join(top1, Seq("query_id"))
      .select(col("query_id"), col("n_true"),
        (coalesce(col("n_found"), lit(0L)).cast("double") >=
          col("n_true").cast("double") * 0.9).as("recall_ok"),
        col("top1_nbr"), col("top1_cos"))
      .orderBy(col("query_id"))
  }

  val annLshSql: String =
    s"""WITH aug AS (SELECT vec_id, v FROM $augEmbSql),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM aug WHERE vec_id < 10),
       |s AS (SELECT query_id, a.vec_id AS nbr_id,
       |  round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * a.v[i])) /
       |    (sqrt(list_sum(list_transform(qv, x -> x*x))) *
       |     sqrt(list_sum(list_transform(a.v, x -> x*x)))), 9) AS cos
       |  FROM q, aug a WHERE a.vec_id <> q.query_id)
       |SELECT query_id,
       |  CAST(count(*) FILTER (WHERE cos >= 0.9) AS BIGINT) AS n_true,
       |  TRUE AS recall_ok,
       |  arg_max(nbr_id, cos) AS top1_nbr,
       |  round(max(cos), 6) AS top1_cos
       |FROM s GROUP BY query_id
       |ORDER BY query_id""".stripMargin

  // ------------------------------------------------------ text analysis

  def textStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stats(Tables.t(s, dir, "documents").select(col("doc_id"), col("text")))
      .drop("text")
      .orderBy(col("doc_id"))

  val textStatsSql: String =
    """SELECT doc_id,
      |  CASE WHEN len(trim(text)) = 0 THEN 0
      |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
      |  CASE WHEN len(trim(text)) = 0 THEN 0
      |       ELSE CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
      |              w -> greatest(1, CAST(ceil(length(w) / 4.0) AS BIGINT)))) AS BIGINT) END AS n_subwords,
      |  round(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |          w -> lower(w) IN ('the','a','an','of','to','in','and','is','it','for','on','with','as','at','by'))) AS DOUBLE)
      |        / len(string_split_regex(trim(text), '\s+')), 6) AS stopword_ratio,
      |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) * 1.0
      |        / length(text), 6) AS punct_ratio,
      |  round(CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
      |          w -> length(w))) AS DOUBLE)
      |        / len(string_split_regex(trim(text), '\s+')), 6) AS avg_word_len,
      |  round(
      |    least(len(string_split_regex(trim(text), '\s+')) / 50.0, 1.0) * 0.3
      |    + greatest(0.0, 1.0 - ((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) * 1.0 / length(text)) * 5.0) * 0.2
      |    + least((CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |         w -> lower(w) IN ('the','a','an','of','to','in','and','is','it','for','on','with','as','at','by'))) AS DOUBLE)
      |         / len(string_split_regex(trim(text), '\s+'))) * 5.0, 1.0) * 0.3
      |    + CASE WHEN (CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
      |          w -> length(w))) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')))
      |          BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 6) AS quality
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  def textLangId(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  private def scriptShareSql(lo: String, hi: String): String =
    s"""CAST(length(regexp_replace(text, '[^\\x{$lo}-\\x{$hi}]', '', 'g')) AS DOUBLE)
       |    / greatest(length(text), 1)""".stripMargin

  private def markerCountSql(words: Seq[String]): String =
    s"""len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |    w -> w IN (${words.map(w => s"'$w'").mkString(",")})))""".stripMargin

  /** Select-list fragment computing every language score column from a
    * relation carrying `text`. */
  private val langScoresSql: String = {
    val m = TextAnalysis.LangMarkers.toMap
    s"""${scriptShareSql("3040", "30ff")} AS r_ja,
       |  ${scriptShareSql("ac00", "d7af")} AS r_ko,
       |  ${scriptShareSql("0400", "04ff")} AS r_ru,
       |  ${scriptShareSql("0600", "06ff")} AS r_ar,
       |  ${scriptShareSql("0900", "097f")} AS r_hi,
       |  ${scriptShareSql("4e00", "9fff")} AS cjk,
       |  ${markerCountSql(m("en"))} AS s_en,
       |  ${markerCountSql(m("de"))} AS s_de,
       |  ${markerCountSql(m("es"))} AS s_es,
       |  ${markerCountSql(m("fr"))} AS s_fr,
       |  ${markerCountSql(m("it"))} AS s_it,
       |  ${markerCountSql(m("pt"))} AS s_pt,
       |  ${markerCountSql(m("nl"))} AS s_nl""".stripMargin
  }

  /** CASE over the langScoresSql columns — mirrors TextAnalysis.langId
    * exactly: script shares first (kana before kanji), then the marker
    * argmax cascade in reverse profile order (earliest profile wins
    * ties, like the Scala fold). */
  private val langCaseSql: String =
    """CASE WHEN r_ja > 0.05 THEN 'ja'
      |       WHEN r_ko > 0.2 THEN 'ko'
      |       WHEN r_ru > 0.2 THEN 'ru'
      |       WHEN r_ar > 0.2 THEN 'ar'
      |       WHEN r_hi > 0.2 THEN 'hi'
      |       WHEN cjk > 0.2 THEN 'zh'
      |       WHEN s_nl > greatest(s_en, s_de, s_es, s_fr, s_it, s_pt) THEN 'nl'
      |       WHEN s_pt > greatest(s_en, s_de, s_es, s_fr, s_it) THEN 'pt'
      |       WHEN s_it > greatest(s_en, s_de, s_es, s_fr) THEN 'it'
      |       WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
      |       WHEN s_es > greatest(s_en, s_de) THEN 'es'
      |       WHEN s_de > s_en THEN 'de'
      |       WHEN s_en > 0 THEN 'en'
      |       ELSE 'und' END""".stripMargin

  val textLangIdSql: String =
    s"""WITH scored AS (SELECT doc_id, $langScoresSql FROM documents)
       |SELECT doc_id, $langCaseSql AS lang_pred
       |FROM scored
       |ORDER BY doc_id""".stripMargin

  /** Deterministic per-SF store for the persisted BM25 index — same
    * pattern as the ANN indexes: built by `text_bm25_build`, loaded by
    * `text_bm25_search`, keyed by the source parquet's fingerprint so
    * regenerated testdata can never silently serve a stale index. */
  private def bm25IndexCollection(s: SparkSession, dir: String): graft.store.Collection = {
    val src = new java.io.File(dir, "documents.parquet")
    val fp = s"${src.length}_${src.lastModified}"
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_verify", s"bm25_index_${new java.io.File(dir).getName}_$fp")
    java.nio.file.Files.createDirectories(root)
    graft.store.GraftStore(s, "store", root).collection("bm25")
  }

  private def buildAndSaveBm25(s: SparkSession, dir: String): Unit = {
    import graft.operators.Search
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    Search.buildAndSaveBm25Index(docs, bm25IndexCollection(s, dir), "bm25",
      overwrite = true)
  }

  /** BM25 index BUILD: one corpus tokenize → postings (+denormalized
    * doc lengths) + term dictionary + corpus stats, persisted through
    * the store term-indexed (the IVF build/search lesson applied to
    * text — round-2/4 verdicts). This query intentionally times
    * tokenize+persist; the round-over-round search number is
    * `text_bm25_search`. Emits the 10-term probe workload (rank, term,
    * df, total cnt) plus the pinned corpus stats — every value DuckDB
    * recomputes exhaustively, so a green hash proves the persisted
    * dictionary matches a from-scratch derivation. */
  def textBm25Build(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Search
    buildAndSaveBm25(s, dir)
    val idx = Search.Bm25Index.load(bm25IndexCollection(s, dir), "bm25")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("term"))
    idx.terms
      .filter(!col("term").isin(TextAnalysis.Stopwords: _*) && col("term") =!= "")
      .orderBy(col("cnt").desc, col("term")).limit(10)
      .withColumn("r", row_number().over(w))
      .select(col("r"), col("term"), col("df"), col("cnt"),
        lit(idx.nDocs).as("n_docs"), lit(idx.sumDl).as("sum_dl"))
      .orderBy(col("r"))
  }

  val textBm25BuildSql: String = {
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(",")
    s"""WITH tok AS (SELECT doc_id, $normTokensSql AS t FROM documents),
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tok),
       |terms AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       |                 CAST(count(*) AS BIGINT) AS cnt
       |          FROM ex GROUP BY term),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(len(t)) AS BIGINT) AS sum_dl FROM tok),
       |top AS (SELECT term, df, cnt,
       |          row_number() OVER (ORDER BY cnt DESC, term) AS r
       |        FROM terms WHERE term NOT IN ($stop) AND term <> ''
       |        ORDER BY cnt DESC, term LIMIT 10)
       |SELECT CAST(r AS INTEGER) AS r, term, df, cnt, n_docs, sum_dl
       |FROM top CROSS JOIN stats
       |ORDER BY r""".stripMargin
  }

  /** BM25 SEARCH — load + pruned-probe + score only, the hot path (the
    * number to compare round-over-round). The 10-term/2-query workload
    * derives from the persisted term DICTIONARY (top non-stopword
    * terms by total count — no corpus scan anywhere in this query);
    * scoring reads only the `term IN (...)`-pruned postings rows,
    * which carry their doc lengths. Every stage (term selection,
    * postings, df, avgdl, Lucene idf, tf norm, decimal-summed scores)
    * is replicated in DuckDB SQL, so ranking and scores are
    * hash-verified end to end. */
  def textBm25Search(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Search
    import s.implicits._
    val c = bm25IndexCollection(s, dir)
    if (!c.hasItem("bm25__postings")) buildAndSaveBm25(s, dir) // verify-order safety
    val idx = Search.Bm25Index.load(c, "bm25")
    // localize the 10-row term workload in ONE dictionary read; df
    // rides along so the search plan re-reads nothing but postings
    val terms = idx.terms
      .filter(!col("term").isin(TextAnalysis.Stopwords: _*) && col("term") =!= "")
      .orderBy(col("cnt").desc, col("term")).limit(10)
      .select(col("term"), col("df")).as[(String, Long)].collect().toSeq
      .zipWithIndex.map { case ((t, d), i) => (i.toLong / 5L, t, d) }
      .toDF("query_id", "term", "df")
    Search.bm25SearchTopK(idx, terms, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  val textBm25Sql: String = {
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(",")
    s"""WITH tok AS (SELECT doc_id, $normTokensSql AS t FROM documents),
       |ex AS (SELECT doc_id, unnest(t) AS term FROM tok),
       |cnt AS (SELECT term, count(*) AS cnt FROM ex
       |        WHERE term NOT IN ($stop) AND term <> '' GROUP BY term),
       |qt AS (SELECT term, row_number() OVER (ORDER BY cnt DESC, term) AS r
       |       FROM (SELECT * FROM cnt ORDER BY cnt DESC, term LIMIT 10)),
       |q AS (SELECT CAST(floor((r - 1) / 5) AS BIGINT) AS query_id, term FROM qt),
       |dl AS (SELECT doc_id, len(t) AS dl FROM tok),
       |postings AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
       |matched AS (SELECT * FROM postings WHERE term IN (SELECT term FROM q)),
       |dfreq AS (SELECT term, count(*) AS df FROM matched GROUP BY term),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
       |scored AS (
       |  SELECT q.query_id, m.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |    sum(CAST(
       |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
       |      (m.tf * 2.2 / (m.tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))))
       |      AS DECIMAL(38,12))) AS score_exact
       |  FROM matched m JOIN q USING (term) JOIN dfreq USING (term)
       |       JOIN dl USING (doc_id) CROSS JOIN stats
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, doc_id, n_terms,
       |  round(CAST(score_exact AS DOUBLE), 6) AS score
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY score_exact DESC, doc_id) AS rank FROM scored) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Deterministic per-SF store for the persisted bigram LM — same
    * fingerprint-keyed pattern as the BM25/ANN indexes. */
  private def lmIndexCollection(s: SparkSession, dir: String): graft.store.Collection = {
    val src = new java.io.File(dir, "documents.parquet")
    val fp = s"${src.length}_${src.lastModified}"
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_verify", s"lm_index_${new java.io.File(dir).getName}_$fp")
    java.nio.file.Files.createDirectories(root)
    graft.store.GraftStore(s, "store", root).collection("lm")
  }

  private def buildAndSaveLm(s: SparkSession, dir: String): Unit = {
    import graft.operators.LanguageModel
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    LanguageModel.buildAndSaveBigramLm(docs, lmIndexCollection(s, dir), "lm",
      overwrite = true)
  }

  /** Bigram-LM FIT (the CCNet/KenLM perplexity filter's model build):
    * one corpus tokenize → unigram + bigram count dictionaries, the
    * left-context count denormalized onto each bigram row, persisted
    * gram-indexed through the store. Emits the top-10 bigrams (rank,
    * bg, cnt, cnt_w1) plus the pinned corpus scalars — DuckDB
    * recomputes every value from scratch, so a green hash proves the
    * persisted dictionaries (INCLUDING the denormalized cnt_w1) match
    * a from-scratch derivation. */
  def textLmBuild(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LanguageModel
    buildAndSaveLm(s, dir)
    val lm = LanguageModel.BigramLm.load(lmIndexCollection(s, dir), "lm")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("bg"))
    val nBgTypes = lm.bigrams.count()
    lm.bigrams
      .orderBy(col("cnt").desc, col("bg")).limit(10)
      .withColumn("r", row_number().over(w))
      .select(col("r"), col("bg"), col("cnt"), col("cnt_w1"),
        lit(lm.totalTokens).as("total_tokens"), lit(lm.vocab).as("vocab"),
        lit(nBgTypes).as("n_bg_types"))
      .orderBy(col("r"))
  }

  private val docBigramsSql =
    """unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))"""

  val textLmBuildSql: String =
    s"""WITH tok AS (SELECT doc_id, $normTokensSql AS t FROM documents),
       |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
       |        FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
       |stats AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
       |                 CAST(count(*) AS BIGINT) AS vocab FROM uni),
       |bg AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt
       |       FROM (SELECT $docBigramsSql AS bg FROM tok) GROUP BY bg),
       |nbg AS (SELECT CAST(count(*) AS BIGINT) AS n_bg_types FROM bg),
       |top AS (SELECT bg, cnt, row_number() OVER (ORDER BY cnt DESC, bg) AS r
       |        FROM bg ORDER BY cnt DESC, bg LIMIT 10)
       |SELECT CAST(t.r AS INTEGER) AS r, t.bg, t.cnt, u.cnt AS cnt_w1,
       |  total_tokens, vocab, n_bg_types
       |FROM top t JOIN uni u ON u.w = split_part(t.bg, ' ', 1)
       |CROSS JOIN stats CROSS JOIN nbg
       |ORDER BY r""".stripMargin

  /** Bigram-LM SCORE — the hot path of the perplexity filter: load the
    * persisted dictionaries and score every document by average
    * negative ln-likelihood under stupid backoff. The corpus streams
    * once; both dictionary joins are vocabulary-sized. The oracle
    * recomputes the model AND the scoring (conditional probabilities,
    * backoff mass, 6-decimal term rounding, decimal sums) entirely in
    * SQL, so the scores are hash-verified end to end. */
  def textLmScore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LanguageModel
    val c = lmIndexCollection(s, dir)
    if (!c.hasItem("lm__bigrams")) buildAndSaveLm(s, dir) // verify-order safety
    val lm = LanguageModel.BigramLm.load(c, "lm")
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    LanguageModel.scoreDocs(lm, docs).orderBy(col("doc_id"))
  }

  val textLmScoreSql: String =
    s"""WITH tok AS (SELECT doc_id, $normTokensSql AS t FROM documents),
       |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
       |        FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
       |stats AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
       |                 CAST(count(*) AS BIGINT) AS vocab FROM uni),
       |bgm AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt
       |        FROM (SELECT $docBigramsSql AS bg FROM tok) GROUP BY bg),
       |docbg AS (SELECT doc_id, $docBigramsSql AS bg,
       |            unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
       |          FROM tok),
       |terms AS (SELECT d.doc_id,
       |    round(ln(CASE WHEN m.cnt IS NOT NULL
       |      THEN CAST(m.cnt AS DOUBLE) / CAST(u1.cnt AS DOUBLE)
       |      ELSE 0.4 * CAST(coalesce(u2.cnt, 0) + 1 AS DOUBLE) /
       |           CAST(total_tokens + vocab AS DOUBLE) END), 6) AS lp
       |  FROM docbg d
       |  LEFT JOIN bgm m USING (bg)
       |  LEFT JOIN uni u1 ON u1.w = split_part(d.bg, ' ', 1)
       |  LEFT JOIN uni u2 ON u2.w = d.w2
       |  CROSS JOIN stats),
       |scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    sum(CAST(lp AS DECIMAL(38,6))) AS lp_sum
       |  FROM terms GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  coalesce(round(-CAST(s.lp_sum AS DOUBLE) / s.n_bigrams, 6), 0.0) AS nll
       |FROM (SELECT doc_id FROM documents) d LEFT JOIN scored s USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- trained Naive Bayes classifier (fastText-style supervised filter)

  private def nbCollection(s: SparkSession, dir: String): graft.store.Collection = {
    val src = new java.io.File(dir, "documents.parquet")
    val fp = s"${src.length}_${src.lastModified}"
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_verify", s"nb_index_${new java.io.File(dir).getName}_$fp")
    java.nio.file.Files.createDirectories(root)
    graft.store.GraftStore(s, "store", root).collection("nb")
  }

  private def buildAndSaveNb(s: SparkSession, dir: String): Unit = {
    import graft.operators.TextClassifier
    val train = Tables.t(s, dir, "documents")
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("text"), col("lang"))
    TextClassifier.train(train, "text", "lang").save(nbCollection(s, dir), "nb")
  }

  /** Supervised classifier FIT (the fastText-style labeled filter): a
    * multinomial Naive Bayes over character trigrams trained on the
    * 80% labeled split (doc_id%5≠0), model + class stats persisted
    * through the store like the LM/BM25 dictionaries. Emits the
    * per-class stats (doc/token/model-row counts, prior, default
    * log-prob) — DuckDB recomputes all of them from scratch, so a
    * green hash proves the distributed count aggregation AND the
    * smoothing math. */
  def textNbTrain(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextClassifier
    buildAndSaveNb(s, dir)
    val m = TextClassifier.NaiveBayes.load(nbCollection(s, dir), "nb")
    m.classStats
      .join(m.rows.groupBy("label").agg(count(lit(1)).as("n_rows")), "label")
      .select(col("label"), col("docs"), col("tot"), col("n_rows"),
        col("prior").cast("double").as("prior"),
        col("dlp").cast("double").as("dlp"))
      .orderBy(col("label"))
  }

  /** Character-trigram tokens (with multiplicity) of the lowercased
    * text — DuckDB spelling of [[TextClassifier.trigramTokens]].
    * range(1, length−1) is [1, len−2]; docs under 3 chars yield none. */
  private val triTokSql: String =
    "unnest(list_transform(range(1, length(t) - 1), i -> substr(t, CAST(i AS INT), 3)))"

  /** Shared model CTEs: counts/totals/vocab over the training split,
    * log-probs rounded to 6 decimals and cast DECIMAL(18,6) exactly as
    * the Spark build does. */
  private val nbModelCtesSql: String =
    s"""base AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
       |train AS (SELECT * FROM base WHERE doc_id % 5 <> 0),
       |trtok AS (SELECT lang, $triTokSql AS tri FROM train),
       |counts AS (SELECT lang, tri, CAST(count(*) AS BIGINT) AS c
       |           FROM trtok GROUP BY 1, 2),
       |totals AS (SELECT lang, CAST(count(*) AS BIGINT) AS tot
       |           FROM trtok GROUP BY 1),
       |voc AS (SELECT CAST(count(DISTINCT tri) AS BIGINT) AS v FROM trtok),
       |docsc AS (SELECT lang, CAST(count(*) AS BIGINT) AS docs
       |          FROM train GROUP BY 1),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train)""".stripMargin

  val textNbTrainSql: String =
    s"""WITH $nbModelCtesSql
       |SELECT t.lang AS label, d.docs, t.tot,
       |  (SELECT CAST(count(*) AS BIGINT) FROM counts c
       |    WHERE c.lang = t.lang) AS n_rows,
       |  round(ln(CAST(d.docs AS DOUBLE) / nd.n), 6) AS prior,
       |  round(ln(1.0 / (t.tot + voc.v)), 6) AS dlp
       |FROM totals t JOIN docsc d ON d.lang = t.lang
       |CROSS JOIN voc CROSS JOIN nd
       |ORDER BY label""".stripMargin

  /** Supervised classifier INCREMENTAL FIT: train on the first half of
    * the labeled split (doc_id%5 ∈ {1,2}), fold the second half
    * (%5 ∈ {3,4}) in via [[TextClassifier.append]] — exact count
    * merging, no re-read of the already-folded corpus — and dump the
    * same per-class stats as the full fit. The oracle IS the full-fit
    * SQL over the whole split: a green hash proves append ≡ retrain,
    * bit for bit, through a store round-trip of the partial model. */
  def textNbAppend(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextClassifier
    val docs = Tables.t(s, dir, "documents").select(
      col("doc_id"), col("text"), col("lang"))
    val first = docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val second = docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4)
    val c = nbCollection(s, dir)
    TextClassifier.train(first.select("text", "lang"), "text", "lang")
      .save(c, "nb_partial")
    val partial = TextClassifier.NaiveBayes.load(c, "nb_partial")
    val m = TextClassifier.append(partial, second.select("text", "lang"),
      "text", "lang")
    m.classStats
      .join(m.rows.groupBy("label").agg(count(lit(1)).as("n_rows")), "label")
      .select(col("label"), col("docs"), col("tot"), col("n_rows"),
        col("prior").cast("double").as("prior"),
        col("dlp").cast("double").as("dlp"))
      .orderBy(col("label"))
  }

  val textNbAppendSql: String = textNbTrainSql

  /** Supervised classifier SCORE: load the persisted model, classify
    * the held-out 20% split. One trigram explode + one skinny model
    * join + exact-decimal per-(doc, class) sums + an argmax window;
    * unseen trigrams are charged arithmetically (n − matched) · dlp,
    * never joined. The output carries no floats — the oracle proves
    * the ARGMAX itself, end to end, including the decimal determinism
    * contract. (The synthetic corpus draws every doc's text from the
    * same vocabulary regardless of its `lang` tag, so predictive
    * accuracy here is noise BY CONSTRUCTION — the hash verifies the
    * distributed math; TextClassifierSpec proves the model learns
    * real signal when the labels carry one.) */
  def textNbClassify(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextClassifier
    val c = nbCollection(s, dir)
    if (!c.hasItem("nb__nb_rows")) buildAndSaveNb(s, dir) // verify-order safety
    val m = TextClassifier.NaiveBayes.load(c, "nb")
    val test = Tables.t(s, dir, "documents")
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), col("lang"))
    TextClassifier.classify(test.select("doc_id", "text"), m, "doc_id", "text")
      .join(test.select(col("doc_id"), col("lang").as("lang_actual")), "doc_id")
      .select(col("doc_id"), col("pred").as("lang_pred"), col("lang_actual"))
      .orderBy(col("doc_id"))
  }

  val textNbClassifySql: String =
    s"""WITH $nbModelCtesSql,
       |model AS (SELECT c.lang, c.tri,
       |    CAST(round(ln((c.c + 1.0) / (t.tot + v.v)), 6) AS DECIMAL(18,6)) AS lp
       |  FROM counts c JOIN totals t ON t.lang = c.lang CROSS JOIN voc v),
       |stats AS (SELECT t.lang,
       |    CAST(round(ln(CAST(d.docs AS DOUBLE) / nd.n), 6) AS DECIMAL(18,6)) AS prior,
       |    CAST(round(ln(1.0 / (t.tot + v.v)), 6) AS DECIMAL(18,6)) AS dlp
       |  FROM totals t JOIN docsc d ON d.lang = t.lang
       |  CROSS JOIN voc v CROSS JOIN nd),
       |test AS (SELECT * FROM base WHERE doc_id % 5 = 0),
       |tetok AS (SELECT doc_id, $triTokSql AS tri FROM test),
       |ntri AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |         FROM tetok GROUP BY 1),
       |matched AS (SELECT k.doc_id, m.lang, sum(m.lp) AS msum,
       |    CAST(count(*) AS BIGINT) AS mcnt
       |  FROM tetok k JOIN model m ON m.tri = k.tri GROUP BY 1, 2),
       |scored AS (SELECT d.doc_id, s.lang,
       |    s.prior + coalesce(mt.msum, 0)
       |      + (coalesce(n.n, 0) - coalesce(mt.mcnt, 0)) * s.dlp AS score
       |  FROM (SELECT doc_id FROM test) d
       |  CROSS JOIN stats s
       |  LEFT JOIN ntri n ON n.doc_id = d.doc_id
       |  LEFT JOIN matched mt ON mt.doc_id = d.doc_id AND mt.lang = s.lang),
       |pred AS (SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk
       |  FROM scored)
       |SELECT p.doc_id, p.lang AS lang_pred, b.lang AS lang_actual
       |FROM pred p JOIN base b ON b.doc_id = p.doc_id
       |WHERE p.rk = 1
       |ORDER BY p.doc_id""".stripMargin

  /** Line-level corpus dedup (the RefinedWeb/C4 boilerplate-removal
    * recipe): plant two boilerplate lines (newsletter header + rights
    * footer on doc_id%7, cookie banner on doc_id%5) into the corpus,
    * remove every line that appears in ≥2 distinct documents, and
    * reassemble each document in original line order. The md5 pin of
    * the REASSEMBLED text hash-verifies the whole transform — split,
    * skinny-key distinct-doc counts, verdict join, ordered reassembly
    * — against DuckDB's replica. Planted docs must come back exactly
    * as their originals; unique docs must pass through untouched. */
  def textLineDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    val aug = docs.withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(lit("subscribe to our newsletter today. "), col("text"),
          lit(". all rights reserved worldwide")))
        .when(col("doc_id") % 5 === 0,
          concat(lit("click here to accept cookies. "), col("text")))
        .otherwise(col("text")))
    Dedup.lineDedup(aug)
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        length(col("text")).cast("int").as("clean_len"),
        md5(col("text")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val textLineDedupSql: String =
    s"""WITH aug AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN 'subscribe to our newsletter today. '
       |           || text || '. all rights reserved worldwide'
       |         WHEN doc_id % 5 = 0 THEN 'click here to accept cookies. ' || text
       |         ELSE text END AS text
       |  FROM documents),
       |ls AS (SELECT doc_id, string_split_regex(text, '\\.\\s+') AS l FROM aug),
       |lines AS (SELECT doc_id, unnest(l) AS line,
       |                 unnest(range(1, len(l) + 1)) AS pos FROM ls),
       |dupk AS (SELECT md5(line) AS key FROM lines
       |         GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |flagged AS (SELECT doc_id, pos, line,
       |    md5(line) NOT IN (SELECT key FROM dupk) AS keep FROM lines),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       |    CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
       |    coalesce(string_agg(line, '. ' ORDER BY pos) FILTER (WHERE keep), '')
       |      AS clean
       |  FROM flagged GROUP BY doc_id)
       |SELECT doc_id, n_lines, n_kept,
       |  CAST(length(clean) AS INTEGER) AS clean_len, md5(clean) AS clean_md5
       |FROM agg
       |ORDER BY doc_id""".stripMargin

  /** End-to-end curation pipeline v2 — the composition a training-data
    * run actually executes, as ONE DataFrame plan: canonical-
    * fingerprint dedup (keep min id) → MinHash-LSH NEAR-dup removal
    * (keep a doc iff it has no smaller-id neighbor at jaccard ≥ 0.8 —
    * deterministic, SQL-replicable) → quality scoring → prose filter →
    * language ID → per-language corpus summary. The near-dup stage is
    * the banded-LSH candidate join + exact-Jaccard verify of
    * `dedup_minhash_lsh`; the oracle recomposes EVERY stage — md5
    * canonical form, exhaustive-Jaccard near-drop, quality arithmetic,
    * lang CASE — in SQL, so the composition (including LSH recall
    * through the pipeline) is hash-verified. */
  def pipelineCuration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    // Dedup FIRST (canonical fingerprint, keep min doc_id via rank-1
    // window — no self-join, so the subtree executes once), then score
    // only the survivors. The window is also a codegen stage boundary:
    // fingerprinting and the quality/language scoring land in separate
    // generated functions instead of one giant fused projection.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val deduped = docs
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("text"))
    // near-dup removal: drop the larger id of every verified ≥0.8 pair
    val nearPairs = Dedup.minhashLshPairs(deduped, threshold = 0.8)
    val nearDeduped = deduped.join(
      nearPairs.select(col("id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    nearDeduped
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= 0.5 && col("n_tokens") >= 10)
      .withColumn("lang", TextAnalysis.langId(col("text")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("quality").cast("decimal(38,6)")).cast("double"), 4).as("sum_quality"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
      .orderBy(col("lang"))
  }

  // def, not val: referenced by oracle vals declared ABOVE this point
  // (a val here would interpolate null into their SQL at object init —
  // the sample_token_budget bug found in round 5)
  private def nTokensSql =
    """CASE WHEN len(trim(text)) = 0 THEN 0
      | ELSE len(string_split_regex(trim(text), '\s+')) END""".stripMargin

  private val qualitySql =
    """round(
      |    least(len(string_split_regex(trim(text), '\s+')) / 50.0, 1.0) * 0.3
      |    + greatest(0.0, 1.0 - ((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) * 1.0 / length(text)) * 5.0) * 0.2
      |    + least((CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |         w -> lower(w) IN ('the','a','an','of','to','in','and','is','it','for','on','with','as','at','by'))) AS DOUBLE)
      |         / len(string_split_regex(trim(text), '\s+'))) * 5.0, 1.0) * 0.3
      |    + CASE WHEN (CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
      |          w -> length(w))) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')))
      |          BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 6)""".stripMargin

  val pipelineCurationSql: String =
    s"""WITH canon AS (SELECT doc_id, text,
       |    md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'),
       |        '\\s+', ' ', 'g'))) AS fp
       |  FROM documents),
       |keep AS (SELECT fp, min(doc_id) AS doc_id FROM canon GROUP BY fp),
       |kept AS (SELECT c.doc_id, c.text FROM canon c JOIN keep k
       |         ON c.fp = k.fp AND c.doc_id = k.doc_id),
       |shk AS (SELECT doc_id AS id,
       |    (SELECT ${shinglesSql(3)} FROM (SELECT $normTokensSql AS w)) AS sh
       |  FROM kept),
       |near_drop AS (SELECT DISTINCT b.id AS doc_id
       |  FROM shk a, shk b
       |  WHERE a.id < b.id
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
       |kept2 AS (SELECT * FROM kept
       |          WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
       |stats0 AS (SELECT doc_id, text,
       |    $nTokensSql AS n_tokens,
       |    $qualitySql AS quality
       |  FROM kept2),
       |filtered AS (SELECT * FROM stats0 WHERE quality >= 0.5 AND n_tokens >= 10),
       |langed AS (SELECT *, $langScoresSql FROM filtered),
       |tagged AS (SELECT doc_id, n_tokens, quality, $langCaseSql AS lang FROM langed)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  round(CAST(sum(CAST(quality AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_quality,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM tagged
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Canonical selection per near-dup cluster: LSH-verified pairs →
    * connected components → keep the HIGHEST-QUALITY member of each
    * cluster (ties to min id) — the production alternative to
    * `pipeline_curation`'s min-id keep. The oracle recomputes the
    * components from exhaustive Jaccard (recursive CTE) and the
    * quality arithmetic in SQL, so cluster recall AND the argmax
    * selection are hash-verified. */
  def dedupSelectCanonical(s: SparkSession, dir: String): DataFrame = {
    val aug = docsWithNearCopies(s, dir)
    val pairs = Dedup.minhashLshPairs(aug, threshold = 0.8)
    Dedup.selectCanonical(aug, pairs, TextAnalysis.qualityScore(col("text")))
      .withColumnRenamed("score", "quality")
      .orderBy(col("cluster"))
  }

  val dedupSelectCanonicalSql: String =
    s"""WITH RECURSIVE aug AS (SELECT doc_id, text FROM $augNearSql),
       |sh AS (SELECT doc_id AS id,
       |  (SELECT ${shinglesSql(3)} FROM (SELECT $normTokensSql AS w)) AS sh FROM aug),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM sh a, sh b WHERE a.id < b.id
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       |labeled AS (SELECT a.doc_id,
       |    coalesce(c.cluster, a.doc_id) AS cluster,
       |    $qualitySql AS quality
       |  FROM aug a LEFT JOIN comp c ON c.id = a.doc_id),
       |ranked AS (SELECT *,
       |    CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members,
       |    row_number() OVER (PARTITION BY cluster
       |                       ORDER BY quality DESC, doc_id) AS rn
       |  FROM labeled)
       |SELECT cluster, doc_id, n_members, quality
       |FROM ranked WHERE rn = 1
       |ORDER BY cluster""".stripMargin

  /** Pairwise Pearson correlations over the lineitem measures — the
    * data-card redundancy matrix. All moments are exact fixed-point
    * integer sums (one aggregation pass); only the final formula runs
    * in doubles with a fixed operation order, so DuckDB reproduces the
    * hash exactly. */
  def profileCorrelation(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiler.correlationMatrix(
        Tables.t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy(col("col_x"), col("col_y"))

  val profileCorrelationSql: String = {
    val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def fx(c: String) = s"CAST(round($c*100) AS DECIMAL(38,0))"
    val moments =
      cs.flatMap(c => Seq(s"sum(${fx(c)}) AS s_$c", s"sum(${fx(c)}*${fx(c)}) AS ss_$c")) ++
      (for { i <- cs.indices; j <- cs.indices if i < j }
        yield s"sum(${fx(cs(i))}*${fx(cs(j))}) AS sp_${cs(i)}__${cs(j)}")
    def dbl(x: String) = s"CAST($x AS DOUBLE)"
    val pairRows = (for { i <- cs.indices; j <- cs.indices if i < j } yield {
      val (a, b) = (cs(i), cs(j))
      val da = s"sqrt(${dbl("n")}*${dbl(s"ss_$a")} - ${dbl(s"s_$a")}*${dbl(s"s_$a")})"
      val db2 = s"sqrt(${dbl("n")}*${dbl(s"ss_$b")} - ${dbl(s"s_$b")}*${dbl(s"s_$b")})"
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  round(CASE WHEN $da * $db2 = 0 THEN 0.0
         |    ELSE (${dbl("n")}*${dbl(s"sp_${a}__$b")} - ${dbl(s"s_$a")}*${dbl(s"s_$b")})
         |         / ($da * $db2) END, 6) AS corr
         |FROM s""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  ${moments.mkString(",\n  ")}
       |  FROM lineitem
       |  WHERE ${cs.map(c => s"$c IS NOT NULL").mkString(" AND ")})
       |$pairRows
       |ORDER BY col_x, col_y""".stripMargin
  }

  /** Join-key skew diagnostics over the lineitem join/filter keys —
    * the pre-flight check for shuffle hot-spots. l_returnflag (3
    * values over 600 k rows) shows what a pathological key looks like
    * next to the well-spread surrogate keys. */
  def profileSkew(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiler.keySkew(
        Tables.t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"))
      .orderBy(col("col_name"))

  val profileSkewSql: String = {
    val keyed = Seq(
      "l_orderkey" -> "CAST(l_orderkey AS VARCHAR)",
      "l_partkey" -> "CAST(l_partkey AS VARCHAR)",
      "l_returnflag" -> "l_returnflag",
      "l_suppkey" -> "CAST(l_suppkey AS VARCHAR)")
    val melt = keyed.map { case (n, e) =>
      s"SELECT '$n' AS col_name, $e AS key FROM lineitem"
    }.mkString("\n  UNION ALL ")
    s"""WITH m AS ($melt),
       |g AS (SELECT col_name, key, CAST(count(*) AS BIGINT) AS c
       |      FROM m WHERE key IS NOT NULL GROUP BY 1, 2),
       |top AS (SELECT col_name, key AS top_key, c AS top_count FROM g
       |        QUALIFY row_number() OVER (PARTITION BY col_name
       |          ORDER BY c DESC, key DESC) = 1),
       |a AS (SELECT col_name, CAST(sum(c) AS BIGINT) AS n,
       |             CAST(count(*) AS BIGINT) AS n_distinct
       |      FROM g GROUP BY 1)
       |SELECT a.col_name, n, n_distinct, top_key, top_count,
       |  round(CAST(top_count AS DOUBLE) * CAST(n_distinct AS DOUBLE)
       |        / CAST(n AS DOUBLE), 6) AS skew
       |FROM a JOIN top USING (col_name)
       |ORDER BY col_name""".stripMargin
  }

  /** Column profiling over orders (the data-card stats pass). Exact
    * percentiles here so DuckDB can hash-verify (exact `percentile`
    * buffers the column per partition — priced for the oracle table,
    * not the fact table); the approx GK-sketch variant (same shape,
    * single pass, no buffering) is the 100 TB path, unit-tested
    * against exact. */
  def profileOrders(s: SparkSession, dir: String): DataFrame =
    Profiler.numericProfile(Tables.t(s, dir, "orders"),
        Seq("o_totalprice", "o_custkey"))
      .orderBy(col("column"))

  val profileOrdersSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS "column", count($c) AS n,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  round(CAST(min($c) AS DOUBLE), 6) AS min,
         |  round(CAST(max($c) AS DOUBLE), 6) AS max,
         |  round(CAST(sum(CAST($c AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum,
         |  round(CAST(quantile_cont($c, 0.5) AS DOUBLE), 6) AS p50,
         |  round(CAST(quantile_cont($c, 0.95) AS DOUBLE), 6) AS p95
         |FROM orders""".stripMargin
    Seq("o_totalprice", "o_custkey").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** Categorical data-card stats over orders: one aggregate pass for
    * all columns, mode with a deterministic (count, value) tie-break
    * the oracle replicates via QUALIFY. */
  def profileCategories(s: SparkSession, dir: String): DataFrame =
    Profiler.categoricalProfile(Tables.t(s, dir, "orders"),
      Seq("o_orderstatus", "o_orderpriority"))

  val profileCategoriesSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS "column", CAST($c AS VARCHAR) AS value, count(*) AS cnt
         |FROM orders GROUP BY 2""".stripMargin
    s"""WITH counts AS (${Seq("o_orderstatus", "o_orderpriority").map(one)
          .mkString("\n UNION ALL\n")}),
       |top AS (SELECT "column", value AS top_value, cnt AS top_count FROM counts
       |        WHERE value IS NOT NULL
       |        QUALIFY row_number() OVER (PARTITION BY "column"
       |          ORDER BY cnt DESC, value DESC) = 1)
       |SELECT c."column",
       |  CAST(sum(CASE WHEN c.value IS NOT NULL THEN c.cnt ELSE 0 END) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN c.value IS NULL THEN c.cnt ELSE 0 END) AS BIGINT) AS n_null,
       |  CAST(count(c.value) AS BIGINT) AS n_distinct,
       |  min(c.value) AS min_value, max(c.value) AS max_value,
       |  any_value(t.top_value) AS top_value,
       |  CAST(any_value(t.top_count) AS BIGINT) AS top_count
       |FROM counts c JOIN top t ON c."column" = t."column"
       |GROUP BY c."column"
       |ORDER BY c."column"""".stripMargin
  }

  /** Fixed-bin histogram over o_totalprice — the data-card
    * distribution pass: one groupBy on the bin id, map-side combined. */
  def profileHistogram(s: SparkSession, dir: String): DataFrame =
    Profiler.histogram(Tables.t(s, dir, "orders"), "o_totalprice",
      bins = 20, lo = 0.0, hi = 500000.0)

  val profileHistogramSql: String =
    """WITH b AS (SELECT least(greatest(CAST(floor(CAST(o_totalprice AS DOUBLE) / 25000.0)
      |    AS BIGINT), 0), 19) AS bin
      |  FROM orders WHERE o_totalprice IS NOT NULL)
      |SELECT bin, round(bin * 25000.0, 6) AS lo, round((bin + 1) * 25000.0, 6) AS hi,
      |  count(*) AS n
      |FROM b GROUP BY bin
      |ORDER BY bin""".stripMargin

  /** INCREMENTAL profile — merged per-slice partial profiles (the
    * profile-sidecar path a 100 TB corpus uses instead of re-scans):
    * three disjoint slices of `orders` each produce an exactly-
    * mergeable partial (count/nulls/min/max/decimal sum), and the
    * merge must equal a from-scratch full-table profile — which is
    * EXACTLY what the oracle computes. A green hash proves the merge
    * algebra (decimal sums immune to slicing, min/max∘round
    * commutation, mean derivation) end to end. */
  def profileIncremental(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(s, dir, "orders")
    val cols = Seq("o_totalprice", "o_custkey")
    val partials = (0 until 3).map(i =>
        Profiler.partialNumericProfile(o.filter(col("o_orderkey") % 3 === i), cols))
      .reduce(_.unionByName(_))
    Profiler.mergeNumericProfiles(partials).orderBy(col("column"))
  }

  val profileIncrementalSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS "column", count($c) AS n,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  round(CAST(min($c) AS DOUBLE), 6) AS min,
         |  round(CAST(max($c) AS DOUBLE), 6) AS max,
         |  round(CAST(sum(CAST($c AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum,
         |  round(round(CAST(sum(CAST($c AS DECIMAL(38,6))) AS DOUBLE), 4)
         |        / count($c), 6) AS mean
         |FROM orders""".stripMargin
    s"""${one("o_totalprice")}
       |UNION ALL
       |${one("o_custkey")}
       |ORDER BY "column"""".stripMargin
  }

  /** Z-ORDER clustered layout: lineitem re-laid along the Morton curve
    * of (l_partkey, l_suppkey) and written to parquet, then scanned
    * with a box predicate on BOTH columns and aggregated. The oracle
    * runs the same scan on the RAW table — a green hash proves the
    * re-layout preserves content exactly (no row lost/duplicated
    * through rank scaling, the layout exchange, or curve sort). The pruning
    * benefit is asserted quantitatively in OperatorsSpec: per-file
    * spans shrink on both clustered columns vs the natural layout. */
  def layoutZorderScan(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"))
    val src = new java.io.File(dir, "lineitem.parquet")
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_verify",
      s"zorder_${new java.io.File(dir).getName}_${src.length}_${src.lastModified}")
    graft.operators.ZOrder.cluster(li, Seq("l_partkey", "l_suppkey"), bits = 16)
      .write.mode("overwrite").parquet(out.toString)
    s.read.parquet(out.toString)
      .filter(col("l_partkey") <= 100 && col("l_suppkey") <= 5)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity").cast("decimal(38,4)")).cast("double"), 2)
          .as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(38,4)")).cast("double"), 2)
          .as("sum_price"),
        sum(col("l_orderkey")).as("sum_okey"))
  }

  val layoutZorderScanSql: String =
    """SELECT count(*) AS n_rows,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE), 2) AS sum_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE), 2) AS sum_price,
      |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey
      |FROM lineitem WHERE l_partkey <= 100 AND l_suppkey <= 5""".stripMargin

  /** Incremental SEMANTIC probe: a NEW batch of embeddings (the scaled
    * near-copies, ids +100000) dedups against the corpus behind the
    * PERSISTED IVF index (the one `ann_ivf_build` persists — shared, as
    * a production deployment would). Probed-lists-only cost; the oracle
    * is the EXHAUSTIVE batch×corpus cosine join, so a green hash proves
    * the nprobe containment surfaced every qualifying pair. */
  def dedupSemanticProbe(s: SparkSession, dir: String): DataFrame = {
    val c = ivfIndexCollection(s, dir)
    if (!c.hasItem("emb__assigned")) buildAndSaveIvf(s, dir) // verify-order safety
    val idx = Similarity.IvfIndex.load(c, "emb")
    val e = Tables.t(s, dir, "embeddings")
    val batch = e.filter(col("vec_id") < 50)
      .withColumn("vec_id", col("vec_id") + CopyIdOffset)
      .withColumn("embedding",
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => x.cast("double") * (lit(1.0) + (i % 5).cast("double") / 100.0)))
    Dedup.semanticProbePairs(idx, batch, threshold = 0.9, nprobe = 8)
      .orderBy(col("new_id"), col("indexed_id"))
  }

  val dedupSemanticProbeSql: String =
    """WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |b AS (SELECT vec_id + 100000 AS vec_id,
      |        list_transform(range(0, len(embedding)),
      |          i -> CAST(embedding[i+1] AS DOUBLE) * (1.0 + (i % 5) / 100.0)) AS v
      |      FROM embeddings WHERE vec_id < 50),
      |s AS (SELECT c.vec_id AS indexed_id, b.vec_id AS new_id,
      |  round(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * b.v[i])) /
      |    (sqrt(list_sum(list_transform(c.v, x -> x*x))) *
      |     sqrt(list_sum(list_transform(b.v, x -> x*x)))), 9) AS cos9
      |  FROM c, b)
      |SELECT indexed_id, new_id, round(cos9, 6) AS cos
      |FROM s WHERE cos9 >= 0.9
      |ORDER BY new_id, indexed_id""".stripMargin

  /** Gopher-style repetition signals (distinct-token ratio, modal
    * bigram share, duplicated-trigram share) — the oracle recomputes
    * all three from the same whitespace tokenization with DuckDB list
    * ops, so the kernel's counting is hash-verified. */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(
      Tables.t(s, dir, "documents").select(col("doc_id"), col("text")))
      .orderBy(col("doc_id"))

  val textRepetitionSql: String =
    """WITH tok AS (SELECT doc_id,
      |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(text), '\s+') END AS t
      |  FROM documents),
      |g AS (SELECT doc_id, t, len(t) AS n,
      |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg,
      |    list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS tg
      |  FROM tok)
      |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
      |  CASE WHEN n = 0 THEN 0.0
      |       ELSE round(CAST(len(list_distinct(t)) AS DOUBLE) / n, 6) END AS distinct_ratio,
      |  CASE WHEN n < 2 THEN 0.0
      |       ELSE round(CAST(list_max(list_transform(list_distinct(bg),
      |              x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / (n - 1), 6)
      |       END AS top_bigram_share,
      |  CASE WHEN n < 3 THEN 0.0
      |       ELSE round(CAST(len(list_filter(tg,
      |              x -> len(list_filter(tg, y -> y = x)) > 1)) AS DOUBLE) / (n - 2), 6)
      |       END AS dup_trigram_share
      |FROM g
      |ORDER BY doc_id""".stripMargin

  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'),
      |      '\s+', ' ', 'g'))) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprint (k=5 token grams, window w=4): the hash is
    * public polynomial arithmetic, so the ENTIRE pipeline — normalize,
    * tokenize, gram hash, window-min selection, distinct — is
    * replicated in DuckDB SQL and hash-compared. */
  def textRollingFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.winnowFingerprint(col("text")).as("wfp"))
      .select(col("doc_id"), col("wfp.n_grams").as("n_grams"),
        col("wfp.n_fp").as("n_fp"), col("wfp.fp_sum").as("fp_sum"))
      .orderBy(col("doc_id"))

  /** DuckDB polynomial hash of string expression `s` (Σ cp·257^i mod
    * 2³¹−1 via left-fold) — mirrors WinnowFingerprint.polyHash. */
  private def polyHashSql(s: String): String =
    s"""CASE WHEN length($s) = 0 THEN 0
       | ELSE list_reduce(list_transform(range(1, length($s) + 1),
       |        j -> CAST(unicode(substr($s, CAST(j AS INT), 1)) AS BIGINT)),
       |      (a, c) -> (a * 257 + c) % 2147483647) END""".stripMargin

  val textRollingFingerprintSql: String = {
    val gram = "array_to_string(toks[i:i+4], ' ')"
    val whole = "array_to_string(toks, ' ')"
    s"""WITH tok AS (SELECT doc_id, $normTokensSql AS toks FROM documents),
       |g AS (SELECT doc_id,
       |  CASE WHEN len(toks) < 5 THEN [${polyHashSql(whole)}]
       |       ELSE list_transform(range(1, len(toks) - 3),
       |              i -> ${polyHashSql(gram)}) END AS grams
       |  FROM tok),
       |m AS (SELECT doc_id, grams,
       |  list_transform(range(0, greatest(len(grams) - 3, 1)),
       |    i -> list_min(grams[i+1:i+4])) AS mins
       |  FROM g)
       |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
       |  CAST(len(list_distinct(mins)) AS BIGINT) AS n_fp,
       |  CAST(list_sum(list_distinct(mins)) AS BIGINT) AS fp_sum
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  /** Substring-duplication detection: document pairs sharing ≥ 5
    * winnowed 5-gram fingerprints (boilerplate fingerprints in > 50
    * docs dropped first — the df-cap is the operator contract). The
    * planted overlaps are 60%-prefix excerpts of docs 0..7 riding
    * under +100000 ids — partial copies whole-document Jaccard would
    * dilute below any sane threshold. The oracle replays the entire
    * pipeline in SQL: normalize → k-gram polynomial hashes → window
    * minima → distinct → df cap → overlap counts. */
  def textSubstringDup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") < 8)
      .select((col("doc_id") + CopyIdOffset).as("doc_id"),
        expr("substring(text, 1, (length(text)*3) div 5)").as("text"))
    Dedup.substringDuplicationPairs(base.unionByName(planted))
      .orderBy(col("id_a"), col("id_b"))
  }

  val textSubstringDupSql: String = {
    val gram = "array_to_string(toks[i:i+4], ' ')"
    val whole = "array_to_string(toks, ' ')"
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000, substr(text, 1, (length(text)*3)//5)
       |  FROM documents WHERE doc_id < 8),
       |tok AS (SELECT doc_id, $normTokensSql AS toks FROM corpus),
       |g AS (SELECT doc_id,
       |  CASE WHEN len(toks) < 5 THEN [${polyHashSql(whole)}]
       |       ELSE list_transform(range(1, len(toks) - 3),
       |              i -> ${polyHashSql(gram)}) END AS grams
       |  FROM tok),
       |m AS (SELECT doc_id, grams,
       |  list_transform(range(0, greatest(len(grams) - 3, 1)),
       |    i -> list_min(grams[i+1:i+4])) AS mins
       |  FROM g),
       |fps AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m),
       |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
       |pr AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 5
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Deterministic per-SF store for the persisted winnow-fingerprint
    * (substring-dup) index. */
  private def winnowIndexCollection(s: SparkSession, dir: String): graft.store.Collection = {
    val src = new java.io.File(dir, "documents.parquet")
    val fp = s"${src.length}_${src.lastModified}"
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_verify", s"winnow_index_${new java.io.File(dir).getName}_$fp")
    java.nio.file.Files.createDirectories(root)
    graft.store.GraftStore(s, "store", root).collection("winnow")
  }

  private def buildAndSaveWinnow(s: SparkSession, dir: String): Unit = {
    val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.DedupIndex.buildAndSaveWinnowIndex(docs,
      winnowIndexCollection(s, dir), "wf", overwrite = true)
  }

  /** Winnow-fingerprint index BUILD: one corpus winnow pass → df-capped
    * fingerprint rows persisted fp-indexed. Emits structural proof the
    * oracle recomputes from scratch (row count, distinct fingerprints,
    * exact fingerprint sum) — a green hash proves the persisted rows
    * match a from-scratch winnow + cap derivation value for value. */
  def textSubstringIndexBuild(s: SparkSession, dir: String): DataFrame = {
    buildAndSaveWinnow(s, dir)
    val idx = graft.operators.DedupIndex.WinnowIndex.load(
      winnowIndexCollection(s, dir), "wf")
    idx.fps.agg(count(lit(1)).as("n_rows"),
      count_distinct(col("fp")).as("n_distinct_fp"),
      sum(col("fp")).as("fp_sum"))
  }

  val textSubstringIndexBuildSql: String = {
    val gram = "array_to_string(toks[i:i+4], ' ')"
    val whole = "array_to_string(toks, ' ')"
    s"""WITH tok AS (SELECT doc_id, $normTokensSql AS toks FROM documents),
       |g AS (SELECT doc_id,
       |  CASE WHEN len(toks) < 5 THEN [${polyHashSql(whole)}]
       |       ELSE list_transform(range(1, len(toks) - 3),
       |              i -> ${polyHashSql(gram)}) END AS grams
       |  FROM tok),
       |m AS (SELECT doc_id, grams,
       |  list_transform(range(0, greatest(len(grams) - 3, 1)),
       |    i -> list_min(grams[i+1:i+4])) AS mins
       |  FROM g),
       |fps AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m),
       |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
       |pr AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp)
       |SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
       |  CAST(sum(fp) AS BIGINT) AS fp_sum
       |FROM pr""".stripMargin
  }

  /** Winnow-fingerprint index PROBE — incremental substring-dup, the
    * hot path: a NEW batch (60%-prefix excerpts of docs 0..7 under
    * +100000 ids) is winnowed once and joined against the PERSISTED
    * df-capped corpus fingerprints; corpus text never re-tokenized.
    * Oracle = the same pipeline from scratch on both sides. */
  def textSubstringIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val c = winnowIndexCollection(s, dir)
    if (!c.hasItem("wf__wfps")) buildAndSaveWinnow(s, dir) // verify-order safety
    val idx = graft.operators.DedupIndex.WinnowIndex.load(c, "wf")
    val batch = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 8)
      .select((col("doc_id") + CopyIdOffset).as("doc_id"),
        expr("substring(text, 1, (length(text)*3) div 5)").as("text"))
    graft.operators.DedupIndex.probeWinnowIndex(idx, batch, minShared = 5)
      .orderBy(col("id_a"), col("id_b"))
  }

  val textSubstringIndexProbeSql: String = {
    val gram = "array_to_string(toks[i:i+4], ' ')"
    val whole = "array_to_string(toks, ' ')"
    s"""WITH tok AS (SELECT doc_id, $normTokensSql AS toks FROM documents),
       |g AS (SELECT doc_id,
       |  CASE WHEN len(toks) < 5 THEN [${polyHashSql(whole)}]
       |       ELSE list_transform(range(1, len(toks) - 3),
       |              i -> ${polyHashSql(gram)}) END AS grams
       |  FROM tok),
       |m AS (SELECT doc_id, grams,
       |  list_transform(range(0, greatest(len(grams) - 3, 1)),
       |    i -> list_min(grams[i+1:i+4])) AS mins
       |  FROM g),
       |fps AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m),
       |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
       |corpus AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp),
       |btok AS (SELECT doc_id + 100000 AS doc_id,
       |    string_split_regex(trim(regexp_replace(regexp_replace(lower(
       |      substr(text, 1, (length(text)*3)//5)),
       |      '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g')), '\\s+') AS toks
       |  FROM documents WHERE doc_id < 8),
       |bg AS (SELECT doc_id,
       |  CASE WHEN len(toks) < 5 THEN [${polyHashSql(whole)}]
       |       ELSE list_transform(range(1, len(toks) - 3),
       |              i -> ${polyHashSql(gram)}) END AS grams
       |  FROM btok),
       |bm AS (SELECT doc_id, grams,
       |  list_transform(range(0, greatest(len(grams) - 3, 1)),
       |    i -> list_min(grams[i+1:i+4])) AS mins
       |  FROM bg),
       |bfps AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM bm),
       |p AS (SELECT c.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM bfps b JOIN corpus c ON b.fp = c.fp
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 5
       |ORDER BY id_a, id_b""".stripMargin
  }

  // -------------------------------------------------------- multimodal

  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.metaOnly(Multimodal.asMediaTable(Tables.t(s, dir, "documents")))
      .orderBy(col("media_id"))

  val multimodalMetaSql: String =
    """SELECT doc_id AS media_id, 'text/plain' AS mime,
      |  octet_length(encode(text)) AS byte_len
      |FROM documents
      |ORDER BY media_id""".stripMargin

  /** REAL container/frame metadata probing of compressed media —
    * mp3 frame-header walk, ISO BMFF box walk, Ogg page + granule
    * arithmetic, WebM EBML element walk — over structurally valid
    * fixtures whose parameters
    * are closed-form functions of the id ([[MediaProbe.Fixtures]]).
    * The oracle re-derives every probed value (duration from frame
    * count × 1152/44100, mvhd milliseconds, granule/rate) in SQL with
    * no decoder: a green hash proves the byte-level parsers read the
    * published formats exactly. PCM/pixel DECODE of these formats
    * stays a declared stand-in (no JDK codec) — the metadata half is
    * real, which is what curation filters (duration/dimension gates)
    * actually consume at scale. */
  def multimodalProbe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.MediaProbe
    val ids = Tables.t(s, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 300)
    MediaProbe.probeMedia(MediaProbe.Fixtures.table(ids))
      .orderBy(col("media_id"))
  }

  val multimodalProbeSql: String =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 4 WHEN 0 THEN 'mp3' WHEN 1 THEN 'mp4'
      |    WHEN 2 THEN 'ogg' ELSE 'webm' END AS format,
      |  CASE doc_id % 4
      |    WHEN 0 THEN ((20 + doc_id % 50) * 1152 * 1000) // 44100
      |    WHEN 1 THEN 1000 + doc_id
      |    WHEN 2 THEN ((44100 + doc_id * 441) * 1000) // 44100
      |    ELSE 2000 + doc_id
      |  END AS duration_ms,
      |  CASE WHEN doc_id % 4 IN (0, 2) THEN 44100 END AS sample_rate,
      |  CASE WHEN doc_id % 4 = 0 THEN 128000 END AS bit_rate,
      |  CASE doc_id % 4 WHEN 1 THEN 160 + (doc_id % 16) * 8
      |    WHEN 3 THEN 320 + (doc_id % 8) * 16 END AS width,
      |  CASE doc_id % 4 WHEN 1 THEN 90 + (doc_id % 9) * 8
      |    WHEN 3 THEN 180 + (doc_id % 6) * 16 END AS height
      |FROM documents WHERE doc_id < 300
      |ORDER BY media_id""".stripMargin

  /** Decode + feature extraction via the mapPartitions batch kernel.
    * The deterministic stand-in codec (byte-histogram moments) is pure
    * arithmetic over the payload bytes, so the oracle replicates it in
    * DuckDB SQL from hex(encode(text)) — the UTF-8 bytes the kernel
    * sees — and hash-compares the emitted features. */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(Multimodal.asMediaTable(Tables.t(s, dir, "documents")))
      .select(col("media_id"), round(element_at(col("feature"), 1), 6).as("f0"),
        round(element_at(col("feature"), 8), 6).as("f7"))
      .orderBy(col("media_id"))

  /** DuckDB: byte j (0-based) of the hex-encoded payload as DOUBLE. */
  private def hexByteSql(j: String): String =
    s"""((strpos('0123456789ABCDEF', substr(h, CAST(2*$j+1 AS INT), 1)) - 1) * 16 +
       | (strpos('0123456789ABCDEF', substr(h, CAST(2*$j+2 AS INT), 1)) - 1))""".stripMargin

  private def featSql(i: Int): String =
    s"""round(CASE WHEN n = 0 THEN 0.0 ELSE
       |  list_sum(list_transform(range(0, n),
       |    j -> CASE WHEN j % 8 = $i THEN ${hexByteSql("j")} / 255.0 ELSE 0.0 END)) / n
       |  END, 6)""".stripMargin

  val multimodalDecodeSql: String =
    s"""WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
       |  octet_length(encode(text)) AS n FROM documents)
       |SELECT media_id, ${featSql(0)} AS f0, ${featSql(7)} AS f7
       |FROM m
       |ORDER BY media_id""".stripMargin

  /** REAL image decode through the multimodal seam: deterministic PNG
    * fixtures (pixel channels = closed-form formulas of (id, x, y)) are
    * encoded with javax.imageio, decoded back by the mapPartitions
    * kernel, and the per-channel means emitted. The oracle recomputes
    * the means straight from the pixel formulas — DuckDB needs no
    * decoder — so a green hash proves the encode → decode loop is
    * bit-exact (PNG is lossless RGB; channel sums are exact integer
    * arithmetic on both sides). */
  def multimodalImageDecode(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables.t(s, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 200)
    Multimodal.decodeImage(Multimodal.imageTable(ids))
      .select(col("media_id"), col("width"), col("height"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))
      .orderBy(col("media_id"))
  }

  /** IMAGE near-dup via perceptual average-hash — the multimodal member
    * of the dedup family: decode (real `javax.imageio`) → 8×8-block
    * gray aHash → pigeonhole Hamming pairs (`Dedup.hammingPairs`, exact
    * recall at radius 2 by construction). Payload copies of 8 images
    * ride along under +100000 ids and must land at Hamming 0 to their
    * originals. Every bit of the hash is replicated in DuckDB from the
    * closed-form fixture raster (block sizes are powers of two here, so
    * block/global means are exact dyadic rationals — the float
    * comparisons are order-independent and hash-stable). */
  def multimodalImageNeardup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("doc_id"))
    val originals = Multimodal.imageTable(d.filter(col("doc_id") < 40), rich = true)
    val copies = Multimodal.imageTable(d.filter(col("doc_id") < 8), rich = true)
      .withColumn("media_id", col("media_id") + CopyIdOffset)
    val media = originals.unionByName(copies)
    Dedup.hammingPairs(Multimodal.imageAHash(media), radius = 2,
        idCol = "media_id", hashCol = "ahash")
      .orderBy(col("id_a"), col("id_b"))
  }

  val multimodalImageNeardupSql: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id AS src FROM documents WHERE doc_id < 40
      |  UNION ALL SELECT doc_id + 100000, doc_id FROM documents WHERE doc_id < 8),
      |px AS (SELECT i.id,
      |    (t1.x * 8) // 16 AS bx, (t2.y * 8) // 12 AS by,
      |    (i.src * 7 + t1.x * 3 + t2.y * 5) * (i.src * 13 + t1.x * 7 + t2.y * 11) % 256 +
      |    (i.src * 11 + t1.x + t2.y * 2) * (i.src * 3 + t1.x * 5 + t2.y * 7) % 256 +
      |    (i.src * 13 + t1.x * 3 + t2.y) * (i.src * 5 + t1.x * 11 + t2.y * 3) % 256 AS gray
      |  FROM ids i, range(0, 16) t1(x), range(0, 12) t2(y)),
      |bm AS (SELECT id, by, bx, avg(gray) AS g FROM px GROUP BY 1, 2, 3),
      |gm AS (SELECT id, avg(g) AS m FROM bm GROUP BY 1),
      |bits AS (SELECT bm.id, by * 8 + bx AS pos,
      |    CASE WHEN g > m THEN 1 ELSE 0 END AS b
      |  FROM bm JOIN gm ON bm.id = gm.id),
      |ham AS (SELECT a.id AS id_a, b.id AS id_b,
      |    CAST(sum(abs(a.b - b.b)) AS BIGINT) AS hamming
      |  FROM bits a JOIN bits b ON a.pos = b.pos AND a.id < b.id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** Typo-level fuzzy dedup — the edit-distance member of the dedup
    * family (PassJoin-style segment pigeonhole, native `levenshtein`
    * verify): all pairs of 32-char document title keys within
    * Levenshtein 2. Planted perturbations are single-char DELETIONS
    * (substring concat — exactly replicable in SQL) riding under
    * +100000 ids; the oracle is the exhaustive levenshtein join, so a
    * green hash proves the segment-filter candidates surfaced every
    * qualifying pair of this dataset. */
  def dedupEditDistance(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.t(s, dir, "documents")
      .select(col("doc_id").as("id"), expr("substring(text, 1, 32)").as("t"))
    val planted = base.filter(col("id") < 8)
      .select(col("id") + CopyIdOffset as "id",
        expr("concat(substring(t, 1, 10), substring(t, 12))").as("t"))
    Dedup.editDistancePairs(base.unionByName(planted), maxDist = 2,
        idCol = "id", textCol = "t")
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupEditDistanceSql: String =
    """WITH s AS (SELECT doc_id AS id, substr(text, 1, 32) AS t FROM documents
      |  UNION ALL SELECT doc_id + 100000,
      |    substr(substr(text, 1, 32), 1, 10) || substr(substr(text, 1, 32), 12)
      |  FROM documents WHERE doc_id < 8)
      |SELECT a.id AS id_a, b.id AS id_b,
      |    CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
      |FROM s a JOIN s b ON a.id < b.id
      |  AND abs(length(a.t) - length(b.t)) <= 2
      |WHERE levenshtein(a.t, b.t) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** AUDIO near-dup via band-energy fingerprint — the audio member of
    * the dedup family: real `javax.sound.sampled` decode → 64
    * equal-time-frame abs-energy bits (cross-multiplied integer
    * comparison, no float mean) → pigeonhole Hamming pairs. The
    * perturbation fixture is a REAL payload transform: 8 clips ride
    * along half-gain (`Multimodal.attenuateAudio`, sample → s/2 trunc)
    * under +100000 ids — a gain change the energy-ratio bits survive
    * up to floor noise. Every bit is replicated in DuckDB from the
    * closed-form PCM formula (|s/2 trunc| = abs(s)//2 exactly). */
  def multimodalAudioNeardup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("doc_id"))
    val originals = Multimodal.audioTable(d.filter(col("doc_id") < 40), rich = true)
    val halved = Multimodal.attenuateAudio(
        Multimodal.audioTable(d.filter(col("doc_id") < 8), rich = true))
      .withColumn("media_id", col("media_id") + CopyIdOffset)
    val media = originals.unionByName(halved)
    Dedup.hammingPairs(Multimodal.audioFingerprint(media), radius = 3,
        idCol = "media_id", hashCol = "afp")
      .orderBy(col("id_a"), col("id_b"))
  }

  val multimodalAudioNeardupSql: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id AS src, 1 AS att FROM documents WHERE doc_id < 40
      |  UNION ALL SELECT doc_id + 100000, doc_id, 2 FROM documents WHERE doc_id < 8),
      |px AS (SELECT i.id, t.i // 32 AS f,
      |    abs((i.src * 31 + t.i * 17) * (i.src * 7 + t.i * 13) % 65536 - 32768) // i.att AS c
      |  FROM ids i, range(0, 2048) t(i)),
      |e AS (SELECT id, f, sum(c) AS e FROM px GROUP BY 1, 2),
      |tot AS (SELECT id, sum(e) AS total FROM e GROUP BY 1),
      |bits AS (SELECT e.id, e.f AS pos,
      |    CASE WHEN e.e * 2048 > t.total * 32 THEN 1 ELSE 0 END AS b
      |  FROM e JOIN tot t ON e.id = t.id),
      |ham AS (SELECT a.id AS id_a, b.id AS id_b,
      |    CAST(sum(abs(a.b - b.b)) AS BIGINT) AS hamming
      |  FROM bits a JOIN bits b ON a.pos = b.pos AND a.id < b.id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** VIDEO near-dup — temporal+spatial fingerprint over the GVID
    * container: 8 frames sampled by offset × (2×4)-block aHash bits
    * per frame = 64 bits, fed to the same pigeonhole Hamming join as
    * the image and audio paths. The perturbation fixture is a global
    * brightness shift (+1 mod 256 on every channel byte) — block and
    * frame means shift together, so the block-vs-frame bits survive up
    * to wrap noise. Every bit is replicated in DuckDB from the
    * closed-form pixel formulas. */
  def multimodalVideoNeardup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select(col("doc_id"))
    val originals = Multimodal.videoTable(d.filter(col("doc_id") < 30))
    val shifted = Multimodal.shiftVideoChannels(
        Multimodal.videoTable(d.filter(col("doc_id") < 8)), delta = 1)
      .withColumn("media_id", col("media_id") + CopyIdOffset)
    val media = originals.unionByName(shifted)
    Dedup.hammingPairs(Multimodal.videoFingerprint(media), radius = 3,
        idCol = "media_id", hashCol = "vfp")
      .orderBy(col("id_a"), col("id_b"))
  }

  val multimodalVideoNeardupSql: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id AS src, 0 AS d FROM documents WHERE doc_id < 30
      |  UNION ALL SELECT doc_id + 100000, doc_id, 1 FROM documents WHERE doc_id < 8),
      |px AS (SELECT i.id, t0.k, (t1.x * 2) // 8 AS bx, (t2.y * 4) // 6 AS by,
      |    ((i.src * 7 + t0.k * 3 * 19 + t1.x * 3 + t2.y * 5) % 256 + i.d) % 256 +
      |    ((i.src * 11 + t0.k * 3 * 23 + t1.x + t2.y * 2) % 256 + i.d) % 256 +
      |    ((i.src * 13 + t0.k * 3 * 29 + t1.x * 3 + t2.y) % 256 + i.d) % 256 AS gray
      |  FROM ids i, range(0, 8) t0(k), range(0, 8) t1(x), range(0, 6) t2(y)),
      |bm AS (SELECT id, k, by, bx, sum(gray) AS sb, count(*) AS nb
      |  FROM px GROUP BY 1, 2, 3, 4),
      |fm AS (SELECT id, k, sum(gray) AS sf FROM px GROUP BY 1, 2),
      |bits AS (SELECT bm.id, bm.k * 8 + bm.by * 2 + bm.bx AS pos,
      |    CASE WHEN bm.sb * 48 > fm.sf * bm.nb THEN 1 ELSE 0 END AS b
      |  FROM bm JOIN fm ON bm.id = fm.id AND bm.k = fm.k),
      |ham AS (SELECT a.id AS id_a, b.id AS id_b,
      |    CAST(sum(abs(a.b - b.b)) AS BIGINT) AS hamming
      |  FROM bits a JOIN bits b ON a.pos = b.pos AND a.id < b.id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Closed-form channel mean over the 16×12 fixture raster:
    * Σ_p ((a·id + b·(p%16) + c·(p/16)) mod 256) / 192. */
  private def chanMeanSql(a: Int, b: Int, c: Int): String =
    s"""round(list_sum(list_transform(range(0, 192),
       |  p -> (doc_id * $a + (p % 16) * $b + (p // 16) * $c) % 256)) / 192.0, 6)""".stripMargin

  val multimodalImageDecodeSql: String =
    s"""SELECT doc_id AS media_id,
       |  CAST(16 AS INTEGER) AS width, CAST(12 AS INTEGER) AS height,
       |  ${chanMeanSql(7, 3, 5)} AS mean_r,
       |  ${chanMeanSql(11, 1, 2)} AS mean_g,
       |  ${chanMeanSql(13, 3, 1)} AS mean_b
       |FROM documents WHERE doc_id < 200
       |ORDER BY media_id""".stripMargin

  /** REAL audio decode through the multimodal seam: deterministic
    * 16-bit PCM WAV fixtures (integer sawtooth — no transcendental
    * rounding risk), parsed back via javax.sound.sampled; the oracle
    * recomputes the decoded sample statistics from the generator
    * formula, so a green hash proves header parse + PCM extraction. */
  def multimodalAudioDecode(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables.t(s, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 200)
    Multimodal.decodeAudio(Multimodal.audioTable(ids))
      .orderBy(col("media_id"))
  }

  val multimodalAudioDecodeSql: String =
    """SELECT doc_id AS media_id, CAST(2048 AS BIGINT) AS n_samples,
      |  CAST(1 AS INTEGER) AS channels, CAST(8000 AS INTEGER) AS sample_rate,
      |  CAST(list_sum(list_transform(range(0, 2048),
      |    i -> abs((doc_id * 31 + i * 17) % 65536 - 32768))) AS BIGINT) AS sum_abs,
      |  CAST(list_min(list_transform(range(0, 2048),
      |    i -> (doc_id * 31 + i * 17) % 65536 - 32768)) AS INTEGER) AS min_s,
      |  CAST(list_max(list_transform(range(0, 2048),
      |    i -> (doc_id * 31 + i * 17) % 65536 - 32768)) AS INTEGER) AS max_s
      |FROM documents WHERE doc_id < 200
      |ORDER BY media_id""".stripMargin

  /** Shuffle-shard + sequence-packing accounting (the training-run
    * export step): 8 hash-ordered shards, 2048-token packs, each doc
    * assigned to the pack where its first token lands. The oracle
    * replicates sharding, md5 shuffle order, the running sum, and the
    * pack division exactly, and pins pack membership via id sums. */
  def pipelinePacking(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.packShards(
        Tables.t(s, dir, "documents").select(col("doc_id"), col("text")),
        nShards = 8, contextTokens = 2048)
      .groupBy(col("shard"), col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("shard"), col("pack"))

  val pipelinePackingSql: String =
    s"""WITH d AS (SELECT doc_id, CAST($nTokensSql AS BIGINT) AS n_tokens,
       |    CAST(doc_id % 8 AS INTEGER) AS shard,
       |    md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents),
       |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard
       |        ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d),
       |p AS (SELECT shard,
       |        CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack,
       |        doc_id, n_tokens FROM c)
       |SELECT shard, pack, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM p GROUP BY 1, 2
       |ORDER BY shard, pack""".stripMargin

  /** End-to-end PRETRAIN pipeline v3 — the round-5 operator families
    * composed as one run: planted boilerplate → line-level corpus
    * dedup → bigram-LM perplexity gate (fit on the CLEANED corpus,
    * in-plan) → 64/48 token chunking → per-source chunk/token rollup.
    * The oracle recomposes every stage in SQL — line df counts and
    * ordered reassembly, the LM refit + stupid-backoff scoring over
    * the cleaned texts, the gate, the chunk windows — so the whole
    * composition (including how each stage's output feeds the next)
    * is hash-verified, the pipeline_curation treatment applied to the
    * round-5 surface. */
  def pipelinePretrain(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LanguageModel
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val aug = docs.withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(lit("subscribe to our newsletter today. "), col("text"),
          lit(". all rights reserved worldwide")))
        .when(col("doc_id") % 5 === 0,
          concat(lit("click here to accept cookies. "), col("text")))
        .otherwise(col("text")))
    // the cleaned corpus feeds FOUR consumers (unigram fit, bigram fit,
    // scoring, chunk join) and the LM fit takes eager actions mid-build
    // — persist so line dedup executes once, not four times (2x wall
    // time at sf0.1); ~doc-count rows, Spark evicts LRU
    val cleaned = Dedup.lineDedup(aug).select(col("doc_id"), col("text"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lm = LanguageModel.buildBigramLm(cleaned)
    val keptIds = LanguageModel.scoreDocs(lm, cleaned)
      .filter(col("nll") <= 3.5).select(col("doc_id"))
    val kept = cleaned.join(keptIds, Seq("doc_id"), "left_semi")
    TextAnalysis.chunk(kept, size = 64, stride = 48)
      .join(kept.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens").cast("long")).as("total_chunk_tokens"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))
  }

  val pipelinePretrainSql: String =
    s"""WITH aug AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN 'subscribe to our newsletter today. '
       |           || text || '. all rights reserved worldwide'
       |         WHEN doc_id % 5 = 0 THEN 'click here to accept cookies. ' || text
       |         ELSE text END AS text
       |  FROM documents),
       |ls AS (SELECT doc_id, string_split_regex(text, '\\.\\s+') AS l FROM aug),
       |lines AS (SELECT doc_id, unnest(l) AS line,
       |                 unnest(range(1, len(l) + 1)) AS pos FROM ls),
       |dupk AS (SELECT md5(line) AS key FROM lines
       |         GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |cleaned AS (SELECT f.doc_id,
       |    coalesce(string_agg(line, '. ' ORDER BY pos)
       |      FILTER (WHERE md5(line) NOT IN (SELECT key FROM dupk)), '') AS text
       |  FROM lines f GROUP BY f.doc_id),
       |cleaned2 AS (SELECT c.doc_id, c.text, d.source
       |  FROM cleaned c JOIN documents d USING (doc_id)),
       |tok AS (SELECT doc_id, $normTokensSql AS t FROM cleaned2),
       |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
       |        FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w),
       |stats AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
       |                 CAST(count(*) AS BIGINT) AS vocab FROM uni),
       |bgm AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt
       |        FROM (SELECT $docBigramsSql AS bg FROM tok) GROUP BY bg),
       |docbg AS (SELECT doc_id, $docBigramsSql AS bg,
       |            unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
       |          FROM tok),
       |terms AS (SELECT d.doc_id,
       |    round(ln(CASE WHEN m.cnt IS NOT NULL
       |      THEN CAST(m.cnt AS DOUBLE) / CAST(u1.cnt AS DOUBLE)
       |      ELSE 0.4 * CAST(coalesce(u2.cnt, 0) + 1 AS DOUBLE) /
       |           CAST(total_tokens + vocab AS DOUBLE) END), 6) AS lp
       |  FROM docbg d
       |  LEFT JOIN bgm m USING (bg)
       |  LEFT JOIN uni u1 ON u1.w = split_part(d.bg, ' ', 1)
       |  LEFT JOIN uni u2 ON u2.w = d.w2
       |  CROSS JOIN stats),
       |scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    sum(CAST(lp AS DECIMAL(38,6))) AS lp_sum
       |  FROM terms GROUP BY doc_id),
       |kept AS (SELECT c.doc_id, c.text, c.source
       |  FROM cleaned2 c LEFT JOIN scored s USING (doc_id)
       |  WHERE coalesce(round(-CAST(s.lp_sum AS DOUBLE) / s.n_bigrams, 6), 0.0)
       |        <= 3.5),
       |ktok AS (SELECT doc_id, source,
       |    string_split_regex(trim(text), '\\s+') AS t FROM kept),
       |sized AS (SELECT doc_id, source, t, len(t) AS n,
       |    CASE WHEN len(t) <= 64 THEN 1
       |         ELSE (len(t) - 64 + 47) // 48 + 1 END AS n_chunks
       |  FROM ktok),
       |chunks AS (SELECT doc_id, source,
       |    unnest(list_transform(range(0, n_chunks),
       |      i -> array_to_string(t[i*48 + 1 : least(i*48 + 64, n)], ' '))) AS chunk
       |  FROM sized)
       |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(len(string_split_regex(chunk, '\\s+'))) AS BIGINT)
       |    AS total_chunk_tokens,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM chunks
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Video frame-sampling through the multimodal seam: deterministic
    * GVID fixture containers (header + packed RGB frames, pixels =
    * closed-form formulas of (id, frame, x, y)), every 6th frame
    * sampled BY OFFSET (unsampled frames never touched), per-frame
    * channel means emitted. The oracle recomputes header fields and
    * means straight from the formulas — no decoder needed — so a green
    * hash proves container write → header parse → frame seek → pixel
    * extraction end to end. */
  def multimodalVideoSample(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables.t(s, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 100)
    Multimodal.sampleFrames(Multimodal.videoTable(ids), every = 6)
      .select(col("media_id"), col("frame_idx"), col("width"), col("height"),
        col("n_frames"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Closed-form mean over the 8×6 fixture raster for frame f:
    * Σ_p ((a·id + e·f + b·(p%8) + c·(p/8)) mod 256) / 48. */
  private def vidMeanSql(a: Int, e: Int, b: Int, c: Int): String =
    s"""round(list_sum(list_transform(range(0, 48),
       |  p -> (doc_id * $a + f * $e + (p % 8) * $b + (p // 8) * $c) % 256)) / 48.0, 6)""".stripMargin

  val multimodalVideoSampleSql: String =
    s"""SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
       |  CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
       |  CAST(24 AS INTEGER) AS n_frames,
       |  ${vidMeanSql(7, 19, 3, 5)} AS mean_r,
       |  ${vidMeanSql(11, 23, 1, 2)} AS mean_g,
       |  ${vidMeanSql(13, 29, 3, 1)} AS mean_b
       |FROM documents, (SELECT unnest([0, 6, 12, 18]) AS f) frames
       |WHERE doc_id < 100
       |ORDER BY media_id, frame_idx""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact _,
    "dedup_minhash_lsh" -> dedupMinhashLsh _,
    "dedup_ngram_jaccard" -> dedupNgramJaccard _,
    "dedup_simhash" -> dedupSimhash _,
    "dedup_clusters" -> dedupClusters _,
    "sample_leakage_split" -> sampleLeakageSplit _,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine _,
    "dedup_multi_signal" -> dedupMultiSignal _,
    "dedup_index_build" -> dedupIndexBuild _,
    "dedup_index_probe" -> dedupIndexProbe _,
    "stream_minhash_gate" -> streamMinhashGate _,
    "dedup_semantic" -> dedupSemantic _,
    "dedup_semantic_probe" -> dedupSemanticProbe _,
    "dedup_select_canonical" -> dedupSelectCanonical _,
    "ann_bruteforce_topk" -> annBruteForce _,
    "ann_lsh_topk" -> annLsh _,
    "ann_ivf_build" -> annIvfBuild _,
    "ann_ivf_search" -> annIvfSearch _,
    "ann_pq_build" -> annPqBuild _,
    "ann_pq_search" -> annPqSearch _,
    "ann_ivfpq_build" -> annIvfPqBuild _,
    "ann_ivfpq_search" -> annIvfPqSearch _,
    "text_stats" -> textStats _,
    "text_langid" -> textLangId _,
    "text_repetition" -> textRepetition _,
    "text_bm25_build" -> textBm25Build _,
    "text_bm25_search" -> textBm25Search _,
    "text_lm_build" -> textLmBuild _,
    "text_lm_score" -> textLmScore _,
    "text_nb_train" -> textNbTrain _,
    "text_nb_append" -> textNbAppend _,
    "text_nb_classify" -> textNbClassify _,
    "text_line_dedup" -> textLineDedup _,
    "text_chunk" -> textChunk _,
    "text_contamination" -> textContamination _,
    "sample_stratified" -> sampleStratified _,
    "sample_token_budget" -> sampleTokenBudget _,
    "sample_temperature" -> sampleTemperature _,
    "text_pii_redact" -> textPiiRedact _,
    "pipeline_curation" -> pipelineCuration _,
    "pipeline_packing" -> pipelinePacking _,
    "pipeline_pretrain" -> pipelinePretrain _,
    "pipeline_decontaminate" -> pipelineDecontaminate _,
    "profile_orders" -> profileOrders _,
    "profile_incremental" -> profileIncremental _,
    "layout_zorder_scan" -> layoutZorderScan _,
    "profile_categories" -> profileCategories _,
    "profile_histogram" -> profileHistogram _,
    "profile_correlation" -> profileCorrelation _,
    "profile_skew" -> profileSkew _,
    "text_fingerprint" -> textFingerprint _,
    "text_rolling_fingerprint" -> textRollingFingerprint _,
    "multimodal_meta" -> multimodalMeta _,
    "multimodal_probe" -> multimodalProbe _,
    "multimodal_decode" -> multimodalDecode _,
    "multimodal_image_decode" -> multimodalImageDecode _,
    "multimodal_audio_decode" -> multimodalAudioDecode _,
    "multimodal_video_sample" -> multimodalVideoSample _,
    "multimodal_image_neardup" -> multimodalImageNeardup _,
    "multimodal_audio_neardup" -> multimodalAudioNeardup _,
    "multimodal_video_neardup" -> multimodalVideoNeardup _,
    "dedup_edit_distance" -> dedupEditDistance _,
    "dedup_hamming_index_build" -> dedupHammingIndexBuild _,
    "dedup_hamming_index_probe" -> dedupHammingIndexProbe _,
    "text_substring_dup" -> textSubstringDup _,
    "text_substring_index_build" -> textSubstringIndexBuild _,
    "text_substring_index_probe" -> textSubstringIndexProbe _)

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_clusters" -> dedupClustersSql,
    "sample_leakage_split" -> sampleLeakageSplitSql,
    "dedup_embedding_cosine" -> dedupEmbeddingCosineSql,
    "dedup_multi_signal" -> dedupMultiSignalSql,
    "dedup_index_build" -> dedupIndexBuildSql,
    "dedup_index_probe" -> dedupIndexProbeSql,
    "stream_minhash_gate" -> streamMinhashGateSql,
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_semantic_probe" -> dedupSemanticProbeSql,
    "dedup_select_canonical" -> dedupSelectCanonicalSql,
    "ann_bruteforce_topk" -> annBruteForceSql,
    "ann_lsh_topk" -> annLshSql,
    "ann_ivf_build" -> annIvfBuildSql,
    "ann_ivf_search" -> annIvfSearchSql,
    "ann_pq_build" -> annPqBuildSql,
    "ann_pq_search" -> annPqSearchSql,
    "ann_ivfpq_build" -> annIvfPqBuildSql,
    "ann_ivfpq_search" -> annIvfPqSearchSql,
    "text_stats" -> textStatsSql,
    "text_langid" -> textLangIdSql,
    "text_repetition" -> textRepetitionSql,
    "text_bm25_build" -> textBm25BuildSql,
    "text_bm25_search" -> textBm25Sql,
    "text_lm_build" -> textLmBuildSql,
    "text_lm_score" -> textLmScoreSql,
    "text_nb_train" -> textNbTrainSql,
    "text_nb_append" -> textNbAppendSql,
    "text_nb_classify" -> textNbClassifySql,
    "text_line_dedup" -> textLineDedupSql,
    "text_chunk" -> textChunkSql,
    "text_contamination" -> textContaminationSql,
    "sample_stratified" -> sampleStratifiedSql,
    "sample_token_budget" -> sampleTokenBudgetSql,
    "sample_temperature" -> sampleTemperatureSql,
    "text_pii_redact" -> textPiiRedactSql,
    "pipeline_curation" -> pipelineCurationSql,
    "pipeline_packing" -> pipelinePackingSql,
    "pipeline_pretrain" -> pipelinePretrainSql,
    "pipeline_decontaminate" -> pipelineDecontaminateSql,
    "profile_orders" -> profileOrdersSql,
    "profile_incremental" -> profileIncrementalSql,
    "layout_zorder_scan" -> layoutZorderScanSql,
    "profile_categories" -> profileCategoriesSql,
    "profile_histogram" -> profileHistogramSql,
    "profile_correlation" -> profileCorrelationSql,
    "profile_skew" -> profileSkewSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_rolling_fingerprint" -> textRollingFingerprintSql,
    "multimodal_meta" -> multimodalMetaSql,
    "multimodal_probe" -> multimodalProbeSql,
    "multimodal_decode" -> multimodalDecodeSql,
    "multimodal_image_decode" -> multimodalImageDecodeSql,
    "multimodal_audio_decode" -> multimodalAudioDecodeSql,
    "multimodal_video_sample" -> multimodalVideoSampleSql,
    "multimodal_image_neardup" -> multimodalImageNeardupSql,
    "multimodal_audio_neardup" -> multimodalAudioNeardupSql,
    "multimodal_video_neardup" -> multimodalVideoNeardupSql,
    "dedup_edit_distance" -> dedupEditDistanceSql,
    "dedup_hamming_index_build" -> dedupHammingIndexBuildSql,
    "dedup_hamming_index_probe" -> dedupHammingIndexProbeSql,
    "text_substring_dup" -> textSubstringDupSql,
    "text_substring_index_build" -> textSubstringIndexBuildSql,
    "text_substring_index_probe" -> textSubstringIndexProbeSql)
}
