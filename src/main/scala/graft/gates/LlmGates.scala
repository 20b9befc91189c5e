package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.{Ann, Contamination, CorpusStats, Dedup, ImageIoDecoder, Multimodal, Pq, TextStats}

/** Correctness gates for the LLM-data-pipeline operators over
  * `documents.parquet` / `embeddings.parquet`.
  *
  * EVERY gate here carries a full DuckDB oracle. The near-dup/ANN
  * operators hash only with restatable families (md5-string minhash
  * and band keys, md5-hex-digit simhash bits, literal Rademacher
  * hyperplanes), so the oracle restates the ENTIRE pipeline —
  * candidate generation, skew caps, verification — in SQL and
  * hash-matches the exact output of the code that runs by default.
  * Behavior beyond the fixtures (recall vs brute force, planted-pair
  * detection) is asserted in LlmSpec and PropertySpec.
  *
  * Floating-point parity rules used throughout the oracles:
  *   - dot/norm are SEQUENTIAL left folds on both sides (Spark
  *     `aggregate(zip_with(..))` ≡ DuckDB `list_reduce` starting at the
  *     first element; `0.0 + x1 == x1` exactly), so doubles match bitwise;
  *   - comparisons happen either on raw bitwise-identical doubles (bucket
  *     signs, centroid ranking) or on `round(x, 6)` values;
  *   - int/int divisions (ratios, Jaccard) are exact IEEE and identical.
  */
object LlmGates {

  private[gates] val Dim = 64 // embedding length in the testdata contract

  // ---- shared SQL fragments -------------------------------------------

  /** Sequential-fold dot product of two DOUBLE-cast list columns. */
  private[gates] def dotSql(a: String, b: String): String =
    s"list_reduce([CAST($a[j] AS DOUBLE) * CAST($b[j] AS DOUBLE) for j in range(1, ${Dim + 1})], (x, y) -> x + y)"

  private[gates] def normSql(e: String): String = s"sqrt(${dotSql(e, e)})"

  /** Round-6 cosine with the zero-norm → −∞ clamp [[Ann]]'s cosinePre
    * applies on the Spark side: an unclamped division would yield NaN,
    * which sorts FIRST under `ORDER BY cosine DESC` (a degenerate vector
    * outranking every real neighbor) and differently across engines;
    * −∞ ranks LAST everywhere, so both sides agree on ANY input — the
    * fixtures' nonzero norms are no longer load-bearing.
    */
  private[gates] def cosSql(a: String, b: String, nprod: String): String =
    s"(CASE WHEN $nprod = 0 THEN CAST('-infinity' AS DOUBLE) " +
      s"ELSE round(${dotSql(a, b)} / ($nprod), 6) END)"

  /** Unrounded clamped cosine — the IVF centroid-assignment ordering. */
  private def cosRawSql(a: String, b: String, nprod: String): String =
    s"(CASE WHEN $nprod = 0 THEN CAST('-infinity' AS DOUBLE) " +
      s"ELSE ${dotSql(a, b)} / ($nprod) END)"

  private def planeLit(p: Array[Double]): String =
    p.map(v => if (v > 0) "1.0" else "-1.0").mkString("([", ",", "]::DOUBLE[])")

  /** Sign-projection bucket over the SAME seeded literal planes
    * [[Ann.planes]] bakes into the Spark plan — bit i set iff the
    * sequential-fold projection onto plane i is > 0.
    */
  private def bucketSql(e: String, bits: Int): String =
    Ann.planes(bits, Dim).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_reduce([CAST($e[j] AS DOUBLE) * ${planeLit(p)}[j] for j in range(1, ${Dim + 1})], (x, y) -> x + y) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("CAST((", " + ", ") AS BIGINT)")

  /** Normalized text and its distinct word-n-gram shingle set — mirrors
    * [[Dedup.normalize]] + [[Dedup.shingles]] + array_distinct.
    */
  private def shingleCteN(n: Int, table: String = "documents"): String = {
    val gram = (0 until n).map(o => if (o == 0) "ws[i]" else s"ws[i+$o]")
      .mkString(" || ' ' || ")
    s"""norm AS (
       |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM $table),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(ws) < $n THEN [array_to_string(ws, ' ')]
       |    ELSE list_distinct([$gram for i in range(1, len(ws) - ${n - 2})]) END AS shset
       |  FROM norm)""".stripMargin
  }

  private val shingleCte: String = shingleCteN(2)

  /** Recursive transitive closure over a `pairs(id_a, id_b)` relation,
    * ending in `comp(id, canon)` — shared by the `dedup_clusters` and
    * `llm_clean_corpus` oracles. Must be placed under a WITH RECURSIVE.
    */
  private val closureCtes: String =
    """cedges AS (
      |  SELECT id_a AS s, id_b AS d FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT s, d FROM cedges
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN cedges e ON r.d = e.s),
      |comp AS (
      |  SELECT s AS id, least(s, min(d)) AS canon FROM reach GROUP BY s)""".stripMargin

  /** Ratio columns + the composite quality expression over `table` —
    * `qscored` carries punct/digit/toks/stop ratios; [[qualityExpr]] is
    * the round-4 score over them. Shared by the `text_quality` and
    * `llm_clean_corpus` oracles (single source for the formula).
    */
  private def qualityCtes(table: String): String = {
    val en = TextStats.stopwords("en").map(w => s"'$w'").mkString("[", ",", "]")
    s"""qbase AS (
       |  SELECT *,
       |    string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS words,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
       |           / length(text) END AS punct_ratio,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
       |           / length(text) END AS digit_ratio,
       |    CASE WHEN trim(text) = '' THEN 0
       |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks
       |  FROM $table),
       |qscored AS (
       |  SELECT *, CASE WHEN len(words) = 0 THEN 0.0
       |    ELSE CAST(len(list_filter(words, w -> list_contains($en, w))) AS DOUBLE)
       |         / len(words) END AS stop_ratio
       |  FROM qbase)""".stripMargin
  }

  private val qualityExpr: String =
    """round((CASE WHEN toks BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.3 END)
      |      * (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.5 END)
      |      * (CASE WHEN digit_ratio < 0.3 THEN 1.0 ELSE 0.5 END)
      |      * (CASE WHEN stop_ratio > 0.01 THEN 1.0 ELSE 0.7 END), 4)""".stripMargin

  /** Min-id-per-normalized-digest exact dedup over `table`, ending in a
    * relation named `ddocs` — shared by the `dedup_exact`-style stages.
    */
  private def exactDedupCte(table: String): String =
    s"""ddocs AS (
       |  SELECT doc_id, text, lang, source, n_chars
       |  FROM (SELECT *, ROW_NUMBER() OVER (
       |          PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
       |          ORDER BY doc_id) AS rn
       |        FROM $table)
       |  WHERE rn = 1)""".stripMargin

  /** The full minhash near-dup CTE chain over `table`, ending in
    * `verified(id_a, id_b, jaccard)` (all candidates) and
    * `pairs(id_a, id_b, jaccard)` (jaccard ≥ `threshold`) — shared by
    * the `dedup_minhash`, `dedup_clusters` and `llm_clean_corpus`
    * oracles.
    */
  private def minhashCtes(table: String, threshold: Double,
                          shingleN: Int = 2): String = {
    val mins = Dedup.minhashCoefs(32).map { case (a, b) =>
      s"min(($a * h + $b) % 2147483647)"
    }.mkString("[", ", ", "]")
    s"""${shingleCteN(shingleN, table)},
       |ex AS (SELECT doc_id, unnest(shset) AS s FROM sh),
       |hs AS (
       |  SELECT doc_id,
       |    list_reduce([strpos('0123456789abcdef', substr(md5(s), j, 1)) - 1
       |                 for j in range(1, 9)], (a, b) -> a * 16 + b) AS h
       |  FROM ex),
       |sig AS (SELECT doc_id, $mins AS signature FROM hs GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, j AS band,
       |         md5(array_to_string([x::VARCHAR for x in signature[j*4+1:j*4+4]], '|')) AS bucket
       |  FROM sig, range(8) r(j)),
       |capped AS (
       |  SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
       |      / len(list_distinct(sa.shset || sb.shset)) AS jaccard
       |  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
       |            JOIN sh sb ON sb.doc_id = cand.id_b),
       |pairs AS (SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= $threshold)""".stripMargin
  }

  // ---- exact dedup (unchanged, already oracle-green) ------------------

  /** Exact dedup with a full oracle. The synthetic docs are all distinct,
    * so dedup must be the identity — the oracle proves exactly that via
    * the same min-per-digest window.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(Tables(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  val dedupExactSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM (SELECT *, ROW_NUMBER() OVER (
      |        PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
      |        ORDER BY doc_id) AS rn
      |      FROM documents)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---- text stats (unchanged, already oracle-green) -------------------

  /** Text statistics with a full oracle (token/char counts, ratios,
    * fingerprint). The synthetic text is single-space word soup, so the
    * whitespace split is engine-agnostic.
    */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    d.select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.charCount(col("text")).cast("long").as("n_chars_computed"),
        TextStats.approxBpeTokens(col("text")).cast("long").as("n_bpe_tokens"),
        round(TextStats.avgWordLen(col("text")), 6).as("avg_word_len"),
        TextStats.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  val textStatsSql: String =
    """SELECT doc_id,
      |  len(string_split(trim(text), ' ')) AS n_tokens,
      |  length(text) AS n_chars_computed,
      |  len(regexp_extract_all(text, '\w{1,4}|[^\w\s]')) AS n_bpe_tokens,
      |  round(CAST(length(replace(trim(text), ' ', '')) AS DOUBLE)
      |        / len(string_split(trim(text), ' ')), 6) AS avg_word_len,
      |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- encoding-damage (mojibake) scan ---------------------------------

  /** [[TextStats.encodingScan]] over documents ∪ planted damage — the
    * corpus is clean ascii, so every damage signature is planted
    * (identical VALUES both sides), plus a CLEAN Vietnamese row proving
    * legitimate multi-byte text does not false-positive, and an empty
    * row for the null fraction.
    */
  def mojibakeScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (-5L, "hà nội tuyển dụng kỹ sư dữ liệu"),       // clean Vietnamese
      (-4L, "caf� menu �� here"),       // replacement chars
      (-3L, "cafÃ© rÃ©sumÃ© naÂ¯ve"), // mojibake digraphs
      (-2L, "bad\u0085break\u0092quote\u009Fend"),     // C1 controls
      (-1L, ""))                                        // empty -> null frac
      .toDF("doc_id", "text")
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionByName(planted)
    TextStats.encodingScan(docs, "doc_id", "text").orderBy("doc_id")
  }

  /** Oracle: the three regexp counts restated with RE2 `\x{…}` classes
    * (planted rows assembled with `chr()` so no control byte lands in
    * the SQL text), the weighted damage fraction, and the verdict.
    */
  val mojibakeScanSql: String =
    """WITH md AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id AS BIGINT), text FROM (VALUES
      |    (-5, 'hà nội tuyển dụng kỹ sư dữ liệu'),
      |    (-4, 'caf' || chr(65533) || ' menu ' || chr(65533) || chr(65533) || ' here'),
      |    (-3, 'caf' || chr(195) || chr(169) || ' r' || chr(195) || chr(169) ||
      |         'sum' || chr(195) || chr(169) || ' na' || chr(194) || chr(175) || 've'),
      |    (-2, 'bad' || chr(133) || 'break' || chr(146) || 'quote' || chr(159) || 'end'),
      |    (-1, '')) v(doc_id, text)),
      |c AS (
      |  SELECT doc_id,
      |    CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
      |    CAST(len(regexp_extract_all(coalesce(text, ''), '\x{FFFD}')) AS BIGINT) AS n_replacement,
      |    CAST(len(regexp_extract_all(coalesce(text, ''), '[\x{0080}-\x{009F}]')) AS BIGINT) AS n_c1_controls,
      |    CAST(len(regexp_extract_all(coalesce(text, ''), '[\x{00C2}\x{00C3}][\x{0080}-\x{00BF}]')) AS BIGINT) AS n_mojibake
      |  FROM md)
      |SELECT doc_id, n_chars, n_replacement, n_c1_controls, n_mojibake,
      |  CASE WHEN n_chars = 0 THEN NULL
      |    ELSE CAST(n_replacement + n_c1_controls + n_mojibake * 2 AS DOUBLE)
      |      / CAST(n_chars AS DOUBLE) END AS damage_frac,
      |  (n_replacement = 0 AND n_c1_controls = 0 AND n_mojibake = 0) AS ok
      |FROM c ORDER BY doc_id""".stripMargin

  // ---- brute-force ANN (unchanged, already oracle-green) --------------

  /** Brute-force cosine top-5 for queries vec_id < 5, with a DuckDB
    * list_cosine_similarity oracle. Ranking on the 6-decimal-rounded
    * cosine (neighbor id tiebreak) is engine-stable.
    */
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Ann.bruteForceTopK(queries, corpus, k = 5)
      .orderBy("query_id", "rank")
  }

  val annTopKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         ${cosSql("qv", "e.embedding", "qn * e.nrm")} AS cosine
       |  FROM q, e WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---- MinHash/LSH near-dup: full-pipeline oracle ---------------------

  /** MinHash/LSH near-dup pairs (md5-string minhash family): the oracle
    * below restates signatures, banding, the skew cap and the
    * exact-Jaccard verification — a full-pipeline hash match.
    */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupMinhash(Tables(s, dir, "documents"), "doc_id", "text",
        threshold = 0.1, numHashes = 32, bands = 8, shingleN = 2)
      .orderBy("id_a", "id_b")

  val dedupMinhashSql: String =
    s"""WITH ${minhashCtes("documents", 0.1)}
       |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin

  /** [[graft.llm.Dedup.nearDupAudit]] at t = 0.4 (32 hashes, 8 bands,
    * 2-shingles): ground-truth exact pairs vs the banded
    * tier, published as counts + recall/precision. t = 0.4, not the
    * minhash gate's 0.1, ON PURPOSE: the exact tier's prefix filter is
    * strong there (the audit stays cheap enough for the bench base
    * path — at 0.1 it cost ~2 min at sf0.1), while 8x4 banding still
    * misses a real fraction at 0.4, so the measured recall is
    * non-vacuous. 3-shingles, not the minhash gate's 2: the synthetic
    * corpus has a ~31-word vocabulary, so 2-shingle posting lists are
    * corpus-wide and the prefix filter cannot prune (measured 25x). The oracle reuses the minhash CTE chain and an
    * all-pairs exact join over the SAME shingle sets.
    */
  def dedupAudit(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val withWs = base.select(col("doc_id"), col("text"),
      split(Dedup.normalize(col("text")), " ").as("__ws"))
    val p = withWs.select((col("doc_id") + 1).as("doc_id"),
      col("__ws").as("__pws"))
    // every third doc becomes its own first half + its predecessor's
    // second half: a planted MID-similarity pair (~1/3 jaccard) against
    // each neighbor — the regime where 8x4 banding genuinely misses,
    // so the measured recall sits strictly inside (0, 1)
    val mixed = withWs.join(p, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0 && col("__pws").isNotNull,
          concat(
            array_join(slice(col("__ws"), lit(1),
              floor(size(col("__ws")) / 2).cast("int")), " "),
            lit(" "),
            array_join(slice(col("__pws"),
              (floor(size(col("__pws")) / 2) + 1).cast("int"),
              size(col("__pws"))), " ")))
          .otherwise(col("text")).as("text"))
    Dedup.nearDupAudit(mixed, "doc_id", "text",
      threshold = 0.25, numHashes = 32, bands = 8, shingleN = 3)
  }

  val dedupAuditSql: String =
    s"""WITH b0 AS (
       |  SELECT doc_id, text,
       |    string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents),
       |mixed AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.doc_id % 3 = 0 AND p.doc_id IS NOT NULL THEN
       |      array_to_string(d.ws[1 : len(d.ws) // 2], ' ') || ' ' ||
       |      array_to_string(p.ws[len(p.ws) // 2 + 1 : len(p.ws)], ' ')
       |    ELSE d.text END AS text
       |  FROM b0 d LEFT JOIN b0 p ON p.doc_id = d.doc_id - 1),
       |${minhashCtes("mixed", 0.25, shingleN = 3)},
       |exact AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |      / len(list_distinct(a.shset || b.shset)) >= 0.25),
       |j AS (
       |  SELECT coalesce(e.id_a, p.id_a) AS id_a,
       |    coalesce(e.id_b, p.id_b) AS id_b,
       |    (e.id_a IS NOT NULL) AS in_e, (p.id_a IS NOT NULL) AS in_a
       |  FROM exact e FULL OUTER JOIN pairs p
       |    ON e.id_a = p.id_a AND e.id_b = p.id_b),
       |cnt AS (
       |  SELECT CAST(count(*) FILTER (in_e) AS BIGINT) AS n_exact,
       |    CAST(count(*) FILTER (in_a) AS BIGINT) AS n_approx,
       |    CAST(count(*) FILTER (in_e AND in_a) AS BIGINT) AS n_both
       |  FROM j)
       |SELECT n_exact, n_approx, n_both,
       |  CASE WHEN n_exact = 0 THEN NULL
       |    ELSE CAST(n_both AS DOUBLE) / CAST(n_exact AS DOUBLE) END AS recall,
       |  CASE WHEN n_approx = 0 THEN NULL
       |    ELSE CAST(n_both AS DOUBLE) / CAST(n_approx AS DOUBLE) END AS precision
       |FROM cnt""".stripMargin

  /** Cluster resolution over the minhash pair set: every doc →
    * the minimum id of its near-dup connected component. The oracle
    * computes the transitive closure of the SAME pairs with a recursive
    * CTE — so both the pair pipeline and the component semantics are
    * hash-verified.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val pairs = Dedup.nearDupMinhash(docs, "doc_id", "text",
      threshold = 0.1, numHashes = 32, bands = 8, shingleN = 2)
    Dedup.resolveClusters(pairs, docs, "doc_id")
      .orderBy("doc_id")
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE ${minhashCtes("documents", 0.1)},
       |$closureCtes
       |SELECT doc.doc_id, coalesce(comp.canon, doc.doc_id) AS canonical_id
       |FROM documents doc LEFT JOIN comp ON comp.id = doc.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  /** [[graft.llm.Dedup.keepBest]] over the same minhash→closure chain as
    * `dedup_clusters`: the survivor of each cluster is the
    * highest-n_chars member (ties → min id), not the min id — the
    * quality-aware canonical-copy policy. The oracle reuses the shared
    * pair/closure CTEs and restates the survivor window.
    */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val pairs = Dedup.nearDupMinhash(docs, "doc_id", "text",
      threshold = 0.1, numHashes = 32, bands = 8, shingleN = 2)
    val clusters = Dedup.resolveClusters(pairs, docs, "doc_id")
    Dedup.keepBest(docs, "doc_id", "n_chars", clusters)
      .select("doc_id", "canonical_id", "cluster_size", "n_chars")
      .orderBy("doc_id")
  }

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE ${minhashCtes("documents", 0.1)},
       |$closureCtes,
       |allc AS (
       |  SELECT d.doc_id, coalesce(comp.canon, d.doc_id) AS canonical_id,
       |    d.n_chars
       |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
       |r AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY canonical_id
       |      ORDER BY n_chars DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY canonical_id) AS cluster_size
       |  FROM allc)
       |SELECT doc_id, canonical_id, cluster_size, n_chars
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** The FULL curation chain (quality ≥ 0.6 → exact dedup → minhash
    * pairs → cluster resolution → canonical survivors) against a
    * single composed oracle: the same five stages as chained CTEs. This
    * is the end-to-end proof that the verified pieces compose.
    */
  def llmCleanCorpus(s: SparkSession, dir: String): DataFrame =
    graft.llm.Curation.cleanCorpus(Tables(s, dir, "documents"), "doc_id", "text",
        minQuality = 0.6, nearDupThreshold = 0.1, numHashes = 32, bands = 8,
        shingleN = 2)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  val llmCleanCorpusSql: String =
    s"""WITH RECURSIVE ${qualityCtes("documents")},
       |qdocs AS (
       |  SELECT doc_id, text, lang, source, n_chars FROM qscored
       |  WHERE $qualityExpr >= 0.6),
       |${exactDedupCte("qdocs")},
       |${minhashCtes("ddocs", 0.1)},
       |$closureCtes
       |SELECT dd.doc_id, dd.lang, dd.source, dd.n_chars
       |FROM ddocs dd LEFT JOIN comp ON comp.id = dd.doc_id
       |WHERE coalesce(comp.canon, dd.doc_id) = dd.doc_id
       |ORDER BY dd.doc_id""".stripMargin

  /** [[graft.llm.Curation.budgetCorpus]]: the curation chain with BOTH
    * round-6 quality-aware policies composed in — keep-best survivors
    * (by n_chars) instead of min-id, then the best-first token-budget
    * cut. One oracle restates all seven stages as chained CTEs; the
    * budget (12k of the ~26k surviving tokens) puts the cut line
    * mid-corpus so both sides are exercised.
    */
  def llmBudgetCorpus(s: SparkSession, dir: String): DataFrame =
    graft.llm.Curation.budgetCorpus(Tables(s, dir, "documents"), "doc_id", "text",
        scoreCol = "n_chars", tokenBudget = 12000L,
        minQuality = 0.6, nearDupThreshold = 0.1, numHashes = 32, bands = 8,
        shingleN = 2)
      .select("doc_id", "lang", "source", "n_chars", "toks", "cum_tokens")
      .orderBy("doc_id")

  val llmBudgetCorpusSql: String =
    s"""WITH RECURSIVE ${qualityCtes("documents")},
       |qdocs AS (
       |  SELECT doc_id, text, lang, source, n_chars FROM qscored
       |  WHERE $qualityExpr >= 0.6),
       |${exactDedupCte("qdocs")},
       |${minhashCtes("ddocs", 0.1)},
       |$closureCtes,
       |ballc AS (
       |  SELECT dd.*, coalesce(comp.canon, dd.doc_id) AS canonical_id
       |  FROM ddocs dd LEFT JOIN comp ON comp.id = dd.doc_id),
       |bbest AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY canonical_id
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |    FROM ballc) WHERE rn = 1),
       |btok AS (
       |  SELECT doc_id, lang, source, n_chars,
       |    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
       |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS toks
       |  FROM bbest),
       |bcum AS (
       |  SELECT *, CAST(sum(toks) OVER (ORDER BY n_chars DESC, doc_id)
       |    AS BIGINT) AS cum_tokens
       |  FROM btok)
       |SELECT doc_id, lang, source, n_chars, toks, cum_tokens
       |FROM bcum WHERE cum_tokens <= 12000 ORDER BY doc_id""".stripMargin

  /** The full trainer handoff: the curation chain of [[llmCleanCorpus]]
    * composed with concat-and-split block packing ([[graft.llm.Packing]])
    * — raw documents in, per-(shard, block) occupancy out. One oracle
    * restates the ENTIRE path (quality → exact dedup → minhash pairs →
    * closure → survivors → shard/offset/block arithmetic) as a single
    * chained-CTE statement.
    */
  def llmTrainingBlocks(s: SparkSession, dir: String): DataFrame = {
    val survivors = graft.llm.Curation.cleanCorpus(
      Tables(s, dir, "documents"), "doc_id", "text",
      minQuality = 0.6, nearDupThreshold = 0.1, numHashes = 32, bands = 8,
      shingleN = 2)
    graft.llm.Packing.blocks(survivors, "doc_id", "text",
        blockSize = 256, nShards = 8)
      .groupBy("shard", "block_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens_in_block")).as("n_tokens"))
      .orderBy("shard", "block_id")
  }

  val llmTrainingBlocksSql: String =
    s"""WITH RECURSIVE ${qualityCtes("documents")},
       |qdocs AS (
       |  SELECT doc_id, text, lang, source, n_chars FROM qscored
       |  WHERE $qualityExpr >= 0.6),
       |${exactDedupCte("qdocs")},
       |${minhashCtes("ddocs", 0.1)},
       |$closureCtes,
       |surv AS (
       |  SELECT dd.doc_id, dd.text
       |  FROM ddocs dd LEFT JOIN comp ON comp.id = dd.doc_id
       |  WHERE coalesce(comp.canon, dd.doc_id) = dd.doc_id),
       |${PipelineGates.packCtesSql("surv", 256, 8)}
       |SELECT shard, block_id, count(*) AS n_docs,
       |  CAST(sum(least(doc_offset + t, (block_id + 1) * 256)
       |         - greatest(doc_offset, block_id * 256)) AS BIGINT) AS n_tokens
       |FROM pe GROUP BY shard, block_id ORDER BY shard, block_id""".stripMargin

  // ---- EXACT Jaccard near-dup: ground-truth all-pairs oracle ----------

  /** Exact 3-gram Jaccard pairs via the prefix-filtered inverted index.
    * The oracle is the TRUE all-pairs ground truth (feasible at gate
    * scale) — this verifies the ALGORITHM's completeness claim, not a
    * restatement of the pipeline: if the prefix filter ever dropped a
    * real pair, the hash compare would fail.
    */
  def dedupJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupJaccardExact(Tables(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, shingleN = 3)
      .orderBy("id_a", "id_b")

  val dedupJaccardSql: String =
    s"""WITH ${shingleCteN(3)}
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |    / len(list_distinct(a.shset || b.shset)) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE)
       |    / len(list_distinct(a.shset || b.shset)) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // ---- SimHash near-dup: full-pipeline oracle -------------------------

  /** SimHash near-dup pairs (md5-hex-digit bits): the oracle restates
    * votes, 16-bit band buckets, the skew cap and the Hamming
    * verification.
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupSimhash(Tables(s, dir, "documents"), "doc_id", "text",
        maxDistance = 8, maxBucket = 500)
      .orderBy("id_a", "id_b")

  val dedupSimhashSql: String =
    """WITH words AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS w
      |  FROM documents),
      |votes AS (
      |  SELECT doc_id, i,
      |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), i // 4 + 1, 1)) - 1)
      |                   >> (i % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM words, range(64) r(i) GROUP BY doc_id, i),
      |bits AS (SELECT doc_id, i, CASE WHEN v > 0 THEN 1 ELSE 0 END AS b FROM votes),
      |bands AS (
      |  SELECT doc_id, i // 16 AS band, sum(CAST(b AS BIGINT) << (i % 16)) AS bucket
      |  FROM bits GROUP BY doc_id, i // 16),
      |capped AS (
      |  SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 500),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
      |  WHERE a.doc_id < b.doc_id),
      |fp AS (SELECT doc_id, list(b ORDER BY i) AS bl FROM bits GROUP BY doc_id),
      |pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_filter(range(1, 65), j -> fa.bl[j] != fb.bl[j])) AS INT) AS distance
      |  FROM cand JOIN fp fa ON fa.doc_id = cand.id_a
      |            JOIN fp fb ON fb.doc_id = cand.id_b)
      |SELECT id_a, id_b, distance FROM pairs
      |WHERE distance <= 8 ORDER BY id_a, id_b""".stripMargin

  // ---- ANN LSH: literal planes + full-pipeline oracle -----------------

  /** LSH-bucketed approximate top-k. The planes are seeded literals, so
    * the oracle recomputes the same buckets, the same 1-bit multi-probes,
    * and the same round-6 cosine ranking.
    */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Ann.lshTopK(queries, corpus, k = 5, bits = 10)
      .orderBy("query_id", "rank")
  }

  val annLshSql: String = {
    val b = bucketSql("embedding", 10)
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm, $b AS bucket
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
       |    unnest(list_distinct([bucket] ||
       |      [xor(bucket, CAST(1 AS BIGINT) << i) for i in range(0, 10)])) AS bucket
       |  FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT DISTINCT query_id, e.vec_id AS neighbor_id,
       |    ${cosSql("qv", "e.embedding", "qn * e.nrm")} AS cosine
       |  FROM probes p JOIN e ON p.bucket = e.bucket
       |  WHERE query_id <> e.vec_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // ---- ANN IVF: deterministic centroids + full-pipeline oracle --------

  /** IVF-bucketed approximate top-k — centroid stride, nearest-centroid
    * assignment (raw-double ranking), probing and round-6 cosine ranking
    * all restated in the oracle. The stride formula mirrors
    * [[Ann.centroidStride]] exactly.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Ann.ivfTopK(queries, corpus, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  val annIvfSql: String =
    s"""WITH en AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |p AS (
       |  SELECT greatest(1, CAST(ceil(CAST(n AS DOUBLE) /
       |    greatest(1, least(CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT), 65536)))
       |    AS BIGINT)) AS stride
       |  FROM (SELECT count(*) AS n FROM embeddings)),
       |cents AS (
       |  SELECT vec_id AS cid, embedding AS ce, nrm AS cn
       |  FROM en, p WHERE vec_id % stride = 0),
       |assignc AS (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT en.vec_id, en.embedding, en.nrm, cents.cid,
       |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
       |        ORDER BY ${cosRawSql("en.embedding", "cents.ce", "en.nrm * cents.cn")} DESC,
       |                 cents.cid ASC) AS rn
       |    FROM en, cents) WHERE rn <= 1),
       |assignq AS (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT en.vec_id, en.embedding, en.nrm, cents.cid,
       |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
       |        ORDER BY ${cosRawSql("en.embedding", "cents.ce", "en.nrm * cents.cn")} DESC,
       |                 cents.cid ASC) AS rn
       |    FROM en, cents WHERE en.vec_id < 5) WHERE rn <= 4),
       |scored AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding", "q.nrm * c.nrm")} AS cosine
       |  FROM assignq q JOIN assignc c ON q.cid = c.cid
       |  WHERE q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---- ANN recall audit: approximate tiers vs brute-force truth -------

  /** [[graft.llm.Ann.recallPerQuery]] — the LSH tier (bits = 10, the
    * `ann_lsh` configuration) audited per query against brute-force
    * ground truth at the same k. The oracle composes the two tiers'
    * full pipelines (the `ann_topk` and `ann_lsh` oracle chains, each
    * nested as a subquery) and recounts the overlap.
    */
  def annRecallLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val truth = Ann.bruteForceTopK(queries, corpus, k = 5)
    Ann.recallPerQuery(truth, Ann.lshTopK(queries, corpus, k = 5, bits = 10))
      .orderBy("query_id")
  }

  val annRecallLshSql: String =
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($annTopKSql)),
       |approx AS (SELECT query_id, neighbor_id FROM ($annLshSql)),
       |hits AS (
       |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM truth t JOIN approx a
       |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |  GROUP BY t.query_id),
       |base AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
       |  FROM truth GROUP BY query_id)
       |SELECT b.query_id, b.n_truth,
       |       coalesce(h.n_hit, CAST(0 AS BIGINT)) AS n_hit,
       |       CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(b.n_truth AS DOUBLE)
       |         AS recall
       |FROM base b LEFT JOIN hits h ON b.query_id = h.query_id
       |ORDER BY b.query_id""".stripMargin

  /** [[graft.llm.Ann.recallSummary]] for BOTH approximate tiers at their
    * gate configurations — one micro-averaged recall row per tier,
    * labeled. The number that picks bits/nprobe empirically.
    */
  def annRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val truth = Ann.bruteForceTopK(queries, corpus, k = 5)
    val lsh = Ann.recallSummary(truth,
        Ann.lshTopK(queries, corpus, k = 5, bits = 10))
      .withColumn("tier", lit("lsh"))
    val ivf = Ann.recallSummary(truth,
        Ann.ivfTopK(queries, corpus, k = 5, nprobe = 4))
      .withColumn("tier", lit("ivf"))
    lsh.unionByName(ivf)
      .select(col("tier"), col("n_queries"), col("n_truth"), col("n_hit"),
        col("recall"))
      .orderBy("tier")
  }

  val annRecallAuditSql: String = {
    def tier(label: String, approxSql: String): String =
      s"""SELECT '$label' AS tier,
         |  CAST(count(DISTINCT b.query_id) AS BIGINT) AS n_queries,
         |  CAST(sum(b.n_truth) AS BIGINT) AS n_truth,
         |  CAST(sum(coalesce(h.n_hit, 0)) AS BIGINT) AS n_hit,
         |  CAST(sum(coalesce(h.n_hit, 0)) AS DOUBLE)
         |    / CAST(sum(b.n_truth) AS DOUBLE) AS recall
         |FROM (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
         |  FROM (SELECT query_id, neighbor_id FROM ($annTopKSql))
         |  GROUP BY query_id) b
         |LEFT JOIN (
         |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM (SELECT query_id, neighbor_id FROM ($annTopKSql)) t
         |  JOIN (SELECT query_id, neighbor_id FROM ($approxSql)) a
         |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY t.query_id) h
         |ON b.query_id = h.query_id""".stripMargin
    s"""SELECT * FROM (
       |${tier("lsh", annLshSql)}
       |UNION ALL
       |${tier("ivf", annIvfSql)}
       |) ORDER BY tier""".stripMargin
  }

  // ---- IVF k-means training: full 2-iteration Lloyd oracle ------------

  /** Deterministic Lloyd refinement (2 iterations, 16-centroid budget)
    * of the IVF centroids. The oracle restates BOTH iterations: stride
    * init, clamped-cosine nearest-centroid assignment (min-cid ties),
    * exact decimal(20,10) per-dim mean sums, round-6 double centroids.
    * The gate flattens the centroid array to one `(cid, j, m)` row per
    * dimension: the diff harness compares scalar cells, and a raw
    * array<double> column is not hashable/sortable on the oracle side.
    */
  def ivfTrain(s: SparkSession, dir: String): DataFrame =
    Ann.kmeansTrain(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        iters = 2, centroidTarget = 16)
      .select(col("cid"), col("n_members"),
        posexplode(col("centroid")).as(Seq("j0", "m")))
      .select(col("cid"), col("n_members"),
        (col("j0") + 1).cast("int").as("j"), col("m"))
      .orderBy("cid", "j")

  /** Float-embedding × double-centroid-list dot / norm / clamped raw
    * cosine — shared by the `ivf_train` and `ann_ivf_trained` oracles.
    */
  private[gates] def dotECSql(e: String, c: String) =
    s"list_reduce([CAST($e[j] AS DOUBLE) * $c[j] for j in range(1, ${Dim + 1})], (x, y) -> x + y)"
  private[gates] def normCSql(c: String) =
    s"sqrt(list_reduce([$c[j] * $c[j] for j in range(1, ${Dim + 1})], (x, y) -> x + y))"
  private[gates] def cosECRawSql(e: String, c: String) =
    s"(CASE WHEN ${normSql(e)} * ${normCSql(c)} = 0 THEN CAST('-infinity' AS DOUBLE) " +
      s"ELSE ${dotECSql(e, c)} / (${normSql(e)} * ${normCSql(c)}) END)"

  /** The full 2-iteration Lloyd CTE chain (stride init → assign → exact
    * decimal means ×2), ending in `m2(cid, j, cnt, m)` — shared prefix
    * of the `ivf_train` and `ann_ivf_trained` oracles. Goes right after
    * WITH.
    */
  private val ivfTrainCtes: String = {
    def assignCte(cents: String) =
      s"""SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosECRawSql("e.embedding", "c.ce")} DESC, c.cid ASC) AS rn
         |    FROM embeddings e, $cents c) WHERE rn = 1""".stripMargin
    // float→decimal must route through DOUBLE: DuckDB's direct
    // FLOAT→DECIMAL rounds the float's SHORTEST decimal repr (fewer
    // digits), while Spark rounds the exact double widening — measured
    // ~1e-9/element divergence. CAST(CAST(x AS DOUBLE) AS DECIMAL)
    // matches Spark's cast bitwise (probed on the fixture). The mean's
    // 6-decimal rounding is floor(x·10⁶ + 0.5)/10⁶ — pure IEEE ops —
    // because library round(x, 6) disagrees between engines exactly on
    // the .5 boundaries decimal-sum/count means land on.
    def meansCte(a: String) =
      s"""SELECT cid, j, count(*) AS cnt,
         |    floor(CAST(sum(CAST(CAST(embedding[j] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS m
         |  FROM $a, (SELECT unnest(range(1, ${Dim + 1})) AS j) GROUP BY cid, j""".stripMargin
    s"""p AS (
       |  SELECT greatest(1, CAST(ceil(CAST(n AS DOUBLE) / 16) AS BIGINT)) AS stride
       |  FROM (SELECT count(*) AS n FROM embeddings)),
       |c0 AS (
       |  SELECT vec_id AS cid,
       |    [CAST(embedding[j] AS DOUBLE) for j in range(1, ${Dim + 1})] AS ce
       |  FROM embeddings, p WHERE vec_id % stride = 0),
       |a1 AS (${assignCte("c0")}),
       |m1 AS (${meansCte("a1")}),
       |c1 AS (SELECT cid, list(m ORDER BY j) AS ce FROM m1 GROUP BY cid),
       |a2 AS (${assignCte("c1")}),
       |m2 AS (${meansCte("a2")})""".stripMargin
  }

  val ivfTrainSql: String =
    s"""WITH $ivfTrainCtes
       |SELECT cid, CAST(cnt AS BIGINT) AS n_members, CAST(j AS INT) AS j, m
       |FROM m2 ORDER BY cid, j""".stripMargin

  /** Train → serve: the same Lloyd chain feeds [[Ann.ivfTopKTrained]]
    * probing/ranking — list assignment and query probes order by the
    * clamped raw cosine against the TRAINED double centroids; candidate
    * scoring is the usual round-6 cosine on the raw vectors.
    */
  def annIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val cents = Ann.kmeansTrain(e, "vec_id", "embedding",
      iters = 2, centroidTarget = 16)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Ann.ivfTopKTrained(queries, corpus, cents, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  val annIvfTrainedSql: String =
    s"""WITH $ivfTrainCtes,
       |ct AS (SELECT cid, list(m ORDER BY j) AS ce FROM m2 GROUP BY cid),
       |en AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |assignc AS (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT en.vec_id, en.embedding, en.nrm, ct.cid,
       |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
       |        ORDER BY ${cosECRawSql("en.embedding", "ct.ce")} DESC, ct.cid ASC) AS rn
       |    FROM en, ct) WHERE rn <= 1),
       |assignq AS (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT en.vec_id, en.embedding, en.nrm, ct.cid,
       |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
       |        ORDER BY ${cosECRawSql("en.embedding", "ct.ce")} DESC, ct.cid ASC) AS rn
       |    FROM en, ct WHERE en.vec_id < 5) WHERE rn <= 4),
       |scored AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding", "q.nrm * c.nrm")} AS cosine
       |  FROM assignq q JOIN assignc c ON q.cid = c.cid
       |  WHERE q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** SemDeDup over the trained clusters: same Lloyd chain, then a
    * within-cluster pairwise round-6 cosine threshold with min-id
    * survivor — the full train → cluster → dedup composition, restated
    * end-to-end in the oracle.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val cents = Ann.kmeansTrain(e, "vec_id", "embedding",
      iters = 2, centroidTarget = 16)
    Ann.semanticDedup(e, cents, threshold = 0.3).orderBy("vec_id")
  }

  val dedupSemanticSql: String =
    s"""WITH $ivfTrainCtes,
       |ct AS (SELECT cid, list(m ORDER BY j) AS ce FROM m2 GROUP BY cid),
       |en AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |assignc AS (
       |  SELECT vec_id, embedding, nrm, cid FROM (
       |    SELECT en.vec_id, en.embedding, en.nrm, ct.cid,
       |      ROW_NUMBER() OVER (PARTITION BY en.vec_id
       |        ORDER BY ${cosECRawSql("en.embedding", "ct.ce")} DESC, ct.cid ASC) AS rn
       |    FROM en, ct) WHERE rn = 1),
       |capped AS (
       |  SELECT * FROM assignc QUALIFY count(*) OVER (PARTITION BY cid) <= 1000),
       |dups AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM capped a JOIN capped b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding", "a.nrm * b.nrm")} >= 0.3)
       |SELECT a.vec_id, a.cid, d.vec_id IS NULL AS keep
       |FROM assignc a LEFT JOIN dups d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // ---- text quality: direct SQL restatement ---------------------------

  /** Language-ID + quality score — the stopword profiles and the argmax
    * are restated literally in the oracle (struct max ≡ Spark's
    * array_max over (score, lang) structs).
    */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
        col("doc_id"),
        TextStats.langId(col("text")).as("lang_pred"),
        TextStats.qualityScore(col("text")).as("quality"),
        round(TextStats.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextStats.stopwordRatio(col("text")), 6).as("stopword_ratio"))
      .orderBy("doc_id")

  val textQualitySql: String = {
    // the IDENTICAL profile literals the Spark plan bakes in, sorted by
    // lang key exactly like TextStats.langId's struct list; the ratio
    // CTEs and quality formula are the SAME fragments llm_clean_corpus
    // composes ([[qualityCtes]]/[[qualityExpr]])
    val profiles = TextStats.stopwords.toSeq.sortBy(_._1)
    def listLit(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ",", "]")
    val structs = profiles.map { case (l, ws) =>
      s"{'score': len(list_filter(words, w -> list_contains(${listLit(ws)}, w))), 'lang': '$l'}"
    }.mkString("[", ", ", "]")
    s"""WITH ${qualityCtes("documents")},
       |lscored AS (
       |  SELECT doc_id, punct_ratio, digit_ratio, toks, stop_ratio,
       |    list_aggregate($structs, 'max') AS best
       |  FROM qscored)
       |SELECT doc_id,
       |  CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred,
       |  $qualityExpr AS quality,
       |  round(punct_ratio, 6) AS punct_ratio,
       |  round(stop_ratio, 6) AS stopword_ratio
       |FROM lscored ORDER BY doc_id""".stripMargin
  }

  // ---- rolling-hash fingerprint: HUGEINT-emulated oracle --------------

  /** Rolling-hash fingerprints via the custom codegen'd Catalyst
    * expression. The oracle restates the polynomial hash per k-byte
    * window with HUGEINT arithmetic mod 2^64 (≡ the expression's
    * wrapping-long semantics) and reinterprets as signed before the min.
    * ASCII testdata contract: the expression hashes UTF-8 BYTES while the
    * oracle's ord()/length() see characters — identical only because the
    * documents are pure ASCII (verified; same assumption as the
    * multimodal gates).
    */
  def textRollingFp(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
        col("doc_id"),
        graft.expressions.RollingHashMin.rolling_hash_min(col("text"), 16)
          .as("rolling_fp"))
      .orderBy("doc_id")

  val textRollingFpSql: String =
    """WITH tk AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    CASE WHEN length(text) < 16
      |      THEN (CASE WHEN length(text) = 0 THEN 1 ELSE length(text) END)
      |      ELSE 16 END AS kk
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id,
      |    list_reduce([ord(substr(text, i + j, 1))::HUGEINT for j in range(0, kk)],
      |      (a, b) -> (a * 1000003::HUGEINT + b) % 18446744073709551616::HUGEINT) AS h
      |  FROM (SELECT doc_id, text, kk, unnest(range(1, n - kk + 2)) AS i FROM tk)),
      |signed AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
      |      THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS sh
      |  FROM wins)
      |SELECT tk.doc_id, coalesce(min(sh), 0) AS rolling_fp
      |FROM tk LEFT JOIN signed ON signed.doc_id = tk.doc_id
      |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin

  // ---- multimodal plumbing: byte-histogram oracle ---------------------

  /** Multimodal plumbing — text bytes as the opaque binary column, stub
    * feature extraction (16-bin byte histogram, double-divide → float)
    * through the real mapPartitions path. The oracle recomputes the
    * histogram fractions with the same DOUBLE→REAL narrowing. Byte ≡
    * char only because the documents are pure ASCII (testdata contract).
    */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    Multimodal.extractFeatures(d, "doc_id", "media")
      .select(col("doc_id"),
        round(element_at(col("features"), 1).cast("double"), 6).as("f0"),
        round(element_at(col("features"), 8).cast("double"), 6).as("f7"),
        size(col("features")).as("dim"))
      .orderBy("doc_id")
  }

  val multimodalFeaturesSql: String =
    """WITH bins AS (
      |  SELECT doc_id, ord(substr(text, i, 1)) % 16 AS bin
      |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM documents)),
      |agg AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS c0,
      |    sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS c7,
      |    count(*) AS n
      |  FROM bins GROUP BY doc_id)
      |SELECT d.doc_id,
      |  round(CAST(CAST(coalesce(CAST(c0 AS DOUBLE) / n, 0) AS REAL) AS DOUBLE), 6) AS f0,
      |  round(CAST(CAST(coalesce(CAST(c7 AS DOUBLE) / n, 0) AS REAL) AS DOUBLE), 6) AS f7,
      |  CAST(16 AS INT) AS dim
      |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Frame-sampling plumbing: n evenly-spaced byte-slices per blob
    * through the real flatMap path; the oracle recomputes each frame's
    * length and md5 from the same slice arithmetic (ASCII text ⇒ byte
    * slices ≡ substr).
    */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    Multimodal.sampleFrames(d, "doc_id", "media", n = 4)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).cast("long").as("frame_len"),
        md5(col("frame")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")
  }

  val multimodalFramesSql: String =
    """WITH f AS (
      |  SELECT doc_id, text, length(text) AS L,
      |    greatest(length(text) // 4, 1) AS step,
      |    unnest(range(0, least(4, length(text)))) AS fi
      |  FROM documents)
      |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
      |  CAST(least(step, L - fi * step) AS BIGINT) AS frame_len,
      |  md5(substr(text, fi * step + 1, least(step, L - fi * step))) AS frame_md5
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  /** Resize ("thumbnail") plumbing: binary truncation to a target byte
    * budget; the oracle mirrors the substring and digests the result
    * (ASCII testdata ⇒ byte slice ≡ substr).
    */
  def multimodalResize(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        Multimodal.resizeStub(col("text").cast("binary"), 64).as("thumb"))
      .select(col("doc_id"),
        length(col("thumb")).cast("long").as("thumb_len"),
        md5(col("thumb")).as("thumb_md5"))
      .orderBy("doc_id")

  val multimodalResizeSql: String =
    """SELECT doc_id,
      |  CAST(length(substr(text, 1, 64)) AS BIGINT) AS thumb_len,
      |  md5(substr(text, 1, 64)) AS thumb_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** REAL image decode through the production seam: planted checkerboard
    * PNGs ([[PlantedMedia.checkerPng]], one per doc_id) flow through
    * `Multimodal.extractFeatures` with the `javax.imageio`-backed
    * [[ImageIoDecoder]]. The oracle never decodes anything — the planted
    * geometry/colors are closed-form in doc_id, so dims, channel means
    * and the luminance histogram are restated as pure arithmetic (same
    * exact-int sums, one double divide, DOUBLE→REAL narrowing).
    */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val png = Tables(s, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(id => (id, PlantedMedia.checkerPng(id)))
      .toDF("doc_id", "media")
    Multimodal.extractFeatures(png, "doc_id", "media", ImageIoDecoder)
      .select(col("doc_id"),
        element_at(col("features"), 1).cast("int").as("width"),
        element_at(col("features"), 2).cast("int").as("height"),
        round(element_at(col("features"), 3).cast("double"), 6).as("mean_r"),
        round(element_at(col("features"), 4).cast("double"), 6).as("mean_g"),
        round(element_at(col("features"), 5).cast("double"), 6).as("mean_b"),
        round(element_at(col("features"), 6).cast("double"), 6).as("lum0"),
        round(element_at(col("features"), 7).cast("double"), 6).as("lum1"),
        round(element_at(col("features"), 8).cast("double"), 6).as("lum2"),
        round(element_at(col("features"), 9).cast("double"), 6).as("lum3"))
      .orderBy("doc_id")
  }

  /** na = #cells with (x+y) even = ceil(w/2)·ceil(h/2) + ⌊w/2⌋·⌊h/2⌋;
    * mean = (na·chanA + (npx−na)·chanB)/npx; each color's luminance bin
    * is min(3, ⌊((r+g+b)/3)/64⌋) and contributes its cell count to that
    * bin's fraction.
    */
  val multimodalDecodeSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    1 + doc_id % 7 AS w, 1 + doc_id % 5 AS h,
      |    doc_id % 256 AS ra, (doc_id*7) % 256 AS ga, (doc_id*13) % 256 AS ba,
      |    (doc_id*3) % 256 AS rb, (doc_id*11) % 256 AS gb, (doc_id*17) % 256 AS bb
      |  FROM documents),
      |c AS (
      |  SELECT *, ((w+1)//2)*((h+1)//2) + (w//2)*(h//2) AS na, w*h AS npx FROM p),
      |m AS (
      |  SELECT *,
      |    least(3, CAST(floor(((ra+ga+ba)/3.0)/64) AS INT)) AS bina,
      |    least(3, CAST(floor(((rb+gb+bb)/3.0)/64) AS INT)) AS binb
      |  FROM c)
      |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  round(CAST(CAST((na*ra + (npx-na)*rb) / CAST(npx AS DOUBLE) AS REAL) AS DOUBLE), 6) AS mean_r,
      |  round(CAST(CAST((na*ga + (npx-na)*gb) / CAST(npx AS DOUBLE) AS REAL) AS DOUBLE), 6) AS mean_g,
      |  round(CAST(CAST((na*ba + (npx-na)*bb) / CAST(npx AS DOUBLE) AS REAL) AS DOUBLE), 6) AS mean_b,
      |  round(CAST(CAST((CASE WHEN bina = 0 THEN na ELSE 0 END + CASE WHEN binb = 0 THEN npx-na ELSE 0 END) / CAST(npx AS DOUBLE) AS REAL) AS DOUBLE), 6) AS lum0,
      |  round(CAST(CAST((CASE WHEN bina = 1 THEN na ELSE 0 END + CASE WHEN binb = 1 THEN npx-na ELSE 0 END) / CAST(npx AS DOUBLE) AS REAL) AS DOUBLE), 6) AS lum1,
      |  round(CAST(CAST((CASE WHEN bina = 2 THEN na ELSE 0 END + CASE WHEN binb = 2 THEN npx-na ELSE 0 END) / CAST(npx AS DOUBLE) AS REAL) AS DOUBLE), 6) AS lum2,
      |  round(CAST(CAST((CASE WHEN bina = 3 THEN na ELSE 0 END + CASE WHEN binb = 3 THEN npx-na ELSE 0 END) / CAST(npx AS DOUBLE) AS REAL) AS DOUBLE), 6) AS lum3
      |FROM m ORDER BY doc_id""".stripMargin

  /** REAL audio decode through the same seam: planted mono PCM-16 WAVs
    * ([[PlantedMedia.pcmWav]]) flow through `extractFeatures` with the
    * pure-JVM [[graft.llm.WavDecoder]]. The oracle recomputes every
    * sample from (doc_id, i) arithmetic and restates mean/RMS with the
    * same exact-long sums, one double divide (+ sqrt), DOUBLE→REAL
    * narrowing. Proves the MediaDecoder seam is format-general.
    */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wav = Tables(s, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map(id => (id, PlantedMedia.pcmWav(id)))
      .toDF("doc_id", "media")
    Multimodal.extractFeatures(wav, "doc_id", "media", graft.llm.WavDecoder)
      .select(col("doc_id"),
        element_at(col("features"), 1).cast("int").as("channels"),
        element_at(col("features"), 2).cast("int").as("sample_rate"),
        element_at(col("features"), 3).cast("int").as("bits"),
        element_at(col("features"), 4).cast("int").as("n_samples"),
        round(element_at(col("features"), 5).cast("double"), 6).as("mean_amp"),
        round(element_at(col("features"), 6).cast("double"), 6).as("rms_amp"))
      .orderBy("doc_id")
  }

  val multimodalAudioSql: String =
    """WITH p AS (
      |  SELECT doc_id, 16 + doc_id % 17 AS n FROM documents),
      |s AS (
      |  SELECT doc_id, n, (doc_id*31 + i*7) % 65536 - 32768 AS v
      |  FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p)),
      |a AS (
      |  SELECT doc_id,
      |    CAST(sum(v) AS DOUBLE) AS sv, CAST(sum(v*v) AS DOUBLE) AS svv
      |  FROM s GROUP BY doc_id)
      |SELECT p.doc_id,
      |  CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
      |  CAST(16 AS INT) AS bits, CAST(n AS INT) AS n_samples,
      |  round(CAST(CAST(sv / n AS REAL) AS DOUBLE), 6) AS mean_amp,
      |  round(CAST(CAST(sqrt(svv / n) AS REAL) AS DOUBLE), 6) AS rms_amp
      |FROM p JOIN a ON a.doc_id = p.doc_id
      |ORDER BY p.doc_id""".stripMargin

  /** Incremental NEAR-dup (the probabilistic sibling of
    * `dedup_incremental`): batch = every 5th document re-crawled under a
    * new id (+10^6) with its text verbatim — so every batch doc must
    * match its corpus original at signature-estimated Jaccard 1.0,
    * giving planted non-vacuous ground truth at any scale factor. The
    * oracle restates the whole pipeline (portable md5 signatures over
    * batch ∪ corpus, banding, combined-occupancy cap, batch-anchored
    * candidates, match-fraction estimate; src derivable from the id
    * offset).
    */
  def dedupIncrementalNear(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    // The +10^6 batch-id offset is baked into the STATIC oracle SQL (it
    // derives src from `doc_id >= 1000000`), so a fixture whose corpus
    // ids reach the offset would silently change what the two sides
    // compare. Fail loudly instead: one tiny max() agg per gate run.
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    require(maxId < 1000000L,
      s"dedup_incremental_near fixture contract: max(doc_id) = $maxId must stay below the 10^6 batch-id offset hardcoded in the oracle SQL")
    val corpusSigs = Dedup.signatureTable(d, "doc_id", "text",
      numHashes = 32, shingleN = 2)
    val batch = d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.nearDupMinhashIncremental(batch, "doc_id", "text", corpusSigs,
        threshold = 0.7, numHashes = 32, bands = 8, shingleN = 2)
      .orderBy("id_a", "id_b")
  }

  val dedupIncrementalNearSql: String = {
    val mins = Dedup.minhashCoefs(32).map { case (a, b) =>
      s"min(($a * h + $b) % 2147483647)"
    }.mkString("[", ", ", "]")
    s"""WITH u AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
       |${shingleCteN(2, "u")},
       |ex AS (SELECT doc_id, unnest(shset) AS s FROM sh),
       |hs AS (
       |  SELECT doc_id,
       |    list_reduce([strpos('0123456789abcdef', substr(md5(s), j, 1)) - 1
       |                 for j in range(1, 9)], (a, b) -> a * 16 + b) AS h
       |  FROM ex),
       |sig AS (SELECT doc_id, $mins AS signature FROM hs GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, j AS band,
       |         md5(array_to_string([x::VARCHAR for x in signature[j*4+1:j*4+4]], '|')) AS bucket
       |  FROM sig, range(8) r(j)),
       |capped AS (
       |  SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.doc_id >= 1000000 AND a.doc_id <> b.doc_id
       |    AND (b.doc_id < 1000000 OR a.doc_id < b.doc_id)),
       |est AS (
       |  SELECT id_a, id_b,
       |    CAST(list_sum([CASE WHEN sa.signature[j] = sb.signature[j] THEN 1 ELSE 0 END
       |                   for j in range(1, 33)]) AS DOUBLE) / 32 AS est_jaccard
       |  FROM cand JOIN sig sa ON sa.doc_id = cand.id_a
       |            JOIN sig sb ON sb.doc_id = cand.id_b)
       |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.7
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Incremental SIMHASH near-dup (the fingerprint sibling of
    * `dedup_incremental_near`): same planted re-crawl fixture — every
    * 5th doc re-crawled verbatim under id +10^6, so each batch doc must
    * hit its corpus original at Hamming distance 0. Corpus side joins
    * in as the persisted fingerprint table; the oracle
    * restates fingerprints over batch ∪ corpus, quarter-band buckets,
    * the combined-occupancy cap, and batch-anchored candidates.
    */
  def dedupIncrementalSimhash(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    require(maxId < 1000000L,
      s"dedup_incremental_simhash fixture contract: max(doc_id) = $maxId must stay below the 10^6 batch-id offset hardcoded in the oracle SQL")
    val corpusFps = Dedup.simhash(d, "doc_id", "text")
    val batch = d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.nearDupSimhashIncremental(batch, "doc_id", "text", corpusFps,
        maxDistance = 8, maxBucket = 500)
      .orderBy("id_a", "id_b")
  }

  val dedupIncrementalSimhashSql: String =
    """WITH u AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
      |words AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS w
      |  FROM u),
      |votes AS (
      |  SELECT doc_id, i,
      |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), i // 4 + 1, 1)) - 1)
      |                   >> (i % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM words, range(64) r(i) GROUP BY doc_id, i),
      |bits AS (SELECT doc_id, i, CASE WHEN v > 0 THEN 1 ELSE 0 END AS b FROM votes),
      |bands AS (
      |  SELECT doc_id, i // 16 AS band, sum(CAST(b AS BIGINT) << (i % 16)) AS bucket
      |  FROM bits GROUP BY doc_id, i // 16),
      |capped AS (
      |  SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 500),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
      |  WHERE a.doc_id >= 1000000 AND a.doc_id <> b.doc_id
      |    AND (b.doc_id < 1000000 OR a.doc_id < b.doc_id)),
      |fp AS (SELECT doc_id, list(b ORDER BY i) AS bl FROM bits GROUP BY doc_id),
      |pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_filter(range(1, 65), j -> fa.bl[j] != fb.bl[j])) AS INT) AS distance
      |  FROM cand JOIN fp fa ON fa.doc_id = cand.id_a
      |            JOIN fp fb ON fb.doc_id = cand.id_b)
      |SELECT id_a, id_b, distance FROM pairs
      |WHERE distance <= 8 ORDER BY id_a, id_b""".stripMargin

  /** Deterministic hash split: integer-threshold membership on the
    * 32-bit md5 of the id — the oracle folds the same 8 hex digits and
    * compares against the same ⌊cum·2^32⌋ literals.
    */
  def splitAssign(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.hashSplit(
        Tables(s, dir, "documents").select(col("doc_id")),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy("doc_id")

  val splitAssignSql: String = {
    def thr(c: Double): Long =
      math.min(math.round(c * 4294967296.0), 4294967296L)
    s"""SELECT doc_id,
       |  CASE WHEN h < ${thr(0.8)} THEN 'train'
       |       WHEN h < ${thr(0.9)} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id,
       |    list_reduce([strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1
       |                 for j in range(1, 9)], (a, b) -> a * 16 + b) AS h
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** [[graft.operators.Sampling.splitStratified]]: EXACT-count
    * stratified split over (lang, source) strata — each stratum
    * contributes exactly floor(n·0.1) rows to test and floor(n·0.2) to
    * val, in portable-hash rank order. The oracle restates the
    * rank/count windows and the same floor(n·frac) cuts (identical
    * IEEE double multiply on both engines).
    */
  def splitStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.splitStratified(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source")),
        "doc_id", Seq("lang", "source"),
        Seq(("test", 0.1), ("val", 0.2), ("train", 0.7)))
      .select(col("doc_id"), col("lang"), col("source"), col("split"))
      .orderBy("doc_id")

  val splitStratifiedSql: String =
    """WITH r AS (
      |  SELECT doc_id, lang, source,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY lang, source) AS BIGINT) AS n
      |  FROM documents)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
      |  CASE WHEN rn <= CAST(floor(n * 0.1) AS BIGINT) THEN 'test'
      |       WHEN rn <= CAST(floor(n * 0.1) AS BIGINT)
      |                 + CAST(floor(n * 0.2) AS BIGINT) THEN 'val'
      |       ELSE 'train' END AS split
      |FROM r ORDER BY doc_id""".stripMargin

  /** [[graft.operators.Sampling.temporalSplit]]: per-user temporal
    * holdout over events — first ceil(80% · n) events by (ts, event_id)
    * train, the rest holdout. The oracle restates the rank/count
    * windows and the integer ceil `(n·80 + 99) // 100`.
    */
  def splitTemporal(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temporalSplit(
        Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts")),
        Seq("user_id"), "ts", tieCols = Seq("event_id"), trainPct = 80)
      .select(col("user_id"), col("event_id"), col("split"))
      .orderBy("user_id", "event_id")

  val splitTemporalSql: String =
    """WITH w AS (
      |  SELECT user_id, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id, event_id,
      |  CASE WHEN rn <= (n * 80 + 99) // 100
      |       THEN 'train' ELSE 'holdout' END AS split
      |FROM w ORDER BY user_id, event_id""".stripMargin

  /** Deterministic mixture rates over `documents` by source — upsample
    * (2.5), thin (0.4), exact epochs (1.0), explicit drop (0.0), and the
    * unlisted-domain default (0.7) all exercised; the oracle restates
    * the per-(id, epoch) hash selection integer-exactly.
    */
  def mixRates(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mixing.byRate(
        Tables(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 1.0, "src3" -> 0.0),
        defaultRate = 0.7)
      .orderBy("doc_id", "epoch")

  val mixRatesSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, source,
       |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4
       |                WHEN 'src2' THEN 1.0 WHEN 'src3' THEN 0.0
       |                ELSE 0.7 END AS rate
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, source, rate,
       |    unnest(range(0, CAST(ceil(rate) AS BIGINT))) AS epoch
       |  FROM r)
       |SELECT doc_id, source, CAST(epoch AS INT) AS epoch FROM e
       |WHERE list_reduce([strpos('0123456789abcdef',
       |        substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)), j, 1)) - 1
       |      for j in range(1, 9)], (a, b) -> a * 16 + b)
       |  < floor(least(rate - epoch, 1.0) * 4294967296.0 + 0.5)
       |ORDER BY doc_id, epoch""".stripMargin

  // ---- embedding near-dup: literal planes + full-pipeline oracle ------

  /** Embedding-cosine near-dup pairs via shared sign-projection buckets —
    * planes, skew cap, round-6 cosine threshold all restated in the
    * oracle.
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Ann.nearDupCosine(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, bits = 8)
      .orderBy("id_a", "id_b")

  val dedupEmbeddingSql: String = {
    val b = bucketSql("embedding", 8)
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm, $b AS bucket
       |  FROM embeddings),
       |capped AS (
       |  SELECT * FROM e QUALIFY count(*) OVER (PARTITION BY bucket) <= 1000),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${cosSql("a.embedding", "b.embedding", "a.nrm * b.nrm")} AS cosine
       |  FROM capped a JOIN capped b ON a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cosine FROM pairs
       |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin
  }

  // ---- contamination detection ----------------------------------------

  /** Test-set contamination with PLANTED ground truth: the eval set is
    * the first-half-word prefix of every 7th document, so each eval doc
    * is verbatim-contained in its source (a prefix's 3-gram shingles are
    * a subset of the full doc's) — containment 1.0 ≥ 0.8 guarantees a
    * non-vacuous result at any scale factor. The oracle restates the
    * whole computation via list_intersect over the same shingle sets.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val ws = split(Dedup.normalize(col("text")), " ")
    val half = greatest(floor(size(ws) / lit(2)).cast("int"), lit(1))
    val evalSet = d.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        array_join(slice(ws, lit(1), half), " ").as("text"))
    Contamination.detect(d, evalSet, "doc_id", "text", threshold = 0.8)
      .orderBy("train_id", "eval_id")
  }

  /** [[graft.llm.Contamination.flag]] over the same planted eval set —
    * the per-train-document decontamination verdict (`keep` is exactly
    * the predicate [[graft.llm.Contamination.decontaminate]] cuts on,
    * so this gate verifies the cut and its report in one).
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val ws = split(Dedup.normalize(col("text")), " ")
    val half = greatest(floor(size(ws) / lit(2)).cast("int"), lit(1))
    val evalSet = d.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        array_join(slice(ws, lit(1), half), " ").as("text"))
    Contamination.flag(d, evalSet, "doc_id", "text", threshold = 0.8)
      .orderBy("doc_id")
  }

  val contaminationSql: String =
    """WITH tnorm AS (
      |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents),
      |tsh AS (
      |  SELECT doc_id AS train_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
      |    ELSE list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]) END AS shset
      |  FROM tnorm),
      |eprefix AS (
      |  SELECT doc_id, ws[1:greatest(len(ws)//2, 1)] AS ews
      |  FROM tnorm WHERE doc_id % 7 = 0),
      |esh AS (
      |  SELECT doc_id AS eval_id, CASE WHEN len(ews) < 3 THEN [array_to_string(ews, ' ')]
      |    ELSE list_distinct([ews[i] || ' ' || ews[i+1] || ' ' || ews[i+2] for i in range(1, len(ews) - 1)]) END AS shset
      |  FROM eprefix)
      |SELECT t.train_id, e.eval_id,
      |       CAST(len(list_intersect(t.shset, e.shset)) AS DOUBLE) / len(e.shset) AS containment
      |FROM tsh t CROSS JOIN esh e
      |WHERE CAST(len(list_intersect(t.shset, e.shset)) AS DOUBLE) / len(e.shset) >= 0.8
      |ORDER BY train_id, eval_id""".stripMargin

  val decontaminateSql: String =
    s"""WITH pr AS (SELECT train_id, containment FROM ($contaminationSql)),
       |chits AS (
       |  SELECT train_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
       |    max(containment) AS max_containment
       |  FROM pr GROUP BY train_id)
       |SELECT d.doc_id,
       |  coalesce(h.n_eval_hits, CAST(0 AS BIGINT)) AS n_eval_hits,
       |  h.max_containment,
       |  (h.train_id IS NULL) AS keep
       |FROM documents d LEFT JOIN chits h ON h.train_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- incremental exact dedup ----------------------------------------

  /** Splits the fixture into an "existing corpus" (doc_id % 5 = 0) and
    * an incoming batch, then runs the daily-path operator: batch-local
    * dedup + digest anti-join against the existing set.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    Dedup.exactDedupIncremental(
        d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        Dedup.digests(d.filter(col("doc_id") % 5 === 0), "text"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val dedupIncrementalSql: String =
    s"""WITH inc AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
       |${exactDedupCte("inc")},
       |ex AS (
       |  SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS digest
       |  FROM documents WHERE doc_id % 5 = 0)
       |SELECT dd.doc_id, dd.lang, dd.source, dd.n_chars
       |FROM ddocs dd
       |LEFT JOIN ex ON ex.digest = md5(regexp_replace(trim(lower(dd.text)), '\\s+', ' ', 'g'))
       |WHERE ex.digest IS NULL
       |ORDER BY dd.doc_id""".stripMargin

  /** The Bloom tier of the same daily path (different split — corpus =
    * doc_id % 4 = 0 — so the two gates cannot share cached results):
    * corpus digests → serialized Bloom → bloom-miss rows pass narrow,
    * bloom-hit rows anti-join. The oracle is the PLAIN incremental form:
    * the bloom only routes, so the result must be identical — which is
    * exactly the property worth gating cross-engine.
    */
  def dedupIncrementalBloom(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val corpus = Dedup.digests(d.filter(col("doc_id") % 4 === 0), "text")
    val bloom = graft.operators.Bloom.build(
      corpus, col("digest"), expectedItems = 4096, fpp = 0.01)
    Dedup.exactDedupIncrementalBloom(
        d.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", corpus, bloom)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val dedupIncrementalBloomSql: String =
    s"""WITH inc AS (SELECT * FROM documents WHERE doc_id % 4 <> 0),
       |${exactDedupCte("inc")},
       |ex AS (
       |  SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS digest
       |  FROM documents WHERE doc_id % 4 = 0)
       |SELECT dd.doc_id, dd.lang, dd.source, dd.n_chars
       |FROM ddocs dd
       |LEFT JOIN ex ON ex.digest = md5(regexp_replace(trim(lower(dd.text)), '\\s+', ' ', 'g'))
       |WHERE ex.digest IS NULL
       |ORDER BY dd.doc_id""".stripMargin

  // ---- corpus composition ---------------------------------------------

  /** Per-language corpus rollup through [[graft.llm.CorpusStats]]; the
    * quality mean goes through an exact decimal(14,4) sum (qualityScore
    * is 4-decimal by construction) so it is order- and engine-stable.
    */
  def corpusComposition(s: SparkSession, dir: String): DataFrame =
    graft.llm.CorpusStats.composition(Tables(s, dir, "documents"), "lang", "text")
      .orderBy("lang")

  val corpusCompositionSql: String =
    s"""WITH ${qualityCtes("documents")}
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(CAST($qualityExpr AS DECIMAL(14,4))) AS DOUBLE) / count(*) AS avg_quality
       |FROM qscored GROUP BY lang ORDER BY lang""".stripMargin

  /** [[graft.llm.CorpusStats.datasheet]] per language — the data-card
    * row: composition plus char volume and the exact-duplicate
    * fraction the dedup stage will reclaim.
    */
  def corpusDatasheet(s: SparkSession, dir: String): DataFrame =
    CorpusStats.datasheet(Tables(s, dir, "documents"), "lang", "text")
      .orderBy("lang")

  val corpusDatasheetSql: String =
    s"""WITH ${qualityCtes("documents")}
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_chars,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(CAST($qualityExpr AS DECIMAL(14,4))) AS DOUBLE) / count(*) AS avg_quality,
       |  CAST(count(*) - count(DISTINCT
       |      md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS dup_frac
       |FROM qscored GROUP BY lang ORDER BY lang""".stripMargin

  // ---- duplicate-span profiling ---------------------------------------

  /** Per-doc duplicated-span coverage (8-word spans shared by >= 2 docs,
    * Lee-et-al-style exact substring dedup) — the fixture's real
    * cross-document repeats (~45 docs at sf0.01) are the ground truth.
    * The oracle restates the whole pipeline: positional 8-grams over the
    * normalized words, md5 span keys, distinct-doc counting, and the
    * once-per-token union of covered positions.
    */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    graft.llm.Spans.dupSpanProfile(Tables(s, dir, "documents"), "doc_id", "text",
        spanLen = 8, minDocs = 2)
      .orderBy("doc_id")

  val dupSpansSql: String = {
    val L = 8
    val gram = (0 until L).map(o => if (o == 0) "ws[i]" else s"ws[i+$o]")
      .mkString(" || ' ' || ")
    s"""WITH norm AS (
       |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, CASE WHEN array_to_string(ws, ' ') = '' THEN 0
       |    ELSE CAST(len(ws) AS INT) END AS n_tokens, ws FROM norm),
       |idx AS (
       |  SELECT doc_id, unnest(range(1, len(ws) - ${L - 2})) AS i, ws
       |  FROM base WHERE n_tokens >= $L),
       |posting AS (
       |  SELECT doc_id, CAST(i - 1 AS INT) AS pos, md5($gram) AS g FROM idx),
       |dupg AS (
       |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM posting)
       |  GROUP BY g HAVING count(*) >= 2),
       |cov0 AS (
       |  SELECT doc_id, unnest(range(pos, pos + $L)) AS t
       |  FROM posting WHERE g IN (SELECT g FROM dupg)),
       |cov AS (
       |  SELECT doc_id, CAST(count(DISTINCT t) AS INT) AS dup_tokens
       |  FROM cov0 GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tokens,
       |  coalesce(c.dup_tokens, 0) AS dup_tokens,
       |  CASE WHEN b.n_tokens = 0 THEN 0.0
       |    ELSE round(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6)
       |  END AS dup_frac
       |FROM base b LEFT JOIN cov c ON b.doc_id = c.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  /** The cut policy over the same span pipeline: normalized text with
    * every cross-doc duplicated 8-word span removed. The oracle rebuilds
    * each doc from its non-covered token positions with a filtered list
    * comprehension.
    */
  def spanTrim(s: SparkSession, dir: String): DataFrame =
    graft.llm.Spans.trimDupSpans(Tables(s, dir, "documents"), "doc_id", "text",
        spanLen = 8, minDocs = 2)
      .orderBy("doc_id")

  val spanTrimSql: String = {
    val L = 8
    val gram = (0 until L).map(o => if (o == 0) "ws[i]" else s"ws[i+$o]")
      .mkString(" || ' ' || ")
    s"""WITH norm AS (
       |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, CASE WHEN array_to_string(ws, ' ') = '' THEN 0
       |    ELSE CAST(len(ws) AS INT) END AS n_tokens, ws FROM norm),
       |idx AS (
       |  SELECT doc_id, unnest(range(1, len(ws) - ${L - 2})) AS i, ws
       |  FROM base WHERE n_tokens >= $L),
       |posting AS (
       |  SELECT doc_id, CAST(i - 1 AS INT) AS pos, md5($gram) AS g FROM idx),
       |dupg AS (
       |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM posting)
       |  GROUP BY g HAVING count(*) >= 2),
       |cov0 AS (
       |  SELECT doc_id, unnest(range(pos, pos + $L)) AS t
       |  FROM posting WHERE g IN (SELECT g FROM dupg)),
       |covl AS (
       |  SELECT doc_id, list(DISTINCT t) AS cov FROM cov0 GROUP BY doc_id)
       |SELECT b.doc_id,
       |  CASE WHEN b.n_tokens = 0 THEN ''
       |    -- coalesce: DuckDB array_to_string([]) is NULL where Spark
       |    -- array_join([]) is '' (the fully-covered-doc case)
       |    ELSE coalesce(array_to_string(
       |      [b.ws[CAST(p AS INT) + 1] FOR p IN range(0, b.n_tokens)
       |        IF c.cov IS NULL OR NOT list_contains(c.cov, p)], ' '), '')
       |  END AS text_clean
       |FROM base b LEFT JOIN covl c ON b.doc_id = c.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  /** [[graft.llm.Spans.canonicalDupSpans]]: the KEEP-FIRST exact-substring
    * policy (Lee et al.'s actual tool keeps one occurrence; `dup_spans`
    * above profiles the cut-every-copy policy) — occurrence-level window
    * counting (within-doc repeats count), the corpus-minimal
    * `(doc_id, pos)` occurrence of each distinct window exempted via the
    * zero-padded min-key, and marked windows merged into maximal
    * overlapping-or-adjacent spans. The oracle restates the whole chain:
    * positional 8-grams, md5 keys, printf occurrence keys, the count+min
    * aggregate, the running-max interval merge.
    */
  def dupSpansCanonical(s: SparkSession, dir: String): DataFrame =
    graft.llm.Spans.canonicalDupSpans(Tables(s, dir, "documents"),
        "doc_id", "text", spanLen = 8, minOcc = 2L)
      .orderBy("doc_id", "span_start")

  private def canonicalMarkedCtes(L: Int): String = {
    val gram = (0 until L).map(o => if (o == 0) "ws[i]" else s"ws[i+$o]")
      .mkString(" || ' ' || ")
    s"""norm AS (
       |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, CASE WHEN array_to_string(ws, ' ') = '' THEN 0
       |    ELSE CAST(len(ws) AS INT) END AS n_tokens, ws FROM norm),
       |idx AS (
       |  SELECT doc_id, unnest(range(1, len(ws) - ${L - 2})) AS i, ws
       |  FROM base WHERE n_tokens >= $L),
       |posting AS (
       |  SELECT doc_id, CAST(i - 1 AS INT) AS pos, md5($gram) AS g FROM idx),
       |keyed AS (
       |  SELECT *, printf('%020d|%010d', doc_id, pos) AS k FROM posting),
       |st AS (
       |  SELECT g, min(k) AS firstk FROM keyed
       |  GROUP BY g HAVING count(*) >= 2),
       |m AS (
       |  SELECT keyed.doc_id, keyed.pos FROM keyed JOIN st USING (g)
       |  WHERE keyed.k <> st.firstk)""".stripMargin
  }

  val dupSpansCanonicalSql: String = {
    val L = 8
    s"""WITH ${canonicalMarkedCtes(L)},
       |pm AS (
       |  SELECT doc_id, pos, pos + ${L - 1} AS e,
       |    max(pos + ${L - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
       |  FROM m),
       |f AS (
       |  SELECT *, CASE WHEN pe IS NULL OR pos > pe + 1 THEN 1 ELSE 0 END AS nf
       |  FROM pm),
       |grp AS (
       |  SELECT *, sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
       |  FROM f)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(e) AS BIGINT) AS span_end,
       |  CAST(count(*) AS BIGINT) AS n_windows
       |FROM grp GROUP BY doc_id, gid
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** [[graft.llm.Spans.trimDupSpansKeepFirst]]: the keep-first surgery —
    * redundant copies excised, the canonical occurrence of every
    * repeated passage retained. Same covered-position union and
    * list-comprehension rebuild as `span_trim`, over the keep-first
    * marked set.
    */
  def spanTrimKeepFirst(s: SparkSession, dir: String): DataFrame =
    graft.llm.Spans.trimDupSpansKeepFirst(Tables(s, dir, "documents"),
        "doc_id", "text", spanLen = 8, minOcc = 2L)
      .orderBy("doc_id")

  val spanTrimKeepFirstSql: String = {
    val L = 8
    s"""WITH ${canonicalMarkedCtes(L)},
       |cov0 AS (
       |  SELECT doc_id, unnest(range(pos, pos + $L)) AS t FROM m),
       |covl AS (
       |  SELECT doc_id, list(DISTINCT t) AS cov,
       |    CAST(count(DISTINCT t) AS BIGINT) AS nc
       |  FROM cov0 GROUP BY doc_id)
       |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(coalesce(c.nc, 0) AS BIGINT) AS n_removed,
       |  CASE WHEN b.n_tokens = 0 THEN ''
       |    ELSE coalesce(array_to_string(
       |      [b.ws[CAST(p AS INT) + 1] FOR p IN range(0, b.n_tokens)
       |        IF c.cov IS NULL OR NOT list_contains(c.cov, p)], ' '), '')
       |  END AS text_clean
       |FROM base b LEFT JOIN covl c ON b.doc_id = c.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  /** [[graft.operators.Sampling.splitByCluster]] over the minhash
    * cluster resolution: every doc splits by the md5 of its cluster
    * CANON, so near-duplicate families never straddle train/eval — the
    * leakage-safe split. The oracle chains the full minhash + closure
    * restatement into the integer-threshold membership of
    * `split_assign`.
    */
  def splitByCluster(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val pairs = Dedup.nearDupMinhash(docs, "doc_id", "text",
      threshold = 0.1, numHashes = 32, bands = 8, shingleN = 2)
    val clusters = Dedup.resolveClusters(pairs, docs, "doc_id")
    graft.operators.Sampling.splitByCluster(docs.select(col("doc_id")),
        "doc_id", clusters, "doc_id", "canonical_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy("doc_id")
  }

  val splitByClusterSql: String = {
    def thr(c: Double): Long =
      math.min(math.round(c * 4294967296.0), 4294967296L)
    s"""WITH RECURSIVE ${minhashCtes("documents", 0.1)},
       |$closureCtes,
       |canon AS (
       |  SELECT doc.doc_id, coalesce(comp.canon, doc.doc_id) AS split_key
       |  FROM documents doc LEFT JOIN comp ON comp.id = doc.doc_id)
       |SELECT doc_id, split_key,
       |  CASE WHEN h < ${thr(0.8)} THEN 'train'
       |       WHEN h < ${thr(0.9)} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, split_key,
       |    list_reduce([strpos('0123456789abcdef', substr(md5(CAST(split_key AS VARCHAR)), j, 1)) - 1
       |                 for j in range(1, 9)], (a, b) -> a * 16 + b) AS h
       |  FROM canon)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- stratified sampling --------------------------------------------

  /** Deterministic 3-per-language sample: the portable md5(id) order lets
    * the oracle draw the IDENTICAL rows.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratified(
        Tables(s, dir, "documents"), Seq("lang"), "doc_id", n = 3)
      .select("doc_id", "lang", "source")
      .orderBy("lang", "doc_id")

  val sampleStratifiedSql: String =
    """SELECT doc_id, lang, source FROM (
      |  SELECT doc_id, lang, source,
      |         ROW_NUMBER() OVER (PARTITION BY lang
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 3 ORDER BY lang, doc_id""".stripMargin

  // ---- count-min sketch ------------------------------------------------

  /** [[graft.llm.Sketches.cmsEstimate]] over the document tokens: the
    * 3×256 counter grid, probed for three present tokens and one absent
    * one; the oracle rebuilds the identical sketch (portable md5 row
    * hashes) and must agree on every estimate.
    */
  def cmsFrequency(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sketches.cmsEstimate(Tables(s, dir, "documents"), "text",
      probes = Seq("table", "spark", "window", "zzz_absent"),
      depth = 3, width = 256)

  val cmsFrequencySql: String = {
    val hash = (src: String) =>
      s"list_reduce([strpos('0123456789abcdef', substr(md5($src), j, 1)) - 1 " +
        s"for j in range(1, 9)], (a, x) -> a * 16 + x) % 256"
    s"""WITH toks AS (
       |  SELECT unnest(string_split(
       |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |  FROM documents),
       |t2 AS (SELECT tok FROM toks WHERE tok <> ''),
       |rows_(i) AS (SELECT unnest(range(0, 3))),
       |cells AS (
       |  SELECT i AS row, ${hash("CAST(i AS VARCHAR) || ':' || tok")} AS bucket,
       |         COUNT(*) AS n
       |  FROM t2, rows_ GROUP BY 1, 2),
       |probes(probe) AS (VALUES ('table'), ('spark'), ('window'), ('zzz_absent')),
       |pb AS (
       |  SELECT probe, i AS row,
       |         ${hash("CAST(i AS VARCHAR) || ':' || probe")} AS bucket
       |  FROM probes, rows_),
       |est AS (
       |  SELECT probe, MIN(COALESCE(c.n, 0)) AS est_n
       |  FROM pb LEFT JOIN cells c ON pb.row = c.row AND pb.bucket = c.bucket
       |  GROUP BY probe),
       |truth AS (SELECT tok, COUNT(*) AS cnt FROM t2 GROUP BY tok)
       |SELECT e.probe, COALESCE(t.cnt, 0) AS true_n, e.est_n
       |FROM est e LEFT JOIN truth t ON e.probe = t.tok
       |ORDER BY probe""".stripMargin
  }

  /** [[graft.operators.Sampling.weightedSystematic]]: 16 PPS draws over
    * documents weighted by length — the deterministic mixture-sampling
    * primitive. The oracle lays the same md5-ordered weight line with a
    * window cumsum (fine single-node; the Spark side uses the two-phase
    * offset form) and applies the identical integer odd-multiple copy
    * count, so the draw matches bit-for-bit including multiplicities.
    */
  /** [[graft.operators.Sampling.uniformByHash]]: 32 docs by smallest
    * md5(doc_id) rank — the reproducible uniform carve-out. The oracle
    * replays the same hash ordering.
    */
  def sampleUniform(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.uniformByHash(
        Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", n = 32)
      .orderBy("doc_id")

  val sampleUniformSql: String =
    """SELECT doc_id, n_chars FROM (
      |  SELECT doc_id, n_chars FROM documents
      |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 32)
      |ORDER BY doc_id""".stripMargin

  def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSystematic(
        Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", n = 16)
      .orderBy("doc_id")

  val sampleWeightedSql: String =
    """WITH o AS (
      |  SELECT doc_id, n_chars,
      |         SUM(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM documents),
      |t AS (SELECT MAX(cum) AS total FROM o),
      |c AS (
      |  SELECT doc_id, n_chars, cum, cum - n_chars AS prev, total
      |  FROM o, t)
      |-- CAST pins the published type: DuckDB widens windowed SUM to
      |-- HUGEINT and the wideness propagates through // to `copies`.
      |SELECT doc_id, n_chars, CAST(copies AS BIGINT) AS copies FROM (
      |  SELECT doc_id, n_chars,
      |    (least((32 * cum) // total, 31) + 1) // 2
      |      - (least((32 * prev) // total, 31) + 1) // 2 AS copies
      |  FROM c)
      |WHERE copies > 0 ORDER BY doc_id""".stripMargin

  // ---- product quantization -------------------------------------------

  private val PqM = 8      // subspaces
  private val PqK = 8      // codes per subspace
  private val PqSub = Dim / PqM

  /** [[graft.llm.Pq.pqTrain]] at m = 8, k = 8, 2 Lloyd rounds —
    * centroids flattened to `(sub, code, n_members, j, m)` scalar rows
    * like `ivf_train`. The oracle restates the whole per-subspace
    * chain: stride init (`code = vec_id div stride`), L2 assignment
    * with the (d2 asc, code asc) tie order, exact decimal means with
    * the portable 6-dp rounding.
    */
  def pqTrain(s: SparkSession, dir: String): DataFrame =
    Pq.pqTrain(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        m = PqM, k = PqK, iters = 2)
      .select(col("sub"), col("code"), col("n_members"),
        posexplode(col("centroid")).as(Seq("j0", "m")))
      .select(col("sub").cast("int").as("sub"), col("code").cast("int").as("code"),
        col("n_members"), (col("j0") + 1).cast("int").as("j"), col("m"))
      .orderBy("sub", "code", "j")

  /** Subspace L2: ascending-j fold of exactly-rounded per-element
    * squares — `list_reduce` folds left like the kernel's running sum
    * (the kernel's leading `0.0 +` is exact, so the sequences agree).
    */
  private def pqD2Sql(e: String, sub: String, c: String) =
    s"list_reduce([(CAST($e[$sub * $PqSub + j] AS DOUBLE) - $c[j]) * " +
      s"(CAST($e[$sub * $PqSub + j] AS DOUBLE) - $c[j]) " +
      s"for j in range(1, ${PqSub + 1})], (x, y) -> x + y)"

  /** The 2-round per-subspace Lloyd CTE chain, ending in
    * `pqm2(sub, code, j, cnt, m)` — shared by `pq_train` and `ann_pq`.
    */
  private val pqTrainCtes: String = {
    def assignCte(cents: String) =
      s"""SELECT vec_id, embedding, sub, code FROM (
         |    SELECT e.vec_id, e.embedding, c.sub, c.code,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.sub
         |        ORDER BY ${pqD2Sql("e.embedding", "c.sub", "c.ce")} ASC,
         |          c.code ASC) AS rn
         |    FROM embeddings e, $cents c) WHERE rn = 1""".stripMargin
    def meansCte(a: String) =
      s"""SELECT sub, code, j, count(*) AS cnt,
         |    floor(CAST(sum(CAST(CAST(embedding[sub * $PqSub + j] AS DOUBLE)
         |        AS DECIMAL(20,10))) AS DOUBLE)
         |      / count(*) * 1000000 + 0.5) / 1000000 AS m
         |  FROM $a, (SELECT unnest(range(1, ${PqSub + 1})) AS j)
         |  GROUP BY sub, code, j""".stripMargin
    s"""pqp AS (
       |  SELECT greatest(1, CAST(ceil(CAST(n AS DOUBLE) / $PqK) AS BIGINT)) AS stride
       |  FROM (SELECT count(*) AS n FROM embeddings)),
       |pqc0 AS (
       |  SELECT sub, CAST(vec_id // stride AS INT) AS code,
       |    [CAST(embedding[sub * $PqSub + j] AS DOUBLE)
       |     for j in range(1, ${PqSub + 1})] AS ce
       |  FROM embeddings, pqp, (SELECT unnest(range(0, $PqM)) AS sub)
       |  WHERE vec_id % stride = 0 AND vec_id // stride < $PqK),
       |pqa1 AS (${assignCte("pqc0")}),
       |pqm1 AS (${meansCte("pqa1")}),
       |pqc1 AS (SELECT sub, code, list(m ORDER BY j) AS ce
       |         FROM pqm1 GROUP BY sub, code),
       |pqa2 AS (${assignCte("pqc1")}),
       |pqm2 AS (${meansCte("pqa2")})""".stripMargin
  }

  val pqTrainSql: String =
    s"""WITH $pqTrainCtes
       |SELECT CAST(sub AS INT) AS sub, CAST(code AS INT) AS code,
       |  CAST(cnt AS BIGINT) AS n_members, CAST(j AS INT) AS j, m
       |FROM pqm2 ORDER BY sub, code, j""".stripMargin

  /** Train → encode → ADC serve: queries `vec_id < 5`, top-5 by the
    * summed table lookups. The oracle sums the per-subspace distances
    * through `list(d ORDER BY sub)` + `list_reduce` so the fold order
    * matches the engine's ascending-subspace `aggregate`.
    */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val model = Pq.pqTrain(e, "vec_id", "embedding",
      m = PqM, k = PqK, iters = 2)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Pq.pqTopK(queries, corpus, model, k = 5, m = PqM, dim = Dim)
      .orderBy("query_id", "rank")
  }

  /** ADC scoring CTEs shared by `ann_pq` and `ann_pq_refine`: encode
    * the corpus against the trained codebooks, score the `vec_id < 5`
    * queries by summed per-subspace table lookups, ending in
    * `pqranked(query_id, neighbor_id, dist2, rank)`.
    */
  private val pqAdcCtes: String =
    s"""pqct AS (SELECT sub, code, list(m ORDER BY j) AS ce
       |         FROM pqm2 GROUP BY sub, code),
       |pqcodes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT e.vec_id, c.sub, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.sub
       |        ORDER BY ${pqD2Sql("e.embedding", "c.sub", "c.ce")} ASC,
       |          c.code ASC) AS rn
       |    FROM embeddings e, pqct c) WHERE rn = 1),
       |pqscored AS (
       |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |    round(list_reduce(
       |      list(${pqD2Sql("q.embedding", "x.sub", "ct.ce")} ORDER BY x.sub),
       |      (a, b) -> a + b), 6) AS dist2
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q,
       |    pqcodes x JOIN pqct ct ON ct.sub = x.sub AND ct.code = x.code
       |  WHERE q.vec_id <> x.vec_id
       |  GROUP BY q.vec_id, x.vec_id),
       |pqranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY dist2 ASC, neighbor_id ASC) AS INT) AS rank
       |  FROM pqscored)""".stripMargin

  val annPqSql: String =
    s"""WITH $pqTrainCtes,
       |$pqAdcCtes
       |SELECT query_id, neighbor_id, dist2, rank FROM pqranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** [[Pq.pqTopKRefined]] — ADC nomination (kCand = 10) then exact
    * re-ranking of ONLY the nominated rows, k = 5. The oracle reuses
    * the full train+ADC chain, takes the rank ≤ 10 candidates, and
    * re-scores them with the exact sequential-fold squared L2.
    */
  def annPqRefine(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val model = Pq.pqTrain(e, "vec_id", "embedding",
      m = PqM, k = PqK, iters = 2)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Pq.pqTopKRefined(queries, corpus, model, k = 5, kCand = 10,
        m = PqM, dim = Dim)
      .orderBy("query_id", "rank")
  }

  val annPqRefineSql: String = {
    val d2 = s"list_reduce([(CAST(q.embedding[j] AS DOUBLE) - CAST(x.embedding[j] AS DOUBLE))" +
      s" * (CAST(q.embedding[j] AS DOUBLE) - CAST(x.embedding[j] AS DOUBLE))" +
      s" for j in range(1, ${Dim + 1})], (a, b) -> a + b)"
    s"""WITH $pqTrainCtes,
       |$pqAdcCtes,
       |cand AS (
       |  SELECT query_id, neighbor_id FROM pqranked WHERE rank <= 10),
       |refined AS (
       |  SELECT c.query_id, c.neighbor_id, round($d2, 6) AS dist2
       |  FROM cand c
       |  JOIN embeddings q ON q.vec_id = c.query_id
       |  JOIN embeddings x ON x.vec_id = c.neighbor_id),
       |rranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY dist2 ASC, neighbor_id ASC) AS INT) AS rank
       |  FROM refined)
       |SELECT query_id, neighbor_id, dist2, rank FROM rranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** The IVF × PQ composition: trained IVF lists prune the candidate
    * rows, PQ codes ADC-score them — both models from their gated
    * training chains, the whole pipeline against ONE combined oracle
    * (the two Lloyd CTE chains side by side + probe join + ADC sum).
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val ivf = Ann.kmeansTrain(e, "vec_id", "embedding",
      iters = 2, centroidTarget = 16)
    val pq = Pq.pqTrain(e, "vec_id", "embedding", m = PqM, k = PqK, iters = 2)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Pq.ivfPqTopK(queries, corpus, ivf, pq, k = 5, nprobe = 4,
        m = PqM, dim = Dim)
      .orderBy("query_id", "rank")
  }

  val annIvfPqSql: String =
    s"""WITH $ivfTrainCtes,
       |$pqTrainCtes,
       |ct AS (SELECT cid, list(m ORDER BY j) AS ce FROM m2 GROUP BY cid),
       |pqct AS (SELECT sub, code, list(m ORDER BY j) AS ce
       |         FROM pqm2 GROUP BY sub, code),
       |assignc AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, ct.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosECRawSql("e.embedding", "ct.ce")} DESC, ct.cid ASC) AS rn
       |    FROM embeddings e, ct) WHERE rn <= 1),
       |assignq AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, ct.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosECRawSql("e.embedding", "ct.ce")} DESC, ct.cid ASC) AS rn
       |    FROM embeddings e, ct WHERE e.vec_id < 5) WHERE rn <= 4),
       |pqcodes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT e.vec_id, c.sub, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.sub
       |        ORDER BY ${pqD2Sql("e.embedding", "c.sub", "c.ce")} ASC,
       |          c.code ASC) AS rn
       |    FROM embeddings e, pqct c) WHERE rn = 1),
       |scored AS (
       |  SELECT q.vec_id AS query_id, cv.vec_id AS neighbor_id,
       |    round(list_reduce(
       |      list(${pqD2Sql("q.embedding", "x.sub", "ct2.ce")} ORDER BY x.sub),
       |      (a, b) -> a + b), 6) AS dist2
       |  FROM assignq q
       |  JOIN assignc cv ON q.cid = cv.cid
       |  JOIN pqcodes x ON x.vec_id = cv.vec_id
       |  JOIN pqct ct2 ON ct2.sub = x.sub AND ct2.code = x.code
       |  WHERE q.vec_id <> cv.vec_id
       |  GROUP BY q.vec_id, cv.vec_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY dist2 ASC, neighbor_id ASC) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, dist2, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pq_train"            -> (pqTrain _),
    "ann_pq"              -> (annPq _),
    "ann_pq_refine"       -> (annPqRefine _),
    "ann_ivf_pq"          -> (annIvfPq _),
    "cms_frequency"       -> (cmsFrequency _),
    "sample_weighted"     -> (sampleWeighted _),
    "sample_uniform"      -> (sampleUniform _),
    "contamination"       -> (contamination _),
    "decontaminate"       -> (decontaminate _),
    "sample_stratified"   -> (sampleStratified _),
    "dedup_embedding"     -> (dedupEmbedding _),
    "dedup_exact"         -> (dedupExact _),
    "text_stats"          -> (textStats _),
    "mojibake_scan"       -> (mojibakeScan _),
    "ann_topk"            -> (annTopK _),
    "dedup_minhash"       -> (dedupMinhash _),
    "dedup_clusters"      -> (dedupClusters _),
    "dedup_keep_best"     -> (dedupKeepBest _),
    "llm_clean_corpus"    -> (llmCleanCorpus _),
    "llm_budget_corpus"   -> (llmBudgetCorpus _),
    "llm_training_blocks" -> (llmTrainingBlocks _),
    "corpus_composition"  -> (corpusComposition _),
    "corpus_datasheet"    -> (corpusDatasheet _),
    "dedup_incremental"   -> (dedupIncremental _),
    "dedup_incremental_bloom" -> (dedupIncrementalBloom _),
    "dedup_incremental_near" -> (dedupIncrementalNear _),
    "dedup_incremental_simhash" -> (dedupIncrementalSimhash _),
    "split_assign"        -> (splitAssign _),
    "split_by_cluster"    -> (splitByCluster _),
    "split_temporal"      -> (splitTemporal _),
    "split_stratified"    -> (splitStratified _),
    "mix_rates"           -> (mixRates _),
    "dup_spans"           -> (dupSpans _),
    "span_trim"           -> (spanTrim _),
    "dup_spans_canonical" -> (dupSpansCanonical _),
    "span_trim_keepfirst" -> (spanTrimKeepFirst _),
    "dedup_jaccard"       -> (dedupJaccard _),
    "dedup_audit"         -> (dedupAudit _),
    "dedup_simhash"       -> (dedupSimhash _),
    "ann_lsh"             -> (annLsh _),
    "ann_ivf"             -> (annIvf _),
    "ann_recall_lsh"      -> (annRecallLsh _),
    "ann_recall_audit"    -> (annRecallAudit _),
    "ivf_train"           -> (ivfTrain _),
    "ann_ivf_trained"     -> (annIvfTrained _),
    "dedup_semantic"      -> (dedupSemantic _),
    "text_quality"        -> (textQuality _),
    "text_rolling_fp"     -> (textRollingFp _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_frames"   -> (multimodalFrames _),
    "multimodal_resize"   -> (multimodalResize _),
    "multimodal_decode"   -> (multimodalDecode _),
    "multimodal_audio"    -> (multimodalAudio _))

  val oracleSql: Map[String, String] = Map(
    "pq_train"            -> pqTrainSql,
    "ann_pq"              -> annPqSql,
    "ann_pq_refine"       -> annPqRefineSql,
    "ann_ivf_pq"          -> annIvfPqSql,
    "cms_frequency"       -> cmsFrequencySql,
    "sample_weighted"     -> sampleWeightedSql,
    "sample_uniform"      -> sampleUniformSql,
    "contamination"       -> contaminationSql,
    "decontaminate"       -> decontaminateSql,
    "sample_stratified"   -> sampleStratifiedSql,
    "dedup_exact"         -> dedupExactSql,
    "text_stats"          -> textStatsSql,
    "mojibake_scan"       -> mojibakeScanSql,
    "ann_topk"            -> annTopKSql,
    "dedup_minhash"       -> dedupMinhashSql,
    "dedup_clusters"      -> dedupClustersSql,
    "dedup_keep_best"     -> dedupKeepBestSql,
    "llm_clean_corpus"    -> llmCleanCorpusSql,
    "llm_budget_corpus"   -> llmBudgetCorpusSql,
    "llm_training_blocks" -> llmTrainingBlocksSql,
    "corpus_composition"  -> corpusCompositionSql,
    "corpus_datasheet"    -> corpusDatasheetSql,
    "dedup_incremental"   -> dedupIncrementalSql,
    "dedup_incremental_bloom" -> dedupIncrementalBloomSql,
    "dedup_incremental_near" -> dedupIncrementalNearSql,
    "dedup_incremental_simhash" -> dedupIncrementalSimhashSql,
    "split_assign"        -> splitAssignSql,
    "split_by_cluster"    -> splitByClusterSql,
    "split_temporal"      -> splitTemporalSql,
    "split_stratified"    -> splitStratifiedSql,
    "mix_rates"           -> mixRatesSql,
    "dup_spans"           -> dupSpansSql,
    "span_trim"           -> spanTrimSql,
    "dup_spans_canonical" -> dupSpansCanonicalSql,
    "span_trim_keepfirst" -> spanTrimKeepFirstSql,
    "dedup_jaccard"       -> dedupJaccardSql,
    "dedup_audit"         -> dedupAuditSql,
    "dedup_simhash"       -> dedupSimhashSql,
    "ann_lsh"             -> annLshSql,
    "ann_ivf"             -> annIvfSql,
    "ann_recall_lsh"      -> annRecallLshSql,
    "ann_recall_audit"    -> annRecallAuditSql,
    "ivf_train"           -> ivfTrainSql,
    "ann_ivf_trained"     -> annIvfTrainedSql,
    "dedup_semantic"      -> dedupSemanticSql,
    "text_quality"        -> textQualitySql,
    "text_rolling_fp"     -> textRollingFpSql,
    "multimodal_features" -> multimodalFeaturesSql,
    "multimodal_frames"   -> multimodalFramesSql,
    "multimodal_resize"   -> multimodalResizeSql,
    "multimodal_decode"   -> multimodalDecodeSql,
    "multimodal_audio"    -> multimodalAudioSql,
    "dedup_embedding"     -> dedupEmbeddingSql)
}
