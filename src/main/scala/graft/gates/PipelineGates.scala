package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.{Chunking, Dedup, Keywords, Privacy, Repetition}
import graft.operators.Sharding

/** Correctness gates for the pipeline-output operators (PII scrub,
  * repetition filters, chunking, sharding, keywords) over
  * `documents.parquet`. Same contract as [[LlmGates]]: every gate
  * carries a full DuckDB oracle restating the ENTIRE computation;
  * portable hash/score forms (md5 shard fold, linear-IDF score) keep
  * the comparison bitwise, per the FP parity rules in LlmGates' header.
  */
object PipelineGates {

  private val NormWs =
    "string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')"

  /** md5-hex-fold shard id over `idExpr` — the SQL restatement of
    * [[Sharding.shardId]], shared by every gate that shards
    * (here and the composed LlmGates trainer-handoff oracle).
    */
  private[gates] def shardFoldSql(idExpr: String, nShards: Int): String =
    s"CAST(list_reduce([strpos('0123456789abcdef', substr(md5(CAST($idExpr AS VARCHAR)), j, 1)) - 1 " +
      s"for j in range(1, 9)], (a, b) -> a * 16 + b) % $nShards AS INT)"

  /** The packing CTE chain over `src(doc_id, text)` ending in
    * `pe(shard, doc_id, doc_offset, t, block_id)` — the SQL restatement
    * of [[graft.llm.Packing.blocks]] (empty-doc filter included).
    */
  private[gates] def packCtesSql(src: String, blockSize: Int, nShards: Int): String =
    s"""pnorm AS (
       |  SELECT doc_id, CAST(len($NormWs) AS BIGINT) AS t,
       |    ${shardFoldSql("doc_id", nShards)} AS shard
       |  FROM $src WHERE text IS NOT NULL AND trim(text) <> ''),
       |poff AS (
       |  SELECT shard, doc_id, t,
       |    CAST(coalesce(sum(t) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS doc_offset
       |  FROM pnorm),
       |pe AS (
       |  SELECT shard, doc_id, doc_offset, t,
       |    unnest(range(doc_offset // $blockSize, (doc_offset + t - 1) // $blockSize + 1)) AS block_id
       |  FROM poff)""".stripMargin

  // ---- PII detect / redact --------------------------------------------

  /** The synthetic corpus carries no PII, so the gate PLANTS it
    * deterministically (doc_id % 3 picks the flavor) on both sides —
    * exercising hits, multi-category rows, and clean rows — then
    * verifies counts and the md5 of the redacted text.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val id = col("doc_id")
    val aug = when(id % 3 === 0,
        concat(col("text"), lit(" reach user"), id.cast("string"),
          lit("@mail.example.com ok")))
      .when(id % 3 === 1,
        concat(col("text"), lit(" call 555-010-"),
          lpad(pmod(id, lit(10000)).cast("string"), 4, "0"),
          lit(" from 10."), pmod(id, lit(256)).cast("string"),
          lit(".0."), pmod(id * 7, lit(256)).cast("string"), lit(" now")))
      .otherwise(col("text"))
    d.select(id,
        Privacy.countEmails(aug).as("n_emails"),
        Privacy.countPhones(aug).as("n_phones"),
        Privacy.countIpv4(aug).as("n_ips"),
        Privacy.hasPii(aug).as("has_pii"),
        md5(Privacy.redact(aug)).as("redacted_md5"))
      .orderBy("doc_id")
  }

  val piiRedactSql: String = {
    // runtime regex values carry single backslashes; DuckDB single-quoted
    // strings pass them through unprocessed, so no re-escaping is needed.
    val email = Privacy.emailRe
    val ip = Privacy.ipv4Re
    val phone = Privacy.phoneRe
    s"""WITH aug AS (
       |  SELECT doc_id, CASE
       |    WHEN doc_id % 3 = 0 THEN text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com ok'
       |    WHEN doc_id % 3 = 1 THEN text || ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id * 7 % 256 AS VARCHAR) || ' now'
       |    ELSE text END AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$email')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$phone')) AS INT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '$ip')) AS INT) AS n_ips,
       |  (len(regexp_extract_all(t, '$email')) + len(regexp_extract_all(t, '$ip'))
       |     + len(regexp_extract_all(t, '$phone'))) > 0 AS has_pii,
       |  md5(regexp_replace(regexp_replace(regexp_replace(t,
       |    '$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'), '$phone', '[PHONE]', 'g')) AS redacted_md5
       |FROM aug ORDER BY doc_id""".stripMargin
  }

  // ---- repetition quality metrics -------------------------------------

  def qualityRepetition(s: SparkSession, dir: String): DataFrame =
    Repetition.profile(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  val qualityRepetitionSql: String =
    s"""WITH norm AS (
       |  SELECT doc_id, text, $NormWs AS ws FROM documents),
       |per AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE CAST(len(ws) AS INT) END AS n_words,
       |    round(CASE WHEN text IS NULL OR trim(text) = '' THEN 0.0
       |      ELSE CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) END, 6) AS uniq_word_frac,
       |    ws FROM norm),
       |cnt AS (
       |  SELECT doc_id, g, count(*) AS c FROM (
       |    SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g
       |    FROM per) GROUP BY doc_id, g),
       |top AS (
       |  SELECT doc_id, max(c) AS top_bigram_cnt, CAST(sum(c) AS BIGINT) AS n_bigrams
       |  FROM cnt GROUP BY doc_id)
       |SELECT p.doc_id, p.n_words, p.uniq_word_frac,
       |  coalesce(t.n_bigrams, 0) AS n_bigrams,
       |  coalesce(t.top_bigram_cnt, 0) AS top_bigram_cnt,
       |  round(CASE WHEN coalesce(t.n_bigrams, 0) = 0 THEN 0.0
       |    ELSE CAST(t.top_bigram_cnt AS DOUBLE) / t.n_bigrams END, 6) AS top_bigram_frac,
       |  (p.n_words >= 2 AND
       |   (round(CASE WHEN coalesce(t.n_bigrams, 0) = 0 THEN 0.0
       |      ELSE CAST(t.top_bigram_cnt AS DOUBLE) / t.n_bigrams END, 6) > 0.2
       |    OR p.uniq_word_frac < 0.3)) AS repetitive
       |FROM per p LEFT JOIN top t USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- fixed-window chunking ------------------------------------------

  private val ChunkW = 64
  private val ChunkS = 48

  def chunkDocuments(s: SparkSession, dir: String): DataFrame =
    Chunking.chunk(Tables(s, dir, "documents"), "doc_id", "text", ChunkW, ChunkS)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  val chunkDocumentsSql: String =
    s"""WITH norm AS (
       |  SELECT doc_id, $NormWs AS ws FROM documents
       |  WHERE text IS NOT NULL AND trim(text) <> ''),
       |n AS (
       |  SELECT doc_id, ws, CASE WHEN len(ws) <= $ChunkW THEN 1
       |    ELSE CAST(ceil(CAST(len(ws) - $ChunkW AS DOUBLE) / $ChunkS) AS BIGINT) + 1 END AS nc
       |  FROM norm),
       |e AS (SELECT doc_id, ws, unnest(range(nc)) AS i FROM n)
       |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       |  CAST(len(ws[i * $ChunkS + 1 : i * $ChunkS + $ChunkW]) AS INT) AS n_tokens,
       |  md5(array_to_string(ws[i * $ChunkS + 1 : i * $ChunkS + $ChunkW], ' ')) AS chunk_md5
       |FROM e ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- chunk-level dedup cut policy -----------------------------------

  private val TrimW = 48

  def chunkTrim(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    Dedup.chunkTrim(docs,
        Chunking.fixedWidth(docs, "doc_id", "text", TrimW), "doc_id", "text")
      .orderBy("doc_id")
  }

  val chunkTrimSql: String =
    s"""WITH ch AS (
       |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       |    substring(text, CAST(i * $TrimW + 1 AS INT), $TrimW) AS chunk_text
       |  FROM (SELECT doc_id, text,
       |          unnest(range(CAST(ceil(len(text) / CAST($TrimW AS DOUBLE)) AS BIGINT))) AS i
       |        FROM documents WHERE text IS NOT NULL AND len(text) > 0)),
       |shared AS (
       |  SELECT chunk_text FROM ch GROUP BY chunk_text
       |  HAVING count(DISTINCT doc_id) >= 2),
       |agg AS (
       |  SELECT c.doc_id, count(*) AS n_chunks,
       |    sum(CASE WHEN s.chunk_text IS NOT NULL THEN 1 ELSE 0 END) AS n_dropped,
       |    string_agg(CASE WHEN s.chunk_text IS NULL THEN c.chunk_text END,
       |               '' ORDER BY c.chunk_idx) AS text_clean
       |  FROM ch c LEFT JOIN shared s USING (chunk_text)
       |  GROUP BY c.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
       |  CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped,
       |  coalesce(a.text_clean, '') AS text_clean
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- deterministic sharding -----------------------------------------

  private val NShards = 16

  def shardAssign(s: SparkSession, dir: String): DataFrame =
    Sharding.profile(Tables(s, dir, "documents"), "doc_id", col("n_chars"),
        NShards)
      .orderBy("shard")

  val shardAssignSql: String =
    s"""SELECT sh AS shard, count(*) AS n_rows,
       |  CAST(sum(n_chars) AS BIGINT) AS weight,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM (SELECT doc_id, n_chars, ${shardFoldSql("doc_id", NShards)} AS sh
       |      FROM documents)
       |GROUP BY sh ORDER BY shard""".stripMargin

  /** [[Sharding.epochOrder]] over two epochs of the corpus: id-stable
    * shards, an epoch-salted portable-hash permutation within each
    * (shard, epoch) stream — different each epoch, identical on rerun.
    */
  def epochOrder(s: SparkSession, dir: String): DataFrame =
    Sharding.epochOrder(
        Tables(s, dir, "documents").select(col("doc_id"),
          explode(array(lit(0), lit(1))).as("epoch")),
        "doc_id", "epoch", nShards = 4)
      .select(col("doc_id"), col("epoch"), col("shard"), col("seq"))
      .orderBy("shard", "epoch", "seq")

  val epochOrderSql: String =
    s"""WITH de AS (
       |  SELECT doc_id, CAST(unnest(range(0, 2)) AS INT) AS epoch
       |  FROM documents),
       |sk AS (
       |  SELECT doc_id, epoch, ${shardFoldSql("doc_id", 4)} AS shard,
       |    list_reduce([strpos('0123456789abcdef',
       |        substr(md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), j, 1)) - 1
       |      for j in range(1, 9)], (a, b) -> a * 16 + b) AS k
       |  FROM de)
       |SELECT doc_id, epoch, shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard, epoch
       |    ORDER BY k, doc_id) AS INT) AS seq
       |FROM sk ORDER BY shard, epoch, seq""".stripMargin

  /** [[Sharding.curriculumOrder]] over the same two epochs with a
    * 3-band length tier (coarse difficulty proxy): within (shard,
    * epoch) the stream runs easy-to-hard by band, salted-hash shuffled
    * within each band.
    */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame =
    Sharding.curriculumOrder(
        Tables(s, dir, "documents").select(col("doc_id"),
          explode(array(lit(0), lit(1))).as("epoch"),
          when(col("n_chars") < 300, 0)
            .when(col("n_chars") < 600, 1).otherwise(2).as("tier")),
        "doc_id", "epoch", "tier", nShards = 4)
      .select(col("doc_id"), col("epoch"), col("tier"), col("shard"),
        col("seq"))
      .orderBy("shard", "epoch", "seq")

  val curriculumOrderSql: String =
    s"""WITH de AS (
       |  SELECT doc_id, CAST(unnest(range(0, 2)) AS INT) AS epoch,
       |    CAST(CASE WHEN n_chars < 300 THEN 0
       |      WHEN n_chars < 600 THEN 1 ELSE 2 END AS INT) AS tier
       |  FROM documents),
       |sk AS (
       |  SELECT doc_id, epoch, tier, ${shardFoldSql("doc_id", 4)} AS shard,
       |    list_reduce([strpos('0123456789abcdef',
       |        substr(md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), j, 1)) - 1
       |      for j in range(1, 9)], (a, b) -> a * 16 + b) AS k
       |  FROM de)
       |SELECT doc_id, epoch, tier, shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard, epoch
       |    ORDER BY tier, k, doc_id) AS INT) AS seq
       |FROM sk ORDER BY shard, epoch, seq""".stripMargin

  // ---- concat-and-split training-block packing ------------------------

  private val BlockB = 256
  private val PackShards = 8

  def packBlocks(s: SparkSession, dir: String): DataFrame =
    graft.llm.Packing.blocks(Tables(s, dir, "documents"), "doc_id", "text",
        blockSize = BlockB, nShards = PackShards)
      .orderBy("shard", "block_id", "doc_id")

  val packBlocksSql: String =
    s"""WITH ${packCtesSql("documents", BlockB, PackShards)}
       |SELECT shard, block_id, doc_id, doc_offset,
       |  CAST(least(doc_offset + t, (block_id + 1) * $BlockB)
       |     - greatest(doc_offset, block_id * $BlockB) AS BIGINT) AS tokens_in_block
       |FROM pe ORDER BY shard, block_id, doc_id""".stripMargin

  // ---- boilerplate line removal ---------------------------------------

  /** The fixture is single-line text, so the gate PLANTS multi-line
    * boilerplate deterministically (same trick as [[piiRedact]]): a
    * newsletter line on every even doc, a rights line on every third,
    * one rare footer — then strips lines shared by ≥ 50 documents and
    * verifies the cleaned text and kept-line counts.
    */
  def boilerplateLines(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val id = col("doc_id")
    val aug = d.select(id, concat(col("text"),
      when(id % 2 === 0, lit("\nsubscribe to our newsletter today")).otherwise(lit("")),
      when(id % 3 === 0, lit("\nall rights reserved")).otherwise(lit("")),
      when(id === 7, lit("\na rare unique footer")).otherwise(lit(""))).as("text"))
    graft.llm.Boilerplate.removeFrequentLines(aug, "doc_id", "text", minDocs = 50)
      .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
        col("n_lines_kept"))
      .orderBy("doc_id")
  }

  val boilerplateLinesSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END
       |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END
       |    || CASE WHEN doc_id = 7 THEN chr(10) || 'a rare unique footer' ELSE '' END AS t
       |  FROM documents),
       |ls AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM aug),
       |li AS (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS pos FROM ls),
       |l AS (SELECT doc_id, pos, ls[pos] AS line FROM li),
       |freq AS (
       |  SELECT line FROM (SELECT DISTINCT doc_id, line FROM l)
       |  GROUP BY line HAVING count(*) >= 50),
       |kept AS (
       |  SELECT l.doc_id, l.pos, l.line FROM l
       |  LEFT JOIN freq f ON f.line = l.line WHERE f.line IS NULL)
       |SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5,
       |  count(*) AS n_lines_kept
       |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- global top-k n-grams -------------------------------------------

  def ngramTopk(s: SparkSession, dir: String): DataFrame =
    graft.llm.CorpusStats.topNgrams(Tables(s, dir, "documents"), "text",
      n = 2, k = 50)

  /** The comprehension mirrors [[graft.llm.Dedup.shingles]] exactly:
    * non-distinct bigrams, whole text as one gram under 2 words.
    */
  val ngramTopkSql: String =
    s"""WITH norm AS (SELECT $NormWs AS ws FROM documents),
       |g AS (
       |  SELECT CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
       |    ELSE [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] END AS grams
       |  FROM norm),
       |e AS (SELECT unnest(grams) AS gram FROM g)
       |SELECT gram, count(*) AS occurrences FROM e
       |GROUP BY gram ORDER BY occurrences DESC, gram ASC LIMIT 50""".stripMargin

  // ---- int8 embedding quantization ------------------------------------

  def embedQuantize(s: SparkSession, dir: String): DataFrame =
    graft.llm.Embeddings.quantizeInt8(Tables(s, dir, "embeddings"), "embedding")
      .select(col("vec_id"), col("scale"),
        array_join(transform(col("qvec"), q => q.cast("string")), ",").as("qcsv"))
      .orderBy("vec_id")

  val embedQuantizeSql: String =
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
       |  FROM embeddings),
       |sc AS (
       |  SELECT vec_id, dv, CASE WHEN m = 0 THEN 0.0 ELSE 127.0 / m END AS scale
       |  FROM v)
       |SELECT vec_id, scale,
       |  array_to_string(list_transform(dv,
       |    x -> CAST(floor(x * scale + 0.5) AS INT)), ',') AS qcsv
       |FROM sc ORDER BY vec_id""".stripMargin

  // ---- TF-IDF top-k keywords ------------------------------------------

  def tfidfTopK(s: SparkSession, dir: String): DataFrame =
    Keywords.tfidfTopK(Tables(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  val tfidfTopKSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest($NormWs) AS term FROM documents),
       |ft AS (SELECT doc_id, term FROM terms WHERE len(term) >= 3),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM ft GROUP BY doc_id, term),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term
       |        HAVING count(*) < (SELECT count(*) FROM documents)),
       |s AS (
       |  SELECT t.doc_id, t.term, t.tf, d.df,
       |    t.tf * (CAST((SELECT count(*) FROM documents) AS DOUBLE) / d.df) AS score
       |  FROM tf t JOIN dfq d USING (term)),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, df ASC, term ASC) AS rn FROM s)
       |SELECT doc_id, CAST(rn AS INT) AS rank, term, tf, df, score
       |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---- BM25 top-k retrieval -------------------------------------------

  private val Bm25Terms = Seq("join", "window", "shuffle") // "shuffle" is
  // absent from the corpus vocabulary — exercises the df = 0 path

  /** [[graft.llm.Search.bm25TopK]] over documents; the oracle restates
    * the rational-idf BM25 arithmetic with the same parenthesization so
    * the double scores match bitwise (all inputs reach the expression as
    * integer counts — see Search's header).
    */
  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    graft.llm.Search.bm25TopK(Tables(s, dir, "documents"), "doc_id", "text",
      Bm25Terms, k = 25)

  val bm25TopKSql: String = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CASE WHEN text IS NULL OR trim(text) = '' THEN 0 " +
        s"ELSE len(list_filter($NormWs, x -> x = '$t')) END AS tf$i"
    }.mkString(",\n    ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(", ")
    // per-term contribution, parenthesized exactly as the Spark tree:
    // (idf) * ((tf*(k1+1)) / (tf + k1*(1 - b + b*(dl/avgdl))))
    val contribs = Bm25Terms.indices.map { i =>
      s"(CAST(s.n AS DOUBLE) - CAST(s.df$i AS DOUBLE) + 0.5) / (CAST(s.df$i AS DOUBLE) + 0.5)" +
        s" * ((CAST(t.tf$i AS DOUBLE) * (1.2 + 1.0)) / (CAST(t.tf$i AS DOUBLE)" +
        s" + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(t.dl AS DOUBLE) / (CAST(s.sdl AS DOUBLE) / CAST(s.n AS DOUBLE))))))"
    }.mkString("\n    + ")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
       |         ELSE len($NormWs) END AS dl,
       |    $tfCols
       |  FROM documents),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl,
       |    $dfCols
       |  FROM tok),
       |sc AS (
       |  SELECT t.doc_id, CAST(t.dl AS BIGINT) AS dl,
       |    $contribs AS score
       |  FROM tok t CROSS JOIN st s)
       |SELECT doc_id, dl, score FROM sc WHERE score > 0.0
       |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin
  }

  // ---- hybrid retrieval (RRF over BM25 + cosine arms) -----------------

  /** Deterministic literal query embedding (exact-decimal components, so
    * the text literal parses to the identical double in both engines). */
  private val HybridQueryVec: Seq[Double] =
    Seq.tabulate(64)(i => ((i * 37) % 19 - 9) / 10.0)

  /** [[graft.llm.Search.hybridTopK]]: BM25 over `documents` fused with
    * cosine over `embeddings` (vec_id ≡ doc_id in the testdata contract)
    * by reciprocal-rank fusion. The oracle restates both arms — the
    * shared BM25 CTE arithmetic and [[LlmGates]]' round-6 clamped cosine
    * — ranks them identically, and fuses with the same
    * lexical-then-vector addition order.
    */
  def hybridSearch(s: SparkSession, dir: String): DataFrame =
    graft.llm.Search.hybridTopK(
      Tables(s, dir, "documents"), Tables(s, dir, "embeddings"),
      "doc_id", "text", "vec_id", "embedding",
      Bm25Terms, HybridQueryVec, k = 25, kEach = 50)

  val hybridSearchSql: String = {
    val qvLit = HybridQueryVec
      .map(d => s"CAST($d AS DOUBLE)").mkString("[", ", ", "]")
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CASE WHEN text IS NULL OR trim(text) = '' THEN 0 " +
        s"ELSE len(list_filter($NormWs, x -> x = '$t')) END AS tf$i"
    }.mkString(",\n    ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(", ")
    val contribs = Bm25Terms.indices.map { i =>
      s"(CAST(s.n AS DOUBLE) - CAST(s.df$i AS DOUBLE) + 0.5) / (CAST(s.df$i AS DOUBLE) + 0.5)" +
        s" * ((CAST(t.tf$i AS DOUBLE) * (1.2 + 1.0)) / (CAST(t.tf$i AS DOUBLE)" +
        s" + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(t.dl AS DOUBLE) / (CAST(s.sdl AS DOUBLE) / CAST(s.n AS DOUBLE))))))"
    }.mkString("\n    + ")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
       |         ELSE len($NormWs) END AS dl,
       |    $tfCols
       |  FROM documents),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl,
       |    $dfCols
       |  FROM tok),
       |sc AS (
       |  SELECT t.doc_id,
       |    $contribs AS score
       |  FROM tok t CROSS JOIN st s),
       |lex0 AS (
       |  SELECT doc_id, score FROM sc WHERE score > 0.0
       |  ORDER BY score DESC, doc_id LIMIT 50),
       |lex AS (
       |  SELECT doc_id, CAST(row_number() OVER (
       |    ORDER BY score DESC, doc_id) AS INT) AS lex_rank
       |  FROM lex0),
       |vq AS (SELECT $qvLit AS qv),
       |vec0 AS (
       |  SELECT e.vec_id,
       |    ${LlmGates.cosSql("e.embedding", "qv",
             s"${LlmGates.normSql("e.embedding")} * ${LlmGates.normSql("qv")}")} AS cosine
       |  FROM embeddings e CROSS JOIN vq
       |  ORDER BY cosine DESC, vec_id LIMIT 50),
       |vec AS (
       |  SELECT vec_id, CAST(row_number() OVER (
       |    ORDER BY cosine DESC, vec_id) AS INT) AS vec_rank
       |  FROM vec0),
       |fused AS (
       |  SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id, l.lex_rank, v.vec_rank,
       |    COALESCE(1.0 / (60.0 + CAST(l.lex_rank AS DOUBLE)), 0.0)
       |      + COALESCE(1.0 / (60.0 + CAST(v.vec_rank AS DOUBLE)), 0.0) AS rrf
       |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.vec_id)
       |SELECT doc_id, lex_rank, vec_rank, rrf FROM fused
       |ORDER BY rrf DESC, doc_id LIMIT 25""".stripMargin
  }

  // ---- Unicode normalization (custom codegen'd expression) ------------

  /** [[graft.expressions.UnicodeNormalize]] against DuckDB's native
    * `strip_accents`/`nfc_normalize`. The fixture corpus is ASCII, so the
    * gate PLANTS accents deterministically: text is reduced to a
    * controlled [a-z space] alphabet, then vowels/c are translated to
    * precomposed accented forms; a decomposed "Café|" prefix
    * exercises NFC composition. The alphabet is restricted on purpose —
    * for characters whose accent is not an NFD combining mark (ø, đ)
    * DuckDB's lookup-table `strip_accents` and Unicode-faithful
    * mark-stripping legitimately differ, and the operator's scaladoc
    * owns that boundary.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val src = translate(
      lower(regexp_replace(substring(col("text"), 1, 40), "[^a-zA-Z ]", "")),
      "aeiouc", "áèîõüç")
    Tables(s, dir, "documents").select(
      col("doc_id"), src.as("src"),
      graft.expressions.UnicodeNormalize.strip_accents(src).as("stripped"),
      graft.expressions.UnicodeNormalize.unicode_nfc(
        concat(lit("Café|"), src)).as("composed"))
      .orderBy("doc_id")
  }

  val textNormalizeSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    translate(lower(regexp_replace(substr(text, 1, 40), '[^a-zA-Z ]', '', 'g')),
      |      'aeiouc', 'áèîõüç') AS src
      |  FROM documents)
      |SELECT doc_id, src, strip_accents(src) AS stripped,
      |  nfc_normalize('Cafe' || chr(769) || '|' || src) AS composed
      |FROM t ORDER BY doc_id""".stripMargin

  // ---- unigram LM scoring (perplexity-proxy quality bands) ------------

  /** [[graft.llm.LmScore]] self-trained over the corpus; band thresholds
    * bracket the corpus's MITF quartiles (~30) so all three bands are
    * populated at gate scale. The oracle restates the whole chain —
    * tokenize → tf → unigram counts → quantized-decimal sum → score —
    * in the same exactly-rounded steps (see LmScore's header for why
    * every step is engine-portable).
    */
  def lmScore(s: SparkSession, dir: String): DataFrame =
    graft.llm.LmScore.band(
        graft.llm.LmScore.score(Tables(s, dir, "documents"), "doc_id", "text"),
        lo = 30.0, hi = 31.0)
      .orderBy("doc_id")

  val lmScoreSql: String =
    s"""WITH tok2 AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest($NormWs) AS term FROM documents)
       |  WHERE term <> ''),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
       |model AS (SELECT term, count(*) AS c FROM tok2 GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM tok2),
       |contrib AS (
       |  -- VARCHAR-routed decimal cast: see lmBackoffSql's note
       |  SELECT doc_id, tf,
       |    CAST(CAST(CAST(tf AS DOUBLE) / CAST(c AS DOUBLE) AS VARCHAR)
       |      AS DECIMAL(28,15)) AS q
       |  FROM tf JOIN model USING (term)),
       |perdoc AS (
       |  -- the decimal SUM also leaves via VARCHAR: DuckDB's direct
       |  -- wide-decimal -> double cast double-rounds (int128 -> double,
       |  -- then /10^15) where Spark's BigDecimal.doubleValue rounds
       |  -- once — bites whenever the scaled sum exceeds 2^53 (sum > ~9),
       |  -- which these per-doc sums routinely do (found live on
       |  -- uni_em_soft; hardened here before it bites)
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |    CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM n)
       |      / CAST(sum(tf) AS DOUBLE) AS lm_score
       |  FROM contrib GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens, p.lm_score,
       |  CASE WHEN p.lm_score IS NULL THEN 'empty'
       |       WHEN p.lm_score < 30.0 THEN 'common'
       |       WHEN p.lm_score > 31.0 THEN 'rare'
       |       ELSE 'mid' END AS lm_band
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- per-group KMV distinct + distribution drift --------------------

  private val GcK = 16

  /** [[graft.llm.CorpusStats.groupCardinality]] twice over events: the
    * `full` probe (distinct users per type, >> k → estimator branch)
    * and the `mod5` probe (5 distinct values → exact branch) — both
    * sides of the `k_used < k` switch populated. The oracle restates
    * the per-key bottom-k window and the md5-fraction estimator.
    */
  def groupCardinality(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    val full = graft.llm.CorpusStats.groupCardinality(
        e, "event_type", "user_id", GcK)
      .select(lit("full").as("probe"), col("event_type"),
        col("k_used"), col("est_distinct"))
    val mod5 = graft.llm.CorpusStats.groupCardinality(
        e.withColumn("ub", pmod(col("user_id"), lit(5L))),
        "event_type", "ub", GcK)
      .select(lit("mod5").as("probe"), col("event_type"),
        col("k_used"), col("est_distinct"))
    full.unionByName(mod5).orderBy("probe", "event_type")
  }

  private def kmvEstSql(kUsed: String, kth: String) =
    s"""CASE WHEN $kUsed < $GcK THEN CAST($kUsed AS DOUBLE)
       |    ELSE ${GcK - 1}.0 / (CAST(list_reduce(
       |      [strpos('0123456789abcdef', substr($kth, j, 1)) - 1
       |        for j in range(1, 13)], (a, x) -> a * 16 + x) AS DOUBLE)
       |      / 281474976710656.0)
       |  END""".stripMargin

  val groupCardinalitySql: String = {
    def probe(name: String, valExpr: String) =
      s"""SELECT '$name' AS probe, event_type,
         |  CAST(COUNT(*) AS BIGINT) AS k_used,
         |  ${kmvEstSql("COUNT(*)", "MAX(digest)")} AS est_distinct
         |FROM (
         |  SELECT event_type, digest, ROW_NUMBER() OVER (
         |    PARTITION BY event_type ORDER BY digest) AS rn
         |  FROM (SELECT DISTINCT event_type,
         |          md5(CAST($valExpr AS VARCHAR)) AS digest
         |        FROM events WHERE user_id IS NOT NULL))
         |WHERE rn <= $GcK GROUP BY event_type""".stripMargin
    s"""${probe("full", "user_id")}
       |UNION ALL
       |${probe("mod5", "user_id % 5")}
       |ORDER BY probe, event_type""".stripMargin
  }

  /** [[graft.llm.CorpusStats.distributionDrift]] between the even- and
    * odd-doc_id halves of the corpus — a real nonzero drift with a
    * shared vocabulary head, both join sides (tokens unique to each
    * half) populated. The oracle restates the exact-decimal L1 sum.
    */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    graft.llm.CorpusStats.distributionDrift(
      d.filter(pmod(col("doc_id"), lit(2)) === 0),
      d.filter(pmod(col("doc_id"), lit(2)) === 1), "text")
  }

  val corpusDriftSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest($NormWs) AS term FROM documents)
       |  WHERE term <> ''),
       |ca AS (SELECT term, CAST(count(*) AS BIGINT) AS ca
       |       FROM tok WHERE doc_id % 2 = 0 GROUP BY term),
       |cb AS (SELECT term, CAST(count(*) AS BIGINT) AS cb
       |       FROM tok WHERE doc_id % 2 = 1 GROUP BY term),
       |na AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
       |              CAST(count(*) AS BIGINT) AS vocab_a FROM ca),
       |nb AS (SELECT CAST(sum(cb) AS BIGINT) AS n_b,
       |              CAST(count(*) AS BIGINT) AS vocab_b FROM cb),
       |terms AS (
       |  SELECT term, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
       |  FROM ca FULL OUTER JOIN cb USING (term)),
       |contrib AS (
       |  -- VARCHAR-routed decimal cast: see lmBackoffSql's note
       |  SELECT CAST(CAST(abs(CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
       |      - CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)) AS VARCHAR)
       |    AS DECIMAL(28,15)) AS d, n_a, n_b, vocab_a, vocab_b
       |  FROM terms, na, nb)
       |SELECT n_a, n_b, vocab_a, vocab_b,
       |  CAST(CAST(sum(d) AS VARCHAR) AS DOUBLE) AS l1,
       |  CAST(CAST(sum(d) AS VARCHAR) AS DOUBLE) / 2.0 AS tv
       |FROM contrib GROUP BY n_a, n_b, vocab_a, vocab_b""".stripMargin

  // ---- bigram stupid-backoff scoring ----------------------------------

  /** [[graft.llm.LmScore.bigramBackoffScore]] at minPair = 3: common
    * pairs score via the bigram MLE, the pruned tail via the α = 0.5
    * unigram backoff — both paths populated on the gate corpus. The
    * oracle restates pair extraction (1-based list indexing), the
    * unpruned context totals, both single-division contributions with
    * identical parenthesization, and the decimal(28,15) exact sum.
    */
  def lmBackoff(s: SparkSession, dir: String): DataFrame =
    graft.llm.LmScore.bigramBackoffScore(
        Tables(s, dir, "documents"), "doc_id", "text", minPair = 3L)
      .orderBy("doc_id")

  val lmBackoffSql: String =
    s"""WITH toks AS (SELECT doc_id, $NormWs AS ws FROM documents),
       |pairs AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
       |  FROM toks, UNNEST(range(1, len(ws))) AS u(i)),
       |dtf AS (
       |  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
       |  FROM pairs GROUP BY 1, 2, 3),
       |pc AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS n_pair
       |       FROM dtf GROUP BY 1, 2),
       |cc AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_ctx
       |       FROM pc GROUP BY 1),
       |kept AS (SELECT * FROM pc WHERE n_pair >= 3),
       |uni AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(ws) AS term FROM toks)
       |  WHERE term <> '' GROUP BY 1),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM uni),
       |contrib AS (
       |  -- double -> DECIMAL goes through VARCHAR: Spark quantizes the
       |  -- double's SHORTEST-string value (BigDecimal HALF_UP), while
       |  -- DuckDB's direct cast rounds the exact binary value — they
       |  -- part ways when the shortest repr ends in a trailing 5 at
       |  -- digit 16 (seen live on this corpus)
       |  SELECT doc_id, tf,
       |    CAST(CAST(CASE WHEN k.n_pair IS NOT NULL
       |      THEN CAST(tf * k.n_pair AS DOUBLE) / CAST(cc.n_ctx AS DOUBLE)
       |      ELSE CAST(tf * coalesce(u.c, 1) AS DOUBLE) /
       |           CAST(2 * (SELECT nn FROM n) AS DOUBLE)
       |    END AS VARCHAR) AS DECIMAL(28,15)) AS q
       |  FROM dtf
       |  LEFT JOIN kept k USING (w1, w2)
       |  LEFT JOIN cc ON dtf.w1 = cc.w1
       |  LEFT JOIN uni u ON dtf.w2 = u.term),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |    CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS sb_score
       |  FROM contrib GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams, p.sb_score
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- bigram Jelinek-Mercer interpolated scoring ----------------------

  /** [[graft.llm.LmScore.bigramInterpolatedScore]] at minPair = 3: the
    * SMOOTHED tier — λ = 0.5 mixes the bigram MLE and the unigram on
    * EVERY position (backoff above only consults the unigram when the
    * pair is pruned); pruned pairs contribute the unigram term alone.
    * The oracle restates both exact-integer-product divisions, their
    * one double add, and the VARCHAR-routed decimal(28,15) quantization
    * with identical parenthesization.
    */
  def lmInterpolated(s: SparkSession, dir: String): DataFrame =
    graft.llm.LmScore.bigramInterpolatedScore(
        Tables(s, dir, "documents"), "doc_id", "text", minPair = 3L)
      .orderBy("doc_id")

  val lmInterpolatedSql: String =
    s"""WITH toks AS (SELECT doc_id, $NormWs AS ws FROM documents),
       |pairs AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
       |  FROM toks, UNNEST(range(1, len(ws))) AS u(i)),
       |dtf AS (
       |  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
       |  FROM pairs GROUP BY 1, 2, 3),
       |pc AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS n_pair
       |       FROM dtf GROUP BY 1, 2),
       |cc AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_ctx
       |       FROM pc GROUP BY 1),
       |kept AS (SELECT * FROM pc WHERE n_pair >= 3),
       |uni AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(ws) AS term FROM toks)
       |  WHERE term <> '' GROUP BY 1),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM uni),
       |contrib AS (
       |  -- both tiers exact-integer-product divisions; ONE double add
       |  -- before the VARCHAR-routed decimal quantization (the Spark
       |  -- shortest-repr convention, as in lm_backoff)
       |  SELECT doc_id, tf,
       |    CAST(CAST(
       |      (CASE WHEN k.n_pair IS NOT NULL
       |        THEN CAST(tf * k.n_pair AS DOUBLE) / CAST(2 * cc.n_ctx AS DOUBLE)
       |        ELSE CAST(0.0 AS DOUBLE) END)
       |      + CAST(tf * coalesce(u.c, 1) AS DOUBLE) /
       |        CAST(2 * (SELECT nn FROM n) AS DOUBLE)
       |    AS VARCHAR) AS DECIMAL(28,15)) AS q
       |  FROM dtf
       |  LEFT JOIN kept k USING (w1, w2)
       |  LEFT JOIN cc ON dtf.w1 = cc.w1
       |  LEFT JOIN uni u ON dtf.w2 = u.term),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |    CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS ilm_score
       |  FROM contrib GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams, p.ilm_score
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- trigram Jelinek-Mercer interpolated scoring ---------------------

  /** [[graft.llm.LmScore.trigramInterpolatedScore]] at minTri = 2,
    * minPair = 3: the three-tier mix λ = (1/2, 1/4, 1/4) — matched
    * trigrams, matched-but-tri-pruned positions, and unigram-only
    * positions all populated on the gate corpus. The oracle restates
    * each order's MLE over its own position universe, all three
    * exact-integer-product divisions, the LEFT-TO-RIGHT double adds,
    * and the VARCHAR-routed decimal quantization.
    */
  def lmTrigram(s: SparkSession, dir: String): DataFrame =
    graft.llm.LmScore.trigramInterpolatedScore(
        Tables(s, dir, "documents"), "doc_id", "text",
        minTri = 2L, minPair = 3L)
      .orderBy("doc_id")

  val lmTrigramSql: String =
    s"""WITH toks AS (SELECT doc_id, $NormWs AS ws FROM documents),
       |tri AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
       |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS u(i)),
       |dttf AS (
       |  SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS tf
       |  FROM tri GROUP BY 1, 2, 3, 4),
       |tc AS (SELECT w1, w2, w3, CAST(sum(tf) AS BIGINT) AS n_tri
       |       FROM dttf GROUP BY 1, 2, 3),
       |c2 AS (SELECT w1, w2, CAST(sum(n_tri) AS BIGINT) AS n_ctx2
       |       FROM tc GROUP BY 1, 2),
       |kt AS (SELECT * FROM tc WHERE n_tri >= 2),
       |bp AS (
       |  SELECT ws[i] AS w2, ws[i + 1] AS w3
       |  FROM toks, UNNEST(range(1, len(ws))) AS u(i)),
       |pc2 AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS n_pair
       |        FROM bp GROUP BY 1, 2),
       |cc1 AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS n_ctx1
       |        FROM pc2 GROUP BY 1),
       |kp AS (SELECT * FROM pc2 WHERE n_pair >= 3),
       |uni AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(ws) AS term FROM toks)
       |  WHERE term <> '' GROUP BY 1),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM uni),
       |contrib AS (
       |  SELECT doc_id, tf,
       |    CAST(CAST(
       |      (CASE WHEN kt.n_tri IS NOT NULL
       |        THEN CAST(tf * kt.n_tri AS DOUBLE) / CAST(2 * c2.n_ctx2 AS DOUBLE)
       |        ELSE CAST(0.0 AS DOUBLE) END)
       |      + (CASE WHEN kp.n_pair IS NOT NULL
       |        THEN CAST(tf * kp.n_pair AS DOUBLE) / CAST(4 * cc1.n_ctx1 AS DOUBLE)
       |        ELSE CAST(0.0 AS DOUBLE) END)
       |      + CAST(tf * coalesce(u.c, 1) AS DOUBLE) /
       |        CAST(4 * (SELECT nn FROM n) AS DOUBLE)
       |    AS VARCHAR) AS DECIMAL(28,15)) AS q
       |  FROM dttf
       |  LEFT JOIN kt USING (w1, w2, w3)
       |  LEFT JOIN c2 USING (w1, w2)
       |  LEFT JOIN kp USING (w2, w3)
       |  LEFT JOIN cc1 ON dttf.w2 = cc1.w2
       |  LEFT JOIN uni u ON dttf.w3 = u.term),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
       |    CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS tlm_score
       |  FROM contrib GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_trigrams, 0) AS BIGINT) AS n_trigrams, p.tlm_score
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- Kneser-Ney interpolated bigram scoring --------------------------

  /** [[graft.llm.LmScore.knBigramScore]] at minPair = 3: the KenLM-regime
    * absolute-discount smoothing — every kept pair donates D = 3/4 of a
    * count, redistributed through the CONTINUATION distribution
    * N1+(·w2)/N1+(··) (not the unigram). The oracle restates the full
    * chain: pair model, per-context totals + distinct-continuation
    * counts, continuation counts, total distinct pairs, the matched
    * integer-product division, the pinned two-division continuation
    * parenthesization, and the VARCHAR-routed decimal quantization.
    */
  def lmKneserNey(s: SparkSession, dir: String): DataFrame =
    graft.llm.LmScore.knBigramScore(
        Tables(s, dir, "documents"), "doc_id", "text", minPair = 3L)
      .orderBy("doc_id")

  val lmKneserNeySql: String =
    s"""WITH toks AS (SELECT doc_id, $NormWs AS ws FROM documents),
       |pairs AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
       |  FROM toks, UNNEST(range(1, len(ws))) AS u(i)),
       |dtf AS (
       |  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
       |  FROM pairs GROUP BY 1, 2, 3),
       |pc AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS n_pair
       |       FROM dtf GROUP BY 1, 2),
       |cc AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_ctx,
       |         CAST(count(*) AS BIGINT) AS n1p
       |       FROM pc GROUP BY 1),
       |cw AS (SELECT w2, CAST(count(*) AS BIGINT) AS t_w2
       |       FROM pc GROUP BY 1),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM pc),
       |kept AS (SELECT * FROM pc WHERE n_pair >= 3),
       |contrib AS (
       |  -- matched: one exact-integer-product division (counts >= 1 so
       |  -- 4c-3 >= 1, the max() is structural); continuation: two
       |  -- divisions + one multiply in the engine's parenthesization
       |  -- ((3*n1p*tf)/(4*ctx)) * (t_w2/T); VARCHAR-routed decimal
       |  SELECT doc_id, tf,
       |    CAST(CAST(
       |      (CASE WHEN k.n_pair IS NOT NULL
       |        THEN CAST(tf * (4 * k.n_pair - 3) AS DOUBLE) /
       |             CAST(4 * cc.n_ctx AS DOUBLE)
       |        ELSE CAST(0.0 AS DOUBLE) END)
       |      + CAST(3 * cc.n1p * tf AS DOUBLE) /
       |          CAST(4 * cc.n_ctx AS DOUBLE)
       |        * (CAST(cw.t_w2 AS DOUBLE) /
       |           CAST((SELECT t FROM tt) AS DOUBLE))
       |    AS VARCHAR) AS DECIMAL(28,15)) AS q
       |  FROM dtf
       |  LEFT JOIN kept k USING (w1, w2)
       |  LEFT JOIN cc ON dtf.w1 = cc.w1
       |  LEFT JOIN cw ON dtf.w2 = cw.w2),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |    CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS kn_score
       |  FROM contrib GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams, p.kn_score
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- modified Kneser-Ney trigram scoring ------------------------------

  /** [[graft.llm.LmScore.knNgramScore]] at order 3, minTop = 2, its
    * columns renamed to `(n_trigrams, kn3_score)`: the Chen &
    * Goodman modified-KN estimator — three count-of-count discounts per
    * level, continuation counts at the bigram level, unigram
    * continuation at the bottom. The oracle restates the WHOLE chain:
    * both count-of-count rows, the pinned discount arithmetic
    * (left-associated, exact casts) with the degenerate-counts 3/4
    * fallback, per-context Nk tallies, the three-level interpolation in
    * the engine's parenthesization, and the VARCHAR-routed decimal
    * quantization of `tf × score`.
    */
  def lmKn3(s: SparkSession, dir: String): DataFrame =
    graft.llm.LmScore.knNgramScore(
        Tables(s, dir, "documents"), "doc_id", "text", order = 3,
        minTop = 2L)
      .withColumnRenamed("n_grams", "n_trigrams")
      .withColumnRenamed("kn_score", "kn3_score")
      .orderBy("doc_id")

  val lmKn3Sql: String = {
    val (d1, d2, d3) = ("(SELECT d1 FROM dd3)", "(SELECT d2 FROM dd3)",
      "(SELECT d3 FROM dd3)")
    val (e1, e2, e3) = ("(SELECT e1 FROM dd2)", "(SELECT e2 FROM dd2)",
      "(SELECT e3 FROM dd2)")
    // the [[graft.llm.LmScore.mknDiscounts]] arithmetic verbatim:
    // Y = n1/(n1 + 2 n2); Dk = k − (k+1)·Y·n(k+1)/nk, left-associated
    def disc(k: Int, nk: String, nk1: String): String =
      s"CASE WHEN n1 = 0 OR n2 = 0 OR n3 = 0 THEN 0.75 ELSE " +
        s"CAST($k.0 AS DOUBLE) - ${k + 1}.0 * " +
        s"(CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) + 2.0 * CAST(n2 AS DOUBLE))) * " +
        s"CAST($nk1 AS DOUBLE) / CAST($nk AS DOUBLE) END"
    val pcExpr =
      "CAST(coalesce(cw.t_w3, 1) AS DOUBLE) / CAST((SELECT t FROM tt) AS DOUBLE)"
    val p2Expr =
      s"""(CASE WHEN cx.n_ctx2c IS NOT NULL THEN
         |        (CASE WHEN cn.c_cont IS NOT NULL
         |          THEN (CAST(cn.c_cont AS DOUBLE) -
         |                (CASE WHEN cn.c_cont = 1 THEN $e1
         |                      WHEN cn.c_cont = 2 THEN $e2
         |                      ELSE $e3 END)) / CAST(cx.n_ctx2c AS DOUBLE)
         |          ELSE CAST(0.0 AS DOUBLE) END)
         |        + ($e1 * CAST(cx.u1 AS DOUBLE)
         |           + $e2 * CAST(cx.u2 AS DOUBLE)
         |           + $e3 * CAST(cx.u3p AS DOUBLE))
         |          / CAST(cx.n_ctx2c AS DOUBLE)
         |          * ($pcExpr)
         |      ELSE $pcExpr END)""".stripMargin
    s"""WITH toks AS (SELECT doc_id, $NormWs AS ws FROM documents),
       |tri AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
       |  FROM toks, UNNEST(range(1, len(ws) - 1)) AS u(i)),
       |dttf AS (
       |  SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS tf
       |  FROM tri GROUP BY 1, 2, 3, 4),
       |tc AS MATERIALIZED (
       |  SELECT w1, w2, w3, CAST(sum(tf) AS BIGINT) AS n_tri
       |  FROM dttf GROUP BY 1, 2, 3),
       |ctx3 AS (
       |  SELECT w1, w2, CAST(sum(n_tri) AS BIGINT) AS n_ctx3,
       |    CAST(sum(CASE WHEN n_tri = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
       |    CAST(sum(CASE WHEN n_tri = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
       |    CAST(sum(CASE WHEN n_tri >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS t3p
       |  FROM tc GROUP BY 1, 2),
       |cc3 AS MATERIALIZED (SELECT
       |    CAST(sum(CASE WHEN n_tri = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN n_tri = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN n_tri = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |    CAST(sum(CASE WHEN n_tri = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
       |  FROM tc),
       |dd3 AS MATERIALIZED (SELECT
       |    ${disc(1, "n1", "n2")} AS d1,
       |    ${disc(2, "n2", "n3")} AS d2,
       |    ${disc(3, "n3", "n4")} AS d3
       |  FROM cc3),
       |cont AS MATERIALIZED (
       |  SELECT w2, w3, CAST(count(*) AS BIGINT) AS c_cont
       |  FROM tc GROUP BY 1, 2),
       |ctx2c AS (
       |  SELECT w2, CAST(sum(c_cont) AS BIGINT) AS n_ctx2c,
       |    CAST(sum(CASE WHEN c_cont = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u1,
       |    CAST(sum(CASE WHEN c_cont = 2 THEN 1 ELSE 0 END) AS BIGINT) AS u2,
       |    CAST(sum(CASE WHEN c_cont >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS u3p
       |  FROM cont GROUP BY 1),
       |cc2 AS MATERIALIZED (SELECT
       |    CAST(sum(CASE WHEN c_cont = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN c_cont = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN c_cont = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |    CAST(sum(CASE WHEN c_cont = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
       |  FROM cont),
       |dd2 AS MATERIALIZED (SELECT
       |    ${disc(1, "n1", "n2")} AS e1,
       |    ${disc(2, "n2", "n3")} AS e2,
       |    ${disc(3, "n3", "n4")} AS e3
       |  FROM cc2),
       |cw AS (SELECT w3, CAST(count(*) AS BIGINT) AS t_w3
       |       FROM cont GROUP BY 1),
       |tt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS t FROM cont),
       |kt AS (SELECT * FROM tc WHERE n_tri >= 2),
       |contrib AS (
       |  SELECT doc_id, tf,
       |    CAST(CAST(CAST(tf AS DOUBLE) * (
       |      CASE WHEN c3.n_ctx3 IS NOT NULL THEN
       |        (CASE WHEN k.n_tri IS NOT NULL
       |          THEN (CAST(k.n_tri AS DOUBLE) -
       |                (CASE WHEN k.n_tri = 1 THEN $d1
       |                      WHEN k.n_tri = 2 THEN $d2
       |                      ELSE $d3 END)) / CAST(c3.n_ctx3 AS DOUBLE)
       |          ELSE CAST(0.0 AS DOUBLE) END)
       |        + ($d1 * CAST(c3.t1 AS DOUBLE)
       |           + $d2 * CAST(c3.t2 AS DOUBLE)
       |           + $d3 * CAST(c3.t3p AS DOUBLE))
       |          / CAST(c3.n_ctx3 AS DOUBLE)
       |          * $p2Expr
       |      ELSE $p2Expr END
       |    ) AS VARCHAR) AS DECIMAL(28,15)) AS q
       |  FROM dttf
       |  LEFT JOIN kt k USING (w1, w2, w3)
       |  LEFT JOIN ctx3 c3 USING (w1, w2)
       |  LEFT JOIN cont cn USING (w2, w3)
       |  LEFT JOIN ctx2c cx USING (w2)
       |  LEFT JOIN cw USING (w3)),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
       |    CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS kn3_score
       |  FROM contrib GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_trigrams, 0) AS BIGINT) AS n_trigrams, p.kn3_score
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- order-n modified Kneser-Ney (the 5-gram CCNet rung) --------------

  /** [[graft.llm.LmScore.knNgramScore]] at order 5, minTop = 2 — the
    * CCNet production regime's order. The oracle is GENERATED level by
    * level from the same recursion the engine runs (type-table chain
    * T5→T2, per-level contexts and count-of-count discounts with the
    * degenerate fallback, the nested interpolation in the engine's
    * parenthesization), so the restatement cannot drift from the
    * construction.
    */
  def lmKn5(s: SparkSession, dir: String): DataFrame =
    graft.llm.LmScore.knNgramScore(
        Tables(s, dir, "documents"), "doc_id", "text",
        order = 5, minTop = 2L)
      .orderBy("doc_id")

  val lmKn5Sql: String = knNgramSqlFor(5, 2L)

  /** [[graft.llm.LmScore.knNgramScore]] with an EXTERNAL reference
    * model — the literal CCNet setting (Wenzek et al. score crawl text
    * against a clean reference corpus): statistics from a 5% id slice,
    * every document scored against them. The thin slice is the point —
    * ~20% of positions carry a top-context the model never saw, so this
    * gate EXERCISES the unseen-context backoff branches (`ELSE inner`)
    * on thousands of real rows (self-corpus gates structurally cannot
    * reach them), plus the OOV-final-word hapax convention.
    */
  def lmKnRef(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    graft.llm.LmScore.knNgramScore(d, "doc_id", "text",
        order = 3, minTop = 2L,
        model = Some(d.where(col("doc_id") % 20 === 0)))
      .orderBy("doc_id")
  }

  val lmKnRefSql: String = knNgramSqlFor(3, 2L, Some("doc_id % 20 = 0"))

  /** The order-n modified-KN oracle generator — one CTE block per
    * level, mirroring [[graft.llm.LmScore.knNgramScore]]'s recursion
    * and [[graft.llm.LmScore.mknDiscounts]]' pinned arithmetic.
    */
  private def knNgramSqlFor(n: Int, minTop: Long,
                            refWhere: Option[String] = None): String = {
    def disc(k: Int): String =
      s"CASE WHEN n1 = 0 OR n2 = 0 OR n3 = 0 THEN 0.75 ELSE " +
        s"CAST($k.0 AS DOUBLE) - ${k + 1}.0 * " +
        s"(CAST(n1 AS DOUBLE) / (CAST(n1 AS DOUBLE) + 2.0 * CAST(n2 AS DOUBLE))) * " +
        s"CAST(n${k + 1} AS DOUBLE) / CAST(n$k AS DOUBLE) END"
    def keys(k: Int): Seq[String] = (n - k + 1 to n).map(j => s"w$j")
    def ctxKeys(k: Int): Seq[String] = (n - k + 1 until n).map(j => s"w$j")
    val gramCols = (1 to n).map(j => s"ws[i + ${j - 1}] AS w$j").mkString(", ")
    val allW = (1 to n).map(j => s"w$j").mkString(", ")
    val levelCtes = (2 to n).reverse.map { k =>
      val src = if (k == n) refWhere match {
        case None =>
          s"""t$n AS MATERIALIZED (
             |  SELECT $allW, CAST(sum(tf) AS BIGINT) AS cnt
             |  FROM dtf GROUP BY ${keys(n).mkString(", ")})"""
        case Some(_) =>
          s"""t$n AS MATERIALIZED (
             |  SELECT $allW, CAST(count(*) AS BIGINT) AS cnt
             |  FROM mgr GROUP BY ${keys(n).mkString(", ")})"""
      }
      else
        s"""t$k AS MATERIALIZED (
           |  SELECT ${keys(k).mkString(", ")}, CAST(count(*) AS BIGINT) AS cnt
           |  FROM t${k + 1} GROUP BY ${keys(k).mkString(", ")})"""
      val ctx =
        s"""ctx$k AS (
           |  SELECT ${ctxKeys(k).mkString(", ")},
           |    CAST(sum(cnt) AS BIGINT) AS ctx,
           |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
           |    CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
           |    CAST(sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS t3p
           |  FROM t$k GROUP BY ${ctxKeys(k).mkString(", ")})"""
      val cc =
        s"""cc$k AS MATERIALIZED (SELECT
           |    CAST(coalesce(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n1,
           |    CAST(coalesce(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n2,
           |    CAST(coalesce(sum(CASE WHEN cnt = 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n3,
           |    CAST(coalesce(sum(CASE WHEN cnt = 4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n4
           |  FROM t$k)"""
      val dd =
        s"""dd$k AS MATERIALIZED (SELECT
           |    ${disc(1)} AS d1, ${disc(2)} AS d2, ${disc(3)} AS d3
           |  FROM cc$k)"""
      Seq(src, ctx, cc, dd).mkString(",\n")
    }.mkString(",\n")
    // the nested interpolation, innermost (unigram continuation) out
    var score =
      "CAST(coalesce(cw.t_wn, 1) AS DOUBLE) / CAST((SELECT t FROM tt) AS DOUBLE)"
    (2 to n).foreach { k =>
      val tA = if (k == n) "kt" else s"t$k"
      val (d1, d2, d3) = (s"(SELECT d1 FROM dd$k)", s"(SELECT d2 FROM dd$k)",
        s"(SELECT d3 FROM dd$k)")
      score =
        s"""(CASE WHEN ctx$k.ctx IS NOT NULL THEN
           |        (CASE WHEN $tA.cnt IS NOT NULL
           |          THEN (CAST($tA.cnt AS DOUBLE) -
           |                (CASE WHEN $tA.cnt = 1 THEN $d1
           |                      WHEN $tA.cnt = 2 THEN $d2
           |                      ELSE $d3 END)) / CAST(ctx$k.ctx AS DOUBLE)
           |          ELSE CAST(0.0 AS DOUBLE) END)
           |        + ($d1 * CAST(ctx$k.t1 AS DOUBLE)
           |           + $d2 * CAST(ctx$k.t2 AS DOUBLE)
           |           + $d3 * CAST(ctx$k.t3p AS DOUBLE))
           |          / CAST(ctx$k.ctx AS DOUBLE)
           |          * ($score)
           |      ELSE ($score) END)""".stripMargin
    }
    val joins = Seq(s"LEFT JOIN kt USING ($allW)") ++
      (2 until n).reverse.map(k =>
        s"LEFT JOIN t$k USING (${keys(k).mkString(", ")})") ++
      (2 to n).map(k =>
        s"LEFT JOIN ctx$k USING (${ctxKeys(k).mkString(", ")})") ++
      Seq(s"LEFT JOIN cw USING (w$n)")
    val refCtes = refWhere.fold("")(w =>
      s"""mtoks AS (SELECT $NormWs AS ws FROM documents WHERE $w),
         |mgr AS (
         |  SELECT $gramCols
         |  FROM mtoks, UNNEST(range(1, len(ws) - ${n - 2})) AS u(i)),
         |""".stripMargin)
    s"""WITH toks AS (SELECT doc_id, $NormWs AS ws FROM documents),
       |gr AS (
       |  SELECT doc_id, $gramCols
       |  FROM toks, UNNEST(range(1, len(ws) - ${n - 2})) AS u(i)),
       |dtf AS (
       |  SELECT doc_id, $allW, CAST(count(*) AS BIGINT) AS tf
       |  FROM gr GROUP BY doc_id, $allW),
       |$refCtes$levelCtes,
       |cw AS (SELECT w$n, CAST(count(*) AS BIGINT) AS t_wn
       |       FROM t2 GROUP BY w$n),
       |tt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS t FROM t2),
       |kt AS (SELECT * FROM t$n WHERE cnt >= $minTop),
       |contrib AS (
       |  SELECT doc_id, tf,
       |    CAST(CAST(CAST(tf AS DOUBLE) * (
       |$score
       |    ) AS VARCHAR) AS DECIMAL(28,15)) AS q
       |  FROM dtf
       |  ${joins.mkString("\n  ")}),
       |perdoc AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_grams,
       |    CAST(CAST(sum(q) AS VARCHAR) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS kn_score
       |  FROM contrib GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams, p.kn_score
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- token-budget selection -----------------------------------------

  /** [[graft.operators.Selection.byTokenBudget]]: best-n_chars-first
    * prefix under a 15k-token budget (~37% of the gate corpus — the cut
    * line lands mid-corpus so both kept and dropped sides are
    * exercised). The oracle IS the single-task window form the operator
    * exists to avoid — same answer, funnel-free plan on our side.
    */
  def selectBudget(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        graft.llm.TextStats.tokenCount(col("text")).cast("long").as("toks"))
    graft.operators.Selection.byTokenBudget(
        d, Seq(col("n_chars").desc, col("doc_id").asc), "toks", budget = 15000L)
      .orderBy("doc_id")
  }

  val selectBudgetSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars,
      |    CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT *, CAST(sum(toks) OVER (ORDER BY n_chars DESC, doc_id)
      |    AS BIGINT) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, lang, n_chars, toks, cum_tokens
      |FROM c WHERE cum_tokens <= 15000 ORDER BY doc_id""".stripMargin

  // ---- quantile length profile ----------------------------------------

  /** [[graft.llm.CorpusStats.quantileProfile]] of n_chars per language.
    * Quarter quantiles over integer data are EXACT in IEEE arithmetic
    * (binary-fraction interpolation — see the operator's scaladoc), so
    * Spark `percentile` and DuckDB `quantile_cont` agree bitwise with no
    * rounding fudge.
    */
  def corpusQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.llm.CorpusStats.quantileProfile(
        Tables(s, dir, "documents"), "lang", "n_chars")
      .orderBy("lang")

  val corpusQuantilesSql: String =
    """SELECT lang, count(n_chars) AS n, min(n_chars) AS min_v,
      |  quantile_cont(n_chars, 0.25) AS p25,
      |  quantile_cont(n_chars, 0.50) AS p50,
      |  quantile_cont(n_chars, 0.75) AS p75,
      |  max(n_chars) AS max_v
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- corpus overlap sketch -------------------------------------------

  /** [[graft.llm.CorpusStats.overlapSketch]] between two overlapping
    * slices of the corpus (doc_id % 3 ≠ 0 vs doc_id % 2 ≠ 0 — odd
    * non-multiples-of-3 land in both). k = 256 on a ~500-doc fixture, so
    * the sketch is a large sample and the estimate is tight; the oracle
    * restates the whole KMV pipeline: per-side bottom-k digests, union
    * bottom-k, both-sides membership fraction.
    */
  def corpusOverlap(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    graft.llm.CorpusStats.overlapSketch(
      d.filter(col("doc_id") % 3 =!= 0),
      d.filter(col("doc_id") % 2 =!= 0), "text", k = 256)
  }

  val corpusOverlapSql: String =
    """WITH sa AS (
      |  SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS digest
      |  FROM documents WHERE doc_id % 3 <> 0 ORDER BY digest LIMIT 256),
      |sb AS (
      |  SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS digest
      |  FROM documents WHERE doc_id % 2 <> 0 ORDER BY digest LIMIT 256),
      |su AS (
      |  SELECT digest FROM (SELECT digest FROM sa UNION SELECT digest FROM sb)
      |  ORDER BY digest LIMIT 256)
      |SELECT CAST(count(*) AS BIGINT) AS k_used,
      |  CAST(sum(CASE WHEN a.digest IS NOT NULL AND b.digest IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      |  CAST(sum(CASE WHEN a.digest IS NOT NULL AND b.digest IS NOT NULL
      |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS est_jaccard
      |FROM su LEFT JOIN sa a USING (digest) LEFT JOIN sb b USING (digest)""".stripMargin

  /** [[graft.llm.CorpusStats.cardinalitySketch]] at k=256 over 500
    * distinct documents — the estimator path (k-th digest rank), not
    * the exact-count degenerate. The oracle restates the bottom-k, the
    * 48-bit rank integer, and both IEEE divisions.
    */
  def corpusCardinality(s: SparkSession, dir: String): DataFrame =
    graft.llm.CorpusStats.cardinalitySketch(
      Tables(s, dir, "documents"), "text", k = 256)

  val corpusCardinalitySql: String =
    """WITH d AS (
      |  SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS digest
      |  FROM documents),
      |bk AS (SELECT digest FROM d ORDER BY digest LIMIT 256),
      |agg AS (SELECT COUNT(*) AS k_used, MAX(digest) AS kth FROM bk),
      |t AS (SELECT COUNT(*) AS true_distinct FROM d)
      |SELECT CAST(k_used AS BIGINT) AS k_used,
      |  CAST(true_distinct AS BIGINT) AS true_distinct,
      |  CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
      |    ELSE 255.0 / (CAST(list_reduce(
      |      [strpos('0123456789abcdef', substr(kth, j, 1)) - 1
      |        for j in range(1, 13)], (a, x) -> a * 16 + x) AS DOUBLE)
      |      / 281474976710656.0)
      |  END AS est_distinct
      |FROM agg, t""".stripMargin

  /** [[graft.llm.CorpusStats.kmvMerge]] losslessness, oracle-proven:
    * the corpus split by doc_id parity into two slices, each reduced to
    * its own bottom-256 synopsis, merged, estimated — against an oracle
    * that computes the WHOLE-corpus bottom-256 estimate directly. Green
    * only if bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)),
    * i.e. per-day synopses really do maintain the corpus distinct-count
    * without history.
    */
  def cardinalityMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.CorpusStats
    val docs = Tables(s, dir, "documents")
    val synA = CorpusStats.kmvSynopsis(
      docs.filter(col("doc_id") % 2 === 0), "text", k = 256)
    val synB = CorpusStats.kmvSynopsis(
      docs.filter(col("doc_id") % 2 =!= 0), "text", k = 256)
    CorpusStats.kmvEstimate(CorpusStats.kmvMerge(Seq(synA, synB), 256), 256)
  }

  val cardinalityMergeSql: String =
    """WITH d AS (
      |  SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS digest
      |  FROM documents),
      |bk AS (SELECT digest FROM d ORDER BY digest LIMIT 256),
      |agg AS (SELECT COUNT(*) AS k_used, MAX(digest) AS kth FROM bk)
      |SELECT CAST(k_used AS BIGINT) AS k_used,
      |  CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
      |    ELSE 255.0 / (CAST(list_reduce(
      |      [strpos('0123456789abcdef', substr(kth, j, 1)) - 1
      |        for j in range(1, 13)], (a, x) -> a * 16 + x) AS DOUBLE)
      |      / 281474976710656.0)
      |  END AS est_distinct
      |FROM agg""".stripMargin

  /** [[graft.llm.TextStats.hashedFeatures]]: the hashing trick at
    * dim = 64 over documents — the oracle re-derives every token's
    * md5-mod bucket and the sorted sparse render, so the gate is green
    * only if ANY engine can reproduce the exact feature vectors a
    * model would train on.
    */
  def featureHashing(s: SparkSession, dir: String): DataFrame =
    graft.llm.TextStats.hashedFeatures(
        Tables(s, dir, "documents"), "doc_id", "text", dim = 64)
      .orderBy("doc_id")

  val featureHashingSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS t
      |  FROM documents),
      |tk AS (SELECT doc_id, t FROM tok WHERE t <> ''),
      |ix AS (
      |  SELECT doc_id,
      |    list_reduce([strpos('0123456789abcdef', substr(md5(t), j, 1)) - 1
      |                 for j in range(1, 9)], (a, x) -> a * 16 + x) % 64 AS i
      |  FROM tk),
      |cnt AS (SELECT doc_id, i, COUNT(*) AS c FROM ix GROUP BY 1, 2)
      |SELECT doc_id,
      |  STRING_AGG(CAST(i AS VARCHAR) || ':' || CAST(c AS VARCHAR),
      |    ' ' ORDER BY i) AS features
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** [[graft.llm.TextStats.buildVocabulary]]: min-df 2, max-df DERIVED
    * from the corpus — `pct = max(1, ((maxDf − 1)·100) div nDocs)`,
    * i.e. the band that cuts strictly below the highest doc-freq — so
    * the gate exercises a populated cut on BOTH sides of the threshold
    * no matter how the testdata regenerates (the earlier pinned 78 was
    * hand-tuned to one generation's df mass). Pure integer math,
    * restated identically in the oracle. Top 200 by
    * (doc_freq desc, token).
    */
  def vocabBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val maxDf = graft.llm.TextStats.buildVocabulary(
        docs, "doc_id", "text", minDf = 1, maxDfPct = 100, topK = 1)
      .head().getAs[Long]("doc_freq")
    val nd = docs.count()
    val pct = math.max(1L, (maxDf - 1L) * 100L / nd).toInt
    graft.llm.TextStats.buildVocabulary(
      docs, "doc_id", "text", minDf = 2, maxDfPct = pct, topK = 200)
  }

  val vocabBuildSql: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS token
      |  FROM documents),
      |dfq AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
      |  FROM tok WHERE token <> '' GROUP BY token),
      |n AS (SELECT COUNT(*) AS nd FROM documents),
      |band AS (
      |  SELECT greatest(1, ((max(doc_freq) - 1) * 100) // nd) AS pct
      |  FROM dfq, n GROUP BY nd)
      |SELECT token, doc_freq FROM dfq, n, band
      |WHERE doc_freq >= 2 AND doc_freq * 100 <= pct * nd
      |ORDER BY doc_freq DESC, token LIMIT 200""".stripMargin

  // ---- snapshot diff ---------------------------------------------------

  /** [[graft.operators.Diff.byDigest]] between the corpus and a planted
    * "tomorrow" built from it: every 13th doc removed, every 7th
    * revised, every 11th re-added under a new id — all four statuses
    * populated deterministically on both sides. The oracle restates the
    * injective length-prefixed digest and the full-outer
    * classification.
    */
  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val newer = d.filter(col("doc_id") % 13 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
      .unionByName(d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
    graft.operators.Diff.byDigest(d, newer, "doc_id", Seq("text"))
      .orderBy("doc_id")
  }

  val corpusDiffSql: String =
    """WITH newer AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000, 'new doc ' || CAST(doc_id AS VARCHAR)
      |  FROM documents WHERE doc_id % 11 = 0),
      |od AS (
      |  SELECT doc_id, md5(coalesce(CAST(length(text) AS VARCHAR), 'n')
      |    || ':' || coalesce(text, '')) AS old_digest
      |  FROM documents),
      |nd AS (
      |  SELECT doc_id, md5(coalesce(CAST(length(text) AS VARCHAR), 'n')
      |    || ':' || coalesce(text, '')) AS new_digest
      |  FROM newer)
      |SELECT doc_id,
      |  CASE WHEN old_digest IS NULL THEN 'added'
      |       WHEN new_digest IS NULL THEN 'removed'
      |       WHEN old_digest = new_digest THEN 'unchanged'
      |       ELSE 'changed' END AS status,
      |  old_digest, new_digest
      |FROM od FULL OUTER JOIN nd USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** [[graft.llm.CorpusStats.bigramLm]] over the documents corpus at
    * minPair = 3: the full conditional model — pair counts, context
    * totals, and the one-division probability — restated in the oracle
    * with 1-based list indexing; `sum(n_pair)` is pinned to BIGINT
    * (DuckDB widens aggregate SUM to HUGEINT silently).
    */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    graft.llm.CorpusStats.bigramLm(docs, "text", minPair = 3L)
      .orderBy("w1", "w2")
  }

  val bigramLmSql: String =
    s"""WITH toks AS (SELECT $NormWs AS ws FROM documents),
       |pairs AS (
       |  SELECT ws[i] AS w1, ws[i + 1] AS w2
       |  FROM toks, UNNEST(range(1, len(ws))) AS u(i)),
       |pc AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
       |  FROM pairs GROUP BY w1, w2),
       |cc AS (
       |  SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_ctx
       |  FROM pc GROUP BY w1)
       |SELECT pc.w1 AS w1, w2, n_pair, n_ctx,
       |  CAST(n_pair AS DOUBLE) / CAST(n_ctx AS DOUBLE) AS p
       |FROM pc JOIN cc ON pc.w1 = cc.w1
       |WHERE n_pair >= 3
       |ORDER BY w1, w2""".stripMargin

  // ----------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bigram_lm"          -> (bigramLm _),
    "pii_redact"         -> (piiRedact _),
    "quality_repetition" -> (qualityRepetition _),
    "chunk_documents"    -> (chunkDocuments _),
    "chunk_trim"         -> (chunkTrim _),
    "group_cardinality"  -> (groupCardinality _),
    "corpus_drift"       -> (corpusDrift _),
    "shard_assign"       -> (shardAssign _),
    "epoch_order"        -> (epochOrder _),
    "curriculum_order"   -> (curriculumOrder _),
    "pack_blocks"        -> (packBlocks _),
    "ngram_topk"         -> (ngramTopk _),
    "boilerplate_lines"  -> (boilerplateLines _),
    "embed_quantize"     -> (embedQuantize _),
    "tfidf_topk"         -> (tfidfTopK _),
    "bm25_topk"          -> (bm25TopK _),
    "hybrid_search"      -> (hybridSearch _),
    "text_normalize"     -> (textNormalize _),
    "lm_score"           -> (lmScore _),
    "lm_backoff"         -> (lmBackoff _),
    "lm_score_bigram"    -> (lmInterpolated _),
    "lm_score_trigram"   -> (lmTrigram _),
    "lm_score_kn"        -> (lmKneserNey _),
    "lm_score_kn3"       -> (lmKn3 _),
    "lm_score_kn5"       -> (lmKn5 _),
    "lm_score_kn_ref"    -> (lmKnRef _),
    "select_budget"      -> (selectBudget _),
    "corpus_quantiles"   -> (corpusQuantiles _),
    "corpus_diff"        -> (corpusDiff _),
    "corpus_overlap"     -> (corpusOverlap _),
    "corpus_cardinality" -> (corpusCardinality _),
    "cardinality_merge"  -> (cardinalityMerge _),
    "feature_hashing"    -> (featureHashing _),
    "vocab_build"        -> (vocabBuild _))

  val oracleSql: Map[String, String] = Map(
    "bigram_lm"          -> bigramLmSql,
    "pii_redact"         -> piiRedactSql,
    "quality_repetition" -> qualityRepetitionSql,
    "chunk_documents"    -> chunkDocumentsSql,
    "chunk_trim"         -> chunkTrimSql,
    "group_cardinality"  -> groupCardinalitySql,
    "corpus_drift"       -> corpusDriftSql,
    "shard_assign"       -> shardAssignSql,
    "epoch_order"        -> epochOrderSql,
    "curriculum_order"   -> curriculumOrderSql,
    "pack_blocks"        -> packBlocksSql,
    "ngram_topk"         -> ngramTopkSql,
    "boilerplate_lines"  -> boilerplateLinesSql,
    "embed_quantize"     -> embedQuantizeSql,
    "tfidf_topk"         -> tfidfTopKSql,
    "bm25_topk"          -> bm25TopKSql,
    "hybrid_search"      -> hybridSearchSql,
    "text_normalize"     -> textNormalizeSql,
    "lm_score"           -> lmScoreSql,
    "lm_backoff"         -> lmBackoffSql,
    "lm_score_bigram"    -> lmInterpolatedSql,
    "lm_score_trigram"   -> lmTrigramSql,
    "lm_score_kn"        -> lmKneserNeySql,
    "lm_score_kn3"       -> lmKn3Sql,
    "lm_score_kn5"       -> lmKn5Sql,
    "lm_score_kn_ref"    -> lmKnRefSql,
    "select_budget"      -> selectBudgetSql,
    "corpus_quantiles"   -> corpusQuantilesSql,
    "corpus_diff"        -> corpusDiffSql,
    "corpus_overlap"     -> corpusOverlapSql,
    "corpus_cardinality" -> corpusCardinalitySql,
    "cardinality_merge"  -> cardinalityMergeSql,
    "feature_hashing"    -> featureHashingSql,
    "vocab_build"        -> vocabBuildSql)
}
