package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.{Bpe, C4, Dpo, LogReg, Sft}

/** Correctness gates for the trainable/tokenizer tier — real BPE
  * (train + encode), full-batch logistic regression (train + score),
  * SFT transcript assembly, and the token-join blocklist probe. Same
  * contract as [[LlmGates]]/[[CurationGates]]: every gate carries a
  * full DuckDB oracle restating the ENTIRE computation under the FP
  * parity rules (VARCHAR-routed decimal boundaries, round-6 renders,
  * exact-decimal order-free sums).
  *
  * The BPE oracles use the doubled-separator `replace` trick: a word's
  * symbols joined by two spaces (each boundary doubled) make one
  * non-overlapping left-to-right `replace` per merge ≡ the engine's
  * merge pass — EXCEPT that a match consumes the trailing separator
  * that is also the next candidate's leading separator, so the replace
  * is applied 4× per rank (idempotent once converged). Fixpoint
  * equality with the pass holds whenever no symbol repeats ≥5 times
  * consecutively; the testdata vocabulary (31 distinct words, max
  * length 8, longest same-char run 2 at every SF) sits far inside
  * that bound, and BpeSpec pins the pass semantics engine-side.
  */
object TrainGates {

  // ---- BPE ------------------------------------------------------------

  private val BpeRounds = 6

  /** 4× applications of one doubled-separator replace: pattern
    * `"  l  r  "` → `"  lr  "`, with `l`/`r` SQL string expressions.
    */
  private def rep4(expr: String, l: String, r: String): String = {
    val pat = s"'  ' || $l || '  ' || $r || '  '"
    val rep = s"'  ' || $l || $r || '  '"
    (0 until 4).foldLeft(expr)((e, _) => s"replace($e, $pat, $rep)")
  }

  /** [[Bpe.train]] over `documents` — 6 learned merges with their
    * non-overlapping pair counts.
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    Bpe.train(Tables(s, dir, "documents"), "text", BpeRounds)
      .orderBy("rank")

  /** Oracle: the full merge loop unrolled — per round, run-aware
    * non-overlapping pair counts (adjacent-occurrence counts for
    * `l ≠ r`; per-island `ceil(m/2)` for same-symbol runs, ≡ the
    * engine's lastEnd scan), deterministic argmax (count desc, left
    * asc, right asc), then the replace-trick apply feeding the next
    * round.
    */
  val bpeTrainSql: String = trainRoundsSql(Seq(
    """wc AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS word
      |    FROM documents) WHERE word <> '' GROUP BY 1)""".stripMargin,
    """s0 AS (SELECT word, cnt, [word[j] for j in range(1, len(word)+1)] AS s FROM wc)"""),
    BpeRounds)

  /** The unrolled merge-learning rounds over a `(word, cnt, s)` base:
    * shared by the char-level and byte-level train oracles — only the
    * word-table CTEs differ.
    */
  private def trainRoundsSql(baseCtes: Seq[String], rounds: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(baseCtes: _*)
    for (k <- 0 until rounds) {
      ctes += s"""px$k AS (
        |  SELECT word, cnt, unnest(range(1, len(s))) AS i, s FROM s$k)""".stripMargin
      ctes += s"""pr$k AS (
        |  SELECT word, cnt, i, s[i] AS a, s[i+1] AS b FROM px$k)""".stripMargin
      ctes += s"""ne$k AS (
        |  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pc FROM pr$k WHERE a <> b GROUP BY 1, 2)""".stripMargin
      ctes += s"""is$k AS (
        |  SELECT word, cnt, a, i - row_number() OVER (PARTITION BY word, a ORDER BY i) AS grp
        |  FROM pr$k WHERE a = b)""".stripMargin
      ctes += s"""eq$k AS (
        |  SELECT a, a AS b, CAST(sum(((m + 1) // 2) * cnt) AS BIGINT) AS pc FROM (
        |    SELECT word, a, cnt, grp, count(*) AS m FROM is$k GROUP BY 1, 2, 3, 4) GROUP BY 1, 2)""".stripMargin
      ctes += s"""w$k AS (
        |  SELECT a, b, pc FROM (SELECT * FROM ne$k UNION ALL SELECT * FROM eq$k)
        |  ORDER BY pc DESC, a ASC, b ASC LIMIT 1)""".stripMargin
      val applied = rep4("'  ' || array_to_string(s, '  ') || '  '", "w.a", "w.b")
      ctes += s"""s${k + 1} AS (
        |  SELECT word, cnt, [x for x in string_split(trim($applied), '  ') if x <> ''] AS s
        |  FROM s$k, w$k AS w)""".stripMargin
    }
    val union = (0 until rounds).map(k =>
      s"""SELECT $k AS rank, a AS "left", b AS "right", pc AS pair_count FROM w$k""")
      .mkString("\nUNION ALL\n")
    "WITH " + ctes.mkString(",\n") + s"\nSELECT * FROM ($union) ORDER BY rank"
  }

  /** Pinned merge list for the encode gate — hand-chosen over the real
    * vocabulary to exercise rank chaining (`th`+`e`, `al`+`ue`) and
    * rank shadowing (`r`+`o` starves `o`+`w` inside `row` but not
    * `slow`/`window`). Literal on BOTH sides so the oracle needs no
    * training chain.
    */
  private val PinnedMerges: Array[(String, String)] = Array(
    ("t", "h"), ("th", "e"), ("a", "l"), ("u", "e"), ("al", "ue"),
    ("r", "o"), ("w", "i"), ("n", "d"), ("o", "w"))

  /** [[Bpe.encodeWithMerges]] under [[PinnedMerges]]: learned-subword
    * tokens and exact token counts per document.
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame =
    Bpe.encodeWithMerges(Tables(s, dir, "documents"), "doc_id", "text",
        PinnedMerges)
      .select(col("doc_id"), col("n_tokens"),
        array_join(col("tokens"), " ").as("tok_str"))
      .orderBy("doc_id")

  /** Oracle: whole-document replace chain — word-boundary spaces become
    * a newline sentinel symbol (merges of lowercase symbols can never
    * match it), every char joined by the doubled separator, then the
    * 4×-replace per pinned rank, split back, sentinel dropped.
    */
  /** Shared document-encode CTE chain ending in `enc(doc_id, toks)` —
    * used by the encode, fertility, and token-id oracles.
    */
  private val bpeEncCtes: String = {
    val inner =
      "'  ' || array_to_string([n2[j] for j in range(1, len(n2)+1)], '  ') || '  '"
    val chain = PinnedMerges.foldLeft(inner) { case (e, (l, r)) =>
      rep4(e, s"'$l'", s"'$r'")
    }
    s"""nm AS (
       |  SELECT doc_id, replace(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ', chr(10)) AS n2
       |  FROM documents),
       |enc AS (
       |  SELECT doc_id, [x for x in string_split(trim($chain), '  ') if x <> '' AND x <> chr(10)] AS toks
       |  FROM nm)""".stripMargin
  }

  val bpeEncodeSql: String =
    s"""WITH $bpeEncCtes
       |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
       |  array_to_string(toks, ' ') AS tok_str
       |FROM enc ORDER BY doc_id""".stripMargin

  /** [[Bpe.encodeWithMergesFast]] under [[PinnedMerges]] — the
    * production encode kernel (heap-of-candidate-ranks, per-word cost
    * independent of the merge-table size), verified against the SAME
    * oracle as [[bpeEncode]]: token-for-token equality with the pass
    * form is the kernel's contract (BpeSpec pins it adversarially; this
    * gate pins it against the independent DuckDB restatement).
    */
  def bpeEncodeFast(s: SparkSession, dir: String): DataFrame =
    Bpe.encodeWithMergesFast(Tables(s, dir, "documents"), "doc_id", "text",
        PinnedMerges)
      .select(col("doc_id"), col("n_tokens"),
        array_join(col("tokens"), " ").as("tok_str"))
      .orderBy("doc_id")

  /** [[Bpe.vocab]] under [[PinnedMerges]]: base characters (ascending)
    * then merge outputs in rank order — the deterministic
    * GPT-2-style token-id assignment.
    */
  def bpeVocab(s: SparkSession, dir: String): DataFrame =
    Bpe.vocab(Tables(s, dir, "documents"), "text", PinnedMerges)
      .orderBy("token_id")

  /** Oracle: distinct normalized-word characters ranked ascending, the
    * pinned merge outputs appended after them. Mirrors [[Bpe.vocab]]'s
    * LinkedHashSet contract exactly: duplicate merge OUTPUTS keep the
    * first (lowest) rank only, outputs colliding with a base character
    * are dropped, and the surviving outputs take COMPACTED sequential
    * ids (row_number over first-rank order) — not their raw ranks. The
    * current [[PinnedMerges]] happen to be collision-free, so this
    * also passes with the naive per-merge emit, but the oracle must
    * restate the contract, not the coincidence.
    */
  val bpeVocabSql: String = {
    val mvals = PinnedMerges.zipWithIndex
      .map { case ((l, r), i) => s"($i, '$l$r')" }.mkString(", ")
    s"""WITH w AS (
       |  SELECT DISTINCT unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS word
       |  FROM documents),
       |c AS (
       |  SELECT DISTINCT unnest([word[j] for j in range(1, len(word)+1)]) AS ch
       |  FROM w WHERE word <> ''),
       |b AS (
       |  SELECT CAST(row_number() OVER (ORDER BY ch) - 1 AS INT) AS token_id, ch AS token
       |  FROM c),
       |nb AS (SELECT count(*) AS n FROM b),
       |m0(rank, token) AS (VALUES $mvals),
       |m1 AS MATERIALIZED (
       |  SELECT token, min(rank) AS rank FROM m0
       |  WHERE token NOT IN (SELECT token FROM b)
       |  GROUP BY token),
       |m AS (
       |  SELECT CAST(row_number() OVER (ORDER BY rank) - 1 AS BIGINT) AS seq, token
       |  FROM m1)
       |SELECT token_id, token FROM b
       |UNION ALL
       |SELECT CAST(nb.n + m.seq AS INT) AS token_id, m.token FROM m, nb
       |ORDER BY token_id""".stripMargin
  }

  /** [[Bpe.encodeIds]] under [[PinnedMerges]] against the corpus-built
    * vocabulary: the trainer-contract integer-id streams.
    */
  def bpeEncodeIds(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val v = Bpe.vocab(docs, "text", PinnedMerges)
    Bpe.encodeIds(docs, "doc_id", "text", PinnedMerges, v)
      .select(col("doc_id"), col("n_tokens"),
        array_join(transform(col("token_ids"), i => i.cast("string")), " ")
          .as("ids_str"))
      .orderBy("doc_id")
  }

  /** Oracle: the shared encode chain's token lists positionally joined
    * against the vocabulary CTE, ids re-assembled in token order.
    */
  val bpeEncodeIdsSql: String =
    s"""WITH $bpeEncCtes,
       |voc AS (SELECT token_id, token FROM ($bpeVocabSql)),
       |tk AS (
       |  SELECT doc_id, unnest(range(1, len(toks)+1)) AS j, toks
       |  FROM enc),
       |tok1 AS (SELECT doc_id, j, toks[j] AS tok FROM tk),
       |ids AS (
       |  SELECT t.doc_id, t.j, v.token_id
       |  FROM tok1 t JOIN voc v ON v.token = t.tok),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY j) AS ids_str
       |  FROM ids GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.ids_str, '') AS ids_str
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** [[Bpe.fertility]] under [[PinnedMerges]] grouped by language —
    * learned-subword tokens per word, the tokenizer-coverage metric.
    */
  def bpeFertility(s: SparkSession, dir: String): DataFrame =
    Bpe.fertility(Tables(s, dir, "documents"), "doc_id", "text", "lang",
        PinnedMerges)
      .orderBy("lang")

  /** Oracle: the encode chain nested, word counts recomputed with the
    * same normalization, exact long sums, one final IEEE division.
    */
  val bpeFertilitySql: String =
    s"""WITH enc AS (SELECT doc_id, n_tokens FROM ($bpeEncodeSql)),
       |wds AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g') = ''
       |      THEN 0
       |      ELSE len(string_split(regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g'), ' '))
       |    END AS nw
       |  FROM documents)
       |SELECT w.lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(w.nw) AS BIGINT) AS n_words,
       |  CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
       |  CASE WHEN sum(w.nw) = 0 THEN NULL
       |    ELSE CAST(sum(e.n_tokens) AS DOUBLE) / CAST(sum(w.nw) AS DOUBLE)
       |  END AS fertility
       |FROM wds w JOIN enc e ON w.doc_id = e.doc_id
       |GROUP BY w.lang ORDER BY w.lang""".stripMargin

  // ---- Byte-level BPE ---------------------------------------------------

  /** [[Bpe.byteSyms]] shorthand for pinning byte-symbol merge tables. */
  private def bs(s: String): String = Bpe.byteSyms(s)

  /** Pinned BYTE-symbol merge list — hand-chosen to exercise every
    * byte-level regime: ascii rank chaining (`th`+`e`), the `Ġ`
    * word-boundary symbol merging into a word start, 2-byte UTF-8
    * assembly (`à` from its two byte symbols, then chained into `hà`),
    * 3-byte Vietnamese assembly (`ộ`), 4-byte astral assembly (`🙂`),
    * and a dead merge whose right side never exists as a token.
    * Literal on BOTH sides (the oracle embeds the same symbol strings),
    * like [[PinnedMerges]].
    */
  private val PinnedByteMerges: Array[(String, String)] = {
    val aGrave = bs("à")   // 2 symbols (0xC3 0xA0)
    val oDotCirc = bs("ộ") // 3 symbols (0xE1 0xBB 0x99)
    val smile = bs("🙂")   // 4 symbols (0xF0 0x9F 0x99 0x82)
    Array(
      (bs("t"), bs("h")),
      (bs("th"), bs("e")),
      (bs(" "), bs("t")),
      (aGrave.substring(0, 1), aGrave.substring(1)),
      (bs("h"), aGrave),
      (oDotCirc.substring(0, 1), oDotCirc.substring(1, 2)),
      (oDotCirc.substring(0, 2), oDotCirc.substring(2)),
      (smile.substring(0, 1), smile.substring(1, 2)),
      (smile.substring(0, 2), smile.substring(2, 3)),
      (smile.substring(0, 3), smile.substring(3)),
      (bs(" t"), bs("he")))
  }

  /** Planted byte-tier docs: multi-byte Vietnamese, an astral-plane
    * emoji, an empty doc, and ascii words hitting the pinned ranks —
    * the corpus itself is pure ascii, so every multi-byte regime is
    * planted (identical VALUES on both sides, the standard trick).
    * Texts are pre-normalized (lowercase, single-spaced) so the gate
    * exercises the BYTE mapping, not engine lowercasing edge cases.
    */
  private val PlantedByteDocs: Seq[(Long, String)] = Seq(
    (-4L, "the table hà nội"),
    (-3L, "hồ chí minh 🙂"),
    (-2L, ""),
    (-1L, "thà thê ộ ộộộ"))

  private def byteDocsDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionByName(PlantedByteDocs.toDF("doc_id", "text"))
  }

  private val byteDocVals: String = PlantedByteDocs
    .map { case (id, t) => s"($id, '${t.replace("'", "''")}')" }
    .mkString(", ")

  private val byteDocsSql: String =
    s"""bd AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id AS BIGINT), text
       |  FROM (VALUES $byteDocVals) v(doc_id, text))""".stripMargin

  /** UTF-8 byte list of code point `p` (DuckDB expression) — the
    * standard UTF-8 packing formula, one CASE per encoded length.
    */
  private def sqlUtf8Bytes(p: String): String =
    s"CASE WHEN $p < 128 THEN [$p] " +
      s"WHEN $p < 2048 THEN [192 + $p//64, 128 + $p%64] " +
      s"WHEN $p < 65536 THEN [224 + $p//4096, 128 + ($p//64)%64, 128 + $p%64] " +
      s"ELSE [240 + $p//262144, 128 + ($p//4096)%64, 128 + ($p//64)%64, 128 + $p%64] END"

  /** Byte → symbol char (DuckDB expression): the same closed formula as
    * [[Bpe.byteSym]] — printable bytes keep their code point, excluded
    * bytes shift to 256 + their ascending index.
    */
  private def sqlByteSym(b: String): String =
    s"CASE WHEN ($b BETWEEN 33 AND 126) OR ($b BETWEEN 161 AND 172) " +
      s"OR ($b >= 174) THEN chr($b) " +
      s"WHEN $b <= 32 THEN chr(256 + $b) " +
      s"WHEN $b <= 160 THEN chr(256 + 33 + $b - 127) ELSE chr(323) END"

  /** `w` (one word/piece string) → its UTF-8 byte-symbol string — the
    * DuckDB restatement of [[Bpe.byteSyms]], shared by the normalized
    * and raw word CTEs (both bind the lambda variable `w`).
    */
  private val wsymExpr: String =
    "coalesce(array_to_string(flatten(list_transform(" +
      "range(1, len(w)+1), j -> list_transform(" +
      sqlUtf8Bytes("unicode(w[j])") + ", b -> " + sqlByteSym("b") +
      "))), ''), '')"

  /** Byte-tier word CTEs ending in `bws(doc_id, wsyms)`: the union
    * corpus normalized, each word mapped char→UTF-8 bytes→symbols
    * (nested list_transform over the two formulas above). Shared by
    * the encode/round-trip chain and the byte-train oracle.
    */
  private val byteWordCtes: String = {
    val wsym = wsymExpr
    s"""$byteDocsSql,
       |bnm AS (
       |  SELECT doc_id, regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g') AS n2
       |  FROM bd),
       |bws AS (
       |  SELECT doc_id, list_transform(string_split(n2, ' '), w -> $wsym) AS wsyms
       |  FROM bnm)""".stripMargin
  }

  /** Shared byte-tier CTE chain ending in `benc(doc_id, toks)`: the
    * word symbols above, non-first words prefixed with `Ġ`
    * (chr(288) = byteSym(32)), words joined by a chr(10) sentinel no
    * merge can match, then the standard doubled-separator replace
    * chain over [[PinnedByteMerges]].
    */
  private val bpeBytesEncCtes: String = {
    val chain = PinnedByteMerges.foldLeft(
      "'  ' || coalesce(array_to_string(list_transform(" +
        "range(1, len(s)+1), j -> s[j]), '  '), '') || '  '") {
      case (e, (l, r)) =>
        rep4(e, s"'${l.replace("'", "''")}'", s"'${r.replace("'", "''")}'")
    }
    s"""$byteWordCtes,
       |bsy AS (
       |  SELECT doc_id, coalesce(array_to_string(list_transform(range(1, len(wsyms)+1), i ->
       |    CASE WHEN i = 1 THEN wsyms[i] ELSE chr(288) || wsyms[i] END), chr(10)), '') AS s
       |  FROM bws),
       |benc AS (
       |  SELECT doc_id, [x for x in string_split(trim($chain), '  ') if x <> '' AND x <> chr(10)] AS toks
       |  FROM bsy)""".stripMargin
  }

  /** [[Bpe.encodeWithMergesFast]] (`Regime.Bytes`) under
    * [[PinnedByteMerges]] over the union corpus — byte-level tokens and
    * counts, hash-matched on multi-byte Vietnamese and astral input.
    */
  def bpeEncodeBytes(s: SparkSession, dir: String): DataFrame =
    Bpe.encodeWithMergesFast(byteDocsDf(s, dir), "doc_id", "text",
        PinnedByteMerges, regime = Bpe.Regime.Bytes)
      .select(col("doc_id"), col("n_tokens"),
        array_join(col("tokens"), " ").as("tok_str"))
      .orderBy("doc_id")

  val bpeEncodeBytesSql: String =
    s"""WITH $bpeBytesEncCtes
       |SELECT doc_id, CAST(coalesce(len(toks), 0) AS INT) AS n_tokens,
       |  coalesce(array_to_string(toks, ' '), '') AS tok_str
       |FROM benc ORDER BY doc_id""".stripMargin

  /** Byte-level EXACT ROUND-TRIP: encode then decode every doc; the
    * oracle is just the independent normalization — if any byte of any
    * UTF-8 sequence survived wrong, the hash breaks. The property the
    * byte tier exists for (no OOV, lossless arbitrary text).
    */
  def bpeBytesRoundtrip(s: SparkSession, dir: String): DataFrame =
    Bpe.decodeBytes(
        Bpe.encodeWithMergesFast(byteDocsDf(s, dir), "doc_id", "text",
          PinnedByteMerges, regime = Bpe.Regime.Bytes),
        "doc_id")
      .orderBy("doc_id")

  val bpeBytesRoundtripSql: String =
    s"""WITH $byteDocsSql
       |SELECT doc_id,
       |  regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g') AS text_rt
       |FROM bd ORDER BY doc_id""".stripMargin

  /** [[Bpe.vocabBytes]] under [[PinnedByteMerges]] — the closed
    * byte-alphabet token-id table: ids 0..255 = the byte symbols (id =
    * byte value), merge outputs at 256+rank (first-rank-wins, ids
    * compacted). Corpus-independent; the oracle rebuilds it from
    * `range(0, 256)` through the same symbol formula.
    */
  def bpeVocabBytes(s: SparkSession, dir: String): DataFrame =
    Bpe.vocabBytes(s, PinnedByteMerges).orderBy("token_id")

  val bpeVocabBytesSql: String = {
    val mvals = PinnedByteMerges.zipWithIndex
      .map { case ((l, r), i) => s"($i, '${(l + r).replace("'", "''")}')" }
      .mkString(", ")
    s"""WITH r AS (SELECT CAST(i AS INT) AS i FROM range(0, 256) t(i)),
       |b AS (
       |  SELECT i AS token_id, ${sqlByteSym("i")} AS token
       |  FROM r),
       |m0(rank, token) AS (VALUES $mvals),
       |m1 AS MATERIALIZED (
       |  SELECT token, min(rank) AS rank FROM m0
       |  WHERE token NOT IN (SELECT token FROM b)
       |  GROUP BY token),
       |m AS (
       |  SELECT CAST(255 + row_number() OVER (ORDER BY rank) AS INT) AS token_id, token
       |  FROM m1)
       |SELECT token_id, token FROM b
       |UNION ALL
       |SELECT token_id, token FROM m
       |ORDER BY token_id""".stripMargin
  }

  /** [[Bpe.encodeIds]] (`Regime.Bytes`) under [[PinnedByteMerges]] against
    * [[Bpe.vocabBytes]] — the byte-tier trainer-contract id streams
    * (−1 impossible by construction: the byte alphabet is closed).
    */
  def bpeEncodeIdsBytes(s: SparkSession, dir: String): DataFrame =
    Bpe.encodeIds(byteDocsDf(s, dir), "doc_id", "text",
        PinnedByteMerges, Bpe.vocabBytes(s, PinnedByteMerges),
          regime = Bpe.Regime.Bytes)
      .select(col("doc_id"), col("n_tokens"),
        array_join(transform(col("token_ids"), i => i.cast("string")), " ")
          .as("ids_str"))
      .orderBy("doc_id")

  /** Oracle: the shared byte encode chain's token lists positionally
    * joined against the byte vocabulary, ids re-assembled in order.
    */
  val bpeEncodeIdsBytesSql: String =
    s"""WITH $bpeBytesEncCtes,
       |voc AS (SELECT token_id, token FROM ($bpeVocabBytesSql)),
       |tk AS (
       |  SELECT doc_id, unnest(range(1, len(toks)+1)) AS j, toks
       |  FROM benc),
       |tok1 AS (SELECT doc_id, j, toks[j] AS tok FROM tk),
       |ids AS (
       |  SELECT t.doc_id, t.j, v.token_id
       |  FROM tok1 t JOIN voc v ON v.token = t.tok),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY j) AS ids_str
       |  FROM ids GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.ids_str, '') AS ids_str
       |FROM (SELECT doc_id FROM bd) d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** [[Bpe.fertility]] (`Regime.Bytes`) under [[PinnedByteMerges]] grouped by
    * language (planted rows grouped as 'planted') — byte-level tokens
    * per word, the multi-byte-script coverage audit.
    */
  def bpeFertilityBytes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = PlantedByteDocs
      .map { case (id, t) => (id, t, "planted") }
      .toDF("doc_id", "text", "lang")
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("lang"))
      .unionByName(planted)
    Bpe.fertility(docs, "doc_id", "text", "lang", PinnedByteMerges,
      regime = Bpe.Regime.Bytes)
      .orderBy("lang")
  }

  /** Oracle: the byte encode chain nested for token counts, word
    * counts recomputed with the same normalization over the langed
    * union, exact long sums, one final IEEE division.
    */
  val bpeFertilityBytesSql: String =
    s"""WITH enc AS (SELECT doc_id, n_tokens FROM ($bpeEncodeBytesSql)),
       |bl AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id AS BIGINT), 'planted', text
       |  FROM (VALUES $byteDocVals) v(doc_id, text)),
       |wds AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g') = ''
       |      THEN 0
       |      ELSE len(string_split(regexp_replace(trim(lower(coalesce(text, ''))), '\\s+', ' ', 'g'), ' '))
       |    END AS nw
       |  FROM bl)
       |SELECT w.lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(w.nw) AS BIGINT) AS n_words,
       |  CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
       |  CASE WHEN sum(w.nw) = 0 THEN NULL
       |    ELSE CAST(sum(e.n_tokens) AS DOUBLE) / CAST(sum(w.nw) AS DOUBLE)
       |  END AS fertility
       |FROM wds w JOIN enc e ON w.doc_id = e.doc_id
       |GROUP BY w.lang ORDER BY w.lang""".stripMargin

  /** [[Bpe.train]] (`Regime.Bytes`) over the union corpus — merges
    * learned in byte symbol space over exactly the word forms the Bytes
    * encode consumes (`Ġ`-prefixed non-first words), completing the byte
    * regime: train → vocab → encode → decode all byte-level.
    */
  def bpeTrainBytes(s: SparkSession, dir: String): DataFrame =
    Bpe.train(byteDocsDf(s, dir), "text", BpeRounds, regime = Bpe.Regime.Bytes)
      .orderBy("rank")

  /** Oracle: the SAME unrolled merge-learning rounds as [[bpeTrainSql]],
    * over the byte-symbol word table (per-doc words with ordinality —
    * first bare, rest `Ġ`-prefixed — from the shared [[byteWordCtes]]).
    */
  val bpeTrainBytesSql: String = trainRoundsSql(Seq(
    byteWordCtes,
    """bwc AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(list_transform(range(1, len(wsyms)+1), i ->
      |      CASE WHEN i = 1 THEN wsyms[i] ELSE chr(288) || wsyms[i] END)) AS word
      |    FROM bws) WHERE word <> '' GROUP BY 1)""".stripMargin,
    """s0 AS (SELECT word, cnt, [word[j] for j in range(1, len(word)+1)] AS s FROM bwc)"""),
    BpeRounds)

  // ---- RAW byte-level BPE (pre-tokenized, normalization-free) ----------

  /** [[Bpe.PreTokPattern]] as a DuckDB string literal (contraction
    * apostrophes doubled). The SAME pattern string runs under Java
    * regex engine-side and RE2 oracle-side — the Java ∩ RE2 portability
    * the pattern was designed lookahead-free for.
    */
  private val preTokSqlLit: String =
    "'" + Bpe.PreTokPattern.replace("'", "''") + "'"

  /** A Scala string as a DuckDB EXPRESSION: control characters (the
    * tab/newline regimes a quoted literal cannot carry) render as
    * `chr(n)` concatenations, everything else as a quoted literal.
    */
  private def sqlStrExpr(s: String): String = {
    if (s.isEmpty) return "''"
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    def flush(): Unit =
      if (sb.nonEmpty) {
        parts += "'" + sb.toString.replace("'", "''") + "'"
        sb.clear()
      }
    s.foreach { c =>
      if (c < ' ') { flush(); parts += s"chr(${c.toInt})" }
      else sb += c
    }
    flush()
    parts.mkString(" || ")
  }

  /** Planted RAW-tier docs: every regime the normalized tier erases —
    * mixed case, double/triple space runs, tab, newline, leading and
    * trailing whitespace, contractions, cased Vietnamese, astral — plus
    * the empty doc. Max same-char run is 3, inside the 4×-replace
    * fixpoint bound. Identical VALUES (via [[sqlStrExpr]]) on both
    * sides.
    */
  private val PlantedRawDocs: Seq[(Long, String)] = Seq(
    (-9L, "deep\n\n\nnest  'llama isn't\u000B ok"),
    (-8L, "Hello  World"),
    (-7L, "don't STOP it's 2024!!"),
    (-6L, "xin chào Hà Nội ộ 🙂🙂 Abc"),
    (-5L, "a\tb\nc   d"),
    (-4L, " The   Table "),
    (-3L, ""),
    (-2L, "CamelCase123abc...x!?"),
    (-1L, "Ω≈ç√∫ µ∂ƒ"))

  private def rawDocsDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionByName(PlantedRawDocs.toDF("doc_id", "text"))
  }

  private val rawDocVals: String = PlantedRawDocs
    .map { case (id, t) => s"($id, ${sqlStrExpr(t)})" }
    .mkString(", ")

  private val rawDocsSql: String =
    s"""rd AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id AS BIGINT), CAST(text AS VARCHAR)
       |  FROM (VALUES $rawDocVals) v(doc_id, text))""".stripMargin

  /** [[Bpe.preTokenize]] over the raw union corpus — the JVM KERNEL
    * (the exact function every raw-tier operator calls) against the
    * independent RE2 `regexp_extract_all` of the same pattern: the
    * cross-engine pin of the lossless-partition pre-tokenizer. Pieces
    * joined by chr(31) (absent from the corpus and the planted rows).
    */
  def bpePretok(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rawDocsDf(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val ps = Bpe.preTokenize(t)
        (id, ps.length, ps.mkString("\u001f"))
      }
      .toDF("doc_id", "n_pieces", "pieces_str")
      .orderBy("doc_id")
  }

  val bpePretokSql: String =
    s"""WITH $rawDocsSql,
       |pc AS (
       |  SELECT doc_id, regexp_extract_all(coalesce(text, ''), $preTokSqlLit) AS ps
       |  FROM rd)
       |SELECT doc_id, CAST(len(ps) AS INT) AS n_pieces,
       |  coalesce(array_to_string(ps, chr(31)), '') AS pieces_str
       |FROM pc ORDER BY doc_id""".stripMargin

  /** Pinned RAW byte-symbol merges — the normalized tier's regimes PLUS
    * the ones only raw text has: cased ascii (`Th`+`e` vs `t`+`h`),
    * the `ĠT` cased word boundary, the `ĠĠ` whitespace-run compression
    * merge (the multi-space tokens production byte-BPE vocabularies
    * learn), and a dead merge whose right side is never assembled.
    */
  private val PinnedRawMerges: Array[(String, String)] = {
    val aGrave = bs("à")
    val oDotCirc = bs("ộ")
    val smile = bs("🙂")
    Array(
      (bs("T"), bs("h")),
      (bs("Th"), bs("e")),
      (bs("t"), bs("h")),
      (bs(" "), bs("T")),
      (bs(" "), bs(" ")),
      (aGrave.substring(0, 1), aGrave.substring(1)),
      (bs("h"), aGrave),
      (oDotCirc.substring(0, 1), oDotCirc.substring(1, 2)),
      (oDotCirc.substring(0, 2), oDotCirc.substring(2)),
      (smile.substring(0, 1), smile.substring(1, 2)),
      (smile.substring(0, 2), smile.substring(2, 3)),
      (smile.substring(0, 3), smile.substring(3)),
      (bs(" T"), bs("he")))
  }

  /** Raw-tier word CTEs ending in `rws(doc_id, wsyms)`: [[preTokSqlLit]]
    * pieces of the UNNORMALIZED text, each mapped to byte symbols —
    * no lowercasing, no whitespace collapse, no `Ġ` prefixing (the
    * space rides inside the piece). Shared by the raw encode chain and
    * the raw train oracle.
    */
  private val rawWordCtes: String =
    s"""$rawDocsSql,
       |rpc AS (
       |  SELECT doc_id, regexp_extract_all(coalesce(text, ''), $preTokSqlLit) AS ps
       |  FROM rd),
       |rws AS (
       |  SELECT doc_id, list_transform(ps, w -> $wsymExpr) AS wsyms
       |  FROM rpc)""".stripMargin

  /** Raw byte-tier CTE chain ending in `rben(doc_id, toks)`: piece
    * symbols joined by the chr(10) sentinel (no byte symbol is a
    * control character, so the sentinel is unmatchable even though raw
    * TEXT may contain newlines — those are symbols chr(266) by then),
    * then the standard doubled-separator replace chain over
    * [[PinnedRawMerges]].
    */
  private val bpeBytesRawEncCtes: String = {
    val chain = PinnedRawMerges.foldLeft(
      "'  ' || coalesce(array_to_string(list_transform(" +
        "range(1, len(s)+1), j -> s[j]), '  '), '') || '  '") {
      case (e, (l, r)) =>
        rep4(e, s"'${l.replace("'", "''")}'", s"'${r.replace("'", "''")}'")
    }
    s"""$rawWordCtes,
       |rsy AS (
       |  SELECT doc_id, coalesce(array_to_string(wsyms, chr(10)), '') AS s
       |  FROM rws),
       |rben AS (
       |  SELECT doc_id, [x for x in string_split(trim($chain), '  ') if x <> '' AND x <> chr(10)] AS toks
       |  FROM rsy)""".stripMargin
  }

  /** [[Bpe.encodeWithMergesFast]] (`Regime.Raw()`) under
    * [[PinnedRawMerges]] over the raw union corpus — case- and
    * whitespace-preserving byte tokens.
    */
  def bpeEncodeBytesRaw(s: SparkSession, dir: String): DataFrame =
    Bpe.encodeWithMergesFast(rawDocsDf(s, dir), "doc_id", "text",
        PinnedRawMerges, regime = Bpe.Regime.Raw())
      .select(col("doc_id"), col("n_tokens"),
        array_join(col("tokens"), " ").as("tok_str"))
      .orderBy("doc_id")

  val bpeEncodeBytesRawSql: String =
    s"""WITH $bpeBytesRawEncCtes
       |SELECT doc_id, CAST(coalesce(len(toks), 0) AS INT) AS n_tokens,
       |  coalesce(array_to_string(toks, ' '), '') AS tok_str
       |FROM rben ORDER BY doc_id""".stripMargin

  /** RAW exact round-trip: encode then decode every doc; the oracle is
    * the RAW INPUT COLUMN itself — no normalization proviso. The
    * headline raw-regime property: `decodeBytes ∘ encode` under
    * `Regime.Raw()` is the identity on arbitrary UTF-8 (mixed case,
    * space runs, tab/newline, Vietnamese, astral — all planted).
    */
  def bpeBytesRoundtripRaw(s: SparkSession, dir: String): DataFrame =
    Bpe.decodeBytes(
        Bpe.encodeWithMergesFast(rawDocsDf(s, dir), "doc_id", "text",
          PinnedRawMerges, regime = Bpe.Regime.Raw()),
        "doc_id")
      .orderBy("doc_id")

  val bpeBytesRoundtripRawSql: String =
    s"""WITH $rawDocsSql
       |SELECT doc_id, coalesce(text, '') AS text_rt
       |FROM rd ORDER BY doc_id""".stripMargin

  /** [[Bpe.train]] (`Regime.Raw()`) over the raw union corpus — merges
    * learned over exactly the pre-tokenized piece forms the Raw encode
    * consumes, routed through [[Bpe.preTokenize]] end to end.
    */
  def bpeTrainBytesRaw(s: SparkSession, dir: String): DataFrame =
    Bpe.train(rawDocsDf(s, dir), "text", BpeRounds, regime = Bpe.Regime.Raw())
      .orderBy("rank")

  /** Oracle: the SAME unrolled merge-learning rounds as
    * [[bpeTrainBytesSql]], over the raw piece-symbol word table.
    */
  val bpeTrainBytesRawSql: String = trainRoundsSql(Seq(
    rawWordCtes,
    """rwc AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(wsyms) AS word FROM rws) WHERE word <> '' GROUP BY 1)""".stripMargin,
    """s0 AS (SELECT word, cnt, [word[j] for j in range(1, len(word)+1)] AS s FROM rwc)"""),
    BpeRounds)

  /** [[Bpe.fertility]] (`Regime.Raw()`) grouped by language (planted rows as
    * 'planted'): tokens per NON-WHITESPACE piece under the raw table —
    * the cased-script coverage audit the round-12 verdict asked the
    * fertility metric to re-run in raw coordinates.
    */
  def bpeFertilityBytesRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = PlantedRawDocs
      .map { case (id, t) => (id, t, "planted") }
      .toDF("doc_id", "text", "lang")
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("lang"))
      .unionByName(planted)
    Bpe.fertility(docs, "doc_id", "text", "lang", PinnedRawMerges,
      regime = Bpe.Regime.Raw())
      .orderBy("lang")
  }

  val bpeFertilityBytesRawSql: String =
    s"""WITH enc AS (SELECT doc_id, n_tokens FROM ($bpeEncodeBytesRawSql)),
       |rl AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id AS BIGINT), 'planted', CAST(text AS VARCHAR)
       |  FROM (VALUES $rawDocVals) v(doc_id, text)),
       |wds AS (
       |  SELECT doc_id, lang,
       |    CAST(len([p for p in regexp_extract_all(coalesce(text, ''), $preTokSqlLit) if regexp_matches(p, '${Bpe.NonWsClass}')]) AS BIGINT) AS nw
       |  FROM rl)
       |SELECT w.lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(w.nw) AS BIGINT) AS n_words,
       |  CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
       |  CASE WHEN sum(w.nw) = 0 THEN NULL
       |    ELSE CAST(sum(e.n_tokens) AS DOUBLE) / CAST(sum(w.nw) AS DOUBLE)
       |  END AS fertility
       |FROM wds w JOIN enc e ON w.doc_id = e.doc_id
       |GROUP BY w.lang ORDER BY w.lang""".stripMargin

  /** u32-of-md5 over a SQL string expression — the DuckDB restatement
    * of [[graft.functions.Hashes.u32OfMd5]] (first 8 hex digits as a
    * base-16 integer), shared with [[PipelineGates.shardFoldSql]]'s
    * fold form.
    */
  private def u32Sql(strExpr: String): String =
    "list_reduce([strpos('0123456789abcdef', substr(md5(" + strExpr +
      "), j, 1)) - 1 for j in range(1, 9)], (a, b) -> a * 16 + b)"

  /** [[graft.llm.SpanCorrupt.fim]] over the raw union corpus (mixed
    * case / whitespace / astral regimes planted): deterministic
    * 1-in-2 selection, hash-derived character cuts, PSM rendering —
    * non-selected docs pass through verbatim.
    */
  def fimTransform(s: SparkSession, dir: String): DataFrame =
    graft.llm.SpanCorrupt.fim(rawDocsDf(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val fimTransformSql: String = {
    val hF = u32Sql("CAST(doc_id AS VARCHAR) || ':fim'")
    val h1 = u32Sql("CAST(doc_id AS VARCHAR) || ':cut1'")
    val h2 = u32Sql("CAST(doc_id AS VARCHAR) || ':cut2'")
    s"""WITH $rawDocsSql,
       |d AS (SELECT doc_id, coalesce(text, '') AS tx FROM rd),
       |h AS (
       |  SELECT doc_id, tx, CAST(len(tx) AS INT) AS n,
       |    ($hF % 2 = 0 AND len(tx) >= 2) AS ap,
       |    CAST($h1 % (len(tx) + 1) AS INT) AS c1,
       |    CAST($h2 % (len(tx) + 1) AS INT) AS c2
       |  FROM d),
       |x AS (
       |  SELECT doc_id, tx, n, ap,
       |    least(c1, c2) AS lo, greatest(c1, c2) AS hi
       |  FROM h)
       |SELECT doc_id, ap AS fim_applied, n AS n_chars,
       |  CASE WHEN ap THEN lo END AS fim_lo,
       |  CASE WHEN ap THEN hi END AS fim_hi,
       |  CASE WHEN ap THEN
       |    '<|fim_pre|>' || substr(tx, 1, lo) ||
       |    '<|fim_suf|>' || substr(tx, hi + 1, n - hi) ||
       |    '<|fim_mid|>' || substr(tx, lo + 1, hi - lo)
       |  ELSE tx END AS fim_text
       |FROM x ORDER BY doc_id""".stripMargin
  }

  // ---- Reserved specials + raw trainer-contract ids ---------------------

  /** Reserved special tokens for the id tiers — BOS/EOS/PAD pinned at
    * ids 0/1/2 by [[Bpe.vocabBytes]]'s prefix contract. [[EosId]] is
    * what [[Sft.packTokens]]'s separator joint threads through.
    */
  private val Specials = Seq("<|bos|>", "<|eos|>", "<|pad|>")
  private val EosId = Specials.indexOf("<|eos|>")

  /** The specials-prefixed byte vocabulary SQL for any pinned merge
    * table: specials at 0..k-1, byte symbols at k..k+255, surviving
    * merge outputs compacted after — [[bpeVocabBytesSql]]'s contract
    * with the prefix shift.
    */
  private def vocabSpecialsSqlFor(merges: Array[(String, String)]): String = {
    val k = Specials.size
    val svals = Specials.zipWithIndex
      .map { case (t, i) => s"($i, '${t.replace("'", "''")}')" }
      .mkString(", ")
    val mvals = merges.zipWithIndex
      .map { case ((l, r), i) => s"($i, '${(l + r).replace("'", "''")}')" }
      .mkString(", ")
    s"""WITH sp(token_id, token) AS (VALUES $svals),
       |r AS (SELECT CAST(i AS INT) AS i FROM range(0, 256) t(i)),
       |b AS (
       |  SELECT CAST(i + $k AS INT) AS token_id, ${sqlByteSym("i")} AS token
       |  FROM r),
       |m0(rank, token) AS (VALUES $mvals),
       |m1 AS MATERIALIZED (
       |  SELECT token, min(rank) AS rank FROM m0
       |  WHERE token NOT IN (SELECT token FROM b)
       |    AND token NOT IN (SELECT token FROM sp)
       |  GROUP BY token),
       |m AS (
       |  SELECT CAST(${255 + k} + row_number() OVER (ORDER BY rank) AS INT) AS token_id, token
       |  FROM m1)
       |SELECT CAST(token_id AS INT) AS token_id, token FROM sp
       |UNION ALL
       |SELECT token_id, token FROM b
       |UNION ALL
       |SELECT token_id, token FROM m
       |ORDER BY token_id""".stripMargin
  }

  /** [[Bpe.vocabBytes]] under [[PinnedByteMerges]] with the reserved
    * [[Specials]] prefix: BOS/EOS/PAD at 0..2, byte ids shifted to
    * 3..258, merges compacted after.
    */
  def bpeVocabSpecials(s: SparkSession, dir: String): DataFrame =
    Bpe.vocabBytes(s, PinnedByteMerges, Specials).orderBy("token_id")

  val bpeVocabSpecialsSql: String = vocabSpecialsSqlFor(PinnedByteMerges)

  /** [[Bpe.encodeIds]] (`Regime.Raw()`) under [[PinnedRawMerges]] against the
    * SPECIALS-prefixed vocabulary — the raw-tier trainer-contract id
    * streams, proving the shifted ids thread through the string-keyed
    * lookup untouched (content ids ≥ 3, −1 impossible).
    */
  def bpeEncodeIdsBytesRaw(s: SparkSession, dir: String): DataFrame =
    Bpe.encodeIds(rawDocsDf(s, dir), "doc_id", "text",
        PinnedRawMerges, Bpe.vocabBytes(s, PinnedRawMerges, Specials),
          regime = Bpe.Regime.Raw())
      .select(col("doc_id"), col("n_tokens"),
        array_join(transform(col("token_ids"), i => i.cast("string")), " ")
          .as("ids_str"))
      .orderBy("doc_id")

  val bpeEncodeIdsBytesRawSql: String =
    s"""WITH $bpeBytesRawEncCtes,
       |voc AS (SELECT token_id, token FROM (${vocabSpecialsSqlFor(PinnedRawMerges)})),
       |tk AS (
       |  SELECT doc_id, unnest(range(1, len(toks)+1)) AS j, toks
       |  FROM rben),
       |tok1 AS (SELECT doc_id, j, toks[j] AS tok FROM tk),
       |ids AS (
       |  SELECT t.doc_id, t.j, v.token_id
       |  FROM tok1 t JOIN voc v ON v.token = t.tok),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY j) AS ids_str
       |  FROM ids GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.ids_str, '') AS ids_str
       |FROM (SELECT doc_id FROM rd) d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- Vocabulary import boundary (merges.txt / vocab.json) ------------

  /** The full import → encode path: [[PinnedRawMerges]] and its
    * specials-prefixed byte vocabulary are RENDERED to the standard
    * `merges.txt` / `vocab.json` interchange files, read back through
    * [[Bpe.loadMerges]]/[[Bpe.loadVocab]], and the loaded model drives
    * `encodeIds(regime = Regime.Raw(hf = true))` — the documented kernel for
    * imported vocabularies. The oracle never sees the files: it
    * restates the expected END result from the pinned table, so any
    * loss in render→parse (rank order, multi-byte symbols, specials,
    * JSON escaping) breaks the hash.
    */
  def bpeImportVocab(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_vocab_import")
    try {
      val mPath = tmp.resolve("merges.txt")
      val vPath = tmp.resolve("vocab.json")
      java.nio.file.Files.writeString(mPath,
        Bpe.renderMerges(PinnedRawMerges))
      java.nio.file.Files.writeString(vPath,
        Bpe.renderVocab(Bpe.vocabBytes(s, PinnedRawMerges, Specials)))
      // loadMerges/loadVocab/encodeIds all collect the model
      // EAGERLY (bounded-model contract), so the temp files can be
      // deleted before the returned frame is ever evaluated
      val merges = Bpe.mergesOf(Bpe.loadMerges(s, mPath.toString))
      val vocab = Bpe.loadVocab(s, vPath.toString)
      Bpe.encodeIds(rawDocsDf(s, dir), "doc_id", "text",
          merges, vocab, regime = Bpe.Regime.Raw(hf = true))
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), " ")
            .as("ids_str"))
        .orderBy("doc_id")
    } finally {
      graft.storage.TableStore.deleteRecursively(tmp)
    }
  }

  /** Oracle: the recursive HF chain under the pinned table, ids joined
    * through the same specials-prefixed vocabulary SQL — the
    * [[bpeEncodeIdsBytesRawSql]] id-assembly tail over `henc`.
    */
  val bpeImportVocabSql: String =
    s"""WITH RECURSIVE ${hfChainCtes(PinnedRawMerges)},
       |voc AS (SELECT token_id, token FROM (${vocabSpecialsSqlFor(PinnedRawMerges)})),
       |tk AS (
       |  SELECT doc_id, unnest(range(1, len(toks)+1)) AS j, toks
       |  FROM henc),
       |tok1 AS (SELECT doc_id, j, toks[j] AS tok FROM tk),
       |ids AS (
       |  SELECT t.doc_id, t.j, v.token_id
       |  FROM tok1 t JOIN voc v ON v.token = t.tok),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY j) AS ids_str
       |  FROM ids GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.ids_str, '') AS ids_str
       |FROM (SELECT doc_id FROM rd) d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- HF/GPT-2-compatible encode (min-rank-first, re-probing) ---------

  /** Pinned merge table where the HF priority-queue semantics PROVABLY
    * diverge from the rank-ascending pass form — a three-level
    * re-creation chain: rank 3 (`h`+`e`) assembles `he`, which rank 1/2
    * (`T|t`+`he`) consume, whose output `The` rank 0 (`Ġ`+`The`)
    * consumes. The pass form has already passed ranks 0–2 when rank 3
    * first fires, so it leaves `T he` split where HF re-probes back to
    * `ĠThe` — every "the"/"The" in the corpus separates the two
    * algorithms. Ranks 4–5 are agreement-domain merges (no pair
    * re-creation) proving the kernels coincide there.
    */
  private val PinnedHfMerges: Array[(String, String)] = Array(
    (bs(" "), bs("The")),
    (bs("T"), bs("he")),
    (bs("t"), bs("he")),
    (bs("h"), bs("e")),
    (bs("a"), bs("n")),
    (bs("i"), bs("n")))

  /** [[Bpe.encodeWithMergesFast]] under `Regime.Raw(hf = true)` and
    * [[PinnedHfMerges]] over the raw union corpus — the
    * [[Bpe.encodeWordHf]] kernel (the published GPT-2/HuggingFace
    * min-rank-first algorithm) against an oracle that independently
    * unrolls the min-rank merge steps. A pass-form kernel here would
    * hash-mismatch on every document containing "the".
    */
  def bpeEncodeHf(s: SparkSession, dir: String): DataFrame =
    Bpe.encodeWithMergesFast(rawDocsDf(s, dir), "doc_id", "text",
        PinnedHfMerges, regime = Bpe.Regime.Raw(hf = true))
      .select(col("doc_id"), col("n_tokens"),
        array_join(col("tokens"), " ").as("tok_str"))
      .orderBy("doc_id")

  /** Oracle: a RECURSIVE CTE running the literal HF loop — each step
    * finds the LOWEST rank whose doubled-separator pair pattern occurs
    * anywhere in the document's symbol string (the chr(10) piece
    * sentinel keeps pairs from crossing piece boundaries, and the
    * global min restricted to any one piece is that piece's own min
    * whenever it fires there, so whole-document scheduling ≡ per-piece
    * HF) and applies that ONE rank's 4×-replace merge pass, recursing
    * until no listed pair remains. Every step strictly shrinks the
    * string (a merge drops two separator chars), so the final state is
    * the unique minimum-length row per document and termination is
    * structural, not a depth guess.
    */
  /** The recursive min-rank CTE chain for an arbitrary pinned merge
    * table, ending in `henc(doc_id, toks)` — shared by the HF encode
    * gate, the import-boundary gate, and the end-to-end production
    * chain (which swaps in the GPT-2-split word CTEs via
    * `wordCtes`/`wordsRel`).
    */
  private def hfChainCtes(merges: Array[(String, String)],
                          wordCtes: String = rawWordCtes,
                          wordsRel: String = "rws"): String = {
    def esc(x: String) = x.replace("'", "''")
    val whens = merges.map { case (l, r) =>
      s"WHEN contains(s, '  ${esc(l)}  ${esc(r)}  ') THEN " +
        rep4("s", s"'${esc(l)}'", s"'${esc(r)}'")
    }.mkString("\n      ")
    val anyPresent = merges.map { case (l, r) =>
      s"contains(s, '  ${esc(l)}  ${esc(r)}  ')"
    }.mkString(" OR ")
    s"""$wordCtes,
       |hs0 AS (
       |  SELECT doc_id,
       |    '  ' || coalesce(array_to_string(list_transform(range(1, len(s)+1), j -> s[j]), '  '), '') || '  ' AS s
       |  FROM (SELECT doc_id, coalesce(array_to_string(wsyms, chr(10)), '') AS s FROM $wordsRel) t),
       |hf AS (
       |  SELECT doc_id, s FROM hs0
       |  UNION ALL
       |  SELECT doc_id,
       |    CASE $whens ELSE s END AS s
       |  FROM hf
       |  WHERE $anyPresent),
       |fin AS (
       |  SELECT doc_id, s,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY len(s) ASC) AS rn
       |  FROM hf),
       |henc AS (
       |  SELECT doc_id, [x for x in string_split(trim(s), '  ') if x <> '' AND x <> chr(10)] AS toks
       |  FROM fin WHERE rn = 1)""".stripMargin
  }

  val bpeEncodeHfSql: String =
    s"""WITH RECURSIVE ${hfChainCtes(PinnedHfMerges)}
       |SELECT doc_id, CAST(coalesce(len(toks), 0) AS INT) AS n_tokens,
       |  coalesce(array_to_string(toks, ' '), '') AS tok_str
       |FROM henc ORDER BY doc_id""".stripMargin

  // ---- Exact GPT-2 pre-tokenization (trailing-space split) -------------

  /** GPT-2-split raw word CTEs ending in `gws(doc_id, wsyms)`: the
    * oracle restatement of [[Bpe.preTokenizeGpt2]]'s lookahead-free
    * construction — a sentinel `regexp_replace` inserts chr(1)
    * immediately before every whitespace char whose successor is
    * non-whitespace (exactly the last whitespace of each run followed
    * by non-whitespace; the two-char matches are disjoint, so one
    * global pass suffices), `string_split` on the sentinel yields the
    * segments, and each segment is independently
    * `regexp_extract_all`'d with the plain portable pattern. chr(1)
    * is absent from the corpus and every planted row.
    */
  private val gpt2WordCtes: String =
    s"""$rawDocsSql,
       |gsg AS (
       |  SELECT doc_id, string_split(
       |    regexp_replace(coalesce(text, ''),
       |      '(${Bpe.WsClass})(${Bpe.NonWsClass})', chr(1) || '\\1\\2', 'g'),
       |    chr(1)) AS segs
       |  FROM rd),
       |gpc AS (
       |  SELECT doc_id, flatten(list_transform(segs,
       |    g -> regexp_extract_all(g, $preTokSqlLit))) AS ps
       |  FROM gsg),
       |gws AS (
       |  SELECT doc_id, list_transform(ps, w -> $wsymExpr) AS wsyms
       |  FROM gpc)""".stripMargin

  /** [[Bpe.preTokenizeGpt2]] over the raw union corpus — the JVM
    * segment-retokenize kernel against the independent RE2 sentinel
    * surgery: the cross-engine pin of the EXACT GPT-2 split (a
    * whitespace run followed by a word donates its last space — the
    * `bpe_pretok` gate pins the portable split, this one the
    * production split; the planted multi-space/indentation/contraction
    * rows separate the two).
    */
  def bpePretokGpt2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rawDocsDf(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val ps = Bpe.preTokenizeGpt2(t)
        (id, ps.length, ps.mkString("\u001f"))
      }
      .toDF("doc_id", "n_pieces", "pieces_str")
      .orderBy("doc_id")
  }

  val bpePretokGpt2Sql: String =
    s"""WITH $gpt2WordCtes
       |SELECT doc_id, CAST(len(ps) AS INT) AS n_pieces,
       |  coalesce(array_to_string(ps, chr(31)), '') AS pieces_str
       |FROM gpc ORDER BY doc_id""".stripMargin

  /** Raw byte-tier encode chain over the GPT-2 split, ending in
    * `gen(doc_id, toks)` — [[bpeBytesRawEncCtes]] with `gws` as the
    * word table (same sentinel join, same doubled-separator replace
    * chain over [[PinnedRawMerges]]).
    */
  private val bpeBytesGpt2EncCtes: String = {
    val chain = PinnedRawMerges.foldLeft(
      "'  ' || coalesce(array_to_string(list_transform(" +
        "range(1, len(s)+1), j -> s[j]), '  '), '') || '  '") {
      case (e, (l, r)) =>
        rep4(e, s"'${l.replace("'", "''")}'", s"'${r.replace("'", "''")}'")
    }
    s"""$gpt2WordCtes,
       |gsy AS (
       |  SELECT doc_id, coalesce(array_to_string(wsyms, chr(10)), '') AS s
       |  FROM gws),
       |gen AS (
       |  SELECT doc_id, [x for x in string_split(trim($chain), '  ') if x <> '' AND x <> chr(10)] AS toks
       |  FROM gsy)""".stripMargin
  }

  /** [[Bpe.encodeWithMergesFast]] under `Regime.Raw(gpt2Ws = true)` and
    * [[PinnedRawMerges]] — raw byte tokens over the EXACT GPT-2 pieces
    * (the `ĠĠ` whitespace-run merge now sees run[0..n−2] pieces, and
    * every post-run word carries its donated `Ġ`).
    */
  def bpeEncodeBytesGpt2(s: SparkSession, dir: String): DataFrame =
    Bpe.encodeWithMergesFast(rawDocsDf(s, dir), "doc_id", "text",
        PinnedRawMerges, regime = Bpe.Regime.Raw(gpt2Ws = true))
      .select(col("doc_id"), col("n_tokens"),
        array_join(col("tokens"), " ").as("tok_str"))
      .orderBy("doc_id")

  val bpeEncodeBytesGpt2Sql: String =
    s"""WITH $bpeBytesGpt2EncCtes
       |SELECT doc_id, CAST(coalesce(len(toks), 0) AS INT) AS n_tokens,
       |  coalesce(array_to_string(toks, ' '), '') AS tok_str
       |FROM gen ORDER BY doc_id""".stripMargin

  /** GPT-2-split exact round-trip: the split is still a lossless
    * partition (segments concatenate to the input, each segment's
    * pieces to the segment), so `decodeBytes ∘ encode` under
    * `Raw(gpt2Ws = true)` stays the identity on arbitrary UTF-8 — the
    * oracle is again the raw input column.
    */
  def bpeBytesRoundtripGpt2(s: SparkSession, dir: String): DataFrame =
    Bpe.decodeBytes(
        Bpe.encodeWithMergesFast(rawDocsDf(s, dir), "doc_id", "text",
          PinnedRawMerges, regime = Bpe.Regime.Raw(gpt2Ws = true)),
        "doc_id")
      .orderBy("doc_id")

  val bpeBytesRoundtripGpt2Sql: String = bpeBytesRoundtripRawSql

  /** [[Bpe.train]] under `Regime.Raw(gpt2Ws = true)` — merges learned over
    * exactly the GPT-2 pieces [[bpeEncodeBytesGpt2]] consumes: the
    * trailing-space split changes the learned vocabulary on
    * indentation-heavy text (multi-space tokens shrink by one, donated
    * spaces fatten the ` word` forms), which is the whole reason the
    * exact split exists.
    */
  def bpeTrainBytesGpt2(s: SparkSession, dir: String): DataFrame =
    Bpe.train(rawDocsDf(s, dir), "text", BpeRounds,
      regime = Bpe.Regime.Raw(gpt2Ws = true))
      .orderBy("rank")

  val bpeTrainBytesGpt2Sql: String = trainRoundsSql(Seq(
    gpt2WordCtes,
    """gwc AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(wsyms) AS word FROM gws) WHERE word <> '' GROUP BY 1)""".stripMargin,
    """s0 AS (SELECT word, cnt, [word[j] for j in range(1, len(word)+1)] AS s FROM gwc)"""),
    BpeRounds)

  /** THE PRODUCTION TOKENIZER, END TO END: the exact GPT-2 pre-split
    * ([[Bpe.preTokenizeGpt2]]) + the HF min-rank encode kernel
    * ([[Bpe.encodeWordHf]]) + a vocabulary IMPORTED through the
    * standard `merges.txt`/`vocab.json` interchange — the composition a
    * real user runs the first time they load a published GPT-2-family
    * artifact, every piece of which round 14 added, chained in one
    * gate. A wrong kernel, wrong split, or lossy import anywhere in
    * the chain breaks the id-stream hash.
    */
  def bpeGpt2E2e(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gpt2_e2e")
    try {
      val mPath = tmp.resolve("merges.txt")
      val vPath = tmp.resolve("vocab.json")
      java.nio.file.Files.writeString(mPath,
        Bpe.renderMerges(PinnedRawMerges))
      java.nio.file.Files.writeString(vPath,
        Bpe.renderVocab(Bpe.vocabBytes(s, PinnedRawMerges, Specials)))
      val merges = Bpe.mergesOf(Bpe.loadMerges(s, mPath.toString))
      val vocab = Bpe.loadVocab(s, vPath.toString)
      Bpe.encodeIds(rawDocsDf(s, dir), "doc_id", "text",
          merges, vocab, regime = Bpe.Regime.Raw(gpt2Ws = true, hf = true))
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), " ")
            .as("ids_str"))
        .orderBy("doc_id")
    } finally {
      graft.storage.TableStore.deleteRecursively(tmp)
    }
  }

  /** Oracle: the recursive min-rank chain over the GPT-2-SPLIT word
    * CTEs, ids joined through the specials-prefixed vocabulary — the
    * [[bpeImportVocabSql]] tail with `gws` as the piece table.
    */
  val bpeGpt2E2eSql: String =
    s"""WITH RECURSIVE ${hfChainCtes(PinnedRawMerges, gpt2WordCtes, "gws")},
       |voc AS (SELECT token_id, token FROM (${vocabSpecialsSqlFor(PinnedRawMerges)})),
       |tk AS (
       |  SELECT doc_id, unnest(range(1, len(toks)+1)) AS j, toks
       |  FROM henc),
       |tok1 AS (SELECT doc_id, j, toks[j] AS tok FROM tk),
       |ids AS (
       |  SELECT t.doc_id, t.j, v.token_id
       |  FROM tok1 t JOIN voc v ON v.token = t.tok),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY j) AS ids_str
       |  FROM ids GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
       |  coalesce(a.ids_str, '') AS ids_str
       |FROM (SELECT doc_id FROM rd) d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- Logistic regression --------------------------------------------

  private val LrIters = 3
  private val LrRate = 0.5
  private val Dim = LlmGates.Dim

  /** [[LogReg.train]]: 3 full-batch rounds on `embeddings` with the
    * binary target `label >= 5` — the fitted 65-weight model.
    */
  def logregTrain(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val labeled = e.select(col("vec_id"),
      (col("label") >= 5).cast("int").as("y"), col("embedding"))
    LogReg.train(labeled, "y", "embedding", LrIters, LrRate).orderBy("j")
  }

  /** Oracle: the gradient-descent loop unrolled — per iteration, the
    * exact-decimal margin sum (VARCHAR-routed boundaries), the
    * algebraic sigmoid + round-6 quantize, the exact-decimal gradient
    * aggregation, and the round-6 weight update. Identical IEEE ops in
    * identical order on both engines; every cross-row sum is an exact
    * decimal, so shuffle order cannot leak in.
    */
  /** The [[LrIters]]-round gradient-descent CTE chain over a relation
    * `ax(vec_id, y, j, x)` (augmented features, j = 0 the bias) — the
    * fitted weights end in relation `w$LrIters`. Shared by the
    * `logreg_train` (dense embeddings) and `logreg_text` (hashed text
    * features) oracles.
    */
  private def lrChainCtes(axCtes: String, dim: Int,
                          iters: Int = LrIters,
                          lr: Double = LrRate): Seq[String] = {
    // Every CTE is MATERIALIZED: each round references ax twice and the
    // previous round's weights three times, so DuckDB's default CTE
    // inlining re-expands the chain EXPONENTIALLY in the round count
    // (3 rounds inlines in seconds; 10 rounds ran minutes before being
    // killed; materialized, 10 rounds evaluate in <1 s).
    val ctes = scala.collection.mutable.ArrayBuffer(
      axCtes.replace(" AS (", " AS MATERIALIZED ("),
      """n AS MATERIALIZED (SELECT CAST(count(DISTINCT vec_id) AS DOUBLE) AS n FROM ax)""",
      s"""w0 AS MATERIALIZED (SELECT j, 0.0::DOUBLE AS w FROM (SELECT unnest(range(0, ${dim + 1})) AS j))""")
    for (k <- 0 until iters) {
      ctes += s"""mg$k AS MATERIALIZED (
        |  SELECT a.vec_id, any_value(a.y) AS y,
        |    CAST(CAST(sum(CAST(CAST(a.x * w.w AS VARCHAR) AS DECIMAL(28,15))) AS VARCHAR) AS DOUBLE) AS m
        |  FROM ax a JOIN w$k w USING (j) GROUP BY a.vec_id)""".stripMargin
      ctes += s"""pp$k AS MATERIALIZED (
        |  SELECT vec_id, y,
        |    floor((0.5 * (1.0 + m / (1.0 + abs(m)))) * 1000000 + 0.5) / 1000000 AS p
        |  FROM mg$k)""".stripMargin
      ctes += s"""gr$k AS MATERIALIZED (
        |  SELECT a.j,
        |    CAST(CAST(sum(CAST(CAST((p.p - p.y) * a.x AS VARCHAR) AS DECIMAL(28,15))) AS VARCHAR) AS DOUBLE) AS g
        |  FROM ax a JOIN pp$k p USING (vec_id) GROUP BY a.j)""".stripMargin
      ctes += s"""w${k + 1} AS MATERIALIZED (
        |  SELECT w.j, floor((w.w - $lr * (g.g / n.n)) * 1000000 + 0.5) / 1000000 AS w
        |  FROM w$k w JOIN gr$k g USING (j), n)""".stripMargin
    }
    ctes.toSeq
  }

  val logregTrainSql: String = {
    val ax =
      s"""ax AS (
         |  SELECT vec_id, CAST((label >= 5) AS INT) AS y, j,
         |    CASE WHEN j = 0 THEN 1.0::DOUBLE ELSE CAST(embedding[j] AS DOUBLE) END AS x
         |  FROM embeddings, (SELECT unnest(range(0, ${Dim + 1})) AS j))""".stripMargin
    "WITH " + lrChainCtes(ax, Dim).mkString(",\n") +
      s"\nSELECT CAST(j AS INT) AS j, w FROM w$LrIters ORDER BY j"
  }

  /** Pinned 65-weight model for the scoring gate — a deterministic
    * small-magnitude pattern, independent of the training chain so the
    * two gates fail independently.
    */
  private val PinnedW: Array[Double] =
    Array.tabulate(Dim + 1)(j => ((j * 37) % 13 - 6) / 100.0)

  /** [[LogReg.scores]] under [[PinnedW]]: the corpus-sized scoring
    * pass — round-6 algebraic-sigmoid score + 0.5-threshold verdict.
    */
  def logregScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val model = s.createDataset(PinnedW.toSeq.zipWithIndex
      .map { case (w, j) => (j, w) }).toDF("j", "w")
    LogReg.scores(Tables(s, dir, "embeddings"), "vec_id", "embedding", model)
      .orderBy("vec_id")
  }

  val logregScoresSql: String = {
    val wLit = PinnedW.mkString("[", ", ", "]::DOUBLE[]")
    s"""WITH ax AS (
       |  SELECT vec_id, j,
       |    CASE WHEN j = 0 THEN 1.0::DOUBLE ELSE CAST(embedding[j] AS DOUBLE) END AS x
       |  FROM embeddings, (SELECT unnest(range(0, ${Dim + 1})) AS j)),
       |mg AS (
       |  SELECT vec_id,
       |    CAST(CAST(sum(CAST(CAST(x * ($wLit)[j + 1] AS VARCHAR) AS DECIMAL(28,15))) AS VARCHAR) AS DOUBLE) AS m
       |  FROM ax GROUP BY vec_id)
       |SELECT vec_id,
       |  floor((0.5 * (1.0 + m / (1.0 + abs(m)))) * 1000000 + 0.5) / 1000000 AS score,
       |  CAST(floor((0.5 * (1.0 + m / (1.0 + abs(m)))) * 1000000 + 0.5) / 1000000 >= 0.5 AS INT) AS pred
       |FROM mg ORDER BY vec_id""".stripMargin
  }

  // ---- trained text classifier (hashing trick + linear head) ----------

  private val TextDim = 32
  private val TextLrIters = 10
  private val TextLr = 2.0     // exact in binary, like 0.5
  private val TextScale = 64.0 // power of two: x/64 is an EXACT division

  /** The corpus-scale trainable TEXT classifier: hashed-TF dense
    * vectors ([[TextStats.hashedTfVector]], 32 buckets, counts scaled
    * by the exact 1/64) → 10 rounds of [[LogReg.train]] at lr 2.0 →
    * the trained model scores the same corpus. Train-and-apply
    * verified as ONE chain — the fastText-style quality-filter loop.
    * The target is `n_chars ≥ 300` (long-doc detection), chosen
    * because it is genuinely LEARNABLE from hashed token counts — the
    * synthetic corpus draws the same vocabulary for every language, so
    * a `lang` target would only exercise the majority-class fallback.
    * The fitted accuracy is 0.862 on the sf0.01 corpus (non-degenerate
    * by construction; raw unscaled counts at 3 rounds plateau at the
    * majority class, which is why the scale/lr/rounds differ from the
    * dense gate's).
    */
  def logregText(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val y = docs.select(col("doc_id"),
      (col("n_chars") >= 300).cast("int").as("y"))
    val feats = graft.llm.TextStats.hashedTfVector(docs, "doc_id", "text",
        TextDim)
      .select(col("doc_id"),
        transform(col("vec"), x => x / lit(TextScale)).as("vec"))
    val model = LogReg.train(feats.join(y, Seq("doc_id")), "y", "vec",
      TextLrIters, TextLr)
    LogReg.scores(feats, "doc_id", "vec", model)
      .join(y, Seq("doc_id"))
      .select(col("doc_id"), col("y"), col("score"), col("pred"))
      .orderBy("doc_id")
  }

  /** Oracle: hashed-TF features (md5-fold bucket ≡ the engine's
    * `u32OfMd5 % dim`), the shared training chain, then the scoring
    * pass against the fitted `w$LrIters`.
    */
  val logregTextSql: String = {
    val ax =
      s"""tk AS (
         |  SELECT doc_id, unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS t
         |  FROM documents),
         |tfc AS (
         |  SELECT doc_id, ${PipelineGates.shardFoldSql("t", TextDim)} AS i,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM tk WHERE t <> '' GROUP BY 1, 2),
         |ax AS (
         |  SELECT d.doc_id AS vec_id, CAST((d.n_chars >= 300) AS INT) AS y, js.j,
         |    CASE WHEN js.j = 0 THEN 1.0::DOUBLE
         |      ELSE CAST(coalesce(f.c, 0) AS DOUBLE) / $TextScale END AS x
         |  FROM documents d
         |  CROSS JOIN (SELECT unnest(range(0, ${TextDim + 1})) AS j) js
         |  LEFT JOIN tfc f ON f.doc_id = d.doc_id AND f.i = js.j - 1)""".stripMargin
    "WITH " + lrChainCtes(ax, TextDim, TextLrIters, TextLr).mkString(",\n") + s""",
      |mgS AS (
      |  SELECT a.vec_id, any_value(a.y) AS y,
      |    CAST(CAST(sum(CAST(CAST(a.x * w.w AS VARCHAR) AS DECIMAL(28,15))) AS VARCHAR) AS DOUBLE) AS m
      |  FROM ax a JOIN w$TextLrIters w USING (j) GROUP BY a.vec_id)
      |SELECT vec_id AS doc_id, y,
      |  floor((0.5 * (1.0 + m / (1.0 + abs(m)))) * 1000000 + 0.5) / 1000000 AS score,
      |  CAST(floor((0.5 * (1.0 + m / (1.0 + abs(m)))) * 1000000 + 0.5) / 1000000 >= 0.5 AS INT) AS pred
      |FROM mgS ORDER BY doc_id""".stripMargin
  }

  // ---- SFT assembly ---------------------------------------------------

  private val SftBudget = 400

  private def sftTurnsDf(s: SparkSession, dir: String): DataFrame =
    Sft.turns(Tables(s, dir, "events"), "user_id", "ts", "event_type",
      "props")

  /** [[Sft.turns]]: the per-turn table with roles, rendered-line
    * lengths, [start, end) character offsets, and the loss mask.
    */
  def sftTurns(s: SparkSession, dir: String): DataFrame =
    sftTurnsDf(s, dir).orderBy("conv_id", "turn_idx")

  /** Shared turn-table CTE chain ending in `t(conv_id, turn_idx, role,
    * content, line_len, start_off, end_off, masked)`.
    */
  private val sftTurnsCte: String =
    """bs AS (
      |  SELECT CAST(user_id AS BIGINT) AS conv_id, ts, event_id,
      |    CASE WHEN event_type IN ('click', 'view') THEN 'user' ELSE 'assistant' END AS role,
      |    event_type || ' ' || coalesce(props, '') AS content
      |  FROM events),
      |ln AS (
      |  SELECT conv_id, ts, event_id, role, content,
      |    CAST(length(role || ': ' || content) AS INT) AS line_len
      |  FROM bs),
      |t AS (
      |  SELECT conv_id,
      |    CAST(row_number() OVER w AS INT) AS turn_idx, role, content, line_len,
      |    CAST(coalesce(sum(line_len + 1) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off,
      |    CAST(coalesce(sum(line_len + 1) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + line_len AS BIGINT) AS end_off,
      |    (role = 'assistant') AS masked
      |  FROM ln
      |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id))""".stripMargin

  val sftTurnsSql: String =
    s"""WITH $sftTurnsCte
       |SELECT * FROM t ORDER BY conv_id, turn_idx""".stripMargin

  /** [[Sft.truncateLatest]] at a 400-char budget: the drop-oldest
    * whole-turn truncation, renumbered and re-offset.
    */
  def sftTruncate(s: SparkSession, dir: String): DataFrame =
    Sft.truncateLatest(sftTurnsDf(s, dir), SftBudget)
      .orderBy("conv_id", "turn_idx")

  val sftTruncateSql: String =
    s"""WITH $sftTurnsCte,
       |sfx AS (
       |  SELECT *, sum(line_len + 1) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS sfx
       |  FROM t),
       |kept AS (SELECT * FROM sfx WHERE sfx <= $SftBudget)
       |SELECT conv_id,
       |  CAST(row_number() OVER w AS INT) AS turn_idx, role, content, line_len,
       |  CAST(coalesce(sum(line_len + 1) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off,
       |  CAST(coalesce(sum(line_len + 1) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + line_len AS BIGINT) AS end_off,
       |  masked
       |FROM kept
       |WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
       |ORDER BY conv_id, turn_idx""".stripMargin

  /** [[Sft.transcripts]]: the flat rendered transcript per
    * conversation plus the `start:end|…` loss-mask span list.
    */
  def sftTranscripts(s: SparkSession, dir: String): DataFrame =
    Sft.transcripts(sftTurnsDf(s, dir)).orderBy("conv_id")

  val sftTranscriptsSql: String =
    s"""WITH $sftTurnsCte
       |SELECT conv_id,
       |  CAST(count(*) AS BIGINT) AS n_turns,
       |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked_turns,
       |  CAST(sum(CASE WHEN masked THEN line_len ELSE 0 END) AS BIGINT) AS n_masked_chars,
       |  CAST(length(string_agg(role || ': ' || content, chr(10) ORDER BY turn_idx)) AS INT) AS n_chars,
       |  string_agg(role || ': ' || content, chr(10) ORDER BY turn_idx) AS transcript,
       |  coalesce(string_agg(CASE WHEN masked THEN CAST(start_off AS VARCHAR) || ':' || CAST(end_off AS VARCHAR) END,
       |    '|' ORDER BY turn_idx), '') AS mask_spans
       |FROM t GROUP BY conv_id ORDER BY conv_id""".stripMargin

  /** [[Sft.maskAudit]] over the real transcripts UNION planted
    * violations (the fixture's own masks are valid by construction, so
    * every failure mode is planted: out-of-bounds end, overlap,
    * inverted span, empty conversation, plus a legal touching-spans
    * row) — both verdict polarities and the null fraction populate.
    */
  def sftMaskAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val real = Sft.transcripts(sftTurnsDf(s, dir))
      .select(col("conv_id"), col("n_chars"), col("mask_spans"))
    val planted = Seq(
      (-5L, 12, "0:4|4:8"), // touching spans: legal
      (-4L, 0, ""),         // empty conversation -> null fraction
      (-3L, 10, "5:3"),     // inverted span
      (-2L, 20, "2:5|4:8"), // overlap
      (-1L, 10, "3:20"))    // end out of bounds
      .toDF("conv_id", "n_chars", "mask_spans")
    Sft.maskAudit(real.unionByName(planted)).orderBy("conv_id")
  }

  val sftMaskAuditSql: String =
    s"""WITH tr AS (
       |  SELECT conv_id, n_chars, mask_spans FROM ($sftTranscriptsSql)
       |  UNION ALL
       |  SELECT CAST(conv_id AS BIGINT), CAST(n_chars AS INT), mask_spans
       |  FROM (VALUES (-5, 12, '0:4|4:8'), (-4, 0, ''), (-3, 10, '5:3'),
       |    (-2, 20, '2:5|4:8'), (-1, 10, '3:20')) v(conv_id, n_chars, mask_spans)),
       |sp AS (
       |  SELECT conv_id, CAST(n_chars AS BIGINT) AS n_chars,
       |    [[CAST(string_split(x, ':')[1] AS BIGINT),
       |      CAST(string_split(x, ':')[2] AS BIGINT)]
       |     for x in string_split(mask_spans, '|') if x <> ''] AS spans
       |  FROM tr),
       |fl AS (
       |  SELECT conv_id, n_chars,
       |    CAST(len(spans) AS BIGINT) AS n_spans,
       |    coalesce(list_aggregate([CASE WHEN sp[1] >= 0 AND sp[2] <= n_chars
       |        AND sp[1] < sp[2] THEN 1 ELSE 0 END for sp in spans], 'min') = 1,
       |      TRUE) AS in_bounds,
       |    coalesce(list_aggregate([CASE WHEN i = 1 OR spans[i][1] >= spans[i-1][2]
       |        THEN 1 ELSE 0 END for i in range(1, len(spans)+1)], 'min') = 1,
       |      TRUE) AS ordered,
       |    CAST(coalesce(list_aggregate([sp[2] - sp[1] for sp in spans], 'sum'), 0)
       |      AS BIGINT) AS masked_units
       |  FROM sp)
       |SELECT conv_id, n_chars, n_spans, in_bounds, ordered, masked_units,
       |  CASE WHEN n_chars = 0 THEN NULL
       |    ELSE CAST(masked_units AS DOUBLE) / CAST(n_chars AS DOUBLE)
       |  END AS masked_frac,
       |  (in_bounds AND ordered) AS ok
       |FROM fl ORDER BY conv_id""".stripMargin

  // ---- Blocklist token join -------------------------------------------

  /** Terms present in the corpus vocabulary, so both booleans of `keep`
    * are populated.
    */
  private val BlockTerms = Seq("slow", "dup", "merge")

  /** [[C4.blocklistProbe]] under a literal blocklist: token-join hit
    * counts and the keep verdict per document.
    */
  def c4Blocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bl = s.createDataset(BlockTerms).toDF("term")
    C4.blocklistProbe(Tables(s, dir, "documents"), "doc_id", "text", bl)
      .orderBy("doc_id")
  }

  val c4BlocklistSql: String = {
    val terms = BlockTerms.map(t => s"('$t')").mkString(", ")
    s"""WITH bl AS (SELECT DISTINCT lower(term) AS tok FROM (VALUES $terms) v(term)),
       |tk AS (
       |  SELECT doc_id, unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |    CAST(count(DISTINCT t.tok) AS BIGINT) AS n_distinct_hits
       |  FROM tk t JOIN bl USING (tok) WHERE t.tok <> '' GROUP BY 1)
       |SELECT d.doc_id, coalesce(n_hits, 0) AS n_hits,
       |  coalesce(n_distinct_hits, 0) AS n_distinct_hits,
       |  (coalesce(n_hits, 0) = 0) AS keep
       |FROM documents d LEFT JOIN h USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- SFT packing ------------------------------------------------------

  private val PackChars = 300
  private val PackShards = 4

  /** [[Sft.pack]] over the [[sftTranscripts]] chain: transcripts laid
    * end to end per portable md5 shard, cut into 300-char blocks, each
    * conversation×block row carrying its loss-mask spans clipped and
    * re-based to block coordinates.
    */
  def sftPack(s: SparkSession, dir: String): DataFrame =
    Sft.pack(Sft.transcripts(sftTurnsDf(s, dir)), blockChars = PackChars,
        nShards = PackShards)
      .orderBy("shard", "block_id", "conv_id")

  /** Oracle: the full transcript chain nested as a subquery, then the
    * packing restated — md5-fold shard, per-shard separator-inclusive
    * prefix cumsum, block membership by integer range, span clipping
    * as a guarded list comprehension.
    */
  /** The packing CTE chain from a relation providing
    * `(conv_id, n_chars, mask_spans)` to the final block SELECT —
    * shared by the `sft_pack` and `sft_run` oracles.
    */
  private def packChainFrom(rel: String, b: Int = PackChars,
                            measure: String = "chars_in_block"): String = {
    s"""sb AS (
       |  SELECT ${PipelineGates.shardFoldSql("conv_id", PackShards)} AS shard,
       |    conv_id, CAST(n_chars AS BIGINT) AS n,
       |    [[CAST(string_split(x, ':')[1] AS BIGINT),
       |      CAST(string_split(x, ':')[2] AS BIGINT)]
       |     for x in string_split(mask_spans, '|') if x <> ''] AS spans
       |  FROM $rel WHERE n_chars > 0),
       |so AS (
       |  SELECT *, CAST(coalesce(sum(n + 1) OVER (PARTITION BY shard
       |    ORDER BY conv_id ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND 1 PRECEDING), 0) AS BIGINT) AS conv_offset
       |  FROM sb),
       |pe AS (
       |  SELECT shard, conv_id, conv_offset, n, spans,
       |    unnest(range(conv_offset // $b, (conv_offset + n - 1) // $b + 1))
       |      AS block_id
       |  FROM so)
       |SELECT shard, block_id, conv_id,
       |  greatest(conv_offset, block_id * $b) - block_id * $b AS start_in_block,
       |  least(conv_offset + n, (block_id + 1) * $b)
       |    - greatest(conv_offset, block_id * $b) AS $measure,
       |  coalesce(array_to_string(
       |    [CAST(greatest(conv_offset + sp[1], block_id * $b) - block_id * $b
       |       AS VARCHAR) || ':' ||
       |     CAST(least(conv_offset + sp[2], (block_id + 1) * $b) - block_id * $b
       |       AS VARCHAR)
       |     for sp in spans
       |     if least(conv_offset + sp[2], (block_id + 1) * $b)
       |        > greatest(conv_offset + sp[1], block_id * $b)], '|'), '')
       |    AS mask_spans_block
       |FROM pe ORDER BY shard, block_id, conv_id""".stripMargin
  }

  val sftPackSql: String =
    s"""WITH tr AS (
       |  SELECT conv_id, n_chars, coalesce(mask_spans, '') AS mask_spans
       |  FROM ($sftTranscriptsSql)),
       |${packChainFrom("tr")}""".stripMargin

  // ---- SFT packing in TOKEN space ---------------------------------------

  private val TokBlock = 64

  /** [[Sft.packTokens]] under [[PinnedMerges]]: blocks cut at learned-
    * subword TOKEN boundaries (64-token blocks), mask spans clipped and
    * re-based in token coordinates — the coordinate system the trainer's
    * loss actually indexes.
    */
  def sftPackTokens(s: SparkSession, dir: String): DataFrame =
    Sft.packTokens(sftTurnsDf(s, dir), PinnedMerges, blockTokens = TokBlock,
        nShards = PackShards)
      .orderBy("shard", "block_id", "conv_id")

  /** Oracle: per-turn line token counts via the same replace-chain
    * encode as [[bpeEncodeSql]] (word boundaries → the newline
    * sentinel, 4×-replace per pinned rank, sentinel dropped), token
    * offsets as a separator-free per-conversation cumsum (the `\n`
    * joints vanish under whitespace tokenization), then the shared
    * packing CTE chain at the token block size.
    */
  /** Shared per-turn token-count CTE chain (from the turns relation
    * `t`) ending in `etok(conv_id, turn_idx, masked, ntok)` — the
    * replace-chain encode of each rendered line.
    */
  private val sftTokCtes: String = {
    val inner =
      "'  ' || array_to_string([n2[j] for j in range(1, len(n2)+1)], '  ') || '  '"
    val chain = PinnedMerges.foldLeft(inner) { case (e, (l, r)) =>
      rep4(e, s"'$l'", s"'$r'")
    }
    s"""nm2 AS (
       |  SELECT conv_id, turn_idx, masked,
       |    replace(regexp_replace(trim(lower(role || ': ' || content)), '\\s+', ' ', 'g'), ' ', chr(10)) AS n2
       |  FROM t),
       |etok AS (
       |  SELECT conv_id, turn_idx, masked,
       |    CAST(len([x for x in string_split(trim($chain), '  ') if x <> '' AND x <> chr(10)]) AS BIGINT) AS ntok
       |  FROM nm2)""".stripMargin
  }

  /** The token-offset rollup + packing chain from an
    * `(conv_id, turn_idx, masked, ntok)` relation: separator-free
    * cumsum offsets, the `n_chars`/`mask_spans` rollup, then the
    * shared packing CTEs at the token block size.
    */
  private def tokPackChainFrom(rel: String): String =
    s"""off_$rel AS (
       |  SELECT *, CAST(coalesce(sum(ntok) OVER (PARTITION BY conv_id
       |    ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ts
       |  FROM $rel),
       |trt_$rel AS (
       |  SELECT conv_id, CAST(sum(ntok) AS BIGINT) AS n_chars,
       |    coalesce(string_agg(CASE WHEN masked
       |        THEN CAST(ts AS VARCHAR) || ':' || CAST(ts + ntok AS VARCHAR) END,
       |      '|' ORDER BY turn_idx), '') AS mask_spans
       |  FROM off_$rel GROUP BY conv_id),
       |${packChainFrom(s"trt_$rel", TokBlock, "toks_in_block")}""".stripMargin

  val sftPackTokensSql: String =
    s"""WITH $sftTurnsCte,
       |$sftTokCtes,
       |${tokPackChainFrom("etok")}""".stripMargin

  // ---- SFT token-space capstone: token truncate -> token pack ----------

  private val SftTokBudget = 60

  /** The token-space capstone: turns → [[Sft.truncateLatestTokens]]
    * (drop-oldest whole turns at a 60-token budget) →
    * [[Sft.packTokens]] — the full chain a trainer consumes, entirely
    * in token coordinates.
    */
  def sftRunTokens(s: SparkSession, dir: String): DataFrame =
    Sft.packTokens(
        Sft.truncateLatestTokens(sftTurnsDf(s, dir), SftTokBudget,
          PinnedMerges),
        PinnedMerges, blockTokens = TokBlock, nShards = PackShards)
      .orderBy("shard", "block_id", "conv_id")

  /** Oracle: the token-count chain, a separator-free DESC suffix
    * cumsum keeping the latest whole turns within the token budget
    * (renumbering is order-preserving, so the kept rows feed the
    * offset cumsum directly), then the shared token packing chain.
    */
  val sftRunTokensSql: String =
    s"""WITH $sftTurnsCte,
       |$sftTokCtes,
       |sfxk AS (
       |  SELECT *, sum(ntok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sfx
       |  FROM etok),
       |keptk AS (
       |  SELECT conv_id, turn_idx, masked, ntok FROM sfxk
       |  WHERE sfx <= $SftTokBudget),
       |${tokPackChainFrom("keptk")}""".stripMargin

  /** [[graft.operators.Selection.byTokenBudget]] with counts from the
    * RAW BYTE regime (`Regime.Raw()` under [[PinnedRawMerges]]) —
    * the production wiring: training budgets are byte-tokenizer-
    * accurate, not whitespace-proxy counts. Rank (n_chars desc,
    * doc_id), budget 60k byte tokens.
    */
  private val ByteBudget = 60000L

  def selectBudgetBytes(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toks = Bpe.encodeWithMergesFast(docs, "doc_id", "text", PinnedRawMerges,
      regime = Bpe.Regime.Raw())
      .select(col("doc_id"), col("n_tokens").cast("long").as("toks"))
    val d = docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("n_chars"))
      .join(toks, Seq("doc_id"))
    graft.operators.Selection.byTokenBudget(
        d, Seq(col("n_chars").desc, col("doc_id").asc), "toks",
        budget = ByteBudget)
      .orderBy("doc_id")
  }

  /** Oracle: the raw byte encode chain (planted rows filtered — the
    * budget runs over the corpus), one ordered cumsum, the budget cut.
    */
  val selectBudgetBytesSql: String =
    s"""WITH enc AS (
       |  SELECT doc_id, n_tokens FROM ($bpeEncodeBytesRawSql)
       |  WHERE doc_id >= 0),
       |t AS (
       |  SELECT d.doc_id, d.lang, d.n_chars, CAST(e.n_tokens AS BIGINT) AS toks
       |  FROM documents d JOIN enc e USING (doc_id)),
       |c AS (
       |  SELECT *, CAST(sum(toks) OVER (ORDER BY n_chars DESC, doc_id)
       |    AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, lang, n_chars, toks, cum_tokens
       |FROM c WHERE cum_tokens <= $ByteBudget ORDER BY doc_id""".stripMargin

  // ---- SFT packing in RAW BYTE-TOKEN space ------------------------------

  private val SftTokBudgetBytes = 120

  /** Per-turn RAW BYTE token-count CTE chain (from the turns relation
    * `t`) ending in `etokb(conv_id, turn_idx, masked, ntok)`: each
    * rendered line pre-tokenized ([[preTokSqlLit]]), pieces mapped to
    * byte symbols, the [[PinnedRawMerges]] replace chain, token count —
    * the oracle restatement of `Sft.transcriptsTokens(regime = Regime.Raw())`.
    */
  private val sftTokBytesCtes: String = {
    val chain = PinnedRawMerges.foldLeft(
      "'  ' || coalesce(array_to_string(list_transform(" +
        "range(1, len(s2)+1), j -> s2[j]), '  '), '') || '  '") {
      case (e, (l, r)) =>
        rep4(e, s"'${l.replace("'", "''")}'", s"'${r.replace("'", "''")}'")
    }
    s"""lnr AS (
       |  SELECT conv_id, turn_idx, masked, role || ': ' || content AS line
       |  FROM t),
       |lps AS (
       |  SELECT conv_id, turn_idx, masked,
       |    list_transform(regexp_extract_all(line, $preTokSqlLit), w -> $wsymExpr) AS wsyms
       |  FROM lnr),
       |lsy AS (
       |  SELECT conv_id, turn_idx, masked,
       |    coalesce(array_to_string(wsyms, chr(10)), '') AS s2
       |  FROM lps),
       |lts AS (
       |  SELECT conv_id, turn_idx, masked,
       |    [x for x in string_split(trim($chain), '  ') if x <> '' AND x <> chr(10)] AS lt
       |  FROM lsy),
       |etokb AS (
       |  SELECT conv_id, turn_idx, masked,
       |    CAST(len(lt) AS BIGINT) AS ntok
       |  FROM lts)""".stripMargin
  }

  /** [[Sft.packTokens]] in RAW BYTE coordinates under
    * [[PinnedRawMerges]], the [[EosId]] separator id threaded from the
    * [[Specials]] vocabulary prefix — the production-tokenizer-accurate
    * packing (case- and whitespace-preserving counts; the packer's +1
    * joint between conversations is one `<|eos|>` token, and every
    * block row says so).
    */
  def sftPackTokensBytes(s: SparkSession, dir: String): DataFrame =
    Sft.packTokens(sftTurnsDf(s, dir), PinnedRawMerges,
        blockTokens = TokBlock, nShards = PackShards,
        regime = Bpe.Regime.Raw(), eosId = Some(EosId))
      .orderBy("shard", "block_id", "conv_id")

  val sftPackTokensBytesSql: String = {
    val inner =
      s"""WITH $sftTurnsCte,
         |$sftTokBytesCtes,
         |${tokPackChainFrom("etokb")}""".stripMargin
    s"""SELECT q.*, CAST($EosId AS INT) AS eos_id FROM ($inner) q
       |ORDER BY shard, block_id, conv_id""".stripMargin
  }

  /** The RAW BYTE token-space capstone: turns →
    * [[Sft.truncateLatestTokens]] (byte coordinates, 120-token budget)
    * → [[Sft.packTokens]] (byte coordinates, EOS threaded) — the full
    * chain a byte-tokenizer trainer consumes, verified end to end.
    */
  def sftRunTokensBytes(s: SparkSession, dir: String): DataFrame =
    Sft.packTokens(
        Sft.truncateLatestTokens(sftTurnsDf(s, dir), SftTokBudgetBytes,
          PinnedRawMerges, regime = Bpe.Regime.Raw()),
        PinnedRawMerges, blockTokens = TokBlock, nShards = PackShards,
        regime = Bpe.Regime.Raw(), eosId = Some(EosId))
      .orderBy("shard", "block_id", "conv_id")

  val sftRunTokensBytesSql: String = {
    val inner =
      s"""WITH $sftTurnsCte,
         |$sftTokBytesCtes,
         |sfxb AS (
         |  SELECT *, sum(ntok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sfx
         |  FROM etokb),
         |keptb AS (
         |  SELECT conv_id, turn_idx, masked, ntok FROM sfxb
         |  WHERE sfx <= $SftTokBudgetBytes),
         |${tokPackChainFrom("keptb")}""".stripMargin
    s"""SELECT q.*, CAST($EosId AS INT) AS eos_id FROM ($inner) q
       |ORDER BY shard, block_id, conv_id""".stripMargin
  }

  /** [[Sft.materializeBlocks]] in RAW BYTE coordinates: the packed
    * layout joined back to the ACTUAL id streams — one row per
    * `(shard, block)` with the concatenated token ids and the
    * positional 0/1 loss mask, `<|eos|>` materialized at every
    * conversation joint, tail blocks padded with `<|pad|>` — the
    * literal tensors a dataloader ships.
    */
  def sftMaterializeBlocks(s: SparkSession, dir: String): DataFrame =
    Sft.materializeBlocks(sftTurnsDf(s, dir), PinnedRawMerges,
        Bpe.vocabBytes(s, PinnedRawMerges, Specials),
        blockTokens = TokBlock, nShards = PackShards,
        regime = Bpe.Regime.Raw(), eosId = EosId,
        padId = Some(Specials.indexOf("<|pad|>")))
      .select(col("shard"), col("block_id"), col("n_tokens"), col("n_pad"),
        array_join(transform(col("token_ids"), i => i.cast("string")), " ")
          .as("ids_str"),
        array_join(transform(col("loss_mask"), i => i.cast("string")), " ")
          .as("mask_str"))
      .orderBy("shard", "block_id")

  /** Oracle: POSITION-BASED restatement — every token gets its global
    * shard-stream position (`conv_offset + turn prefix + j − 1`), its
    * mask bit comes straight from its turn's `masked` flag (a position
    * is masked iff the turn that emitted it is — definitionally the
    * same as the span form), `<|eos|>` rows at `off − 1`, blocks are a
    * `pos // B` GROUP BY with ordered list aggregation, `<|pad|>`
    * comprehension to the block size. O(total tokens) flat: the first
    * (list-slicing) form carried each conversation's FULL id list into
    * every block row it touched and OOM'd DuckDB at sf0.1.
    */
  val sftMaterializeBlocksSql: String = {
    val B = TokBlock
    val pad = Specials.indexOf("<|pad|>")
    s"""WITH $sftTurnsCte,
       |$sftTokBytesCtes,
       |voc AS (SELECT token_id, token FROM (${vocabSpecialsSqlFor(PinnedRawMerges)})),
       |tkx AS (
       |  SELECT conv_id, turn_idx, masked, unnest(range(1, len(lt)+1)) AS j, lt
       |  FROM lts),
       |tk1 AS (SELECT conv_id, turn_idx, masked, j, lt[j] AS tok FROM tkx),
       |tid AS (
       |  SELECT t.conv_id, t.turn_idx, t.masked, t.j, v.token_id
       |  FROM tk1 t JOIN voc v ON v.token = t.tok),
       |offs AS (
       |  SELECT conv_id, turn_idx,
       |    CAST(coalesce(sum(ntok) OVER (PARTITION BY conv_id ORDER BY turn_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ts
       |  FROM etokb),
       |cv AS (
       |  SELECT conv_id, CAST(sum(ntok) AS BIGINT) AS n
       |  FROM etokb GROUP BY conv_id HAVING sum(ntok) > 0),
       |so2 AS (
       |  SELECT ${PipelineGates.shardFoldSql("conv_id", PackShards)} AS shard,
       |    conv_id, n,
       |    CAST(coalesce(sum(n + 1) OVER (
       |      PARTITION BY ${PipelineGates.shardFoldSql("conv_id", PackShards)}
       |      ORDER BY conv_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS off
       |  FROM cv),
       |posed AS (
       |  SELECT s.shard, s.off + o.ts + t.j - 1 AS pos, t.token_id,
       |    CASE WHEN t.masked THEN 1 ELSE 0 END AS mbit
       |  FROM tid t
       |  JOIN offs o ON o.conv_id = t.conv_id AND o.turn_idx = t.turn_idx
       |  JOIN so2 s ON s.conv_id = t.conv_id
       |  UNION ALL
       |  SELECT shard, off - 1 AS pos, CAST($EosId AS INT) AS token_id, 0 AS mbit
       |  FROM so2 WHERE off > 0),
       |blk AS (
       |  SELECT shard, pos // $B AS block_id,
       |    list(token_id ORDER BY pos) AS tids,
       |    list(mbit ORDER BY pos) AS lms
       |  FROM posed GROUP BY 1, 2)
       |SELECT shard, block_id,
       |  CAST(len(tids) AS INT) AS n_tokens,
       |  CAST($B - len(tids) AS INT) AS n_pad,
       |  array_to_string(tids || [CAST($pad AS INT) for i in range($B - len(tids))], ' ') AS ids_str,
       |  array_to_string(lms || [0 for i in range($B - len(tids))], ' ') AS mask_str
       |FROM blk ORDER BY shard, block_id""".stripMargin
  }

  // ---- SFT capstone: truncate -> transcripts -> pack as ONE chain ------

  /** The trainable-tier capstone composition: turns →
    * [[Sft.truncateLatest]] (drop-oldest at the gate budget) →
    * [[Sft.transcripts]] → [[Sft.pack]] — the full event-log-to-packed-
    * SFT-blocks pipeline a trainer actually runs, verified end to end
    * as one chained oracle (the `llm_training_blocks`/`curation_select`
    * composed-proof pattern).
    */
  def sftRun(s: SparkSession, dir: String): DataFrame =
    Sft.pack(Sft.transcripts(Sft.truncateLatest(sftTurnsDf(s, dir),
        SftBudget)), blockChars = PackChars, nShards = PackShards)
      .orderBy("shard", "block_id", "conv_id")

  val sftRunSql: String =
    s"""WITH t2 AS (SELECT * FROM ($sftTruncateSql)),
       |trx AS (
       |  SELECT conv_id,
       |    CAST(length(string_agg(role || ': ' || content, chr(10)
       |      ORDER BY turn_idx)) AS INT) AS n_chars,
       |    coalesce(string_agg(CASE WHEN masked
       |        THEN CAST(start_off AS VARCHAR) || ':' || CAST(end_off AS VARCHAR) END,
       |      '|' ORDER BY turn_idx), '') AS mask_spans
       |  FROM t2 GROUP BY conv_id),
       |${packChainFrom("trx")}""".stripMargin

  // ---- DPO preference pairs -------------------------------------------

  /** [[graft.llm.Dpo.preferencePairs]] + [[graft.llm.Dpo.attachTexts]]:
    * documents scored by the pinned logistic model (the stand-in reward
    * model; `vec_id` ≡ `doc_id` in the testdata), grouped by
    * `(lang, source)` as the prompt context, one best-vs-worst pair per
    * group — tied or single-candidate groups yield nothing.
    */
  def dpoPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val model = s.createDataset(PinnedW.toSeq.zipWithIndex
      .map { case (w, j) => (j, w) }).toDF("j", "w")
    val sc = LogReg.scores(Tables(s, dir, "embeddings"), "vec_id",
        "embedding", model)
      .select(col("vec_id").as("doc_id"), col("score"))
    val docs = Tables(s, dir, "documents")
    val cands = docs.join(sc, Seq("doc_id"))
      .select(col("lang"), col("source"), col("doc_id"), col("score"))
    val pairs = Dpo.preferencePairs(cands, Seq("lang", "source"),
      "doc_id", "score")
    Dpo.attachTexts(pairs, docs, "doc_id", "text")
      .orderBy("lang", "source")
  }

  /** Oracle: the scoring chain nested as a subquery, then best/worst
    * per group via ROW_NUMBER with the engine's exact tiebreaks
    * (score DESC, id ASC / score ASC, id ASC), texts carried through,
    * tie-and-singleton groups dropped by the `gap > 0` + distinct-id
    * predicate. `gap` is one IEEE subtraction of two round-6 doubles —
    * portable.
    */
  val dpoPairsSql: String =
    s"""WITH dsc AS (SELECT vec_id AS doc_id, score FROM ($logregScoresSql)),
       |cand AS (
       |  SELECT d.lang, d.source, d.doc_id, s.score, d.text
       |  FROM documents d JOIN dsc s ON s.doc_id = d.doc_id),
       |ch AS (
       |  SELECT lang, source, doc_id AS chosen_id, score AS chosen_score,
       |         text AS chosen_text
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
       |          ORDER BY score DESC, doc_id ASC) AS rn FROM cand)
       |  WHERE rn = 1),
       |rj AS (
       |  SELECT lang, source, doc_id AS rejected_id, score AS rejected_score,
       |         text AS rejected_text
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
       |          ORDER BY score ASC, doc_id ASC) AS rn FROM cand)
       |  WHERE rn = 1)
       |SELECT c.lang, c.source, c.chosen_id, r.rejected_id,
       |  c.chosen_score, r.rejected_score,
       |  c.chosen_score - r.rejected_score AS gap,
       |  c.chosen_text, r.rejected_text
       |FROM ch c JOIN rj r ON c.lang = r.lang AND c.source = r.source
       |WHERE c.chosen_id <> r.rejected_id
       |  AND c.chosen_score - r.rejected_score > 0
       |ORDER BY c.lang, c.source""".stripMargin

  /** Shared candidate pool for the preference/RL gates: documents
    * scored by the pinned logistic model, grouped by `(lang, source)`.
    */
  private def rlCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val model = s.createDataset(PinnedW.toSeq.zipWithIndex
      .map { case (w, j) => (j, w) }).toDF("j", "w")
    val sc = LogReg.scores(Tables(s, dir, "embeddings"), "vec_id",
        "embedding", model)
      .select(col("vec_id").as("doc_id"), col("score"))
    Tables(s, dir, "documents").join(sc, Seq("doc_id"))
      .select(col("lang"), col("source"), col("doc_id"), col("score"))
  }

  private val rlCandSql: String =
    s"""dsc AS (SELECT vec_id AS doc_id, score FROM ($logregScoresSql)),
       |cand AS (
       |  SELECT d.lang, d.source, d.doc_id, s.score
       |  FROM documents d JOIN dsc s ON s.doc_id = d.doc_id)""".stripMargin

  // ---- best-of-n rejection sampling -------------------------------------

  private val BonMinScore = 0.5

  /** [[Dpo.bestOfN]] at minScore 0.5: the reward-gated survivor per
    * `(lang, source)` group with its beaten-candidate count.
    */
  def bestOfN(s: SparkSession, dir: String): DataFrame =
    Dpo.bestOfN(rlCandidates(s, dir), Seq("lang", "source"), "doc_id",
        "score", minScore = BonMinScore)
      .orderBy("lang", "source")

  val bestOfNSql: String =
    s"""WITH $rlCandSql
       |SELECT lang, source, chosen_id, score, n_candidates FROM (
       |  SELECT lang, source, doc_id AS chosen_id, score,
       |    CAST(count(*) OVER (PARTITION BY lang, source) AS BIGINT)
       |      AS n_candidates,
       |    ROW_NUMBER() OVER (PARTITION BY lang, source
       |      ORDER BY score DESC, doc_id ASC) AS rn
       |  FROM cand)
       |WHERE rn = 1 AND score >= $BonMinScore
       |ORDER BY lang, source""".stripMargin

  // ---- GRPO group-relative advantage ------------------------------------

  /** [[Dpo.groupAdvantage]] over the same candidate pool: per-group
    * z-scored rewards under the `embed_standardize` portability
    * conventions (exact decimal sums, floor-round-6 mean, round-6
    * advantage, zero-variance pinned to 0).
    */
  def grpoAdvantage(s: SparkSession, dir: String): DataFrame =
    Dpo.groupAdvantage(rlCandidates(s, dir), Seq("lang", "source"),
        "doc_id", "score")
      .orderBy("doc_id")

  val grpoAdvantageSql: String =
    s"""WITH $rlCandSql,
       |st AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_group,
       |    floor(CAST(sum(CAST(score AS DECIMAL(20,10))) AS DOUBLE)
       |      / count(*) * 1000000 + 0.5) / 1000000 AS m,
       |    CAST(CAST(sum(CAST(CAST(score * score AS VARCHAR)
       |        AS DECIMAL(28,15))) AS VARCHAR) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS m2
       |  FROM cand GROUP BY 1, 2),
       |gsd AS (
       |  SELECT lang, source, n_group, m,
       |    sqrt(greatest(m2 - m * m, 0.0)) AS sd
       |  FROM st)
       |SELECT c.lang, c.source, c.doc_id, c.score, g.n_group,
       |  CASE WHEN g.sd = 0.0
       |      OR floor((c.score - g.m) / g.sd * 1000000 + 0.5) / 1000000 = 0.0
       |    THEN 0.0
       |    ELSE floor((c.score - g.m) / g.sd * 1000000 + 0.5) / 1000000
       |  END AS advantage
       |FROM cand c JOIN gsd g ON c.lang = g.lang AND c.source = g.source
       |ORDER BY c.doc_id""".stripMargin

  // ---- Unigram (SentencePiece-family) tokenizer ------------------------
  //
  // The [[graft.llm.Unigram]] tier: seed vocabulary, Viterbi encode,
  // hard-EM training. The oracle restates the WHOLE pipeline — substring
  // seed counts, the clamped-probability lattice, the Viterbi DP as a
  // recursive CTE carrying (bests, backpointers) vectors (smallest-j
  // tie-break as list_min over the bitwise argmax set), the backpointer
  // walk as a second recursion, hard-EM recounting, and the budgeted
  // M-step. Every double is one exactly-rounded op in pinned
  // parenthesization (score = greatest(cnt/N, 1/2^40); candidate =
  // p·best[j]) so both engines compute bitwise-identical DP tables.

  private val UniMaxLen = 6
  private val UniBudget = 200

  /** The word-independent tail of the unigram base CTEs (substring
    * seed + lattice spans) — shared by the lowercased and ▁-marker
    * tiers, which differ only in `unorm`/`wc`.
    */
  private def uniBaseCtesCore: String =
    s"""subs AS (
       |  SELECT substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece, cnt
       |  FROM wc, UNNEST(range(1, len(word) + 1)) AS u(s),
       |       UNNEST(range(1, least($UniMaxLen, len(word) - s + 1) + 1)) AS v(l)),
       |scnt AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
       |         FROM subs GROUP BY 1),
       |seed AS MATERIALIZED (
       |  SELECT piece, cnt FROM scnt WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (SELECT piece, cnt FROM scnt
       |    WHERE len(piece) > 1 ORDER BY cnt DESC, piece ASC LIMIT $UniBudget)),
       |lat0 AS MATERIALIZED (
       |  SELECT w.word, CAST(j AS INT) AS j, CAST(j + l AS INT) AS e,
       |         substr(w.word, CAST(j + 1 AS INT), CAST(l AS INT)) AS piece
       |  FROM (SELECT DISTINCT word FROM wc) w,
       |       UNNEST(range(0, len(w.word))) AS u(j),
       |       UNNEST(range(1, least($UniMaxLen, len(w.word) - j) + 1)) AS v(l))""".stripMargin

  /** Corpus word counts + seed vocabulary CTEs (`wc`, `seed`) — the
    * lowercased shared-word tier.
    */
  private def uniBaseCtes: String =
    s"""unorm AS (
       |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents),
       |wc AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(ws) AS word FROM unorm)
       |  WHERE word <> '' GROUP BY 1),
       |$uniBaseCtesCore""".stripMargin

  /** The ▁-marker tier's base: case-preserving, every word prefixed
    * with ▁ (add_dummy_prefix) — same CTE names, so the Viterbi/EM
    * builders compose unchanged.
    */
  private def uniBaseCtesSp: String =
    s"""unorm AS (
       |  SELECT doc_id, string_split(regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents),
       |wc AS MATERIALIZED (
       |  SELECT '▁' || word AS word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(ws) AS word FROM unorm)
       |  WHERE word <> '' GROUP BY 1),
       |$uniBaseCtesCore""".stripMargin

  /** One Viterbi pass over the distinct-word lattice under model CTE
    * `model` — emits `seg_<tag>(word, pieces)`.
    */
  private def uniViterbiCtes(tag: String, model: String,
                             weighted: Boolean = false): String =
    s"""${uniLatCtes(tag, model, weighted)},
       |dp_$tag AS (
       |  SELECT word, CAST(len(word) AS INT) AS n, 0 AS i,
       |         [CAST(1.0 AS DOUBLE)] AS bests, [CAST(-1 AS INT)] AS bps
       |  FROM latl_$tag
       |  UNION ALL
       |  SELECT d.word, d.n, d.i + 1,
       |    list_append(d.bests, coalesce(list_max(
       |      [x.p * d.bests[x.j + 1] FOR x IN l.lat
       |       IF x.e = d.i + 1 AND d.bests[x.j + 1] > 0]), -1.0)),
       |    list_append(d.bps, coalesce(list_min(
       |      [x.j FOR x IN l.lat
       |       IF x.e = d.i + 1 AND d.bests[x.j + 1] > 0
       |          AND x.p * d.bests[x.j + 1] = list_max(
       |            [y.p * d.bests[y.j + 1] FOR y IN l.lat
       |             IF y.e = d.i + 1 AND d.bests[y.j + 1] > 0])]),
       |      CAST(-1 AS INT)))
       |  FROM dp_$tag d JOIN latl_$tag l ON d.word = l.word
       |  WHERE d.i < d.n),
       |fin_$tag AS MATERIALIZED (SELECT word, n, bps FROM dp_$tag WHERE i = n),
       |bt_$tag AS (
       |  SELECT word, n AS i, [CAST(n AS INT)] AS cuts FROM fin_$tag
       |  UNION ALL
       |  SELECT b.word, f.bps[b.i + 1], list_prepend(f.bps[b.i + 1], b.cuts)
       |  FROM bt_$tag b JOIN fin_$tag f ON b.word = f.word
       |  WHERE b.i > 0),
       |seg_$tag AS MATERIALIZED (
       |  SELECT word, [substr(word, cuts[t] + 1, cuts[t + 1] - cuts[t])
       |                FOR t IN range(1, len(cuts))] AS pieces
       |  FROM bt_$tag WHERE i = 0)""".stripMargin

  /** Hard-EM recount + budgeted M-step over `seg_0` — emits `m1`. */
  private def uniEmCtes: String =
    s"""ecnt AS MATERIALIZED (
       |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
       |  FROM (SELECT s.word, unnest(s.pieces) AS piece FROM seg_0 s) p
       |  JOIN wc USING (word) GROUP BY piece),
       |m1 AS MATERIALIZED (
       |  SELECT piece, cnt FROM ecnt WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT s.piece, CAST(0 AS BIGINT) AS cnt FROM seed s
       |  WHERE len(s.piece) = 1
       |    AND s.piece NOT IN (SELECT piece FROM ecnt)
       |  UNION ALL
       |  SELECT piece, cnt FROM (SELECT piece, cnt FROM ecnt
       |    WHERE len(piece) > 1 ORDER BY cnt DESC, piece ASC LIMIT $UniBudget))""".stripMargin

  /** Doc-level piece assembly over `seg_<tag>` — the final SELECT.
    * `marker` prefixes each document word with ▁ to join the SP tier's
    * word table.
    */
  private def uniDocSelect(tag: String, marker: Boolean = false): String = {
    val w = if (marker) "'▁' || ws[i]" else "ws[i]"
    s"""dt AS (
       |  SELECT doc_id, CAST(i AS INT) AS wpos, $w AS word
       |  FROM unorm, UNNEST(range(1, len(ws) + 1)) AS u(i)
       |  WHERE ws[i] <> ''),
       |dj AS (
       |  SELECT d.doc_id, d.wpos, array_to_string(s.pieces, '|') AS ps,
       |         CAST(len(s.pieces) AS BIGINT) AS np
       |  FROM dt d JOIN seg_$tag s ON d.word = s.word)
       |SELECT n.doc_id,
       |  coalesce(string_agg(j.ps, '|' ORDER BY j.wpos), '') AS pieces,
       |  CAST(coalesce(sum(j.np), 0) AS BIGINT) AS n_pieces
       |FROM unorm n LEFT JOIN dj j ON n.doc_id = j.doc_id
       |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin
  }

  /** Fixture guard for the engine/oracle chunking seam: the engine DPs
    * words longer than [[graft.llm.Unigram.MaxDpLen]] code points in
    * independent 24-cp sub-lattices, while the oracle CTEs run the DP
    * over the FULL word (and a long floor-scored word's products would
    * underflow to 0.0 there, silently dropping it from `seg_`). The uni
    * gates therefore REQUIRE every fixture word to fit one chunk — the
    * −1 covers the ▁-marker tier's extra code point. Checked once per
    * fixture dir (one tiny scan), loud-fail on violation.
    */
  private val uniFixtureChecked =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def uniDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    uniFixtureChecked.getOrElseUpdate(dir, {
      val limit = graft.llm.Unigram.MaxDpLen - 1
      val bad = d.select(explode(split(regexp_replace(
          trim(coalesce(col("text"), lit(""))), "\\s+", " "), " ")).as("__w"))
        .where(length(col("__w")) > limit)
        .limit(1).collect()
      require(bad.isEmpty,
        s"unigram gate fixture has a word over $limit code points " +
          s"('${bad.head.getString(0)}') — the oracle's full-word DP and " +
          s"the engine's ${graft.llm.Unigram.MaxDpLen}-cp chunking would " +
          "diverge; shorten the fixture or mirror the chunking in SQL")
      true
    })
    d
  }

  /** [[graft.llm.Unigram.seedVocab]]: substring counts, all singles +
    * top-budget multis by (cnt desc, piece asc).
    */
  def uniSeedVocab(s: SparkSession, dir: String): DataFrame =
    graft.llm.Unigram.seedVocab(uniDocs(s, dir), "text",
        maxPieceLen = UniMaxLen, budget = UniBudget)
      .orderBy("piece")

  val uniSeedVocabSql: String =
    s"""WITH $uniBaseCtes
       |SELECT piece, cnt FROM seed ORDER BY piece""".stripMargin

  /** [[graft.llm.Unigram.encode]] under the seed model: per-doc Viterbi
    * piece streams and counts.
    */
  def uniEncode(s: SparkSession, dir: String): DataFrame = {
    val d = uniDocs(s, dir)
    val model = graft.llm.Unigram.seedVocab(d, "text", UniMaxLen, UniBudget)
    graft.llm.Unigram.encode(d, "doc_id", "text", model, UniMaxLen)
      .select(col("doc_id"), array_join(col("pieces"), "|").as("pieces"),
        col("n_pieces"))
      .orderBy("doc_id")
  }

  val uniEncodeSql: String =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniViterbiCtes("0", "seed")},
       |${uniDocSelect("0")}""".stripMargin

  /** [[graft.llm.Unigram.trainHard]] at one hard-EM round: Viterbi-
    * recounted piece masses, singles retained at 0, budgeted multis.
    */
  def uniTrain(s: SparkSession, dir: String): DataFrame =
    graft.llm.Unigram.trainHard(uniDocs(s, dir), "text",
        iters = 1, maxPieceLen = UniMaxLen, budget = UniBudget,
        seedBudget = UniBudget)
      .orderBy("piece")

  val uniTrainSql: String =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniViterbiCtes("0", "seed")},
       |$uniEmCtes
       |SELECT piece, cnt FROM m1 ORDER BY piece""".stripMargin

  /** The unigram capstone: encode the corpus under the TRAINED model —
    * seed → hard-EM round → second Viterbi pass, one chained oracle.
    */
  def uniTokens(s: SparkSession, dir: String): DataFrame = {
    val d = uniDocs(s, dir)
    val model = graft.llm.Unigram.trainHard(d, "text", iters = 1,
      maxPieceLen = UniMaxLen, budget = UniBudget, seedBudget = UniBudget)
    graft.llm.Unigram.encode(d, "doc_id", "text", model, UniMaxLen)
      .select(col("doc_id"), array_join(col("pieces"), "|").as("pieces"),
        col("n_pieces"))
      .orderBy("doc_id")
  }

  val uniTokensSql: String =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniViterbiCtes("0", "seed")},
       |$uniEmCtes,
       |${uniViterbiCtes("1", "m1")},
       |${uniDocSelect("1")}""".stripMargin

  private def uniTrained(s: SparkSession, dir: String): DataFrame =
    graft.llm.Unigram.trainHard(uniDocs(s, dir), "text",
      iters = 1, maxPieceLen = UniMaxLen, budget = UniBudget,
      seedBudget = UniBudget)

  /** [[graft.llm.Unigram.vocabIds]] over the trained model: ids by
    * (cnt desc, piece asc) — id order is mass order.
    */
  def uniVocab(s: SparkSession, dir: String): DataFrame =
    graft.llm.Unigram.vocabIds(uniTrained(s, dir)).orderBy("piece_id")

  val uniVocabSql: String =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniViterbiCtes("0", "seed")},
       |$uniEmCtes
       |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) - 1
       |         AS INT) AS piece_id, piece
       |FROM m1 ORDER BY piece_id""".stripMargin

  /** [[graft.llm.Unigram.encodeIds]]: trained-model Viterbi streams in
    * trainer-contract integer ids.
    */
  def uniEncodeIds(s: SparkSession, dir: String): DataFrame = {
    val d = uniDocs(s, dir)
    val m = uniTrained(s, dir)
    graft.llm.Unigram.encodeIds(d, "doc_id", "text", m,
        graft.llm.Unigram.vocabIds(m), UniMaxLen)
      .select(col("doc_id"),
        array_join(transform(col("piece_ids"), i => i.cast("string")), "|")
          .as("piece_ids"),
        col("n_pieces"))
      .orderBy("doc_id")
  }

  val uniEncodeIdsSql: String =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniViterbiCtes("0", "seed")},
       |$uniEmCtes,
       |${uniViterbiCtes("1", "m1")},
       |vid AS (
       |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) - 1
       |           AS INT) AS piece_id, piece FROM m1),
       |sp AS (
       |  SELECT word, CAST(t AS INT) AS ppos, pieces[CAST(t AS INT)] AS piece
       |  FROM seg_1, UNNEST(range(1, len(pieces) + 1)) AS u(t)),
       |spi AS (SELECT word, ppos, coalesce(v.piece_id, -1) AS piece_id
       |        FROM sp LEFT JOIN vid v USING (piece)),
       |wids AS (
       |  SELECT word, string_agg(CAST(piece_id AS VARCHAR), '|' ORDER BY ppos) AS ids,
       |         CAST(count(*) AS BIGINT) AS np
       |  FROM spi GROUP BY word),
       |dt AS (
       |  SELECT doc_id, CAST(i AS INT) AS wpos, ws[i] AS word
       |  FROM unorm, UNNEST(range(1, len(ws) + 1)) AS u(i)
       |  WHERE ws[i] <> ''),
       |dj AS (SELECT d.doc_id, d.wpos, w.ids, w.np
       |       FROM dt d JOIN wids w USING (word))
       |SELECT n.doc_id,
       |  coalesce(string_agg(j.ids, '|' ORDER BY j.wpos), '') AS piece_ids,
       |  CAST(coalesce(sum(j.np), 0) AS BIGINT) AS n_pieces
       |FROM unorm n LEFT JOIN dj j ON n.doc_id = j.doc_id
       |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin

  /** [[graft.llm.Unigram.emStepSoft]] from the seed model: the TRUE
    * Kudo E-step — per-piece posterior masses over every word's full
    * segmentation lattice (forward–backward, not just the Viterbi-best
    * path). The oracle restates both DP recursions as recursive CTEs
    * carrying the α/β vectors (sequential left-fold sums via
    * list_reduce — the engine's ascending-j/ascending-e accumulation
    * order), the pinned ((α·p)·β)/Z edge posteriors, the word-frequency
    * multiply, and the VARCHAR-routed decimal(28,15) exact sum; the
    * budget cut compares exact decimals. Output weights are projected
    * to DOUBLE at the end (the established decimal→double parity
    * direction).
    */
  def uniEmSoft(s: SparkSession, dir: String): DataFrame = {
    val d = uniDocs(s, dir)
    val wcDf = Bpe.wordCounts(d, "text")
    val seed = graft.llm.Unigram.seedVocabFromWordCounts(
      wcDf, UniMaxLen, UniBudget)
    graft.llm.Unigram.emStepSoft(wcDf, seed, UniMaxLen, UniBudget)
      .select(col("piece"), col("weight").cast("double").as("weight"))
      .orderBy("piece")
  }

  /** The lattice score under a count model (`cnt/N`) or a WEIGHTED one
    * (`weight/total` — both operands leaving decimal via VARCHAR, the
    * engine's correctly-rounded `BigDecimal.doubleValue`).
    */
  private def uniScoreCase(tag: String, weighted: Boolean): String =
    if (weighted)
      s"""greatest(CAST(CAST(m.weight AS VARCHAR) AS DOUBLE) /
         |                CAST(CAST((SELECT nn FROM mn_$tag) AS VARCHAR) AS DOUBLE),
         |              1.0/1099511627776.0)""".stripMargin
    else
      s"""greatest(CAST(m.cnt AS DOUBLE) /
         |                CAST((SELECT nn FROM mn_$tag) AS DOUBLE),
         |              1.0/1099511627776.0)""".stripMargin

  private def uniMassCte(tag: String, model: String,
                         weighted: Boolean): String =
    if (weighted) s"mn_$tag AS MATERIALIZED (SELECT sum(weight) AS nn FROM $model)"
    else s"mn_$tag AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS nn FROM $model)"

  private def uniLatCtes(tag: String, model: String,
                         weighted: Boolean): String =
    s"""${uniMassCte(tag, model, weighted)},
       |lat_$tag AS MATERIALIZED (
       |  SELECT l0.word, l0.j, l0.e,
       |    CASE WHEN m.piece IS NOT NULL
       |         THEN ${uniScoreCase(tag, weighted)}
       |         ELSE 1.0/1099511627776.0 END AS p
       |  FROM lat0 l0 LEFT JOIN $model m ON l0.piece = m.piece
       |  WHERE m.piece IS NOT NULL OR l0.e - l0.j = 1),
       |latl_$tag AS MATERIALIZED (
       |  SELECT word, list(struct_pack(j := j, e := e, p := p) ORDER BY e, j) AS lat
       |  FROM lat_$tag GROUP BY word)""".stripMargin

  /** One forward–backward pass under model CTE `model` — emits
    * `ec_<tag>(word, piece, ev)`: per-edge posteriors.
    */
  private def uniFbCtes(tag: String, model: String,
                        weighted: Boolean = false): String =
    s"""${uniLatCtes(tag, model, weighted)},
       |af_$tag AS (
       |  SELECT word, CAST(len(word) AS INT) AS n, 0 AS i,
       |         [CAST(1.0 AS DOUBLE)] AS alphas
       |  FROM latl_$tag
       |  UNION ALL
       |  SELECT a.word, a.n, a.i + 1,
       |    list_append(a.alphas, coalesce(list_reduce(
       |      [x.p * a.alphas[x.j + 1] FOR x IN l.lat IF x.e = a.i + 1],
       |      (s, v) -> s + v), 0.0))
       |  FROM af_$tag a JOIN latl_$tag l ON a.word = l.word
       |  WHERE a.i < a.n),
       |afin_$tag AS MATERIALIZED (SELECT word, n, alphas FROM af_$tag WHERE i = n),
       |bf_$tag AS (
       |  SELECT word, CAST(len(word) AS INT) AS n,
       |         CAST(len(word) AS INT) AS l, [CAST(1.0 AS DOUBLE)] AS betas
       |  FROM latl_$tag
       |  UNION ALL
       |  SELECT b.word, b.n, b.l - 1,
       |    list_prepend(coalesce(list_reduce(
       |      [x.p * b.betas[x.e - b.l + 1] FOR x IN lt.lat IF x.j = b.l - 1],
       |      (s, v) -> s + v), 0.0), b.betas)
       |  FROM bf_$tag b JOIN latl_$tag lt ON b.word = lt.word
       |  WHERE b.l > 0),
       |bfin_$tag AS MATERIALIZED (SELECT word, betas FROM bf_$tag WHERE l = 0),
       |ec_$tag AS MATERIALIZED (
       |  SELECT e.word, substr(e.word, e.j + 1, e.e - e.j) AS piece,
       |    a.alphas[e.j + 1] * e.p * b.betas[e.e + 1] / a.alphas[a.n + 1] AS ev
       |  FROM lat_$tag e JOIN afin_$tag a USING (word)
       |       JOIN bfin_$tag b USING (word))""".stripMargin

  /** One soft M-step over `ec_<tag>` — emits `msoft_<tag>(piece,
    * weight)`, singles retained from `prevModel`.
    */
  private def uniSoftMStep(tag: String, prevModel: String): String =
    s"""wq_$tag AS (
       |  SELECT e.piece,
       |    CAST(CAST(e.ev * CAST(w.cnt AS DOUBLE) AS VARCHAR)
       |      AS DECIMAL(28,15)) AS q
       |  FROM ec_$tag e JOIN wc w USING (word)),
       |wsum_$tag AS MATERIALIZED (SELECT piece, sum(q) AS weight FROM wq_$tag GROUP BY piece),
       |msoft_$tag AS MATERIALIZED (
       |  SELECT piece, weight FROM wsum_$tag WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT s.piece, CAST(0 AS DECIMAL(38,15)) AS weight FROM $prevModel s
       |  WHERE len(s.piece) = 1
       |    AND s.piece NOT IN (SELECT piece FROM wsum_$tag)
       |  UNION ALL
       |  SELECT piece, weight FROM (SELECT piece, weight FROM wsum_$tag
       |    WHERE len(piece) > 1 ORDER BY weight DESC, piece ASC
       |    LIMIT $UniBudget))""".stripMargin

  // decimal -> double via VARCHAR: DuckDB's direct wide-decimal cast
  // double-rounds (int128 -> double, then /10^15) where Spark's
  // BigDecimal.doubleValue rounds once — the string carries the exact
  // digits, so strtod rounds once like Java
  private val uniWeightOut =
    "CAST(CAST(weight AS VARCHAR) AS DOUBLE) AS weight"

  val uniEmSoftSql: String =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniFbCtes("0", "seed")},
       |${uniSoftMStep("0", "seed")}
       |SELECT piece, $uniWeightOut
       |FROM msoft_0 ORDER BY piece""".stripMargin

  /** [[graft.llm.Unigram.trainSoft]] at two rounds — the literal Kudo
    * loop: seed → soft round from counts → soft round from WEIGHTS
    * (scores = weight/total, both via the VARCHAR-routed decimal→double
    * parity direction). The oracle chains two full forward–backward
    * passes and two M-steps.
    */
  def uniTrainSoft(s: SparkSession, dir: String): DataFrame =
    graft.llm.Unigram.trainSoft(uniDocs(s, dir), "text",
        iters = 2, maxPieceLen = UniMaxLen, budget = UniBudget,
        seedBudget = UniBudget)
      .select(col("piece"), col("weight").cast("double").as("weight"))
      .orderBy("piece")

  val uniTrainSoftSql: String =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniFbCtes("0", "seed")},
       |${uniSoftMStep("0", "seed")},
       |${uniFbCtes("1", "msoft_0", weighted = true)},
       |${uniSoftMStep("1", "msoft_0")}
       |SELECT piece, $uniWeightOut
       |FROM msoft_1 ORDER BY piece""".stripMargin

  /** [[graft.llm.Unigram.encodeW]] under the 2-round soft-trained
    * model — the soft artifact's serving path: one more Viterbi pass,
    * weighted scores.
    */
  def uniEncodeSoft(s: SparkSession, dir: String): DataFrame = {
    val d = uniDocs(s, dir)
    val m = graft.llm.Unigram.trainSoft(d, "text", iters = 2,
      maxPieceLen = UniMaxLen, budget = UniBudget, seedBudget = UniBudget)
    graft.llm.Unigram.encodeW(d, "doc_id", "text", m, UniMaxLen)
      .select(col("doc_id"), array_join(col("pieces"), "|").as("pieces"),
        col("n_pieces"))
      .orderBy("doc_id")
  }

  val uniEncodeSoftSql: String =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniFbCtes("0", "seed")},
       |${uniSoftMStep("0", "seed")},
       |${uniFbCtes("1", "msoft_0", weighted = true)},
       |${uniSoftMStep("1", "msoft_0")},
       |${uniViterbiCtes("2", "msoft_1", weighted = true)},
       |${uniDocSelect("2")}""".stripMargin

  /** [[graft.llm.Unigram.encodeSp]] under a 1-round ▁-tier trained
    * model: the production SentencePiece conventions — case preserved,
    * every word entering the lattice as `▁word` (add_dummy_prefix).
    * The oracle is the full trained chain re-run over the ▁ word table
    * (same CTE builders, SP base).
    */
  def uniEncodeSp(s: SparkSession, dir: String): DataFrame = {
    val d = uniDocs(s, dir)
    val m = graft.llm.Unigram.trainHardSp(d, "text", iters = 1,
      maxPieceLen = UniMaxLen, budget = UniBudget, seedBudget = UniBudget)
    graft.llm.Unigram.encodeSp(d, "doc_id", "text", m, UniMaxLen)
      .select(col("doc_id"), array_join(col("pieces"), "|").as("pieces"),
        col("n_pieces"))
      .orderBy("doc_id")
  }

  val uniEncodeSpSql: String =
    s"""WITH RECURSIVE $uniBaseCtesSp,
       |${uniViterbiCtes("0", "seed")},
       |$uniEmCtes,
       |${uniViterbiCtes("1", "m1")},
       |${uniDocSelect("1", marker = true)}""".stripMargin

  /** `decodeSp ∘ encodeSp` = identity on the whitespace-collapsed
    * trimmed text — the SP tier's losslessness contract (the
    * `bpe_bytes_roundtrip` analogue). The oracle is the identity.
    */
  def uniRoundtripSp(s: SparkSession, dir: String): DataFrame = {
    val d = uniDocs(s, dir)
    val m = graft.llm.Unigram.seedVocabSp(d, "text", UniMaxLen, UniBudget)
    graft.llm.Unigram.decodeSp(
        graft.llm.Unigram.encodeSp(d, "doc_id", "text", m, UniMaxLen),
        "doc_id")
      .orderBy("doc_id")
  }

  val uniRoundtripSpSql: String =
    """SELECT doc_id,
      |  regexp_replace(trim(coalesce(text, '')), '\s+', ' ', 'g') AS text_rt
      |FROM documents ORDER BY doc_id""".stripMargin

  /** [[graft.llm.Unigram.fertility]] by language under the trained
    * model — pieces per word, the tokenizer-quality triage rollup.
    */
  def uniFertility(s: SparkSession, dir: String): DataFrame =
    graft.llm.Unigram.fertility(uniDocs(s, dir), "doc_id",
        "text", "lang", uniTrained(s, dir), UniMaxLen)
      .orderBy("lang")

  val uniFertilitySql: String =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniViterbiCtes("0", "seed")},
       |$uniEmCtes,
       |${uniViterbiCtes("1", "m1")},
       |wnp AS (SELECT word, CAST(len(pieces) AS BIGINT) AS np FROM seg_1),
       |dt AS (
       |  SELECT doc_id, ws[i] AS word
       |  FROM unorm, UNNEST(range(1, len(ws) + 1)) AS u(i)
       |  WHERE ws[i] <> ''),
       |dnp AS (
       |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS nw,
       |         CAST(sum(w.np) AS BIGINT) AS np
       |  FROM dt d JOIN wnp w USING (word) GROUP BY d.doc_id),
       |perdoc AS (
       |  SELECT d.doc_id, d.lang,
       |    CAST(coalesce(p.nw, 0) AS BIGINT) AS nw,
       |    CAST(coalesce(p.np, 0) AS BIGINT) AS np
       |  FROM documents d LEFT JOIN dnp p USING (doc_id))
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nw) AS BIGINT) AS n_words,
       |  CAST(sum(np) AS BIGINT) AS n_pieces,
       |  CASE WHEN sum(nw) = 0 THEN NULL
       |    ELSE CAST(sum(np) AS DOUBLE) / CAST(sum(nw) AS DOUBLE)
       |  END AS fertility
       |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin

  // ---- imported SentencePiece vocabulary (unigram tier) ----------------
  //
  // [[graft.llm.Unigram.loadVocab]]/[[graft.llm.Unigram.encodeImported]]:
  // a pinned Llama/T5-style `.vocab` fixture — specials, the full
  // `<0x00>`..`<0xFF>` byte-fallback tier, and a hand-pinned lattice of
  // ▁-multis/singles with binary-fraction log-probs (exactly
  // representable, so both engines build the bitwise-identical lattice)
  // — is RENDERED to the text interchange, read back through the
  // Hadoop-layer loader, and drives the log-space Viterbi + byte-
  // fallback encode. The oracle never sees the file: it restates the
  // expected end state from the same pinned rows.

  /** The lattice (non-control) pieces of the import fixture, in id
    * order after the 3 specials + 256 byte pieces. Scores are binary
    * fractions — `-4.75` etc. round-trip exactly through the `.vocab`
    * text and through both engines' literal parsers.
    */
  private val UniImportLattice: Seq[(String, Double)] =
    Seq("▁" -> -3.0, "▁the" -> -2.0, "▁and" -> -2.5, "▁of" -> -2.75,
      "▁to" -> -2.75, "▁a" -> -2.5, "th" -> -4.5, "he" -> -4.25,
      "in" -> -4.0, "ing" -> -3.75, "ion" -> -4.0, "er" -> -4.5,
      "on" -> -4.5, "an" -> -4.75, "re" -> -4.75, "ed" -> -4.75,
      "es" -> -4.75, "en" -> -5.0, "at" -> -5.0, "or" -> -5.0,
      "is" -> -5.0, "it" -> -5.25, "al" -> -5.25, "ar" -> -5.25,
      "st" -> -5.25, "nt" -> -5.5, "nd" -> -5.5) ++
      ('a' to 'z').map(c => c.toString -> -8.0) ++
      ('A' to 'Z').map(c => c.toString -> -9.0) ++
      ('0' to '9').map(c => c.toString -> -9.5) ++
      Seq(".", ",", ";", ":", "!", "?", "'", "-", "(", ")")
        .map(_ -> -10.0)

  /** The full fixture in `.vocab` line order (line index = piece id):
    * specials 0..2, bytes 3..258 (id = 3 + byte — the oracle pins this
    * arithmetic), lattice pieces 259+.
    */
  private def uniImportVocabRows: Seq[(String, Double)] =
    Seq("<unk>" -> 0.0, "<s>" -> 0.0, "</s>" -> 0.0) ++
      (0 until 256).map(b => graft.llm.Unigram.bytePiece(b) -> -13.0) ++
      UniImportLattice

  private val uniImportMaxLen: Int =
    UniImportLattice.iterator.map(p => p._1.codePointCount(0, p._1.length)).max

  /** Planted union rows: Vietnamese diacritics (2–3-byte fallback),
    * an astral-plane emoji (4-byte fallback), whitespace collapse over
    * vocab multis, and the empty document.
    */
  private val UniImportPlanted: Seq[(Long, String)] = Seq(
    9000001L -> "Xin chào thế giới",
    9000002L -> "naïve café ☕ vs 🚀 launch",
    9000003L -> "  the   and of  ",
    9000004L -> "")

  private val uniImportDocVals: String = UniImportPlanted
    .map { case (id, t) => s"($id, '${t.replace("'", "''")}')" }
    .mkString(", ")

  private def uniImportDocsDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    uniDocs(s, dir).select(col("doc_id").cast("long"), col("text"))
      .unionByName(UniImportPlanted.toDF("doc_id", "text"))
  }

  /** Build the fixture vocab THROUGH the interchange boundary: render →
    * temp `.vocab` file → [[graft.llm.Unigram.loadVocab]] (which
    * collects eagerly — bounded-model contract — so the file is
    * deletable before evaluation).
    */
  private def uniImportVocabDf(s: SparkSession): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_uni_vocab")
    try {
      val vPath = tmp.resolve("fixture.vocab")
      java.nio.file.Files.writeString(vPath,
        graft.llm.Unigram.renderVocab(uniImportVocabRows))
      val v = graft.llm.Unigram.loadVocab(s, vPath.toString)
        .localCheckpoint(true) // eager + unregistered (no CacheManager
      v                        // entry — see Unigram.trainHardSp's note)
    } finally {
      graft.storage.TableStore.deleteRecursively(tmp)
    }
  }

  /** The import → encode path end to end: loaded fixture vocab, log-
    * space Viterbi, byte-fallback OOV expansion, line-order ids.
    */
  def uniImportVocab(s: SparkSession, dir: String): DataFrame =
    graft.llm.Unigram.encodeImported(uniImportDocsDf(s, dir), "doc_id",
        "text", uniImportVocabDf(s))
      .select(col("doc_id"), array_join(col("pieces"), "|").as("pieces"),
        array_join(transform(col("piece_ids"), i => i.cast("string")), "|")
          .as("piece_ids"),
        col("n_pieces"))
      .orderBy("doc_id")

  /** Oracle: the log-space Viterbi + byte-fallback chain restated from
    * the pinned rows — lattice edges from the non-control VALUES, OOV
    * singles at the pinned −64 floor, DP on sums (each `+` one exactly-
    * rounded op on identical doubles, so the tables match bitwise),
    * smallest-j tie-break, then the OOV post-map through the UTF-8
    * packing formula with byte ids at the pinned `3 + byte`.
    */
  /** The shared oracle core through per-word piece/id streams (`iwp`),
    * parameterized on the `ud` rows — the doc-assembly and the
    * per-language fallback-rollup tails both build on it.
    */
  private def uniImportCoreCtes(udBody: String): String = {
    val latticeVals = UniImportLattice.zipWithIndex.map {
      case ((p, lp), i) =>
        s"('${p.replace("'", "''")}', CAST($lp AS DOUBLE), ${259 + i})"
    }.mkString(", ")
    s"""WITH RECURSIVE
       |ud AS ($udBody),
       |unorm AS (
       |  SELECT doc_id, string_split(regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM ud),
       |iwc AS MATERIALIZED (
       |  SELECT DISTINCT '▁' || word AS word
       |  FROM (SELECT unnest(ws) AS word FROM unorm) WHERE word <> ''),
       |lvoc AS MATERIALIZED (
       |  SELECT piece, lp, piece_id
       |  FROM (VALUES $latticeVals) v(piece, lp, piece_id)),
       |ilat0 AS MATERIALIZED (
       |  SELECT w.word, CAST(j AS INT) AS j, CAST(j + l AS INT) AS e,
       |         substr(w.word, CAST(j + 1 AS INT), CAST(l AS INT)) AS piece
       |  FROM iwc w,
       |       UNNEST(range(0, len(w.word))) AS u(j),
       |       UNNEST(range(1, least($uniImportMaxLen, len(w.word) - j) + 1)) AS v(l)),
       |ilat AS MATERIALIZED (
       |  SELECT l0.word, l0.j, l0.e,
       |    CASE WHEN v.piece IS NOT NULL THEN v.lp
       |         ELSE CAST(-64.0 AS DOUBLE) END AS p
       |  FROM ilat0 l0 LEFT JOIN lvoc v ON l0.piece = v.piece
       |  WHERE v.piece IS NOT NULL OR l0.e - l0.j = 1),
       |ilatl AS MATERIALIZED (
       |  SELECT word, list(struct_pack(j := j, e := e, p := p) ORDER BY e, j) AS lat
       |  FROM ilat GROUP BY word),
       |idp AS (
       |  SELECT word, CAST(len(word) AS INT) AS n, 0 AS i,
       |         [CAST(0.0 AS DOUBLE)] AS bests, [CAST(-1 AS INT)] AS bps
       |  FROM ilatl
       |  UNION ALL
       |  SELECT d.word, d.n, d.i + 1,
       |    list_append(d.bests, list_max(
       |      [x.p + d.bests[x.j + 1] FOR x IN l.lat IF x.e = d.i + 1])),
       |    list_append(d.bps, list_min(
       |      [x.j FOR x IN l.lat
       |       IF x.e = d.i + 1
       |          AND x.p + d.bests[x.j + 1] = list_max(
       |            [y.p + d.bests[y.j + 1] FOR y IN l.lat IF y.e = d.i + 1])]))
       |  FROM idp d JOIN ilatl l ON d.word = l.word
       |  WHERE d.i < d.n),
       |ifin AS MATERIALIZED (SELECT word, n, bps FROM idp WHERE i = n),
       |ibt AS (
       |  SELECT word, n AS i, [CAST(n AS INT)] AS cuts FROM ifin
       |  UNION ALL
       |  SELECT b.word, f.bps[b.i + 1], list_prepend(f.bps[b.i + 1], b.cuts)
       |  FROM ibt b JOIN ifin f ON b.word = f.word
       |  WHERE b.i > 0),
       |iseg AS MATERIALIZED (
       |  SELECT word, [substr(word, cuts[t] + 1, cuts[t + 1] - cuts[t])
       |                FOR t IN range(1, len(cuts))] AS pieces
       |  FROM ibt WHERE i = 0),
       |isegp AS (
       |  SELECT word, CAST(t AS INT) AS ppos, pieces[CAST(t AS INT)] AS piece
       |  FROM iseg, UNNEST(range(1, len(pieces) + 1)) AS u(t)),
       |imapped AS (
       |  SELECT s.word, s.ppos, 0 AS bpos, s.piece AS out_piece, v.piece_id,
       |    0 AS fb
       |  FROM isegp s JOIN lvoc v USING (piece)
       |  UNION ALL
       |  SELECT s.word, s.ppos, CAST(bi AS INT) AS bpos,
       |    printf('<0x%02X>', s.bl[CAST(bi AS INT)]) AS out_piece,
       |    CAST(3 + s.bl[CAST(bi AS INT)] AS INT) AS piece_id, 1 AS fb
       |  FROM (SELECT word, ppos, piece,
       |          ${sqlUtf8Bytes("unicode(piece)")} AS bl
       |        FROM isegp
       |        WHERE piece NOT IN (SELECT piece FROM lvoc)) s,
       |       UNNEST(range(1, len(s.bl) + 1)) AS u(bi)),
       |iwp AS MATERIALIZED (
       |  SELECT word,
       |    string_agg(out_piece, '|' ORDER BY ppos, bpos) AS ps,
       |    string_agg(CAST(piece_id AS VARCHAR), '|' ORDER BY ppos, bpos) AS ids,
       |    CAST(count(*) AS BIGINT) AS np,
       |    CAST(sum(fb) AS BIGINT) AS nfb
       |  FROM imapped GROUP BY word)""".stripMargin
  }

  private def uniImportChainSql(udBody: String): String =
    s"""${uniImportCoreCtes(udBody)},
       |idt AS (
       |  SELECT doc_id, CAST(i AS INT) AS wpos, '▁' || ws[i] AS word
       |  FROM unorm, UNNEST(range(1, len(ws) + 1)) AS u(i)
       |  WHERE ws[i] <> ''),
       |idj AS (
       |  SELECT d.doc_id, d.wpos, w.ps, w.ids, w.np
       |  FROM idt d JOIN iwp w USING (word))
       |SELECT n.doc_id,
       |  coalesce(string_agg(j.ps, '|' ORDER BY j.wpos), '') AS pieces,
       |  coalesce(string_agg(j.ids, '|' ORDER BY j.wpos), '') AS piece_ids,
       |  CAST(coalesce(sum(j.np), 0) AS BIGINT) AS n_pieces
       |FROM unorm n LEFT JOIN idj j ON n.doc_id = j.doc_id
       |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin

  val uniImportVocabSql: String = uniImportChainSql(
    s"""
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id AS BIGINT), text
       |  FROM (VALUES $uniImportDocVals) v(doc_id, text)""".stripMargin)

  /** Planted rows for the coverage audit, with a lang slice: real
    * documents are fully inside the fixture lattice (fallback 0 per
    * language), the planted slices are mostly outside it.
    */
  private val UniFallbackPlanted: Seq[(Long, String, String)] = Seq(
    (9000021L, "Xin chào thế giới bạn", "vi"),
    (9000022L, "naïve café ☕ 🚀 ok", "sym"))

  /** [[graft.llm.Unigram.fallbackStats]] under the import fixture: the
    * vocabulary-coverage triage — per-language fallback fraction of the
    * encoded stream. Real langs audit at 0; the planted Vietnamese and
    * symbol slices at their exact byte-expansion fractions.
    */
  def uniFallbackStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = uniDocs(s, dir)
      .select(col("doc_id").cast("long"), col("text"), col("lang"))
      .unionByName(UniFallbackPlanted.toDF("doc_id", "text", "lang"))
    graft.llm.Unigram.fallbackStats(docs, "doc_id", "text", "lang",
        uniImportVocabDf(s))
      .orderBy("lang")
  }

  /** Oracle: the shared import core, per-word fallback tallies rolled
    * up to the language slice.
    */
  val uniFallbackStatsSql: String = {
    val docVals = UniFallbackPlanted
      .map { case (id, t, _) => s"($id, '${t.replace("'", "''")}')" }
      .mkString(", ")
    val langVals = UniFallbackPlanted
      .map { case (id, _, l) => s"($id, '$l')" }.mkString(", ")
    s"""${uniImportCoreCtes(
        s"""
           |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
           |  UNION ALL
           |  SELECT CAST(doc_id AS BIGINT), text
           |  FROM (VALUES $docVals) v(doc_id, text)""".stripMargin)},
       |ul AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id AS BIGINT), lang
       |  FROM (VALUES $langVals) v(doc_id, lang)),
       |idt AS (
       |  SELECT doc_id, '▁' || ws[i] AS word
       |  FROM unorm, UNNEST(range(1, len(ws) + 1)) AS u(i)
       |  WHERE ws[i] <> ''),
       |idj AS (
       |  SELECT d.doc_id, w.np, w.nfb
       |  FROM idt d JOIN iwp w USING (word)),
       |perdoc AS (
       |  SELECT n.doc_id,
       |    CAST(coalesce(sum(j.np), 0) AS BIGINT) AS np,
       |    CAST(coalesce(sum(j.nfb), 0) AS BIGINT) AS nfb
       |  FROM unorm n LEFT JOIN idj j ON n.doc_id = j.doc_id
       |  GROUP BY n.doc_id)
       |SELECT u.lang,
       |  CAST(sum(p.np) AS BIGINT) AS n_pieces,
       |  CAST(sum(p.nfb) AS BIGINT) AS n_fallback,
       |  CASE WHEN sum(p.np) = 0 THEN NULL
       |    ELSE CAST(sum(p.nfb) AS DOUBLE) / CAST(sum(p.np) AS DOUBLE)
       |  END AS fallback_frac
       |FROM perdoc p JOIN ul u USING (doc_id)
       |GROUP BY u.lang ORDER BY u.lang""".stripMargin
  }

  /** `decodeImported ∘ encodeImported` = identity on the whitespace-
    * collapsed trimmed text — the byte-fallback losslessness contract
    * on arbitrary UTF-8 (diacritics, BMP symbols, astral plane). The
    * oracle is the identity.
    */
  def uniRoundtripBytes(s: SparkSession, dir: String): DataFrame =
    graft.llm.Unigram.decodeImported(
        graft.llm.Unigram.encodeImported(uniImportDocsDf(s, dir),
          "doc_id", "text", uniImportVocabDf(s)),
        "doc_id")
      .orderBy("doc_id")

  /** NFKC-regime planted rows: `(id, raw, expected-NFKC)`. The raw form
    * is what the ENGINE normalizes (ligatures, fullwidth, circled
    * digits, squared units, NBSP); the expected form is pinned directly
    * in the ORACLE's rows — the mapping itself is part of the gate, not
    * re-derived in SQL (DuckDB has no NFKC function). A spec asserts
    * raw→expected under `java.text.Normalizer` so the pin cannot rot.
    */
  private[graft] val UniNfkcPlanted: Seq[(Long, String, String)] = Seq(
    (9000011L, "ﬁne ﬂow works", "fine flow works"),
    (9000012L, "Ｆｕｌｌｗｉｄｔｈ ４２ ok", "Fullwidth 42 ok"),
    (9000013L, "①②③ and ㎞ here", "123 and km here"),
    (9000014L, "a b plus", "a b plus"))

  /** [[graft.llm.Unigram.encodeImported]] under `nfkc = true` — the
    * SentencePiece nmt-NFKC-family normalization regime in front of the
    * imported-vocabulary tier. Real documents are ASCII (NFKC-invariant,
    * asserted cheap by the ASCII fast path); the planted rows carry the
    * compatibility forms.
    */
  def uniEncodeNfkc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = uniDocs(s, dir).select(col("doc_id").cast("long"), col("text"))
      .unionByName(UniNfkcPlanted.map(r => (r._1, r._2)).toDF("doc_id", "text"))
    graft.llm.Unigram.encodeImported(docs, "doc_id", "text",
        uniImportVocabDf(s), nfkc = true)
      .select(col("doc_id"), array_join(col("pieces"), "|").as("pieces"),
        array_join(transform(col("piece_ids"), i => i.cast("string")), "|")
          .as("piece_ids"),
        col("n_pieces"))
      .orderBy("doc_id")
  }

  /** Oracle: the shared import chain over documents plus the PINNED
    * post-NFKC planted text.
    */
  val uniEncodeNfkcSql: String = uniImportChainSql(
    s"""
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id AS BIGINT), text
       |  FROM (VALUES ${UniNfkcPlanted
             .map { case (id, _, n) => s"($id, '${n.replace("'", "''")}')" }
             .mkString(", ")}) v(doc_id, text)""".stripMargin)

  val uniRoundtripBytesSql: String =
    s"""SELECT doc_id,
       |  regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g') AS text_rt
       |FROM (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id AS BIGINT), text
       |  FROM (VALUES $uniImportDocVals) v(doc_id, text))
       |ORDER BY doc_id""".stripMargin

  // ---- registration ---------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dpo_pairs"       -> (dpoPairs _),
    "best_of_n"       -> (bestOfN _),
    "grpo_advantage"  -> (grpoAdvantage _),
    "bpe_train"       -> (bpeTrain _),
    "bpe_encode"      -> (bpeEncode _),
    "bpe_encode_fast" -> (bpeEncodeFast _),
    "bpe_encode_bytes" -> (bpeEncodeBytes _),
    "bpe_bytes_roundtrip" -> (bpeBytesRoundtrip _),
    "bpe_train_bytes" -> (bpeTrainBytes _),
    "bpe_vocab_bytes" -> (bpeVocabBytes _),
    "bpe_encode_ids_bytes" -> (bpeEncodeIdsBytes _),
    "bpe_fertility_bytes" -> (bpeFertilityBytes _),
    "bpe_pretok"      -> (bpePretok _),
    "bpe_encode_bytes_raw" -> (bpeEncodeBytesRaw _),
    "bpe_bytes_roundtrip_raw" -> (bpeBytesRoundtripRaw _),
    "bpe_train_bytes_raw" -> (bpeTrainBytesRaw _),
    "bpe_fertility_bytes_raw" -> (bpeFertilityBytesRaw _),
    "bpe_vocab_specials" -> (bpeVocabSpecials _),
    "bpe_encode_ids_bytes_raw" -> (bpeEncodeIdsBytesRaw _),
    "bpe_encode_hf"   -> (bpeEncodeHf _),
    "bpe_pretok_gpt2" -> (bpePretokGpt2 _),
    "bpe_encode_bytes_gpt2" -> (bpeEncodeBytesGpt2 _),
    "bpe_bytes_roundtrip_gpt2" -> (bpeBytesRoundtripGpt2 _),
    "bpe_train_bytes_gpt2" -> (bpeTrainBytesGpt2 _),
    "bpe_import_vocab" -> (bpeImportVocab _),
    "bpe_gpt2_e2e"    -> (bpeGpt2E2e _),
    "select_budget_bytes" -> (selectBudgetBytes _),
    "fim_transform"   -> (fimTransform _),
    "bpe_vocab"       -> (bpeVocab _),
    "bpe_encode_ids"  -> (bpeEncodeIds _),
    "logreg_train"    -> (logregTrain _),
    "logreg_scores"   -> (logregScores _),
    "logreg_text"     -> (logregText _),
    "sft_turns"       -> (sftTurns _),
    "sft_truncate"    -> (sftTruncate _),
    "sft_transcripts" -> (sftTranscripts _),
    "sft_pack"        -> (sftPack _),
    "sft_pack_tokens" -> (sftPackTokens _),
    "sft_run_tokens"  -> (sftRunTokens _),
    "sft_pack_tokens_bytes" -> (sftPackTokensBytes _),
    "sft_run_tokens_bytes" -> (sftRunTokensBytes _),
    "sft_materialize_blocks" -> (sftMaterializeBlocks _),
    "sft_mask_audit"  -> (sftMaskAudit _),
    "sft_run"         -> (sftRun _),
    "bpe_fertility"   -> (bpeFertility _),
    "uni_seed_vocab"  -> (uniSeedVocab _),
    "uni_encode"      -> (uniEncode _),
    "uni_train"       -> (uniTrain _),
    "uni_tokens"      -> (uniTokens _),
    "uni_vocab"       -> (uniVocab _),
    "uni_encode_ids"  -> (uniEncodeIds _),
    "uni_fertility"   -> (uniFertility _),
    "uni_em_soft"     -> (uniEmSoft _),
    "uni_train_soft"  -> (uniTrainSoft _),
    "uni_encode_soft" -> (uniEncodeSoft _),
    "uni_encode_sp"   -> (uniEncodeSp _),
    "uni_roundtrip_sp" -> (uniRoundtripSp _),
    "uni_import_vocab" -> (uniImportVocab _),
    "uni_roundtrip_bytes" -> (uniRoundtripBytes _),
    "uni_encode_nfkc" -> (uniEncodeNfkc _),
    "uni_fallback_stats" -> (uniFallbackStats _),
    "c4_blocklist"    -> (c4Blocklist _))

  val oracleSql: Map[String, String] = Map(
    "dpo_pairs"       -> dpoPairsSql,
    "best_of_n"       -> bestOfNSql,
    "grpo_advantage"  -> grpoAdvantageSql,
    "bpe_train"       -> bpeTrainSql,
    "bpe_encode"      -> bpeEncodeSql,
    "bpe_encode_fast" -> bpeEncodeSql,
    "bpe_encode_bytes" -> bpeEncodeBytesSql,
    "bpe_bytes_roundtrip" -> bpeBytesRoundtripSql,
    "bpe_train_bytes" -> bpeTrainBytesSql,
    "bpe_vocab_bytes" -> bpeVocabBytesSql,
    "bpe_encode_ids_bytes" -> bpeEncodeIdsBytesSql,
    "bpe_fertility_bytes" -> bpeFertilityBytesSql,
    "bpe_pretok"      -> bpePretokSql,
    "bpe_encode_bytes_raw" -> bpeEncodeBytesRawSql,
    "bpe_bytes_roundtrip_raw" -> bpeBytesRoundtripRawSql,
    "bpe_train_bytes_raw" -> bpeTrainBytesRawSql,
    "bpe_fertility_bytes_raw" -> bpeFertilityBytesRawSql,
    "bpe_vocab_specials" -> bpeVocabSpecialsSql,
    "bpe_encode_ids_bytes_raw" -> bpeEncodeIdsBytesRawSql,
    "bpe_encode_hf"   -> bpeEncodeHfSql,
    "bpe_pretok_gpt2" -> bpePretokGpt2Sql,
    "bpe_encode_bytes_gpt2" -> bpeEncodeBytesGpt2Sql,
    "bpe_bytes_roundtrip_gpt2" -> bpeBytesRoundtripGpt2Sql,
    "bpe_train_bytes_gpt2" -> bpeTrainBytesGpt2Sql,
    "bpe_import_vocab" -> bpeImportVocabSql,
    "bpe_gpt2_e2e"    -> bpeGpt2E2eSql,
    "select_budget_bytes" -> selectBudgetBytesSql,
    "fim_transform"   -> fimTransformSql,
    "bpe_vocab"       -> bpeVocabSql,
    "bpe_encode_ids"  -> bpeEncodeIdsSql,
    "logreg_train"    -> logregTrainSql,
    "logreg_scores"   -> logregScoresSql,
    "logreg_text"     -> logregTextSql,
    "sft_turns"       -> sftTurnsSql,
    "sft_truncate"    -> sftTruncateSql,
    "sft_transcripts" -> sftTranscriptsSql,
    "sft_pack"        -> sftPackSql,
    "sft_pack_tokens" -> sftPackTokensSql,
    "sft_run_tokens"  -> sftRunTokensSql,
    "sft_pack_tokens_bytes" -> sftPackTokensBytesSql,
    "sft_run_tokens_bytes" -> sftRunTokensBytesSql,
    "sft_materialize_blocks" -> sftMaterializeBlocksSql,
    "sft_mask_audit"  -> sftMaskAuditSql,
    "sft_run"         -> sftRunSql,
    "bpe_fertility"   -> bpeFertilitySql,
    "uni_seed_vocab"  -> uniSeedVocabSql,
    "uni_encode"      -> uniEncodeSql,
    "uni_train"       -> uniTrainSql,
    "uni_tokens"      -> uniTokensSql,
    "uni_vocab"       -> uniVocabSql,
    "uni_encode_ids"  -> uniEncodeIdsSql,
    "uni_fertility"   -> uniFertilitySql,
    "uni_em_soft"     -> uniEmSoftSql,
    "uni_train_soft"  -> uniTrainSoftSql,
    "uni_encode_soft" -> uniEncodeSoftSql,
    "uni_encode_sp"   -> uniEncodeSpSql,
    "uni_roundtrip_sp" -> uniRoundtripSpSql,
    "uni_import_vocab" -> uniImportVocabSql,
    "uni_roundtrip_bytes" -> uniRoundtripBytesSql,
    "uni_encode_nfkc" -> uniEncodeNfkcSql,
    "uni_fallback_stats" -> uniFallbackStatsSql,
    "c4_blocklist"    -> c4BlocklistSql)
}
