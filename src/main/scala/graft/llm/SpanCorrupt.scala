package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** T5-style span corruption (Raffel et al. 2020 §3.1.4) — the
  * denoising-objective EXAMPLE PREP step: replace token spans with
  * sentinel tokens in the input and emit the masked spans,
  * sentinel-prefixed, as the target. Published pipelines do this with
  * an RNG at batch time; here it is a DETERMINISTIC pure function of
  * (doc id, block index) via the portable md5 hash — the same rerun/
  * engine/growth stability argument as the hash split: a re-run
  * regenerates the identical examples, so training is reproducible and
  * an oracle can restate the whole transform.
  *
  * Tokens group into consecutive blocks of `spanLen`; block `b` of doc
  * `d` is corrupted iff `u32(md5(d:b)) % corruptEvery == 0` (≈
  * 1/corruptEvery of token mass; the paper's 15% ≈ corruptEvery 7 at
  * spanLen 3). Input: corrupted blocks → `<extra_id_k>` in block
  * order; target: `<extra_id_k> span…` per corrupted block plus the
  * closing sentinel — the exact T5 target format.
  *
  * Scale shape: entirely narrow — one projection of higher-order array
  * functions per row (no explode, no shuffle, no window); runs at scan
  * speed like [[Chunking]].
  */
object SpanCorrupt {

  /** `(idCol, n_tokens, n_corrupt_spans, input_text, target_text)`. */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
                  spanLen: Int = 3, corruptEvery: Int = 7): DataFrame = {
    require(spanLen >= 1, s"spanLen must be >= 1, got $spanLen")
    require(corruptEvery >= 2, s"corruptEvery must be >= 2, got $corruptEvery")
    val t = col(textCol)
    val empty = t.isNull || trim(t) === ""
    val toks = split(Dedup.normalize(t), " ")
    val nt = when(empty, 0).otherwise(size(toks)).cast("int")
    val nb = ((nt + spanLen - 1) / spanLen).cast("int")
    val blockIds = when(nb >= 1, sequence(lit(0), nb - 1))
      .otherwise(array().cast("array<int>"))
    def isCorrupt(b: org.apache.spark.sql.Column) =
      graft.functions.Hashes.u32OfMd5(
        concat(col(idCol).cast("string"), lit(":"), b.cast("string"))) %
        corruptEvery === 0
    def span(b: org.apache.spark.sql.Column) =
      array_join(slice(toks, b * spanLen + 1, lit(spanLen)), " ")
    val corruptIds = filter(blockIds, b => isCorrupt(b))
    val nCorrupt = size(corruptIds).cast("int")
    val input = array_join(transform(blockIds, b =>
      when(isCorrupt(b),
          concat(lit("<extra_id_"),
            (array_position(corruptIds, b) - 1).cast("string"), lit(">")))
        .otherwise(span(b))), " ")
    val spansOut = array_join(transform(corruptIds, (b, i) =>
      concat(lit("<extra_id_"), i.cast("string"), lit("> "), span(b))), " ")
    val target = when(nCorrupt === 0, lit("<extra_id_0>"))
      .otherwise(concat(spansOut, lit(" <extra_id_"),
        nCorrupt.cast("string"), lit(">")))
    docs.select(col(idCol), nt.as("n_tokens"),
      when(empty, 0).otherwise(nCorrupt).cast("int").as("n_corrupt_spans"),
      when(empty, lit("")).otherwise(input).as("input_text"),
      when(empty, lit("<extra_id_0>")).otherwise(target).as("target_text"))
  }

  /** FIM — fill-in-the-middle example prep (Bavarian et al. 2022): a
    * deterministic 1-in-`applyEvery` selection of documents is split at
    * two hash-derived CHARACTER cuts into prefix/middle/suffix and
    * re-rendered in PSM order
    * (`preTok ⧺ prefix ⧺ sufTok ⧺ suffix ⧺ midTok ⧺ middle`) — the
    * code-model transform that teaches infilling. Published pipelines
    * draw the cuts from a batch-time RNG; here selection AND cuts are
    * pure functions of the doc id via the portable md5 hash (the same
    * reproducibility argument as [[spanCorrupt]]): a re-run regenerates
    * identical examples and the oracle restates the whole transform.
    *
    * Pinned semantics: `applied ⇔ u32(md5(id:fim)) % applyEvery = 0 ∧
    * n ≥ 2`; cuts `cᵢ = u32(md5(id:cutᵢ)) % (n+1)`, `lo = min, hi =
    * max` (empty middle/prefix/suffix legal — the trainer sees those
    * regimes too); non-selected docs pass through verbatim with null
    * cut columns. Character coordinates are CODE POINTS on the raw
    * (unnormalized) text — both engines index astral characters as one.
    *
    * Output: `(idCol, fim_applied, n_chars, fim_lo, fim_hi, fim_text)`.
    * Entirely narrow: one projection, no explode, no shuffle.
    */
  def fim(docs: DataFrame, idCol: String, textCol: String,
          applyEvery: Int = 2,
          preTok: String = "<|fim_pre|>", sufTok: String = "<|fim_suf|>",
          midTok: String = "<|fim_mid|>"): DataFrame = {
    require(applyEvery >= 1, s"applyEvery must be >= 1, got $applyEvery")
    val t = coalesce(col(textCol).cast("string"), lit(""))
    val n = length(t)
    def h(tag: String) = graft.functions.Hashes.u32OfMd5(
      concat(col(idCol).cast("string"), lit(":" + tag)))
    val applied = (h("fim") % applyEvery === 0) && (n >= 2)
    val c1 = (h("cut1") % (n + 1)).cast("int")
    val c2 = (h("cut2") % (n + 1)).cast("int")
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val rendered = concat(lit(preTok), t.substr(lit(1), lo),
      lit(sufTok), t.substr(hi + 1, n - hi),
      lit(midTok), t.substr(lo + 1, hi - lo))
    docs.select(col(idCol), applied.as("fim_applied"),
      n.cast("int").as("n_chars"),
      when(applied, lo).otherwise(lit(null).cast("int")).as("fim_lo"),
      when(applied, hi).otherwise(lit(null).cast("int")).as("fim_hi"),
      when(applied, rendered).otherwise(t).as("fim_text"))
  }
}
