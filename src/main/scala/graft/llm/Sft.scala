package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SFT / chat-example preparation: turn an entity-keyed event stream
  * into rendered conversation transcripts with per-turn character
  * offsets and a loss mask — the assembly step between a raw
  * interaction log and a supervised fine-tuning corpus. The trainer
  * contract every chat pipeline shares: a single flat string per
  * example, plus the span list telling the loss which characters are
  * model turns (assistant spans train, user spans are context-only).
  *
  * Semantics (pinned):
  *   - a conversation = all events of one entity, ordered by
  *     (ts, event_id) — compose with `sessionize` upstream for
  *     gap-bounded conversations;
  *   - role = "user" when the event type is in `userTypes`, else
  *     "assistant"; content = `type ⧺ " " ⧺ props` (null props render
  *     as the empty string, no trailing space trim — byte-stable);
  *   - a rendered turn line = `role ⧺ ": " ⧺ content`; the transcript
  *     joins lines with a single `\n`;
  *   - offsets are [start, end) character positions of each line in
  *     the final transcript (start = sum of prior line lengths + one
  *     separator each); the loss mask = the assistant turns' spans;
  *   - truncation keeps the LATEST whole turns whose rendered length
  *     (plus separators) fits the budget — the standard
  *     drop-oldest-context policy — then renumbers and re-offsets.
  *
  * Scale shape: everything is per-conversation windows — bounded by
  * the same per-entity assumption every sequence exporter makes
  * ([[graft.analytics.Events.userSequences]]'s documented contract;
  * unbounded entities get sessionized first). One shuffle on the
  * conversation key; transcripts are one sorted-struct aggregation,
  * never a cross-turn join.
  */
object Sft {

  private def lineOf(role: Column, content: Column): Column =
    concat(role, lit(": "), content)

  /** Per-turn table: `(conv_id, turn_idx, role, content, line_len,
    * start_off, end_off, masked)` — turn_idx is 1-based, offsets are
    * [start, end) into the would-be transcript of ALL turns.
    */
  def turns(events: DataFrame, userCol: String, tsCol: String,
            typeCol: String, propsCol: String,
            userTypes: Seq[String] = Seq("click", "view"),
            orderCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("__ts"), col("__ord"))
    val base = events.select(
      col(userCol).cast("long").as("conv_id"),
      col(tsCol).as("__ts"), col(orderCol).as("__ord"),
      when(col(typeCol).isin(userTypes: _*), lit("user"))
        .otherwise(lit("assistant")).as("role"),
      concat(col(typeCol), lit(" "),
        coalesce(col(propsCol), lit(""))).as("content"))
    base.select(col("conv_id"), col("role"), col("content"),
        row_number().over(w).as("turn_idx"),
        length(lineOf(col("role"), col("content"))).as("line_len"),
        sum(length(lineOf(col("role"), col("content"))) + lit(1))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)).as("__pfx"))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("content"),
        col("line_len"),
        coalesce(col("__pfx"), lit(0L)).as("start_off"),
        (coalesce(col("__pfx"), lit(0L)) + col("line_len")).as("end_off"),
        (col("role") === "assistant").as("masked"))
  }

  /** Keep the latest whole turns fitting `maxChars` (rendered length
    * + one separator per joint), then renumber/re-offset — the output
    * is a valid [[turns]] table of the truncated conversation.
    */
  def truncateLatest(turnsDf: DataFrame, maxChars: Int): DataFrame = {
    val wDesc = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").desc)
    val kept = turnsDf.withColumn("__sfx",
        sum(col("line_len") + lit(1)).over(
          wDesc.rowsBetween(Window.unboundedPreceding, 0)) - lit(1))
      .filter(col("__sfx") <= maxChars)
    val wAsc = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    kept.select(col("conv_id"), col("role"), col("content"),
        col("line_len"), col("masked"),
        row_number().over(wAsc).as("turn_idx"),
        sum(col("line_len") + lit(1))
          .over(wAsc.rowsBetween(Window.unboundedPreceding, -1)).as("__pfx"))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("content"),
        col("line_len"),
        coalesce(col("__pfx"), lit(0L)).as("start_off"),
        (coalesce(col("__pfx"), lit(0L)) + col("line_len")).as("end_off"),
        col("masked"))
  }

  /** Conversation-level rollup of a [[turns]] table: the transcript
    * string, the loss-mask span list rendered `start:end|start:end`
    * (assistant turns, turn order), and the counted summary the
    * packing/budgeting operators consume.
    */
  def transcripts(turnsDf: DataFrame): DataFrame =
    turnsDf
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked_turns"),
        sum(when(col("masked"), col("line_len")).otherwise(0L))
          .as("n_masked_chars"),
        // sorted-struct aggregation: deterministic turn order without
        // relying on shuffle arrival order
        array_join(transform(
          sort_array(collect_list(struct(col("turn_idx"),
            lineOf(col("role"), col("content")).as("line")))),
          s => s.getField("line")), "\n").as("transcript"),
        array_join(transform(
          sort_array(collect_list(when(col("masked"),
            struct(col("turn_idx"), col("start_off"), col("end_off"))))),
          s => concat(s.getField("start_off"), lit(":"),
            s.getField("end_off"))), "|").as("mask_spans"))
      .select(col("conv_id"), col("n_turns"), col("n_masked_turns"),
        col("n_masked_chars"),
        length(col("transcript")).as("n_chars"),
        col("transcript"), col("mask_spans"))

  /** The turns rows with each rendered line's token array under
    * `regime` joined back as `__seg` — the shared primitive of the
    * token-space family: only the DISTINCT rendered lines (normalized by
    * the regime) go through [[Bpe]]'s shared kernel, then hash-join
    * back. `vocab` maps tokens to ids (−1 when absent); `None` keeps the
    * token strings. The regime picks the token coordinates: `Char` is
    * the shared-word analytics convention, `Raw` the production
    * byte-level coordinates a real trainer's loss actually indexes
    * (`Raw(hf = true, gpt2Ws = true)` is exactly a published
    * GPT-2-family tokenizer under an imported merge table,
    * [[Bpe.loadMerges]]).
    */
  private def withLineSegments(turnsDf: DataFrame,
                               merges: Array[(String, String)],
                               regime: Bpe.Regime,
                               vocab: Option[DataFrame]): DataFrame = {
    import turnsDf.sparkSession.implicits._
    val withLine = turnsDf.withColumn("__line",
      regime.normalize(lineOf(col("role"), col("content"))))
    val idx = new Bpe.MergeIndex(merges)
    val lines = withLine.select(col("__line")).distinct()
      .select(col("__line"), col("__line")).as[(String, String)]
    val segs = vocab match {
      case None =>
        Bpe.segmentRows(lines, idx, regime.words)(regime.encoder)
          .toDF("__line", "__seg")
      case Some(v) =>
        Bpe.segmentRows(lines, (idx, Bpe.idsOf(v, "token", "token_id")),
          regime.words)(regime.idEncoder).toDF("__line", "__seg")
    }
    withLine.join(segs, Seq("__line")).drop("__line")
  }

  /** [[withLineSegments]]' token COUNTS as `__ntok` (long). */
  private def withLineTokens(turnsDf: DataFrame,
                             merges: Array[(String, String)],
                             regime: Bpe.Regime): DataFrame =
    withLineSegments(turnsDf, merges, regime, None)
      .withColumn("__ntok", size(col("__seg")).cast("long")).drop("__seg")

  /** [[truncateLatest]] with a TOKEN budget: keep the latest whole
    * turns whose learned-subword token counts sum to ≤ `maxTokens`
    * (separator-free — the `\n` joints are zero tokens, unlike char
    * space's `+1` per joint), then renumber and re-offset the CHAR
    * fields so the output is a valid [[turns]] table that every
    * downstream stage (char or token space) accepts.
    */
  def truncateLatestTokens(turnsDf: DataFrame, maxTokens: Int,
                           merges: Array[(String, String)],
                           regime: Bpe.Regime = Bpe.Regime.Char): DataFrame = {
    val wDesc = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").desc)
    val kept = withLineTokens(turnsDf, merges, regime)
      .withColumn("__sfx", sum(col("__ntok")).over(
        wDesc.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__sfx") <= maxTokens)
    val wAsc = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    kept.select(col("conv_id"), col("role"), col("content"),
        col("line_len"), col("masked"),
        row_number().over(wAsc).as("turn_idx"),
        sum(col("line_len") + lit(1))
          .over(wAsc.rowsBetween(Window.unboundedPreceding, -1)).as("__pfx"))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("content"),
        col("line_len"),
        coalesce(col("__pfx"), lit(0L)).as("start_off"),
        (coalesce(col("__pfx"), lit(0L)) + col("line_len")).as("end_off"),
        col("masked"))
  }

  /** Token-space conversation rollup: [[transcripts]]' summary with
    * every count and mask span in LEARNED-SUBWORD TOKEN coordinates
    * under a pinned BPE merge table — the coordinate system the trainer
    * actually consumes (blocks are token windows; a char-space span is
    * useless to a loss over token logits).
    *
    * Coordinate semantics: a turn's token count is the BPE token count
    * of its rendered line (`role ⧺ ": " ⧺ content`) under `regime` —
    * exactly [[Bpe.encodeWithMergesFast]]'s `n_tokens` of that line.
    * The `\n` joints are not tokens, so the transcript token stream is
    * the per-turn streams concatenated: turn i's span = [Σ prior turns'
    * counts, + own count) with NO joint term — unlike char space's
    * `line_len + 1`.
    *
    * Scale shape: token counting encodes only the DISTINCT rendered
    * lines ([[Bpe]]'s shared kernel — per-word cost independent
    * of merge-table size) and hash-joins the counts back; offsets are
    * the same per-conversation window as [[turns]]; the rollup is one
    * sorted-struct aggregation. One extra shuffle (the distinct) over
    * [[transcripts]].
    */
  def transcriptsTokens(turnsDf: DataFrame,
                        merges: Array[(String, String)],
                        regime: Bpe.Regime = Bpe.Regime.Char): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val toks = withLineTokens(turnsDf, merges, regime)
      .select(col("conv_id"), col("turn_idx"), col("masked"), col("__ntok"))
      .withColumn("tok_start", coalesce(
        sum(col("__ntok")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("tok_end", col("tok_start") + col("__ntok"))
    toks.groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked_turns"),
        sum(when(col("masked"), col("__ntok")).otherwise(0L))
          .as("n_masked_tokens"),
        sum(col("__ntok")).as("n_tokens"),
        array_join(transform(
          sort_array(collect_list(when(col("masked"),
            struct(col("turn_idx"), col("tok_start"), col("tok_end"))))),
          s => concat(s.getField("tok_start"), lit(":"),
            s.getField("tok_end"))), "|").as("mask_spans"))
  }

  /** [[pack]] in TOKEN space: conversations laid end to end per shard
    * with ONE separator token between them (the EOS analogue of the
    * char packer's `\n` joint) and cut into fixed `blockTokens` blocks,
    * mask spans clipped and re-based in token coordinates — the packed
    * form whose block boundaries and loss spans line up with what the
    * trainer's token stream actually contains. Output mirrors [[pack]]
    * with `toks_in_block` as the measure.
    */
  def packTokens(turnsDf: DataFrame, merges: Array[(String, String)],
                 blockTokens: Int = 2048, nShards: Int = 16,
                 regime: Bpe.Regime = Bpe.Regime.Char,
                 eosId: Option[Int] = None): DataFrame = {
    val packed = pack(transcriptsTokens(turnsDf, merges, regime)
        .select(col("conv_id"), col("n_tokens").as("n_chars"),
          col("mask_spans")),
        blockChars = blockTokens, nShards = nShards)
      .withColumnRenamed("chars_in_block", "toks_in_block")
    // The packer's +1 joint between conversations IS one separator
    // token; `eosId` pins WHICH id that joint carries (a reserved
    // special from [[Bpe.vocabBytes]]'s prefix), published per row so
    // the trainer's materializer never guesses. None keeps the legacy
    // schema (joint id left to the consumer).
    eosId.fold(packed)(id => packed.withColumn("eos_id", lit(id)))
  }

  /** MATERIALIZED trainer blocks — the last step before the trainer:
    * [[packTokens]]' block layout joined back to the actual id streams.
    * One row per `(shard, block_id)` with `token_ids` (the
    * concatenated ids of everything the block contains) and a
    * positional 0/1 `loss_mask` — the literal tensors a dataloader
    * ships, not offsets into something else.
    *
    * Pinned semantics (all inherited from the token-coordinate family
    * so the layout is IDENTICAL to [[packTokens]]' blocks):
    *   - a conversation's id stream = its turns' rendered-line id
    *     arrays concatenated in turn order, NO joint token between
    *     turns (the coordinate system [[transcriptsTokens]] pins);
    *   - conversations lay end to end per shard with exactly ONE
    *     `eosId` token between them (the packer's `+1` joint — here it
    *     is materialized: `eosId` precedes every non-first
    *     conversation, mask 0); zero-token conversations pack to
    *     nothing;
    *   - blocks are `[b·B, (b+1)·B)` windows of the shard stream; the
    *     tail block is ragged unless `padId` is given, in which case
    *     it pads to `B` with mask 0 and `n_pad` says how much;
    *   - `loss_mask(i) = 1` iff position `i` falls inside a masked
    *     (assistant) turn's token span, clipped to the block.
    *
    * Output: `(shard, block_id, n_tokens, n_pad, token_ids,
    * loss_mask)` — `n_tokens` is the content size before padding.
    *
    * `Bpe.Regime.Raw(hf = true, gpt2Ws = true)` selects the PRODUCTION
    * tokenizer regime — [[Bpe.encodeWordHf]] + [[Bpe.preTokenizeGpt2]]
    * — so blocks can be materialized in exactly the id coordinates of
    * an IMPORTED published vocabulary ([[Bpe.loadMerges]]/
    * [[Bpe.loadVocab]] + [[Bpe.vocabBytes]] specials); SftMaterializeSpec
    * pins the decode-back law under the full imported-GPT-2 regime.
    *
    * Scale shape: the distinct-line encode join + the funnel-free
    * offset cumsum over COUNTS ONLY (both shared with [[packTokens]]),
    * then the position-based assembly the oracle itself uses: one row
    * per token at its global shard position (`posexplode` of the
    * per-turn id arrays — per-row state a scalar), one `(shard, block)`
    * aggregation whose buffer is bounded by `blockTokens`. No row ever
    * carries a conversation's id stream, so the memory bound is the
    * BLOCK size, not the conversation size (the round-14 shape carried
    * each conversation's whole array into every block it touched —
    * duplication factor ⌈conv/blockTokens⌉ + 1). The offsets join
    * reuses the conv_id hash partitioning the turn window established;
    * the per-turn window itself is over turn COUNTS, the Sft family's
    * usual per-entity bound.
    */
  def materializeBlocks(turnsDf: DataFrame,
                        merges: Array[(String, String)],
                        vocabDf: DataFrame,
                        blockTokens: Int, nShards: Int = 16,
                        regime: Bpe.Regime = Bpe.Regime.Char,
                        eosId: Int, padId: Option[Int] = None): DataFrame = {
    require(blockTokens > 0, s"blockTokens must be positive, got $blockTokens")
    import graft.operators.Sharding
    val b = lit(blockTokens.toLong)
    val wT = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val toks = withLineSegments(turnsDf, merges, regime, Some(vocabDf))
      .withColumnRenamed("__seg", "__ids")
      .withColumn("__nt", size(col("__ids")).cast("long"))
      .withColumn("tok_start", coalesce(
        sum(col("__nt")).over(wT.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    // counts-only conversation totals: nothing conversation-sized ever
    // rides the cumsum or any later row
    val convN = toks.groupBy(col("conv_id"))
      .agg(sum(col("__nt")).as("__n"))
      .filter(col("__n") > 0)
    val sid = Sharding.shardId(col("conv_id"), nShards)
    // funnel-free offsets, as in [[pack]] — two passes over a slim
    // (shard, conv_id, count) checkpoint
    val offsets = graft.operators.Cumsum.exclusivePerShard(
      convN.select(sid.as("shard"), col("conv_id"), col("__n"))
        .withColumn("__w", col("__n") + lit(1L)),
      "shard", "conv_id", "__w", "conv_offset")
      .select(col("shard"), col("conv_id"), col("conv_offset"))
    // ONE ROW PER TOKEN at its global shard position — the oracle's own
    // position-based shape: per-row state is a scalar, the only
    // array-valued state anywhere is the final per-block buffer
    // (O(blockTokens)). The join reuses the conv_id hash partitioning
    // the turn window already established.
    val tokens = toks
      .join(offsets, Seq("conv_id"))
      .select(col("shard"),
        (col("conv_offset") + col("tok_start")).as("__t0"),
        when(col("masked"), lit(1)).otherwise(lit(0)).as("__m"),
        posexplode(col("__ids")).as(Seq("__i", "__id")))
      .select(col("shard"), (col("__t0") + col("__i")).as("__gpos"),
        col("__id"), col("__m"))
    // the packer's +1 joint, materialized: one eosId at the slot before
    // every non-first conversation, mask 0
    val joints = offsets.filter(col("conv_offset") > 0)
      .select(col("shard"), (col("conv_offset") - 1).as("__gpos"),
        lit(eosId).as("__id"), lit(0).as("__m"))
    val blocks = tokens.unionByName(joints)
      .select(col("shard"), floor(col("__gpos") / b).as("block_id"),
        (col("__gpos") % b).as("__p"), col("__id"), col("__m"))
      .groupBy(col("shard"), col("block_id"))
      .agg(sort_array(collect_list(
        struct(col("__p"), col("__id"), col("__m")))).as("__s"))
      .select(col("shard"), col("block_id"),
        transform(col("__s"), x => x.getField("__id")).as("token_ids"),
        transform(col("__s"), x => x.getField("__m")).as("loss_mask"))
      .withColumn("n_tokens", size(col("token_ids")))
    padId match {
      case Some(pid) =>
        val pad = (b.cast("int") - col("n_tokens"))
        blocks.select(col("shard"), col("block_id"), col("n_tokens"),
          pad.as("n_pad"),
          concat(col("token_ids"),
            array_repeat(lit(pid), pad)).as("token_ids"),
          concat(col("loss_mask"),
            array_repeat(lit(0), pad)).as("loss_mask"))
      case None =>
        blocks.select(col("shard"), col("block_id"), col("n_tokens"),
          lit(0).as("n_pad"), col("token_ids"), col("loss_mask"))
    }
  }

  /** Loss-mask AUDIT of a transcripts table (char- or token-coordinate
    * — the checks are unit-agnostic): per conversation, whether every
    * span is in-bounds (`0 ≤ s < e ≤ n_chars`) and the span list is
    * strictly ordered and non-overlapping, plus the masked-unit count
    * and fraction — the validation a pipeline runs before masks ship
    * to a trainer, where a single out-of-bounds span is a crash and an
    * overlapping one silently double-weights loss. One narrow pass
    * (higher-order array functions over the parsed span list), no
    * shuffle, composable with any `(conv_id, n_chars, mask_spans)`
    * relation ([[transcripts]], [[transcriptsTokens]], or an external
    * table).
    */
  def maskAudit(transcripts: DataFrame): DataFrame = {
    val spans = transform(
      filter(split(coalesce(col("mask_spans"), lit("")), "\\|"),
        x => x =!= ""),
      x => struct(split(x, ":").getItem(0).cast("long").as("s"),
        split(x, ":").getItem(1).cast("long").as("e")))
    val n = col("n_chars").cast("long")
    val inBounds = forall(col("__spans"),
      sp => sp.getField("s") >= 0L && sp.getField("e") <= n
        && sp.getField("s") < sp.getField("e"))
    // ordered + non-overlapping: fold carrying (prevEnd, okSoFar).
    // Seeded with Long.MinValue so the FIRST span is unconditionally
    // in order (only inter-span order is this check's contract —
    // in_bounds owns the s >= 0 check); a -1 seed would flag a
    // negative-start first span as unordered while the oracle's
    // `i = 1 OR ...` form treats it as ordered.
    val ordered = aggregate(col("__spans"),
      struct(lit(Long.MinValue).as("prev"), lit(true).as("ok")),
      (acc, sp) => struct(sp.getField("e").as("prev"),
        (acc.getField("ok") && sp.getField("s") >= acc.getField("prev"))
          .as("ok")),
      acc => acc.getField("ok"))
    transcripts
      .withColumn("__spans", spans)
      .select(col("conv_id"), n.as("n_chars"),
        size(col("__spans")).cast("long").as("n_spans"),
        inBounds.as("in_bounds"), ordered.as("ordered"),
        coalesce(aggregate(col("__spans"), lit(0L),
          (acc, sp) => acc + sp.getField("e") - sp.getField("s")), lit(0L))
          .as("masked_units"))
      .select(col("conv_id"), col("n_chars"), col("n_spans"),
        col("in_bounds"), col("ordered"), col("masked_units"),
        when(col("n_chars") === 0L, lit(null).cast("double"))
          .otherwise(col("masked_units").cast("double")
            / col("n_chars").cast("double")).as("masked_frac"),
        (col("in_bounds") && col("ordered")).as("ok"))
  }

  /** Packed SFT blocks with loss-mask RE-OFFSETTING — the SFT analogue
    * of [[Packing.blocks]]: transcripts are laid end to end per shard
    * (one separator char between conversations, the same `\n` joint the
    * transcript itself uses) and cut into fixed `blockChars` blocks,
    * conversations crossing boundaries. What makes SFT packing more
    * than [[Packing]]: each conversation's mask spans are carried into
    * every block it touches, CLIPPED to the block window and re-based
    * to block-local coordinates — so each block row ships exactly the
    * span list its loss computation needs, no transcript-local offsets
    * leaking through.
    *
    * Input is a [[transcripts]] table (`conv_id`, `n_chars`,
    * `mask_spans`); empty conversations pack to nothing. Output: one
    * row per conversation × block it touches — `(shard, block_id,
    * conv_id, start_in_block, chars_in_block, mask_spans_block)` with
    * `mask_spans_block` in the same `start:end|…` rendering, block
    * coordinates.
    *
    * Scale shape mirrors [[Packing.blocks]]: conversation offsets come
    * from [[graft.operators.Cumsum]]'s funnel-free two-pass cumsum
    * (full cluster parallelism — a per-shard window would serialize
    * each shard through one task), span clipping is a narrow per-row
    * array transform, and block membership is an `explode(sequence)` —
    * no join, no global order.
    */
  def pack(transcripts: DataFrame, blockChars: Int = 2048,
           nShards: Int = 16): DataFrame = {
    require(blockChars > 0, s"blockChars must be positive, got $blockChars")
    import graft.operators.Sharding
    val sid = Sharding.shardId(col("conv_id"), nShards)
    val b = lit(blockChars.toLong)
    // null-safe: an external transcripts table may carry null mask_spans
    // where [[transcripts]] renders ""; both mean "no masked turns"
    val spanStructs = transform(
      filter(split(coalesce(col("mask_spans"), lit("")), "\\|"),
        x => x =!= ""),
      x => struct(split(x, ":").getItem(0).cast("long").as("s"),
        split(x, ":").getItem(1).cast("long").as("e")))
    // funnel-free offsets (graft.operators.Cumsum): a per-shard window
    // would cap the cumsum's parallelism at nShards
    val base = graft.operators.Cumsum.exclusivePerShard(
      transcripts.filter(col("n_chars") > 0)
        .select(sid.as("shard"), col("conv_id"),
          col("n_chars").cast("long").as("__n"), spanStructs.as("__spans"))
        .withColumn("__w", col("__n") + lit(1L)),
      "shard", "conv_id", "__w", "conv_offset").drop("__w")
    val kb = col("block_id") * b
    base
      .select(col("shard"), col("conv_id"), col("conv_offset"), col("__n"),
        col("__spans"),
        explode(sequence(floor(col("conv_offset") / b),
          floor((col("conv_offset") + col("__n") - 1) / b))).as("block_id"))
      .select(col("shard"), col("block_id"), col("conv_id"),
        (greatest(col("conv_offset"), kb) - kb).as("start_in_block"),
        (least(col("conv_offset") + col("__n"), kb + b)
          - greatest(col("conv_offset"), kb)).as("chars_in_block"),
        array_join(filter(transform(col("__spans"), sp => {
          val gs = greatest(col("conv_offset") + sp.getField("s"), kb)
          val ge = least(col("conv_offset") + sp.getField("e"), kb + b)
          when(ge > gs, concat((gs - kb).cast("string"), lit(":"),
            (ge - kb).cast("string"))).otherwise(lit(null).cast("string"))
        }), x => x.isNotNull), "|").as("mask_spans_block"))
  }
}
