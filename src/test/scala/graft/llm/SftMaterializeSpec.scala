package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Sft.materializeBlocks]]: the packed layout joined back to real id
  * streams — conservation laws against the token-coordinate rollup,
  * EOS joint placement, padding, and the decode-back property.
  */
class SftMaterializeSpec extends SparkSpec {
  import spark.implicits._

  private val merges = Array(
    (Bpe.byteSyms("c"), Bpe.byteSyms("l")),
    (Bpe.byteSym(' ').toString, Bpe.byteSyms("c")))
  private val specials = Seq("<|bos|>", "<|eos|>", "<|pad|>")
  private val Eos = 1
  private val Pad = 2

  private def turnsOf(rows: Seq[(Long, Long, Long, String, String)]) =
    Sft.turns(rows.toDF("user_id", "ts", "event_id", "event_type", "props"),
      "user_id", "ts", "event_type", "props")

  test("conservation: block content = conversation streams + one EOS per joint") {
    val turnsDf = turnsOf(Seq(
      (1L, 1L, 101L, "click", "Home Page"),
      (1L, 2L, 102L, "reply", "OK  sure"),
      (2L, 1L, 201L, "view", null.asInstanceOf[String]),
      (3L, 1L, 301L, "error", "{\"k\": 7}")))
    val vocab = Bpe.vocabBytes(spark, merges, specials)
    val blocks = Sft.materializeBlocks(turnsDf, merges, vocab,
      blockTokens = 8, nShards = 1, regime = Bpe.Regime.Raw(),
      eosId = Eos, padId = Some(Pad)).cache()
    val tt = Sft.transcriptsTokens(turnsDf, merges, regime = Bpe.Regime.Raw())
      .select(col("n_tokens").cast("long"), col("n_masked_tokens").cast("long"))
      .as[(Long, Long)].collect()
    val nConvs = tt.length
    val contentTotal = blocks.agg(sum(col("n_tokens"))).as[Long].head()
    // one shard: (nConvs - 1) joints
    assert(contentTotal === tt.map(_._1).sum + (nConvs - 1))
    // every EOS in the stream is a joint (content lines never map to id 1:
    // specials are multi-char strings no merge output equals here)
    val eosCount = blocks.select(explode(col("token_ids")).as("id"))
      .filter(col("id") === Eos).count()
    assert(eosCount === (nConvs - 1).toLong)
    // mask conservation: spans survive block clipping exactly
    val maskTotal = blocks
      .select(explode(col("loss_mask")).as("m")).agg(sum(col("m")))
      .as[Long].head()
    assert(maskTotal === tt.map(_._2).sum)
    // padding: every block exactly blockTokens long, pad ids mask 0
    val sizes = blocks.select(size(col("token_ids")), size(col("loss_mask")),
      col("n_tokens") + col("n_pad")).as[(Int, Int, Int)].collect()
    sizes.foreach { case (a, b, c) => assert(a === 8 && b === 8 && c === 8) }
  }

  test("layout matches packTokens block for block") {
    val turnsDf = turnsOf(Seq(
      (1L, 1L, 101L, "click", "alpha beta gamma delta"),
      (1L, 2L, 102L, "reply", "epsilon zeta"),
      (2L, 1L, 201L, "view", "eta theta iota kappa lambda"),
      (5L, 1L, 501L, "buy", "mu nu xi")))
    val vocab = Bpe.vocabBytes(spark, merges, specials)
    val mat = Sft.materializeBlocks(turnsDf, merges, vocab,
      blockTokens = 16, nShards = 2, regime = Bpe.Regime.Raw(),
      eosId = Eos)
    val packed = Sft.packTokens(turnsDf, merges, blockTokens = 16,
      nShards = 2, regime = Bpe.Regime.Raw(), eosId = Some(Eos))
    // per (shard, block): materialized content size = packed pieces +
    // the joints that LAND in that block (joint position = the packed
    // row whose conversation starts at start_in_block > 0 carries a
    // preceding EOS at start_in_block - 1; a joint on a block boundary
    // lands in the PREVIOUS block)
    val packAgg = packed.groupBy("shard", "block_id")
      .agg(sum("toks_in_block").as("content"))
      .as[(Int, Long, Long)].collect()
      .map { case (s, b, c) => ((s, b), c) }.toMap
    val matAgg = mat.select(col("shard"), col("block_id"), col("n_tokens"))
      .as[(Int, Long, Int)].collect()
      .map { case (s, b, n) => ((s, b), n.toLong) }.toMap
    assert(matAgg.keySet === packAgg.keySet ||
      matAgg.keySet.subsetOf(packAgg.keySet) || packAgg.keySet.subsetOf(matAgg.keySet))
    val jointsPerBlock = matAgg.map { case (k, n) => (k, n - packAgg.getOrElse(k, 0L)) }
    // joints are nonnegative and total (#convs - #nonempty shards)
    assert(jointsPerBlock.values.forall(_ >= 0))
    val nConvs = turnsDf.select("conv_id").distinct().count()
    val nShardsUsed = matAgg.keySet.map(_._1).size
    assert(jointsPerBlock.values.sum === nConvs - nShardsUsed)
  }

  test("single conversation decodes back to its rendered lines") {
    val turnsDf = turnsOf(Seq(
      (1L, 1L, 101L, "click", "Hà Nội 🙂"),
      (1L, 2L, 102L, "reply", "OK")))
    val vocab = Bpe.vocabBytes(spark, merges, specials)
    val blocks = Sft.materializeBlocks(turnsDf, merges, vocab,
      blockTokens = 1000, nShards = 1, regime = Bpe.Regime.Raw(),
      eosId = Eos)
    val ids = blocks.orderBy("block_id")
      .select(col("token_ids")).as[Seq[Int]].collect().flatten
    val tokOf = vocab.as[(Int, String)].collect().map(_.swap).map(_.swap).toMap
    val text = Bpe.symsToString(ids.map(tokOf).mkString)
    // turn boundary carries no token: lines concatenate directly
    assert(text === "user: click Hà Nội 🙂" + "assistant: reply OK")
  }

  test("blocks under the imported-GPT-2 regime (hf + gpt2Ws + interchange)") {
    // the full production chain inside the SFT materializer: a merge
    // table that DIVERGES between the pass and HF kernels (h+e then
    // T|t+he re-creation), round-tripped through merges.txt/vocab.json,
    // consumed hf = true + gpt2Ws = true — blocks must carry exactly
    // the ids the imported tokenizer produces, and still decode back
    val hfMerges = Array(
      ("T", "he"), ("t", "he"), ("h", "e"),
      (Bpe.byteSym(' ').toString, Bpe.byteSym(' ').toString))
    val tmp = java.nio.file.Files.createTempDirectory("sft_gpt2_import")
    try {
      java.nio.file.Files.writeString(tmp.resolve("merges.txt"),
        Bpe.renderMerges(hfMerges))
      java.nio.file.Files.writeString(tmp.resolve("vocab.json"),
        Bpe.renderVocab(Bpe.vocabBytes(spark, hfMerges, specials)))
      val merges2 = Bpe.mergesOf(Bpe.loadMerges(spark, tmp.resolve("merges.txt").toString))
      val vocab2 = Bpe.loadVocab(spark, tmp.resolve("vocab.json").toString)
      val turnsDf = turnsOf(Seq(
        (1L, 1L, 101L, "click", "The   theme"),
        (1L, 2L, 102L, "reply", "the The")))
      val blocks = Sft.materializeBlocks(turnsDf, merges2, vocab2,
        blockTokens = 1000, nShards = 1,
        regime = Bpe.Regime.Raw(gpt2Ws = true, hf = true),
        eosId = Eos)
      val ids = blocks.orderBy("block_id")
        .select(col("token_ids")).as[Seq[Int]].collect().flatten
      // independent expectation: per rendered line, GPT-2 split + HF
      // kernel + vocab lookup, concatenated in turn order
      val vmap = Bpe.vocabBytes(spark, hfMerges, specials)
        .as[(Int, String)].collect().map(_.swap).toMap
      val idx = new Bpe.MergeIndex(hfMerges)
      def lineIds(line: String): Seq[Int] =
        Bpe.preTokenizeGpt2(line).toSeq.flatMap(p =>
          Bpe.encodeWordHf(Bpe.byteSyms(p), idx).toSeq.map(vmap))
      val want = lineIds("user: click The   theme") ++
        lineIds("assistant: reply the The")
      assert(ids.toSeq === want)
      // the HF kernel actually fired: "The"/"the" must be single tokens
      // (the pass form would leave T|t + he split)
      val tokOf = vmap.map(_.swap)
      assert(ids.map(tokOf).count(t => t == "The" || t == "the") >= 3)
      // and the whole thing still decodes back to the rendered lines
      val text = Bpe.symsToString(ids.map(tokOf).mkString)
      assert(text === "user: click The   theme" + "assistant: reply the The")
    } finally graft.storage.TableStore.deleteRecursively(tmp)
  }

  test("per-row state is O(blockTokens): position-based plan, no conversation rollup") {
    val turnsDf = turnsOf((1L to 40L).map(i =>
      (1L, i, 100L + i, "click", s"some words here number $i")))
    val vocab = Bpe.vocabBytes(spark, merges, specials)
    val blocks = Sft.materializeBlocks(turnsDf, merges, vocab,
      blockTokens = 8, nShards = 1, regime = Bpe.Regime.Raw(),
      eosId = Eos)
    val plan = blocks.queryExecution.executedPlan.toString
    // the only array-building aggregate is the per-(shard, block)
    // collect over scalar token rows; nothing collects per-conversation
    // id arrays or span lists (the round-14 shape's markers)
    assert(!plan.contains("__spans"), plan.take(600))
    assert(!plan.contains("flatten("), plan.take(600))
    assert(plan.contains("posexplode"), plan.take(600))
    // a single conversation many times blockTokens still lays out
    // exactly: block sizes are all B except the ragged tail, and the
    // concatenated stream length is the transcript's token count
    val sizes = blocks.orderBy("block_id")
      .select(col("n_tokens").cast("long")).as[Long].collect()
    val total = Sft.transcriptsTokens(turnsDf, merges,
      regime = Bpe.Regime.Raw())
      .agg(sum(col("n_tokens"))).as[Long].head()
    assert(sizes.sum === total) // one conversation: no joints
    assert(sizes.init.forall(_ == 8L) && sizes.last <= 8L, sizes.toSeq)
  }
}
