package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Ann, Bpe, Dedup, LmScore, Packing, Pq, TextStats}

/** The training-data curation chain over a seeded corpus with planted
  * duplicates: quality filter → 5-gram KN perplexity score → exact dedup
  * → MinHash near dup → cluster resolution → hashed-TF embedding →
  * IVF-PQ semantic dedup → BPE train + encode → block packing, with the
  * curated documents and the packed blocks written to disk. One cycle is
  * one pass of the whole chain.
  *
  * Untraced, the chain runs as a user would write it (lazy where the
  * operators allow). Traced, every stage is materialized inside its own
  * span so its time can be told apart.
  */
final class CorpusWorkload(spark: SparkSession, ctx: RunContext, nOriginal: Int, passes: Int) {
  import CorpusWorkload._

  private val report = ctx.report
  private val tracer = ctx.tracer
  private val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def run(): Unit = {
    val t0 = System.nanoTime()
    val gen = new CorpusGen(ctx.seed, nOriginal)
    val path = ctx.work.resolve("corpus").toString
    import spark.implicits._
    gen.all.map(d => (d.id, d.text)).toDF(IdCol, TextCol)
      .repartition(ctx.cpus).write.mode("overwrite").parquet(path)
    ctx.setupDone((System.nanoTime() - t0) / 1e9)
    report.fact("corpus_docs", gen.all.size)
    report.fact("corpus_text_bytes", gen.textBytes)

    val passSeconds = (1 to passes).map { p =>
      val out = ctx.work.resolve(s"out-$p").toString
      val t0 = System.nanoTime()
      val result = chain(spark.read.parquet(path), out, tracer.enabled)
      val s = (System.nanoTime() - t0) / 1e9
      if (tracer.enabled) tracer.span("llm.candidate_stats", Some("probe"))(candidateStats(result))
      check(gen, result)
      if (p == passes) {
        val files = Disk.walk(java.nio.file.Paths.get(out)).values.map(_._1)
        report.metric("space_amp", files.sum.toDouble / gen.textBytes, "ratio")
        // a pass writes its whole output afresh
        report.metric("storage.bytes_on_disk", files.sum.toDouble, "bytes")
        report.metric("storage.bytes_written", files.sum.toDouble, "bytes")
        report.metric("storage.files_written", files.size.toDouble, "count")
      }
      s
    }
    val med = Stats.median(passSeconds)
    report.metric("cycle_s", med, "s", passSeconds.size)
    report.metric("docs_per_s", gen.all.size / med, "1/s", passSeconds.size)
    layer.foreach { case (k, v) => report.metric(k, v / passes, Report.unitOf(k), passes) }
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(IdCol).collect().map(_.getLong(0)).toSet

  private def stage[T](name: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      val (r, secs) = tracer.timed(s"llm.$name", Some(s"llm.$name"))(body)
      add(s"llm.${name}_s", secs)
      r
    }

  private def add(name: String, v: Double): Unit = layer(name) = layer.getOrElse(name, 0.0) + v

  /** Materialize `df` when traced, so its stage time lands in its span. */
  private def mat(df: DataFrame, traced: Boolean): DataFrame =
    if (traced) df.localCheckpoint(eager = true) else df

  private def chain(docs: DataFrame, out: String, traced: Boolean): Stages = {
    val quality = stage("quality", traced)(mat(docs.filter(
      TextStats.qualityScore(col(TextCol)) >= MinQuality), traced))
    val scored = stage("lm_kn5", traced)(mat(quality.join(
      LmScore.knNgramScore(quality, IdCol, TextCol, order = 5)
        .select(col(IdCol), col("kn_score")), Seq(IdCol)), traced))
    val exact = stage("exact_dedup", traced)(
      Dedup.exactDedup(scored, IdCol, TextCol).localCheckpoint(true))
    val pairs = stage("minhash_pairs", traced)(mat(
      Dedup.nearDupMinhash(exact, IdCol, TextCol, NearDupThreshold), traced))
    val nearDup = stage("resolve_clusters", traced) {
      val clusters = Dedup.resolveClusters(pairs, exact, IdCol)
      exact.join(clusters.filter(col(IdCol) === col("canonical_id")).select(IdCol),
        Seq(IdCol), "left_semi").localCheckpoint(true)
    }
    val emb = stage("embed", traced) {
      val norm = sqrt(aggregate(col("vec"), lit(0.0), (a, y) => a + y * y))
      TextStats.hashedTfVector(nearDup, IdCol, TextCol, Dim)
        .select(col(IdCol), transform(col("vec"), x => x / norm).cast("array<float>")
          .as("embedding"))
        .localCheckpoint(true)
    }
    val semantic = stage("semantic_dedup", traced) {
      val cents = Ann.kmeansTrain(emb, IdCol, "embedding", iters = 2, centroidTarget = Lists)
      val pq = Pq.pqTrain(emb, IdCol, "embedding", m = PqM, k = 16, iters = 2)
      val nn = stage("ivf_pq", traced)(mat(Pq.ivfPqTopK(
        emb.withColumnRenamed(IdCol, "query_id"), emb.withColumnRenamed(IdCol, "neighbor_id"),
        cents, pq, k = 5, nprobe = 2, m = PqM, dim = Dim), traced))
      // refine the ADC candidates with the exact cosine; the larger id goes
      val e = emb.select(col(IdCol), col("embedding"))
      val dups = nn.filter(col("query_id") > col("neighbor_id"))
        .join(e.withColumnRenamed(IdCol, "query_id").withColumnRenamed("embedding", "qv"),
          Seq("query_id"))
        .join(e.withColumnRenamed(IdCol, "neighbor_id").withColumnRenamed("embedding", "nv"),
          Seq("neighbor_id"))
        .filter(Ann.dot(col("qv"), col("nv")) >= SemanticCosine)
        .select(col("query_id").as(IdCol)).distinct()
      nearDup.join(dups, Seq(IdCol), "left_anti").localCheckpoint(true)
    }
    val merges = stage("bpe_train", traced) {
      Bpe.train(semantic.sample(withReplacement = false, BpeSample, 17L), TextCol, NumMerges)
        .orderBy("rank").select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1)))
    }
    val encoded = stage("bpe_encode", traced)(mat(
      Bpe.encodeWithMergesFast(semantic, IdCol, TextCol, merges), traced))
    val blocks = stage("pack", traced)(mat(Packing.blocks(
      encoded.select(col(IdCol), concat_ws(" ", col("tokens")).as(TextCol)),
      IdCol, TextCol, blockSize = BlockSize), traced))
    stage("write", traced) {
      semantic.write.mode("overwrite").parquet(s"$out/curated")
      blocks.write.mode("overwrite").parquet(s"$out/blocks")
    }
    Stages(docs, quality, exact, pairs, nearDup, semantic, encoded, out)
  }

  /** Traced only, after the pass clock stops: LSH candidate pairs before
    * verification, and the share of them that verification kept. */
  private def candidateStats(st: Stages): Unit = {
    val verified = st.pairs.count()
    val sigs = Dedup.minhashSignaturesInline(st.exact, IdCol, TextCol)
    val cands = Dedup.candidatePairs(Dedup.lshBands(sigs, IdCol, 8, 4), IdCol).count()
    add("llm.candidate_pairs", cands.toDouble)
    add("llm.pair_precision", verified.toDouble / math.max(1L, cands))
  }

  private def check(gen: CorpusGen, st: Stages): Unit = {
    def planted(copies: Seq[(Long, CorpusGen.Doc)]): Set[Long] = copies.map(_._2.id).toSet
    val (input, quality, exact) = (ids(st.input), ids(st.quality), ids(st.exact))
    val (nearDup, semantic) = (ids(st.nearDup), ids(st.semantic))
    report.check("quality drops exactly the junk",
      Checks.removedExactly(gen.junk.map(_.id).toSet, input, quality),
      s"kept ${quality.size} of ${input.size}")
    report.check("exact dedup drops exactly the exact copies",
      Checks.removedExactly(planted(gen.exactCopies), quality, exact),
      s"kept ${exact.size} of ${quality.size}")
    val nearRecall = Checks.recall(planted(gen.nearCopies), exact -- nearDup)
    report.metric("llm.near_dup_recall", nearRecall, "ratio")
    report.check("near-dup recall", nearRecall >= RecallFloor, f"recall $nearRecall%.3f")
    val semRecall = Checks.recall(planted(gen.shuffledCopies), nearDup -- semantic)
    report.metric("llm.semantic_dup_recall", semRecall, "ratio")
    report.check("semantic-dup recall", semRecall >= RecallFloor, f"recall $semRecall%.3f")
    val lost = gen.originals.map(_.id).toSet -- semantic
    report.check("originals kept", lost.isEmpty, s"${lost.size} originals lost")
    val encodedTokens = st.encoded.agg(sum("n_tokens")).head().getLong(0)
    val packedTokens = spark.read.parquet(s"${st.out}/blocks").agg(sum("tokens_in_block"))
      .head().getLong(0)
    report.checkEq("packed tokens = encoded tokens", encodedTokens, packedTokens)
  }
}

object CorpusWorkload {
  /** Each stage's output, kept for the checks after the clock stops. */
  final case class Stages(input: DataFrame, quality: DataFrame, exact: DataFrame,
                          pairs: DataFrame, nearDup: DataFrame, semantic: DataFrame, encoded: DataFrame,
                          out: String)

  val IdCol = "doc_id"
  val TextCol = "text"
  val MinQuality = 0.6
  val NearDupThreshold = 0.7
  val RecallFloor = 0.9
  val Dim = 64
  val PqM = 8
  val Lists = 32
  val SemanticCosine = 0.9999
  val BpeSample = 0.1
  val NumMerges = 200
  val BlockSize = 2048
}
