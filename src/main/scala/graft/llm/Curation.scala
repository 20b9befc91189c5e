package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs, wired from the verified pieces:
  *
  *   1. quality filter ([[TextStats.qualityScore]] ≥ minQuality);
  *   2. exact dedup (normalize → digest → min-id, [[Dedup.exactDedup]]);
  *   3. near-dup pair generation (MinHash/LSH, [[Dedup.nearDupMinhash]]);
  *   4. cluster resolution ([[Dedup.resolveClusters]]);
  *   5. keep only each cluster's canonical (minimum-id) document.
  *
  * Every stage is set-level; the only materializations are the ones the
  * stages themselves need (signature checkpoint, label iteration). The
  * `llm_clean_corpus` gate runs this whole chain against a single
  * composed SQL oracle.
  */
object Curation {

  def cleanCorpus(docs: DataFrame, idCol: String, textCol: String,
                  minQuality: Double = 0.6, nearDupThreshold: Double = 0.7,
                  numHashes: Int = 32, bands: Int = 8,
                  shingleN: Int = 3): DataFrame = {
    val quality = docs.filter(TextStats.qualityScore(col(textCol)) >= minQuality)
    // reused by pair generation, cluster resolution AND the survivor join
    val exact = Dedup.exactDedup(quality, idCol, textCol).localCheckpoint(true)
    val pairs = Dedup.nearDupMinhash(exact, idCol, textCol, nearDupThreshold,
      numHashes, bands, shingleN)
    val clusters = Dedup.resolveClusters(pairs, exact, idCol)
    exact.join(
      clusters.filter(col(idCol) === col("canonical_id")).select(col(idCol)),
      Seq(idCol), "left_semi")
  }

  /** The trainer-handoff variant with the two quality-aware round-6
    * policies swapped in: near-dup survivors are the BEST-`scoreCol`
    * cluster members (not min-id, [[Dedup.keepBest]]), and the final
    * corpus is the best-first prefix under a global token budget
    * ([[graft.operators.Selection.byTokenBudget]] on the same score
    * order). Output: surviving rows + `toks` + `cum_tokens`.
    *
    * Same composition discipline as [[cleanCorpus]]: every stage is the
    * already-gated operator; this function only wires them.
    */
  def budgetCorpus(docs: DataFrame, idCol: String, textCol: String,
                   scoreCol: String, tokenBudget: Long,
                   minQuality: Double = 0.6, nearDupThreshold: Double = 0.7,
                   numHashes: Int = 32, bands: Int = 8,
                   shingleN: Int = 3): DataFrame = {
    val quality = docs.filter(TextStats.qualityScore(col(textCol)) >= minQuality)
    val exact = Dedup.exactDedup(quality, idCol, textCol).localCheckpoint(true)
    val pairs = Dedup.nearDupMinhash(exact, idCol, textCol, nearDupThreshold,
      numHashes, bands, shingleN)
    val clusters = Dedup.resolveClusters(pairs, exact, idCol)
    val best = Dedup.keepBest(exact, idCol, scoreCol, clusters)
      .drop("canonical_id", "cluster_size")
      .withColumn("toks", TextStats.tokenCount(col(textCol)).cast("long"))
    graft.operators.Selection.byTokenBudget(best,
      Seq(col(scoreCol).desc, col(idCol).asc), "toks", tokenBudget)
  }

  /** The rules-then-model FILTER STACK — the standard modern shape
    * (RefinedWeb/Dolma/LLaMA-style): cheap distributional rules first
    * ([[Gopher.profile]]'s battery and [[Repetition.profile]]'s
    * repetition flags, both scan-speed), then the TRAINED classifier
    * head ([[LogReg.scores]] over [[TextStats.hashedTfVector]], the
    * `logreg_text` loop's model) scoring ONLY the rule survivors — the
    * expensive stage never sees documents the rules already killed.
    *
    * Output: one row per input doc — `(idCol, gopher_keep, repetitive,
    * score, keep)` with `score` null for rule-rejected docs (never
    * computed) and `keep = rules pass ∧ score ≥ minScore`.
    */
  def filterStack(docs: DataFrame, idCol: String, textCol: String,
                  model: DataFrame, minScore: Double,
                  dim: Int = 32, scale: Double = 64.0,
                  minStopwords: Int = 2): DataFrame = {
    val g = Gopher.profile(docs, idCol, textCol, minStopwords = minStopwords)
      .select(col(idCol), col("keep").as("gopher_keep"))
    val r = Repetition.profile(docs, idCol, textCol)
      .select(col(idCol), col("repetitive"))
    // materialized once: consumed by BOTH the survivor filter and the
    // final report join — raw lineage would re-run the two profile
    // scans (gopher + repetition, 3 passes over the text) twice.
    // Bounded: three narrow columns per doc.
    val rules = g.join(r, Seq(idCol)).localCheckpoint(true)
    val survivors = docs.join(
      rules.filter(col("gopher_keep") && !col("repetitive"))
        .select(col(idCol)),
      Seq(idCol), "left_semi")
    val feats = TextStats.hashedTfVector(survivors, idCol, textCol, dim)
      .select(col(idCol),
        transform(col("vec"), x => x / lit(scale)).as("vec"))
    val scored = LogReg.scores(feats, idCol, "vec", model)
      .select(col(idCol), col("score"))
    rules.join(scored, Seq(idCol), "left")
      .select(col(idCol), col("gopher_keep"), col("repetitive"), col("score"),
        (col("gopher_keep") && !col("repetitive")
          && coalesce(col("score") >= minScore, lit(false))).as("keep"))
  }
}
