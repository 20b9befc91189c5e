package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Preference-pair assembly (DPO/RLHF reward-model data prep): from a
  * table of scored candidates sharing a prompt/context key, emit one
  * best-vs-worst pair per group — the standard pairing for direct
  * preference optimization and reward-model training when per-candidate
  * scalar scores exist (e.g. [[LogReg.scores]] output as the stand-in
  * reward model).
  *
  * Semantics (pinned):
  *   - chosen = highest score, ties broken to the LOWEST id;
  *     rejected = lowest score, ties broken to the LOWEST id — both
  *     deterministic under any partitioning;
  *   - a group yields NO pair when chosen and rejected collapse to the
  *     same candidate (group of one, or all scores tied: no preference
  *     signal), or when the score gap is below `margin` (weak-signal
  *     pruning; `gap` is one IEEE subtraction of the two scores, so
  *     the filter is engine-portable);
  *   - output: group cols + `(chosen_id, rejected_id, chosen_score,
  *     rejected_score, gap)`.
  *
  * Scale shape: ONE partially-aggregated `groupBy` — chosen/rejected
  * are `max`/`min` over 2-field structs (lexicographic struct ordering
  * encodes the tiebreak), so the shuffle carries one struct pair per
  * group per partition, never the candidates, and there is no window.
  * Payload attachment ([[attachTexts]]) is two id-equi-joins AFTER
  * pairing — the heavy text column moves only for survivors.
  */
object Dpo {

  def preferencePairs(candidates: DataFrame, groupCols: Seq[String],
                      idCol: String, scoreCol: String,
                      margin: Double = 0.0): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    // max(struct(score, -id)) = top score, then lowest id;
    // min(struct(score,  id)) = bottom score, then lowest id.
    val agg = candidates.groupBy(g: _*).agg(
      max(struct(col(scoreCol).cast("double").as("s"),
        (-col(idCol).cast("long")).as("ni"))).as("__c"),
      min(struct(col(scoreCol).cast("double").as("s"),
        col(idCol).cast("long").as("i"))).as("__r"))
    agg.select(g ++ Seq(
        (-col("__c.ni")).as("chosen_id"),
        col("__r.i").as("rejected_id"),
        col("__c.s").as("chosen_score"),
        col("__r.s").as("rejected_score"),
        (col("__c.s") - col("__r.s")).as("gap")): _*)
      .filter(col("chosen_id") =!= col("rejected_id")
        && col("gap") > 0.0 && col("gap") >= margin)
  }

  /** Rejection sampling (best-of-n): the single highest-scored
    * candidate per group, kept only at `minScore` or above — the
    * Llama-2-style loop where the reward model picks the survivor
    * that becomes an SFT example. Same tiebreak (lowest id) and same
    * one-aggregation scale shape as [[preferencePairs]];
    * `n_candidates` is published so downstream can weight by how many
    * attempts the survivor beat.
    */
  def bestOfN(candidates: DataFrame, groupCols: Seq[String],
              idCol: String, scoreCol: String,
              minScore: Double = 0.0): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    candidates.groupBy(g: _*).agg(
        max(struct(col(scoreCol).cast("double").as("s"),
          (-col(idCol).cast("long")).as("ni"))).as("__c"),
        count(lit(1)).as("n_candidates"))
      .select(g ++ Seq((-col("__c.ni")).as("chosen_id"),
        col("__c.s").as("score"), col("n_candidates")): _*)
      .filter(col("score") >= minScore)
  }

  /** GRPO-style group-relative advantage: each candidate's reward
    * z-scored WITHIN its prompt group — `(score − mean) / sd`, the
    * baseline-free advantage estimate that group-relative policy optimization
    * feeds the policy gradient. Portability recipe is
    * [[EmbedStats.standardize]]'s, verbatim: exact decimal sums for
    * mean (floor-based round-6 publish) and second moment,
    * `sd = sqrt(max(m2 − mean², 0))`, `advantage = round6((x−mean)/sd)`
    * with zero-variance groups (and −0.0) pinned to 0.0 — every step
    * an exactly-rounded IEEE op on published values, so engines agree
    * bitwise. One stats aggregation + one group-key join back; no
    * window.
    */
  def groupAdvantage(candidates: DataFrame, groupCols: Seq[String],
                     idCol: String, scoreCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val x = col(scoreCol).cast("double")
    val stats = candidates.groupBy(g: _*)
      .agg(count(lit(1)).as("n_group"),
        Ann.exactMean(x).as("__m"),
        sum((x * x).cast("decimal(28,15)")).as("__s2"))
      .select(g ++ Seq(col("n_group"), col("__m"),
        (col("__s2").cast("double") / col("n_group").cast("double"))
          .as("__m2")): _*)
      .select(g ++ Seq(col("n_group"), col("__m"),
        sqrt(greatest(col("__m2") - col("__m") * col("__m"), lit(0.0)))
          .as("__sd")): _*)
    // floor-based round-6 publish (NOT library round(x, 6)): a z-score
    // landing on a decimal midpoint would diverge between engines
    val zRaw = Ann.round6((x - col("__m")) / col("__sd"))
    candidates.join(stats, groupCols)
      .select(g ++ Seq(col(idCol), x.as("score"), col("n_group"),
        when(col("__sd") === 0.0 || zRaw === 0.0, lit(0.0))
          .otherwise(zRaw).as("advantage")): _*)
  }

  /** Join the chosen/rejected payload text onto a [[preferencePairs]]
    * output — the trainer-facing `(prompt context, chosen_text,
    * rejected_text)` rows.
    */
  def attachTexts(pairs: DataFrame, docs: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val c = docs.select(col(idCol).cast("long").as("chosen_id"),
      col(textCol).as("chosen_text"))
    val r = docs.select(col(idCol).cast("long").as("rejected_id"),
      col(textCol).as("rejected_text"))
    pairs.join(c, Seq("chosen_id")).join(r, Seq("rejected_id"))
      .select(pairs.columns.map(col) ++
        Seq(col("chosen_text"), col("rejected_text")): _*)
  }
}
