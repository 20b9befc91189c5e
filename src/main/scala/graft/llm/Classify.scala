package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Nearest-centroid (Rocchio) classification — the trainable classifier
  * tier of the curation stack: label a held-out slice by cosine to
  * per-class mean vectors fitted on labeled data. This is the
  * engine-native analogue of the fastText/logistic quality- and
  * domain-classifiers LLM pipelines run over crawl text (GPT-3 and
  * LLaMA both filter CommonCrawl with a linear classifier): training is
  * ONE aggregation, the model is `#classes` rows, and scoring is a
  * broadcast join — no iterative optimizer, which is exactly why it
  * scales to a 100 TB corpus where an SGD pass is its own project.
  *
  * Two feature regimes:
  *   - [[centroidTrain]]/[[centroidPredict]]: dense `array<float>`
  *     embeddings (the `embeddings` table shape) — the shared exact
  *     per-dimension means ([[Ann.dimMeans]], [[Ann.kmeansTrain]]'s
  *     convention), cosine via the ascending [[Ann.dot]]/[[Ann.norm]]
  *     folds.
  *   - [[textCentroidTrain]]/[[textCentroidPredict]]: sparse hashed
  *     bag-of-words over raw text ([[TextStats.hashedFeatures]]'s
  *     portable md5-bucket trick) — the dot product is an
  *     inverted-index JOIN on feature id, so cost tracks nonzero
  *     features, never `dim`; per-term products quantize to
  *     `decimal(28,15)` and sum exactly ([[LmScore]]'s portability
  *     argument — sparse sums have no canonical order to replay).
  *
  * Every published number is reachable through exactly-rounded IEEE ops
  * only (÷, ×, sqrt, decimal quantization), so the `classify_centroid`
  * and `classify_text` gates hash-match a DuckDB restatement bitwise.
  *
  * Scale shape: train = one (label, dim)-keyed partial agg over the
  * labeled slice; model ≤ classes×dim doubles → broadcast; predict =
  * narrow map + per-id argmax (dense: `classes` cosines per row inside
  * one projection; sparse: feature-id join + (id,label) agg). No
  * all-pairs stage, no driver loop.
  */
object Classify {

  /** Per-class mean vector over a labeled corpus:
    * `(label, n_members, centroid: array<double>)`. Means are the shared
    * exact means ([[Ann.exactMean]]) — any engine trains the identical
    * model.
    */
  def centroidTrain(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    Ann.gather(Ann.dimMeans(df.select(col(labelCol).as("label"), col(vecCol).as("__vec")),
      Seq("label"), col("__vec")), Seq("label"))

  /** Raw per-class scores: `(idCol, label, cosine)` — every corpus row
    * against EVERY class centroid, cosine rounded to 6 dp. The surface
    * a threshold sweep or ROC evaluation
    * ([[graft.analytics.EvalMetrics.aucBinary]]) consumes; the model
    * broadcasts and each row evaluates `#classes` cosines in one
    * projection. Zero-norm rows score −∞ (never NaN — [[Ann]]'s clamp
    * rationale).
    */
  def centroidScores(df: DataFrame, idCol: String, vecCol: String,
                     model: DataFrame): DataFrame = {
    val m = broadcast(model.select(col("label").as("__label"),
      col("centroid").as("__ce")))
    df.select(col(idCol), col(vecCol).as("__e")).crossJoin(m)
      .select(col(idCol), col("__label").as("label"),
        round(Ann.cosinePre(col("__e"), col("__ce"),
          Ann.norm(col("__e")), Ann.norm(col("__ce"))), 6).as("cosine"))
  }

  /** Nearest centroid by cosine: `(idCol, pred_label, cosine)` — the
    * argmax of [[centroidScores]] with ties broken by ascending label,
    * the deterministic verdict every oracle can replay. Zero-norm rows
    * still get the min label.
    */
  def centroidPredict(df: DataFrame, idCol: String, vecCol: String,
                      model: DataFrame): DataFrame =
    Ann.rankTail(centroidScores(df, idCol, vecCol, model), idCol, 1,
        col("cosine").desc, col("label").asc)
      .select(col(idCol), col("label").as("pred_label"), col("cosine"))

  /** Sparse hashed token counts: `(idCol, __i, __tf)` — the one table
    * every hashed text feature reads ([[TextStats.hashedFeatures]]
    * renders the triples as strings, [[TextStats.hashedTfVector]]
    * densifies them). `__i` is the md5 bucket in `[0, dim)`, cast to
    * `idxType` inside the grouping key.
    */
  private[llm] def hashedTf(docs: DataFrame, idCol: String, textCol: String,
                            dim: Int, idxType: String = "long"): DataFrame =
    docs.select(col(idCol),
        explode(split(Dedup.normalize(col(textCol)), " ")).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col(idCol),
        pmod(graft.functions.Hashes.u32OfMd5(col("__t")), lit(dim.toLong))
          .cast(idxType).as("__i"))
      .agg(count(lit(1)).as("__tf"))

  /** Sparse per-class centroid over hashed text features:
    * `(label, i, m)` — mean token count per feature bucket, zeros
    * implicit (`Σ tf / n_class_docs`, the Rocchio profile). `m` is one
    * exactly-rounded division of exact integers, so it needs no further
    * rounding to be portable.
    */
  def textCentroidTrain(docs: DataFrame, idCol: String, textCol: String,
                        labelCol: String, dim: Int = 1024): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    val perClass = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("__n"))
    hashedTf(docs.select(col(idCol), col(textCol), col(labelCol)),
        idCol, textCol, dim)
      .join(docs.select(col(idCol), col(labelCol).as("label")), Seq(idCol))
      .groupBy(col("label"), col("__i").as("i"))
      .agg(sum(col("__tf")).as("__s"))
      .join(broadcast(perClass), Seq("label"))
      .select(col("label"), col("i"),
        (col("__s").cast("double") / col("__n").cast("double")).as("m"))
  }

  /** Classify text rows against a sparse centroid model:
    * `(idCol, pred_label, cosine)`, cosine rounded to 6 dp, min-label
    * ties. Dot products run as an inverted-index join on feature id —
    * per-document cost tracks its nonzero features × matching classes,
    * not `dim` — with `tf·m` products quantized to `decimal(28,15)`
    * and summed exactly. Documents sharing no bucket with a class (or
    * empty documents) score 0 there, never drop out: every input id
    * gets a verdict over every class.
    */
  def textCentroidPredict(docs: DataFrame, idCol: String, textCol: String,
                          model: DataFrame, dim: Int = 1024): DataFrame = {
    val tf = hashedTf(docs, idCol, textCol, dim)
    // class norms: decimal-quantized m² summed exactly (sparse — no
    // canonical order to replay), one sqrt at the end
    val clsNorm = model.groupBy(col("label"))
      .agg(sum((col("m") * col("m")).cast("decimal(28,15)")).as("__n2"))
      .select(col("label"), sqrt(col("__n2").cast("double")).as("__cn"))
    // doc norms: integer tf² sums are exact in BIGINT
    val docNorm = tf.groupBy(col(idCol))
      .agg(sum(col("__tf") * col("__tf")).as("__n2"))
      .select(col(idCol), sqrt(col("__n2").cast("double")).as("__dn"))
    // the model is <= classes x dim rows — broadcast it so the
    // corpus-sized tf side never shuffles for this join
    val dots = tf
      .join(broadcast(model.withColumnRenamed("i", "__i")), Seq("__i"))
      .groupBy(col(idCol), col("label"))
      .agg(sum((col("__tf").cast("double") * col("m"))
        .cast("decimal(28,15)")).as("__dot"))
    val labels = broadcast(model.select(col("label")).distinct())
    val scored = docs.select(col(idCol)).crossJoin(labels)
      .join(dots, Seq(idCol, "label"), "left")
      .join(broadcast(clsNorm), Seq("label"))
      .join(docNorm, Seq(idCol), "left")
      .select(col(idCol), col("label"),
        round(when(coalesce(col("__dn"), lit(0.0)) * col("__cn") === 0.0,
            lit(Double.NegativeInfinity))
          .otherwise(coalesce(col("__dot").cast("double"), lit(0.0)) /
            (col("__dn") * col("__cn"))), 6).as("cosine"))
    Ann.rankTail(scored, idCol, 1, col("cosine").desc, col("label").asc)
      .select(col(idCol), col("label").as("pred_label"), col("cosine"))
  }
}
