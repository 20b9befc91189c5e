package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Snapshots

/** Skew-cap drop statistics: pass a fresh instance as `capStats` to a
  * cap site ([[Dedup.candidatePairs]], [[Dedup.nearDupSimhash]],
  * [[Ann.nearDupCosine]]) and it is filled with how many buckets / rows
  * the `maxBucket` guard discarded — the recall-decay signal a
  * production run alerts on when a degenerate corpus concentrates into
  * capped buckets.
  *
  * Filled EAGERLY (one small aggregate job over the bucket counts when
  * the operator is invoked, before the main pipeline runs). All three
  * cap sites sit on checkpointed inputs, so the extra pass re-reads a
  * materialized table, not raw lineage. An `Observation`/observe node
  * was rejected deliberately: when EVERY bucket is capped the result is
  * empty, AQE's empty-relation propagation prunes the CollectMetrics
  * node from the final plan, and the metrics silently vanish — in
  * precisely the degenerate case the counter exists to expose.
  */
final class CapStats extends Serializable {
  @volatile var droppedBuckets: Long = 0L
  @volatile var droppedRows: Long = 0L
  override def toString: String =
    s"CapStats(droppedBuckets=$droppedBuckets, droppedRows=$droppedRows)"
}

/** Document deduplication for large-scale training-data pipelines.
  *
  * Three tiers, all banded/bucketed so no step is ever all-pairs — the
  * candidate set at 100 TB is bounded by bucket collisions, not n²:
  *
  *   - exact: normalize → md5 → keep min id per hash (one shuffle);
  *   - MinHash/LSH: word-shingles → k minhashes → b bands of r hashes →
  *     bucket join → Jaccard verify on candidates only;
  *   - SimHash: 64-bit sign fingerprint → 16-bit band buckets →
  *     Hamming-distance verify on candidates only.
  *
  * ONE hash family routes every tier: md5 ([[graft.functions.Hashes.u32OfMd5]]
  * for minhash, md5 band keys, md5-nibble simhash bits) — the family the
  * DuckDB oracle restates, so the gates check the code that runs by
  * default. Everything is native Column expressions or compiled
  * kernels — no UDFs in any hot path.
  */
object Dedup {

  /** Whitespace-collapsed lowercase text — the one word normalization
    * of the text family: exact hashing, shingling, and every operator
    * that splits `trim(lower(text))` into words. */
  def normalize(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Exact dedup: one row per distinct normalized text, keeping the
    * smallest id. Scale: a single hash-partitioned window on the digest.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Snapshots.dedupByPriority(
      df.withColumn("__digest", md5(normalize(col(textCol)))),
      Seq("__digest"), col(idCol)).drop("__digest")

  /** The corpus's digest set — what a pipeline persists between runs so
    * tomorrow's batch dedups against yesterday's corpus WITHOUT
    * re-reading it (16 bytes/doc instead of the text).
    */
  def digests(df: DataFrame, textCol: String): DataFrame =
    df.select(md5(normalize(col(textCol))).as("digest")).distinct()

  /** Incremental exact dedup — the daily path at corpus scale: dedup
    * `incoming` within itself (smallest id survives), then drop rows
    * whose digest already exists in `existingDigests` (a `digest`
    * column, from [[digests]] or a persisted digest table). One
    * digest-keyed window + one anti-join; the full corpus text is never
    * re-read, so cost tracks the BATCH size, not the corpus size.
    */
  def exactDedupIncremental(incoming: DataFrame, idCol: String, textCol: String,
                            existingDigests: DataFrame): DataFrame =
    exactDedup(incoming, idCol, textCol)
      .withColumn("__digest", md5(normalize(col(textCol))))
      .join(existingDigests.select(col("digest").as("__digest")),
        Seq("__digest"), "left_anti")
      .drop("__digest")

  /** The Bloom tier of [[exactDedupIncremental]] — same exact result,
    * different cost shape: rows whose digest misses `bloom` (built over
    * the corpus digest set by [[graft.operators.Bloom.build]], typically
    * persisted and reused across runs) are DEFINITELY new and pass
    * through a narrow filter with zero shuffle; only the bloom-hit slice
    * (true duplicates + the ~fpp false positives) pays the digest
    * anti-join. At a daily 100 TB ingest where most documents are new,
    * this turns the dominant path from a two-sided shuffle into a
    * codegen'd bit test. The filter only ROUTES rows — false positives
    * fall through to the exact anti-join — so output is exact for any
    * fpp and equals [[exactDedupIncremental]] row-for-row.
    */
  def exactDedupIncrementalBloom(incoming: DataFrame, idCol: String,
                                 textCol: String, existingDigests: DataFrame,
                                 bloom: Array[Byte]): DataFrame = {
    val local = exactDedup(incoming, idCol, textCol)
      .withColumn("__digest", md5(normalize(col(textCol))))
    val hit = graft.operators.Bloom.mightContain(bloom, col("__digest"))
    val fresh = local.filter(!hit)
    val maybe = local.filter(hit)
      .join(existingDigests.select(col("digest").as("__digest")),
        Seq("__digest"), "left_anti")
    fresh.unionByName(maybe).drop("__digest")
  }

  /** Word n-gram shingles of the normalized text (whole text as a single
    * shingle when shorter than n words).
    *
    * One O(len) byte scan via [[graft.expressions.WordShingles]]: on a
    * normalized (single-space) string every shingle is a contiguous
    * substring between word boundaries, so the kernel finds space
    * positions once and emits substrings — no per-gram concat, no
    * intermediate arrays. Replaces the n−1 chained `zip_with` concats
    * (interpreted higher-order passes) that previously dominated every
    * dedup/contamination/span pipeline's scan stage; identical output
    * (DedupSpec pins the equivalence property).
    */
  def shingles(text: Column, n: Int): Column =
    graft.expressions.WordShingles.word_shingles(normalize(text), n)

  /** `array_distinct(shingles(text, n))` fused into the same single
    * pass (first-occurrence order — identical output, one array build
    * instead of three).
    */
  def shinglesDistinct(text: Column, n: Int): Column =
    graft.expressions.WordShingles.word_shingles(normalize(text), n,
      distinct = true)

  /** MinHash signatures: k independent min-hashes over the shingle set,
    * computed per row — no explode, no groupBy, no shuffle. Each shingle
    * is string-hashed ONCE with [[graft.functions.Hashes.u32OfMd5]] (the
    * first 8 md5 hex digits as an unsigned 32-bit long), so every step
    * is restatable in SQL and the correctness oracle mirrors the whole
    * LSH pipeline. The k hash functions are universal-family transforms
    * (a·h+b) mod p with p = 2^31−1 — the mod is ESSENTIAL: without it the
    * affine map is monotone and min() commutes with it, collapsing all k
    * "independent" minhashes into transforms of one shingle. Products
    * stay under 2^63 ((2^31−1)·(2^32−1) + 2^31 < 2^63−1): no ANSI
    * overflow here, no BIGINT overflow in the oracle.
    */
  def minhashSignaturesInline(df: DataFrame, idCol: String, textCol: String,
                              numHashes: Int = 32, shingleN: Int = 3): DataFrame =
    signaturesFromSets(shingleSets(df, idCol, textCol, shingleN), idCol, numHashes)

  /** Signature projection over a PRE-COMPUTED [[shingleSets]] relation —
    * the hook that lets [[nearDupMinhash]]/[[nearDupAudit]] derive
    * signatures from the SAME checkpointed sets the verify step reads.
    * One string hash per shingle, then the fused k-transform MinHash
    * kernel ([[graft.expressions.MinhashAffine]]).
    */
  private[llm] def signaturesFromSets(sets: DataFrame, idCol: String,
                                      numHashes: Int): DataFrame =
    sets.select(col(idCol),
      graft.expressions.MinhashAffine.minhash_affine(
        transform(col("__set"), s => graft.functions.Hashes.u32OfMd5(s)),
        minhashCoefs(numHashes), 2147483647L).as("signature"))

  /** The seeded universal-family coefficients behind
    * [[minhashSignaturesInline]], exposed so the correctness oracle can
    * inject the IDENTICAL literals into its SQL.
    */
  def minhashCoefs(k: Int): IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(4243)
    IndexedSeq.fill(k)(
      (rnd.nextInt(Int.MaxValue).toLong | 1L, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** The `(band, bucket)` key every banded tier joins on. */
  private val BandKey = Seq("__band", "__bucket")

  /** LSH banding: (band index, bucket) keys, the bucket being the md5 of
    * the band's r signature values rendered as decimal strings and
    * joined with '|' (mirrors DuckDB
    * `md5(array_to_string([x::VARCHAR ...], '|'))`). Docs sharing any
    * band key are candidates. bands*rowsPerBand must equal the
    * signature length.
    */
  def lshBands(sigs: DataFrame, idCol: String,
               bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          j => md5(concat_ws("|",
            transform(slice(col("signature"), j * lit(rowsPerBand) + 1,
              lit(rowsPerBand)), x => x.cast("string"))))))
          .as(BandKey))

  /** Candidate pairs (a < b) from shared LSH buckets. `maxBucket` guards
    * skew: a degenerate bucket (e.g. empty-text docs) would otherwise
    * explode quadratically; oversize buckets are dropped, mirroring
    * production near-dup pipelines. Pass `capStats` (a fresh
    * [[CapStats]]) to learn what the cap dropped.
    */
  def candidatePairs(bandsDf: DataFrame, idCol: String,
                     maxBucket: Int = 1000,
                     capStats: Option[CapStats] = None): DataFrame =
    bucketPairs(bandsDf, BandKey, idCol, Nil, maxBucket, capStats)
      .select("id_a", "id_b").distinct()

  /** THE capped bucket self-join behind every banded near-dup tier
    * ([[candidatePairs]], [[nearDupMinhashIncremental]],
    * [[nearDupSimhash]], [[nearDupSimhashIncremental]] and
    * [[Ann.nearDupCosine]]): cap the buckets ([[capBuckets]]), join the
    * rows to themselves on `keys`, keep each unordered pair as
    * `id_a < id_b`. Every `payload` column comes out once per side,
    * suffixed `_a`/`_b`, for the caller's score; a pair sharing several
    * buckets comes out once per bucket, so callers `distinct()` after
    * scoring.
    *
    * With `corpus` the join is batch-anchored: `rows` is the batch,
    * `corpus` the persisted side (same columns, disjoint ids). The cap
    * counts the COMBINED occupancy — a bucket degenerate only in union
    * (half batch, half corpus) still joins quadratically — and the
    * output is every batch-internal pair a < b plus every batch×corpus
    * collision, the batch id always in `id_a`.
    */
  private[llm] def bucketPairs(rows: DataFrame, keys: Seq[String], idCol: String,
                               payload: Seq[String], maxBucket: Int,
                               capStats: Option[CapStats],
                               corpus: Option[DataFrame] = None): DataFrame = {
    val all = corpus.fold(rows)(c => rows.withColumn("__src", lit("b"))
      .unionByName(c.withColumn("__src", lit("c"))))
    val sized = capBuckets(all, keys, maxBucket, capStats)
    def side(s: String): Seq[Column] = keys.map(col) ++
      (col(idCol).as(s"id_$s") +: payload.map(p => col(p).as(s"${p}_$s")))
    val a = corpus.fold(sized)(_ => sized.filter(col("__src") === "b"))
      .select(side("a"): _*)
    val b = sized.select(side("b") ++ corpus.map(_ => col("__src")): _*)
    val keep = corpus.fold(col("id_a") < col("id_b"))(_ =>
      col("id_a") =!= col("id_b") &&
        (col("__src") === "c" || col("id_a") < col("id_b")))
    a.join(b, keys).filter(keep)
  }

  /** Shared skew cap: keep only rows whose `keys`-group has ≤ `maxBucket`
    * members. Sizes come from a partial-agg `groupBy().count()` + a
    * left-semi join back — never count-over-window (WindowExec has no
    * partial aggregation, so the degenerate bucket the cap exists for
    * would itself stall one task). Drops are reported through `capStats`.
    * ONE definition so cap semantics cannot silently diverge across the
    * minhash / simhash / incremental / cosine call sites.
    */
  private[llm] def capBuckets(df: DataFrame, keys: Seq[String], maxBucket: Int,
                              capStats: Option[CapStats]): DataFrame = {
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cap_n"))
    capStats.foreach(fillCapStats(_, counts, col("__cap_n"), maxBucket))
    val small = counts.filter(col("__cap_n") <= maxBucket)
      .select(keys.map(col): _*)
    df.join(small, keys, "left_semi")
  }

  /** Shared [[CapStats]] fill: one aggregate job over the bucket-count
    * relation (null sums on an all-small corpus → 0).
    */
  private[llm] def fillCapStats(st: CapStats, counts: DataFrame,
                                n: Column, maxBucket: Int): Unit = {
    val r = counts.agg(
      sum(when(n > maxBucket, 1L).otherwise(0L)),
      sum(when(n > maxBucket, n).otherwise(0L))).head()
    st.droppedBuckets = if (r.isNullAt(0)) 0L else r.getLong(0)
    st.droppedRows = if (r.isNullAt(1)) 0L else r.getLong(1)
  }

  /** The `(idCol, __set)` distinct-shingle relation — THE shared input
    * of the jaccard tiers. Callers that consume it more than once
    * (candidate generation + both verify sides) checkpoint it ONCE so
    * the shingle scan never re-runs per consumer (guide §2.4; the r15
    * dedup_audit plan evaluated word_shingles 16×).
    *
    * `__set` is SORTED (asc, nulls first) at creation — once per id —
    * because [[jaccardVerifySets]]' merge kernel requires sorted inputs
    * on both sides of every candidate pair. Every other consumer is
    * order-independent: the minhash signature is a min-fold over the
    * elements, and the exact tier's prefix ranks by (document
    * frequency, shingle), never by array position.
    */
  private[llm] def shingleSets(df: DataFrame, idCol: String, textCol: String,
                               shingleN: Int): DataFrame =
    df.select(col(idCol),
      sort_array(shinglesDistinct(col(textCol), shingleN)).as("__set"))

  /** Exact Jaccard verification of candidate pairs against the true
    * shingle sets — computed only for candidates, never all pairs.
    */
  def jaccardVerify(pairs: DataFrame, df: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 3): DataFrame =
    jaccardVerifySets(pairs, shingleSets(df, idCol, textCol, shingleN), idCol)

  /** [[jaccardVerify]] over a PRE-COMPUTED (usually checkpointed)
    * [[shingleSets]] relation, so pipelines that already built the sets
    * feed both join sides from the same materialization.
    *
    * Each side is `sort_array`'d ONCE PER ID before the pair join and
    * the jaccard is ONE merge kernel ([[graft.expressions.JaccardSorted]])
    * — not `size(array_intersect)/(|A|+|B|−inter)`: callers filter
    * `jaccard >= t`, Catalyst collapses that into the JOIN CONDITION,
    * and in predicate context (no subexpression elimination) the old
    * form materialized the intersection array TWICE per candidate pair.
    * Intersection count is order-independent and the kernel's division
    * is the identical IEEE op, so the value is bit-equal (OptKernelsSpec
    * pins it against the verbatim old tree).
    */
  private[llm] def jaccardVerifySets(pairs: DataFrame, sets: DataFrame,
                                     idCol: String): DataFrame =
    // `__set` is sorted at creation ([[shingleSets]]), so each side
    // renames only — no per-side (let alone per-pair) sort here
    pairs
      .join(sets.select(col(idCol).as("id_a"), col("__set").as("__sa")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("__set").as("__sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.expressions.JaccardSorted.jaccard_sorted(
          col("__sa"), col("__sb")).as("jaccard"))

  /** Full MinHash/LSH near-dup pipeline → (id_a, id_b, jaccard) pairs with
    * jaccard ≥ threshold.
    */
  def nearDupMinhash(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.7, numHashes: Int = 32,
                     bands: Int = 8, shingleN: Int = 3,
                     maxBucket: Int = 1000,
                     capStats: Option[CapStats] = None): DataFrame =
    // the sets relation stays LAZY here: post-r15 the shingle kernel is
    // an O(len) byte scan, and measured at sf0.1 re-deriving it per
    // consumer beats materializing it (guide §5 — cache only when
    // recompute is the expensive side; [[nearDupAudit]], whose input is
    // itself a computed join, is the case where checkpointing wins)
    nearDupMinhashFromSets(shingleSets(df, idCol, textCol, shingleN),
      idCol, threshold, numHashes, bands, maxBucket, capStats)

  /** [[nearDupMinhash]] over a caller-provided [[shingleSets]] relation
    * (checkpointed by callers like [[nearDupAudit]] whose sets are
    * expensive to re-derive): signatures are a projection over the
    * sets, and both verify join sides read the same relation.
    *
    * Inline signatures: per-row scalar computation, zero shuffle, and
    * measured 5× faster than the explode+groupBy form (identical
    * output). Materialized once because the band self-join reads it
    * twice (a/b sides).
    */
  private[llm] def nearDupMinhashFromSets(sets: DataFrame, idCol: String,
                                          threshold: Double, numHashes: Int,
                                          bands: Int, maxBucket: Int,
                                          capStats: Option[CapStats]): DataFrame = {
    val sigs = signaturesFromSets(sets, idCol, numHashes).localCheckpoint(true)
    val cands = candidatePairs(lshBands(sigs, idCol, bands, numHashes / bands),
      idCol, maxBucket, capStats)
    jaccardVerifySets(cands, sets, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** The persisted NEAR-dup artifact — the probabilistic sibling of
    * [[digests]]: one (id, signature) row per corpus document
    * (numHashes longs ≈ 256 bytes/doc at k = 32, vs the text). A
    * pipeline stores this between runs so tomorrow's batch finds its
    * near-duplicates against the corpus without re-reading or
    * re-shingling corpus text.
    */
  def signatureTable(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 32, shingleN: Int = 3): DataFrame =
    minhashSignaturesInline(df, idCol, textCol, numHashes, shingleN)

  /** Incremental MinHash near-dup — the daily corpus-scale path for
    * NEAR duplicates (what [[exactDedupIncremental]] is for exact ones):
    * signatures are computed for the BATCH only; the corpus side joins
    * in as a persisted [[signatureTable]]. Candidates come from shared
    * LSH band buckets over batch ∪ corpus bands ([[bucketPairs]]'
    * batch-anchored mode); verification is SIGNATURE-estimated Jaccard —
    * the fraction of agreeing minhash components, an unbiased estimator
    * of true Jaccard with granularity 1/k — because corpus text is, by
    * design, not available. Daily cost tracks the batch size plus
    * collision volume, never the corpus.
    *
    * CONTRACT: batch and corpus id spaces must be disjoint (a re-crawl
    * mints new ids); `corpusSigs` must come from [[signatureTable]] with
    * the SAME (numHashes, shingleN) parameters.
    *
    * Output: (id_a = batch id, id_b = batch or corpus id, est_jaccard)
    * with est_jaccard ≥ threshold. The match fraction divides by a
    * power-of-two k exactly, so the estimate is bitwise-portable.
    */
  def nearDupMinhashIncremental(incoming: DataFrame, idCol: String, textCol: String,
                                corpusSigs: DataFrame, threshold: Double = 0.7,
                                numHashes: Int = 32, bands: Int = 8,
                                shingleN: Int = 3, maxBucket: Int = 1000,
                                capStats: Option[CapStats] = None): DataFrame = {
    val batchSigs = signatureTable(incoming, idCol, textCol, numHashes, shingleN)
      .localCheckpoint(true)
    // The corpus side is consumed twice (banding + the verify join): a
    // caller passing raw signatureTable lineage would otherwise re-shingle
    // the whole corpus per consumer. One bounded materialization
    // (~numHashes longs/doc — the signature table, never the text) keeps
    // the "daily cost tracks the batch" contract honest for any input.
    val corpSigs = corpusSigs.localCheckpoint(true)
    def band(s: DataFrame): DataFrame = lshBands(s, idCol, bands, numHashes / bands)
    val cands = bucketPairs(band(batchSigs), BandKey, idCol, Nil, maxBucket,
        capStats, corpus = Some(band(corpSigs)))
      .select("id_a", "id_b").distinct()
    val sa = batchSigs.select(col(idCol).as("id_a"), col("signature").as("__sa"))
    val sb = batchSigs.unionByName(corpSigs)
      .select(col(idCol).as("id_b"), col("signature").as("__sb"))
    val matching = aggregate(
      zip_with(col("__sa"), col("__sb"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    cands.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (matching.cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Near-dup CLUSTER RESOLUTION: pairs → connected components → one
    * canonical id (the component minimum) per document. This is the step
    * a production dedup pipeline runs AFTER pair generation — without it,
    * overlapping pairs (a,b),(b,c) double-drop or double-keep.
    *
    * Size-adaptive, two regimes:
    *
    *   - `|pairs| ≤ localThreshold` (long ids): collect the checkpointed
    *     edge list (bounded: 10⁶ edges ≈ 16 MB) and run driver-side
    *     union-find with min-root union — zero iterative Spark rounds,
    *     the result broadcast-joins back. The same small-graph shortcut
    *     GraphFrames-style CC implementations take; near-dup pair sets
    *     are usually a tiny fraction of the corpus.
    *   - otherwise: distributed min-label propagation WITH PATH HALVING —
    *     every doc starts labeled with itself; each round takes the min
    *     over its neighbors' labels and compresses via label-of-label
    *     (every label is itself a doc id, so the self-join is total).
    *     Halving converges in O(log diameter) rounds; each driver-loop
    *     round is one edge join + one self join over the participants-
    *     only label table, and the loop exits on a changed-count of zero
    *     (capped as a backstop).
    *
    * Both regimes produce the identical (id, component-min) labeling.
    */
  def resolveClusters(pairs: DataFrame, docs: DataFrame, idCol: String,
                      maxRounds: Int = 20,
                      localThreshold: Long = 1000000L): DataFrame = {
    val edges = pairs.select(col("id_a").as("__s"), col("id_b").as("__d"))
      .union(pairs.select(col("id_b").as("__s"), col("id_a").as("__d")))
      .localCheckpoint(true)
    val isLong = pairs.schema("id_a").dataType ==
      org.apache.spark.sql.types.LongType
    if (isLong && edges.count() <= 2 * localThreshold)
      return resolveClustersLocal(edges, docs, idCol)
    // iterate ONLY over pair participants — every other doc's label can
    // never change, so it joins back as its own canonical at the end;
    // the label table is |participants|, not |corpus|
    var labels = edges.select(col("__s").as("__id")).distinct()
      .select(col("__id"), col("__id").as("__label"))
      .localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // strip the previous round's __prev before joining (rounds > 1)
      val lab = labels.select(col("__id"), col("__label"))
      val nbrMin = edges.join(lab, edges("__d") === lab("__id"))
        .groupBy(col("__s")).agg(min(col("__label")).as("__nl"))
      // carry the round's INPUT label along as __prev so convergence is a
      // filter over the checkpointed result — not a second join job per
      // round re-reading the old label table
      val prop = lab.join(nbrMin, lab("__id") === nbrMin("__s"), "left")
        .select(col("__id"), col("__label").as("__prev"),
          least(col("__label"), coalesce(col("__nl"), col("__label"))).as("__label"))
      // path halving: follow the label one hop (label(label(x)))
      val next = prop.as("a")
        .join(prop.as("b").select(col("__id").as("__bid"), col("__label").as("__bl")),
          col("a.__label") === col("__bid"))
        .select(col("a.__id").as("__id"), col("a.__prev").as("__prev"),
          least(col("a.__label"), col("__bl")).as("__label"))
        .localCheckpoint(true)
      changed = next.filter(col("__label") =!= col("__prev")).count()
      labels.unpersist() // keep ≤ 2 live label checkpoints, not O(rounds)
      labels = next
      round += 1
    }
    // fail LOUDLY on truncation: returning under-merged components would
    // silently keep duplicate documents downstream
    require(changed == 0,
      s"resolveClusters did not converge within $maxRounds rounds " +
        "(component diameter > 2^rounds); raise maxRounds")
    val lab = labels.select(col("__id"), col("__label"))
    docs.select(col(idCol))
      .join(lab, docs(idCol) === lab("__id"), "left")
      .select(col(idCol),
        coalesce(col("__label"), col(idCol)).as("canonical_id"))
  }

  /** Driver-side union-find over a COLLECTED (bounded) edge list.
    * Min-root union keeps the invariant "a component's root is its
    * minimum id seen so far", so after all unions `find(x)` IS the
    * component minimum — the same labeling the distributed loop computes.
    */
  private def resolveClustersLocal(edges: DataFrame, docs: DataFrame,
                                   idCol: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the doubled edge table holds each pair twice; keep one direction
    val ps = edges.filter(col("__s") < col("__d"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    ps.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val participants = ps.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    val labels = participants.iterator.map(p => (p, find(p))).toSeq
      .toDF("__id", "__label")
    docs.select(col(idCol))
      .join(broadcast(labels), docs(idCol) === labels("__id"), "left")
      .select(col(idCol),
        coalesce(col("__label"), col(idCol)).as("canonical_id"))
  }

  /** Quality-aware survivor policy over resolved clusters: instead of
    * the min-id convention, keep the HIGHEST-`scoreCol` document of each
    * near-dup cluster (ties → smaller id) — the policy real curation
    * uses, where the canonical copy should be the best-quality one, not
    * the first-crawled one.
    *
    * `clusters` is [[resolveClusters]] output `(idCol, canonical_id)`.
    * Output: the full `docs` rows of the winners, plus `canonical_id`
    * and `cluster_size`. Scale: one id-keyed join (clusters is
    * id-unique by construction) and one window hash-partitioned by
    * `canonical_id` — cluster sizes are near-dup groups (small by
    * nature; a degenerate all-equal corpus degrades to a hot key, the
    * same exposure `dedupByPriority` has).
    */
  def keepBest(docs: DataFrame, idCol: String, scoreCol: String,
               clusters: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canonical_id"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    docs.join(clusters, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("canonical_id"))))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** EXACT n-gram Jaccard near-dup — the third dedup tier the pipeline
    * offers (exact digest, probabilistic MinHash/SimHash, and this:
    * exact similarity with COMPLETE candidates, never all-pairs).
    *
    * Prefix filter (AllPairs/PPJoin family): order all shingles globally
    * by (document frequency asc, shingle) — rarest first. For a pair with
    * jaccard ≥ t, the shared-set size o satisfies o ≥ ceil(t·L) for EACH
    * side's set size L, so the minimum shared shingle (in the global
    * order) sits within the first L − ceil(t·L) + 1 shingles of BOTH
    * docs. Joining just those prefixes on the shingle is therefore a
    * candidate set with recall 1; exact Jaccard verifies candidates only.
    *
    * Scale: the DF pass is one aggregation; prefix posting lists are
    * short BY CONSTRUCTION (prefixes prefer rare shingles, so the hot
    * shingles fall out of the index). The filter weakens as t drops
    * (prefix → whole doc at t→0): use t ≥ ~0.5 at corpus scale, or the
    * MinHash tier below it. The epsilon in the ceil guards FP error in
    * t·L toward the SAFE side (a longer prefix, never a shorter one).
    */
  def nearDupJaccardExact(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double, shingleN: Int = 3): DataFrame =
    // lazy sets — same measured trade as [[nearDupMinhash]]'s note
    nearDupJaccardExactFromSets(shingleSets(df, idCol, textCol, shingleN),
      idCol, threshold)

  /** [[nearDupJaccardExact]] over a caller-provided [[shingleSets]]
    * relation (checkpointed by [[nearDupAudit]], lazy from the public
    * wrapper): posting build and both verify sides all read the same
    * relation.
    */
  private[llm] def nearDupJaccardExactFromSets(sets: DataFrame, idCol: String,
                                               threshold: Double): DataFrame = {
    val posts = sets.select(col(idCol), explode(col("__set")).as("__sh"),
      size(col("__set")).as("__L"))
    val dfreq = posts.groupBy("__sh").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__df"), col("__sh"))
    val prefix = posts.join(dfreq, "__sh")
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <=
        col("__L") - ceil(col("__L") * lit(threshold) - lit(1e-9)) + 1)
    val a = prefix.select(col("__sh"), col(idCol).as("id_a"),
      col("__L").as("__La"), col("__r").as("__ra"))
    val b = prefix.select(col("__sh"), col(idCol).as("id_b"),
      col("__L").as("__Lb"), col("__r").as("__rb"))
    // PPJoin positional filter: a shared prefix shingle at ranks (ra, rb)
    // bounds the overlap by min(La−ra, Lb−rb)+1, which must reach the
    // jaccard-t-required overlap ceil(t·(La+Lb)/(1+t)). Recall stays 1:
    // for a true pair the MINIMUM shared shingle passes (all o shared
    // shingles rank at or after it on both sides, so its bound ≥ o).
    val oMin = ceil((col("__La") + col("__Lb")) * lit(threshold / (1 + threshold)) - lit(1e-9))
    val cands = a.join(b, Seq("__sh"))
      .filter(col("id_a") < col("id_b") &&
        least(col("__La") - col("__ra"), col("__Lb") - col("__rb")) + 1 >= oMin)
      .select("id_a", "id_b").distinct()
    jaccardVerifySets(cands, sets, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over the distinct words of the normalized text: bit
    * i is the sign of the sum of ±1 votes from each word's hash bit i,
    * where bit i of a word's hash is bit `i%4` of hex digit `i/4` of the
    * word's md5. Every step is restatable in SQL
    * (`strpos('0123456789abcdef', substr(md5(w),…))` in DuckDB), so the
    * correctness oracle hash-verifies the full near-dup pipeline. Bit 63
    * lands in the long sign bit, fine for a fingerprint.
    *
    * ONE narrow per-row kernel ([[graft.expressions.SimhashMd5]]):
    * distinct words, one md5 each, the 64 nibble-bit votes and the
    * sign-pack in a single pass — no explode, no corpus×words shuffle.
    * OptKernelsSpec pins it against the old explode + 64-conditional-sum
    * aggregation; the isNotNull filter replicates that aggregation's
    * absent row for null-text documents.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.expressions.SimhashMd5.simhash_md5(normalize(col(textCol)))
          .as("simhash"))
      .where(col("simhash").isNotNull)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The 4 16-bit quarters of each fingerprint as `(band, bucket)` keys. */
  private def simhashBands(fps: DataFrame, idCol: String): DataFrame =
    fps.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("simhash"), q * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(BandKey))

  /** Hamming-verified `(id_a, id_b, distance)` out of [[bucketPairs]]. */
  private def hammingPairs(pairs: DataFrame, maxDistance: Int): DataFrame = {
    val d = hamming(col("simhash_a"), col("simhash_b"))
    pairs.filter(d <= maxDistance)
      .select(col("id_a"), col("id_b"), d.as("distance"))
      .distinct()
  }

  /** SimHash near-dup: bucket by the 4 16-bit quarters (a pair within
    * Hamming distance 3 must agree on at least one quarter), verify
    * Hamming ≤ maxDistance on candidates only. Same skew cap as MinHash:
    * correlated corpora concentrate band buckets.
    */
  def nearDupSimhash(df: DataFrame, idCol: String, textCol: String,
                     maxDistance: Int = 3, maxBucket: Int = 1000,
                     capStats: Option[CapStats] = None): DataFrame = {
    // materialized: the self-join reads the fingerprints twice
    val fps = simhash(df, idCol, textCol).localCheckpoint(true)
    hammingPairs(bucketPairs(simhashBands(fps, idCol), BandKey, idCol,
      Seq("simhash"), maxBucket, capStats), maxDistance)
  }

  /** Incremental SimHash near-dup — the daily path for the SimHash tier
    * (completing the incremental family: [[exactDedupIncremental]] for
    * digests, [[nearDupMinhashIncremental]] for minhash signatures):
    * fingerprints are computed for the BATCH only; the corpus joins in
    * as a persisted `(id, simhash)` table — ONE long per document, the
    * cheapest persisted dedup state of the three tiers. Candidates come
    * from shared 16-bit quarter buckets over batch ∪ corpus bands
    * ([[bucketPairs]]' batch-anchored mode); verification is Hamming
    * distance on the fingerprints themselves — corpus text is never
    * re-read, so the daily cost tracks the batch plus collision volume.
    *
    * CONTRACT: batch and corpus id spaces must be disjoint; `corpusFps`
    * must come from [[simhash]]. Output: `(id_a = batch id, id_b,
    * distance)` with distance ≤ maxDistance.
    */
  def nearDupSimhashIncremental(incoming: DataFrame, idCol: String,
                                textCol: String, corpusFps: DataFrame,
                                maxDistance: Int = 3, maxBucket: Int = 1000,
                                capStats: Option[CapStats] = None): DataFrame = {
    val batchFps = simhash(incoming, idCol, textCol).localCheckpoint(true)
    // bounded: one long per corpus doc — same honesty note as the
    // minhash incremental (raw lineage would re-fingerprint per consumer)
    val corpFps = corpusFps.localCheckpoint(true)
    hammingPairs(bucketPairs(simhashBands(batchFps, idCol), BandKey, idCol,
      Seq("simhash"), maxBucket, capStats,
      corpus = Some(simhashBands(corpFps, idCol))), maxDistance)
  }

  /** Chunk-level duplication profile over CONTENT-DEFINED chunks
    * ([[Chunking.contentDefined]]): per document, how many of its
    * chunks' hashes also occur in OTHER documents — the
    * sub-document-granularity dedup signal (boilerplate blocks, quoted
    * passages, mirrored sections) that whole-doc digests miss and that
    * [[duplicateSpans]] finds at n-gram granularity with far more
    * rows. Because the chunker is content-defined, the profile is
    * INCREMENTAL-friendly: re-profiling an edited document re-hashes
    * only the chunks around the edit.
    *
    * Output: `(idCol, n_chunks, n_shared, shared_frac)`. Scale shape:
    * the chunk fan-out (narrow), one partial-agg'd count per chunk
    * hash, one hash join back on the hash, one per-doc partial agg —
    * no window, no all-pairs anything.
    */
  def chunkDuplication(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 16, maskBits: Int = 6,
                       minLen: Int = 32, maxLen: Int = 256): DataFrame = {
    val chunks = Chunking.contentDefined(docs, idCol, textCol,
        k, maskBits, minLen, maxLen)
      .select(col(idCol), col("chunk_md5"))
    val byHash = chunks.groupBy(col("chunk_md5"))
      .agg(countDistinct(col(idCol)).as("__nd"))
    chunks.join(byHash, Seq("chunk_md5"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_chunks"))
  }

  /** Recall/precision AUDIT of the MinHash tier against the exact tier —
    * "measure, don't guess" for the at-scale default: the exact
    * prefix-filtered join ([[nearDupJaccardExact]], recall 1 by
    * construction) is ground truth, [[nearDupMinhash]] at the SAME
    * threshold/shingling is the system under audit. One row out:
    * `(n_exact, n_approx, n_both, recall, precision)` — recall is the
    * banding scheme's true miss rate on THIS corpus (the number that
    * picks bands × rows empirically instead of from the S-curve
    * formula), precision is 1 by construction (candidates are verified
    * by exact Jaccard) and published so a regression would surface.
    *
    * At 100 TB this runs on a SLICE (the exact tier is the honest
    * quadratic-in-true-pairs one); the measured recall transfers
    * because banding probability depends on pair similarity, not
    * corpus size.
    */
  def nearDupAudit(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, numHashes: Int = 32, bands: Int = 8,
                   shingleN: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // ONE shingle scan for the WHOLE audit: both tiers (and both verify
    // sides of each) read the same checkpointed set relation. Pre-r16
    // the audit re-shingled the input six times — and the input here is
    // often itself a computed relation (the gate's planted-pair mixer),
    // so each re-shingle re-ran that upstream join too.
    val sets = shingleSets(docs, idCol, textCol, shingleN).localCheckpoint(true)
    val exact = nearDupJaccardExactFromSets(sets, idCol, threshold)
      .select("id_a", "id_b")
    val approx = nearDupMinhashFromSets(sets, idCol, threshold, numHashes,
        bands, maxBucket, capStats = None)
      .select("id_a", "id_b")
    exact.withColumn("__e", lit(1))
      .join(approx.withColumn("__a", lit(1)), Seq("id_a", "id_b"), "full_outer")
      .agg(count(col("__e")).as("n_exact"),
        count(col("__a")).as("n_approx"),
        count(when(col("__e").isNotNull && col("__a").isNotNull, 1))
          .as("n_both"))
      .select(col("n_exact"), col("n_approx"), col("n_both"),
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(col("n_both").cast("double") / col("n_exact").cast("double"))
          .as("recall"),
        when(col("n_approx") === 0, lit(null).cast("double"))
          .otherwise(col("n_both").cast("double") / col("n_approx").cast("double"))
          .as("precision"))
  }

  /** The CUT policy over chunk-level duplication — what
    * [[chunkDuplication]] profiles, this removes: every chunk whose
    * content occurs in >= `minDocs` distinct documents is dropped, and
    * each document's survivors are re-joined in order. The
    * sub-document analogue of [[graft.llm.Spans.trimDupSpans]], but
    * operating on `chunks` in the offsets form
    * `(idCol, chunk_idx, start_cp, n_cp, chunk_md5)` — compose with
    * [[Chunking.contentDefined]] (the at-scale default: shift-tolerant
    * boundaries, so an edited mirror still matches) or
    * [[Chunking.fixedWidth]] (the oracle-checkable instantiation).
    * Offsets index the ORIGINAL text, so unlike the span trimmer the
    * output is exact original-text concatenation: a document with no
    * duplicated chunks round-trips byte-for-byte.
    *
    * Output: `(idCol, n_chunks, n_dropped, text_clean)`; null/empty
    * documents (which produce no chunks) come back as `("", 0, 0)`.
    *
    * Scale shape: one partial agg per chunk hash, one hash join back
    * on the hash, one per-doc agg whose `collect_list` state is
    * bounded by the document's own chunk count (the same bound as the
    * text itself), one key join back to `docs`. No window, no
    * all-pairs.
    */
  def chunkTrim(docs: DataFrame, chunks: DataFrame, idCol: String,
                textCol: String, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val shared = chunks.groupBy(col("chunk_md5"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("chunk_md5"), lit(1).as("__dup"))
    val agg = chunks.join(shared, Seq("chunk_md5"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__dup") === 1, 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips nulls: dropped chunks vanish from the
        // survivor array; sort_array orders structs by leading field
        // (chunk_idx)
        sort_array(collect_list(when(col("__dup").isNull,
          struct(col("chunk_idx"), col("start_cp"), col("n_cp"))))).as("__ks"))
    docs.select(col(idCol), col(textCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(array_join(transform(col("__ks"), s =>
            col(textCol).substr(s.getField("start_cp") + 1, s.getField("n_cp"))),
          ""), lit("")).as("text_clean"))
  }

}
