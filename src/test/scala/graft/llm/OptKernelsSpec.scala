package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-15 optimization kernels: every rewrite here replaced a slower
  * expression form and MUST be value-identical to the old form. Each
  * test pins the new implementation against the old expression tree
  * (inlined verbatim as the reference) over adversarial inputs.
  */
class OptKernelsSpec extends SparkSpec {
  import spark.implicits._

  // the pre-round-15 shingle construction, verbatim
  private def oldShingles(text: Column, n: Int): Column = {
    val words = split(Dedup.normalize(text), " ")
    val grams = (2 to n).foldLeft(words) { (acc, k) =>
      zip_with(acc, slice(words, lit(k), size(words)), (a, b) => concat(a, lit(" "), b))
    }
    when(size(words) < n, array(array_join(words, " ")))
      .otherwise(filter(grams, x => x.isNotNull))
  }

  private val adversarial = Seq(
    null, "", " ", "  ", "\t", "\tfoo", "foo\t", "a", "ab", "a b", "a b c",
    "one two three four five six seven eight nine ten",
    "dup dup dup dup", "a  b\n c", "Mixed CASE Text", "việt ngữ tiếng việt",
    "x" * 500, ("w " * 40).trim, "end with space ", " start", "a b",
    "emoji 😀 astral 𝔘𝔫𝔦 pair", "a.b c.d", "#tag ... more ...")

  test("WordShingles ≡ old zip_with shingles (n = 2, 3, 8)") {
    val df = adversarial.map(Option(_)).toDF("text")
    for (n <- Seq(2, 3, 8)) {
      val r = df.select(
        oldShingles(col("text"), n).as("old"),
        Dedup.shingles(col("text"), n).as("neu"),
        array_distinct(oldShingles(col("text"), n)).as("oldd"),
        Dedup.shinglesDistinct(col("text"), n).as("neud"),
        col("text")).collect()
      r.foreach { row =>
        assert(row.get(0) == row.get(1),
          s"n=$n text=${row.get(4)}: old=${row.get(0)} new=${row.get(1)}")
        assert(row.get(2) == row.get(3),
          s"distinct n=$n text=${row.get(4)}: old=${row.get(2)} new=${row.get(3)}")
      }
    }
  }

  test("WordShingles ≡ old on random strings") {
    val rnd = new scala.util.Random(1234)
    val alpha = "ab .\t\nxyz#…é "
    val strs = (1 to 300).map { _ =>
      val len = rnd.nextInt(60)
      (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }
    val df = strs.toDF("text")
    for (n <- Seq(2, 3)) {
      val bad = df.select(oldShingles(col("text"), n).as("old"),
          Dedup.shingles(col("text"), n).as("neu"))
        .where(not(col("old") <=> col("neu"))).count()
      assert(bad == 0L, s"n=$n: $bad mismatches")
    }
  }

  test("WordDropPositions ≡ old transform/array_except trim") {
    // old surgery, verbatim, over (norm, n_tokens, cov)
    def oldTrim(norm: Column, nTokens: Column, cov: Column): Column =
      when(nTokens === 0, lit("")).otherwise(
        array_join(
          transform(
            array_except(sequence(lit(0), nTokens - 1), coalesce(cov,
              array().cast("array<int>"))),
            p => element_at(split(norm, " "), p + 1)),
          " "))
    def newTrim(norm: Column, nTokens: Column, cov: Column): Column =
      when(nTokens === 0, lit("")).otherwise(
        graft.expressions.WordDropPositions.word_drop_positions(
          norm, coalesce(cov, array().cast("array<int>"))))
    val rows = Seq(
      ("a b c d e", Seq(0, 2)), ("a b c d e", Seq.empty[Int]),
      ("a b c d e", Seq(0, 1, 2, 3, 4)), ("w", Seq(0)), ("w", Seq.empty[Int]),
      (" lead", Seq(0)), (" lead", Seq(1)), ("x y", Seq(1)),
      ("é 😀 b", Seq(1)), ("a a a a", Seq(1, 3)))
    val df = rows.toDF("norm", "cov")
      .withColumn("cov", col("cov").cast("array<int>"))
      .withColumn("n_tokens",
        when(col("norm") === "", 0).otherwise(size(split(col("norm"), " "))))
    val bad = df.select(
        oldTrim(col("norm"), col("n_tokens"), col("cov")).as("old"),
        newTrim(col("norm"), col("n_tokens"), col("cov")).as("neu"))
      .where(not(col("old") <=> col("neu"))).count()
    assert(bad == 0L)
  }

  test("Repetition.bigrams ≡ old slice/transform form") {
    def oldBigrams(text: Column): Column = {
      val ws = split(Dedup.normalize(text), " ")
      transform(slice(ws, lit(1), size(ws) - 1),
        (w, i) => concat(w, lit(" "), element_at(ws, i + 2)))
    }
    val df = adversarial.map(Option(_)).toDF("text")
    val bad = df.select(oldBigrams(col("text")).as("old"),
        Repetition.bigrams(col("text")).as("neu"), col("text"))
      .collect().filterNot(r => r.get(0) == r.get(1))
    assert(bad.isEmpty, bad.map(r =>
      s"text=${r.get(2)}: old=${r.get(0)} new=${r.get(1)}").mkString("; "))
  }

  test("Gopher.profile mean/alpha rewrites ≡ old HOF forms") {
    // old per-metric expressions, verbatim
    val t = col("text")
    val empty = t.isNull || trim(t) === ""
    val words = split(regexp_replace(trim(lower(t)), "\\s+", " "), " ")
    val nw = when(empty, 0).otherwise(size(words)).cast("int")
    val nwD = nw.cast("double")
    val oldMean = when(nw === 0, 0.0).otherwise(round(
      aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") / nwD, 6))
    val oldAlphaN = size(filter(words, w => w.rlike("[a-z]")))
    val oldAlpha = when(nw === 0, 0.0)
      .otherwise(round(oldAlphaN.cast("double") / nwD, 6))
    val extra = Seq("1a2a b3", "ab1 cd", "123 456", "a1 1a a1a 1a1",
      "ONLY UPPER", "d#g ...", "..a", "a..", "-", "- x")
    val df = (adversarial ++ extra).map(Option(_)).zipWithIndex
      .toDF("text", "i")
    val prof = Gopher.profile(df, "i", "text")
      .select(col("i"), col("mean_word_len"), col("alpha_frac"))
    val ref = df.select(col("i"), oldMean.as("m"), oldAlpha.as("a"),
      col("text").as("t2"))
    val j = prof.join(ref, Seq("i"))
      .where(not(col("mean_word_len") <=> col("m")) ||
        not(col("alpha_frac") <=> col("a")))
    assert(j.count() == 0L, j.collect().mkString("; "))
  }

  test("Md5U32 ≡ conv(substring(md5(c),1,8),16,10)") {
    val rnd = new scala.util.Random(77)
    val strs = adversarial ++ (1 to 400).map { _ =>
      val len = rnd.nextInt(30)
      (1 to len).map(_ =>
        "aA1 .#é😀\tzZ"(rnd.nextInt(11))).mkString
    }
    val df = strs.map(Option(_)).toDF("v")
    val bad = df.select(
        conv(substring(md5(col("v")), 1, 8), 16, 10).cast("long").as("old"),
        graft.functions.Hashes.u32OfMd5(col("v")).as("neu"))
      .where(not(col("old") <=> col("neu"))).count()
    assert(bad == 0L)
  }

  test("MinhashAffine ≡ k array_min(transform(...)) incl. null array") {
    val P = 2147483647L
    val coefs = Dedup.minhashCoefs(8)
    val rnd = new scala.util.Random(5)
    val rows: Seq[Option[Seq[Long]]] =
      Seq(None, Some(Seq.empty[Long]), Some(Seq(0L)),
        Some(Seq(4294967295L, 0L, 17L))) ++
        (1 to 100).map(_ => Some(Seq.fill(rnd.nextInt(30))(
          rnd.nextLong().abs % 4294967296L)))
    val df = rows.toDF("hs")
    val oldSig = array(coefs.map { case (a, b) =>
      array_min(transform(col("hs"), h => pmod(h * a + b, lit(P))))
    }: _*)
    val bad = df.select(oldSig.as("old"),
        graft.expressions.MinhashAffine.minhash_affine(col("hs"), coefs, P)
          .as("neu"))
      .where(not(col("old") <=> col("neu"))).count()
    assert(bad == 0L)
  }

  test("LogReg adaptive coalesce does not move the fitted weights") {
    // tiny slice → 1 iteration partition; weights must equal a run over
    // a many-partition copy of the same rows
    val feats = (1 to 50).map { i =>
      (i.toLong, i % 2, Seq.tabulate(4)(j => (i * (j + 1) % 7).toDouble / 7))
    }.toDF("id", "y", "vec")
    val w1 = LogReg.train(feats.repartition(16), "y", "vec", iters = 3)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    val w2 = LogReg.train(feats.coalesce(1), "y", "vec", iters = 3)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    assert(w1.sameElements(w2))
  }

  test("canonicalDupSpans struct key: negative ids order numerically") {
    // two docs share an 8-token span; the NEGATIVE id is the numeric
    // minimum and must be the kept canonical (the old string key
    // raise_error'd here; numeric struct ordering just works)
    val span = "one two three four five six seven eight"
    val df = Seq((-5L, s"$span tail a"), (3L, s"$span tail b"))
      .toDF("doc_id", "text")
    val spans = Spans.canonicalDupSpans(df, "doc_id", "text",
      spanLen = 8, minOcc = 2L)
    val marked = spans.collect()
    // only the NON-canonical copy (doc 3) is marked redundant
    assert(marked.map(_.getLong(0)).toSet == Set(3L), marked.mkString(";"))
  }

  // ---- round-16 kernels ---------------------------------------------------

  /** Random float vectors incl. degenerate cases: null array, empty,
    * ragged lengths, null elements, zero vectors.
    */
  private def vecRows(rnd: scala.util.Random, n: Int, dim: Int)
      : Seq[(Option[Seq[Option[Float]]], Option[Seq[Option[Float]]])] = {
    def mk(len: Int): Option[Seq[Option[Float]]] = Some(
      Seq.fill(len)(if (rnd.nextInt(50) == 0) None
                    else Some(rnd.nextFloat() * 4 - 2)))
    Seq(
      (None, mk(dim)), (mk(dim), None), (None, None),
      (Some(Seq.empty), Some(Seq.empty)), (mk(dim), mk(dim - 1)),
      (mk(dim + 3), mk(dim)), (Some(Seq.fill(dim)(Some(0f))), mk(dim))) ++
      (1 to n).map(_ => (mk(dim), mk(dim)))
  }

  test("VecDot/VecNorm/VecL2Sq ≡ old aggregate(zip_with/transform) folds") {
    val rnd = new scala.util.Random(991)
    val df = vecRows(rnd, 200, 16).toDF("a", "b")
    // the pre-r16 expression trees, verbatim (Ann.dot / Ann.norm / the
    // pqTopKRefined L2 fold)
    val oldDot = aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def oldNorm(c: Column) = sqrt(aggregate(
      transform(c, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val oldL2 = aggregate(zip_with(col("a"), col("b"),
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val k = graft.expressions.VecKernels
    val bad = df.select(
        oldDot.as("od"), k.vec_dot(col("a"), col("b")).as("nd"),
        oldNorm(col("a")).as("on"), k.vec_norm(col("a")).as("nn"),
        oldL2.as("ol"), k.vec_l2sq(col("a"), col("b")).as("nl"))
      .where(not(col("od") <=> col("nd")) || not(col("on") <=> col("nn")) ||
        not(col("ol") <=> col("nl"))).count()
    assert(bad == 0L)
  }

  test("VecDot ≡ old fold on double arrays (kmeans centroid path)") {
    val rnd = new scala.util.Random(17)
    val rows = (1 to 100).map(_ => (Seq.fill(8)(rnd.nextDouble() * 2 - 1),
      Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val oldDot = aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val bad = df.select(oldDot.as("o"),
        graft.expressions.VecKernels.vec_dot(col("a"), col("b")).as("n"))
      .where(not(col("o") <=> col("n"))).count()
    assert(bad == 0L)
  }

  test("SignBucket ≡ old per-plane aggregate(zip_with) reduce") {
    val bits = 8; val dim = 16
    val planes = Ann.planes(bits, dim)
    // the pre-r16 Column form, verbatim
    val oldBucket = {
      val projections = planes.zipWithIndex.map { case (signs, i) =>
        val proj = aggregate(
          zip_with(col("v"), typedLit(signs), (x, s) => x.cast("double") * s),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
      }
      projections.reduce((a, b) => a.bitwiseOR(b))
    }
    val rnd = new scala.util.Random(33)
    val df = vecRows(rnd, 200, dim).map(_._1).toDF("v")
    val bad = df.select(oldBucket.as("o"),
        graft.expressions.VecKernels.sign_bucket(col("v"), planes.toArray).as("n"))
      .where(not(col("o") <=> col("n"))).count()
    assert(bad == 0L)
  }

  test("AdcSum ≡ old aggregate(zip_with(element_at)) ADC fold") {
    val rnd = new scala.util.Random(64)
    val m = 8; val k = 16
    val rows = Seq(
      (None: Option[Seq[Seq[Double]]], Some(Seq.fill(m)(0))),
      (Some(Seq.fill(m)(Seq.fill(k)(rnd.nextDouble()))), None),
      (Some(Seq.fill(m - 1)(Seq.fill(k)(rnd.nextDouble()))),
        Some(Seq.fill(m)(0)))) ++
      (1 to 150).map { _ =>
        (Some(Seq.fill(m)(Seq.fill(k)(rnd.nextDouble() * 10))),
          Some(Seq.fill(m)(rnd.nextInt(k))))
      }
    val df = rows.toDF("tbl", "codes")
    val oldAdc = aggregate(
      zip_with(col("tbl"), col("codes"),
        (t, c) => element_at(t, c.cast("int") + 1)),
      lit(0.0), (acc, x) => acc + x)
    val bad = df.select(oldAdc.as("o"),
        graft.expressions.VecKernels.adc_sum(col("tbl"), col("codes")).as("n"))
      .where(not(col("o") <=> col("n"))).count()
    assert(bad == 0L)
  }

  test("AdcSum ≡ old ADC fold on out-of-range codes: null, never an out-of-bounds read") {
    val tbl = Seq(Seq(1.0, 2.0, 3.0, 4.0), Seq(10.0, 20.0, 30.0, 40.0))
    val df = Seq(Seq(0, 3), Seq(4, 0), Seq(0, 5), Seq(100, 1), Seq(3, 3))
      .map(c => (tbl, c)).toDF("tbl", "codes")
    val oldAdc = aggregate(
      zip_with(col("tbl"), col("codes"),
        (t, c) => element_at(t, c.cast("int") + 1)),
      lit(0.0), (acc, x) => acc + x)
    // element_at past the end is NULL with ANSI off (ANSI on, it throws)
    val got = withAnsi(on = false) {
      df.select(oldAdc.as("o"),
          graft.expressions.VecKernels.adc_sum(col("tbl"), col("codes")).as("n"))
        .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    }
    assert(got.toSeq == Seq((Some(41.0), Some(41.0)), (None, None), (None, None),
      (None, None), (Some(44.0), Some(44.0))))
    // no PQ code is negative: the kernel answers NULL where the old tree
    // threw (c = −1 → index 0) or indexed from the end (c < −1)
    val neg = Seq((tbl, Seq(-1, 0)), (tbl, Seq(0, -2))).toDF("tbl", "codes")
      .select(graft.expressions.VecKernels.adc_sum(col("tbl"), col("codes")))
      .collect()
    assert(neg.forall(_.isNullAt(0)))
  }

  test("Dsir bigram kernel ≡ old zip_with bigram construction") {
    // old gram construction, verbatim (incl. its null/edge filters)
    def oldGrams(t: Column): Column = {
      val words = split(regexp_replace(trim(lower(t)), "\\s+", " "), " ")
      filter(zip_with(words, slice(words, lit(2), size(words)),
          (a, b) => concat(a, lit(" "), b)),
        g => g.isNotNull && !g.startsWith(" ") && !g.endsWith(" "))
    }
    def newGrams(t: Column): Column =
      filter(graft.expressions.WordShingles.word_shingles(
          Dedup.normalize(t), 2),
        g => instr(g, " ") > 0 && !g.startsWith(" ") && !g.endsWith(" "))
    val df = adversarial.map(Option(_)).toDF("text")
    val bad = df.select(oldGrams(col("text")).as("o"),
        newGrams(col("text")).as("n"), col("text"))
      .collect().filterNot(r => r.get(0) == r.get(1))
    assert(bad.isEmpty, bad.map(r =>
      s"text=${r.get(2)}: old=${r.get(0)} new=${r.get(1)}").mkString("; "))
  }

  test("jaccardVerifySets single-intersect ≡ old double-intersect form") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c x y z"),
      (3L, "a b c d e f"), (4L, "p q r"), (5L, "")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    // old form, verbatim
    val sets = docs.select(col("doc_id").as("__id"),
      Dedup.shinglesDistinct(col("text"), 3).as("__set"))
    val old = pairs
      .join(sets.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__set", "__sa"), Seq("id_a"))
      .join(sets.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__set", "__sb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
          (size(col("__sa")) + size(col("__sb")) -
            size(array_intersect(col("__sa"), col("__sb")))))
          .as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val neu = Dedup.jaccardVerify(pairs, docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(old == neu)
  }

  test("JaccardSorted merge ≡ old size(array_intersect) ratio") {
    // distinct string arrays (the shingleSets contract: NEVER empty —
    // shinglesDistinct emits [whole input] below n words, so the
    // both-empty 0/0 case is unreachable; the old ANSI Divide would
    // throw on it, the kernel returns NaN, and neither is observable).
    // Adversarial: null elements on one/both sides, one-side-empty,
    // null arrays, disjoint / identical / subset pairs, multi-byte +
    // astral chars
    val cases: Seq[(Option[Seq[Option[String]]], Option[Seq[Option[String]]])] = Seq(
      (Some(Seq(Some("a"), Some("b"), Some("c"))), Some(Seq(Some("b"), Some("c"), Some("d")))),
      (Some(Seq(Some("a"))), Some(Seq(Some("a")))),
      (Some(Seq(Some("a"))), Some(Seq(Some("b")))),
      (Some(Seq.empty), Some(Seq(Some("x")))),
      (Some(Seq(None, Some("a"))), Some(Seq(None, Some("b")))),
      (Some(Seq(None)), Some(Seq(Some("a")))),
      (Some(Seq(Some(""), Some("a"))), Some(Seq(Some("")))),
      (Some(Seq(Some("é"), Some("漢"), Some("𝔘"))), Some(Seq(Some("漢"), Some("e")))),
      (None, Some(Seq(Some("a")))),
      (Some(Seq(Some("a"))), None),
      (None, None)) ++
      // random distinct non-empty sets over a tiny alphabet → dense overlap
      (1 to 40).map { i =>
        val r = new scala.util.Random(i)
        def gen() = Some((0 to r.nextInt(7)).map(_ =>
          Some(r.nextInt(6).toString)).distinct.toSeq: Seq[Option[String]])
        (gen(), gen())
      }
    val df = cases.toDF("a", "b")
    val old = (size(array_intersect(col("a"), col("b"))).cast("double") /
      (size(col("a")) + size(col("b")) -
        size(array_intersect(col("a"), col("b")))))
    val neu = graft.expressions.JaccardSorted.jaccard_sorted(
      sort_array(col("a")), sort_array(col("b")))
    val bad = df.select(old.as("o"), neu.as("n"), col("a"), col("b"))
      .collect().filterNot { r =>
        val o = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
        val n = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
        // NaN == NaN for this comparison (0/0 both-empty case)
        (o == null && n == null) ||
          (o != null && n != null &&
            java.lang.Double.doubleToLongBits(o) == java.lang.Double.doubleToLongBits(n))
      }
    assert(bad.isEmpty, bad.map(r =>
      s"a=${r.get(2)} b=${r.get(3)}: old=${r.get(0)} new=${r.get(1)}").mkString("; "))
  }

  // the pre-round-16 LogReg margin, verbatim
  private def oldMargin(c: Column, w: Array[Double]): Column = {
    val wLit = array(w.map(lit(_)): _*)
    aggregate(
      zip_with(c, wLit, (x, wj) => (x * wj).cast("decimal(28,15)")),
      lit(0).cast("decimal(38,15)"),
      (acc, t) => (acc + t).cast("decimal(38,15)")).cast("double")
  }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  test("Dec15Dot ≡ old aggregate(zip_with(cast(decimal))) margin fold") {
    val w = Array(0.5, -1.25, 2.0 / 3.0, 0.1, -0.000001, 123456.789)
    val cases: Seq[Option[Seq[Option[Double]]]] = Seq(
      Some(Seq(1.0, 0.015625, -3.7, 0.1, 1e-7, 42.0).map(Some(_))),
      Some(Seq(0.0, -0.0, 1e-16, -1e-16, 0.3, 0.7).map(Some(_))),
      // round-6 quantizer-adjacent values (the sigmoid's output domain)
      Some(Seq(0.4999995, 0.5000005, 0.1234565, -0.1234565, 1.0, -1.0).map(Some(_))),
      Some(Seq(Some(1.0), None, Some(2.0), Some(3.0), Some(4.0), Some(5.0))), // null elem
      Some(Seq(1.0, 2.0).map(Some(_))), // ragged short (zip_with pads)
      Some(Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0).map(Some(_))), // ragged long
      None) ++
      (1 to 30).map { i =>
        val r = new scala.util.Random(100 + i)
        Some((0 until 6).map(_ =>
          Some((r.nextDouble() - 0.5) * math.pow(10, r.nextInt(7) - 3))).toSeq)
      }
    val df = cases.toDF("x")
    val bad = df.select(oldMargin(col("x"), w).as("o"),
        graft.expressions.Dec15Dot.dec15_dot(col("x"), w).as("n"), col("x"))
      .collect().filterNot { r =>
        (r.isNullAt(0) && r.isNullAt(1)) ||
          (!r.isNullAt(0) && !r.isNullAt(1) &&
            java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
              java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
    assert(bad.isEmpty, bad.map(r =>
      s"x=${r.get(2)}: old=${r.get(0)} new=${r.get(1)}").mkString("; "))
  }

  test("Dec15Dot ≡ old margin fold on NaN, ±Inf and decimal(28,15) overflow") {
    val w = Array(0.5, -1.25, 0.0, 4.0)
    def both(df: org.apache.spark.sql.DataFrame) = df.select(
      oldMargin(col("x"), w).as("o"),
      graft.expressions.Dec15Dot.dec15_dot(col("x"), w).as("n"))
    // a non-finite product casts to a NULL decimal, ANSI or not: NaN and
    // ±Inf elements, 0 · Inf, and a finite x whose product overflows
    val nonFinite = both(Seq(
      Seq(Double.NaN, 1.0, 1.0, 1.0),
      Seq(1.0, Double.PositiveInfinity, 1.0, 1.0),
      Seq(Double.NegativeInfinity, 1.0, 1.0, 1.0),
      Seq(1.0, 1.0, Double.PositiveInfinity, 1.0),
      Seq(1.0, 1.0, 1.0, 1e308)).toDF("x")).collect()
    assert(nonFinite.forall(r => r.isNullAt(0) && r.isNullAt(1)),
      nonFinite.mkString("; "))
    // a finite product of 13+ integer digits overflows decimal(28,15):
    // the old cast throws under ANSI (this session) and is NULL without
    val over = Seq(Seq(1e14, 1.0, 1.0, 1.0)).toDF("x")
    def failsOnDecimal(c: Column): Boolean = {
      val e = intercept[Exception](over.select(c).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("Decimal(28, 15)"))
    }
    assert(failsOnDecimal(oldMargin(col("x"), w)))
    assert(failsOnDecimal(graft.expressions.Dec15Dot.dec15_dot(col("x"), w)))
    val lenient = withAnsi(on = false)(both(over).collect())
    assert(lenient.forall(r => r.isNullAt(0) && r.isNullAt(1)), lenient.mkString("; "))
  }

  test("LogReg single-agg gradient ≡ posexplode/groupBy gradient (weights)") {
    // end-to-end: the fitted weights are the observable — train on a
    // deterministic slice and pin against the hand-rolled old-form
    // iteration (posexplode + groupBy j + decimal sums)
    val r = new scala.util.Random(7)
    val df = (0 until 64).map { i =>
      (i.toLong, (0 until 4).map(_ => r.nextInt(8) / 64.0).toArray,
        if (i % 3 == 0) 1 else 0)
    }.toDF("id", "vec", "y")
    val model = LogReg.train(df, "y", "vec", iters = 4, lr = 2.0)
      .orderBy("j").collect().map(x => (x.getInt(0), x.getDouble(1))).toSeq
    // old-form reference, computed via the public scores/margin pieces:
    // replicate the iteration in local exact decimal arithmetic
    val rows = df.select(col("y").cast("double"),
        concat(array(lit(1.0d)), col("vec")).as("__x"))
      .collect().map(x => (x.getDouble(0), x.getSeq[Double](1).toArray))
    val dim = rows.head._2.length
    val n = rows.length.toDouble
    var w = Array.fill(dim)(0.0d)
    for (_ <- 0 until 4) {
      val grads = Array.fill(dim)(java.math.BigDecimal.ZERO)
      rows.foreach { case (y, x) =>
        val m = graft.expressions.Dec15Dot.dot(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(x), w)
        val p = math.floor((0.5 * (1.0 + m / (1.0 + math.abs(m)))) * 1e6 + 0.5) / 1e6
        val rr = p - y
        (0 until dim).foreach { j =>
          grads(j) = grads(j).add(java.math.BigDecimal.valueOf(rr * x(j))
            .setScale(15, java.math.RoundingMode.HALF_UP))
        }
      }
      (0 until dim).foreach { j =>
        val upd = w(j) - 2.0 * (grads(j).doubleValue() / n)
        w(j) = math.floor(upd * 1e6 + 0.5) / 1e6
      }
    }
    assert(model == w.zipWithIndex.map { case (wj, j) => (j, wj) }.toSeq,
      s"model=$model local=${w.toSeq}")
  }

  test("SimhashMd5 kernel ≡ old explode/md5-hex/64-vote aggregation") {
    val texts = Seq(
      Some("the quick brown fox jumps over the lazy dog"),
      Some("the the the repeated repeated words words words"),
      Some(""), Some(" "), Some("\tleading tab"), Some("trailing tab\t"),
      Some("single"), Some("UPPER case MiXeD"), Some("é 漢字 𝔘𝔫𝔦 mixed"),
      Some("a b c d e f g h i j k l m n o p q r s t u v w x y z"),
      None) ++
      (1 to 25).map { i =>
        val r = new scala.util.Random(i)
        Some((0 until r.nextInt(30)).map(_ =>
          "w" + r.nextInt(12)).mkString(" "))
      }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // verbatim old form
    val words = docs.select(col("doc_id"),
        explode(array_distinct(split(Dedup.normalize(col("text")), " "))).as("__w"))
      .withColumn("__h", md5(col("__w")))
      .select(col("doc_id") +: (0 until 16).map(c =>
        conv(substring(col("__h"), c + 1, 1), 16, 10).cast("long").as(s"__c$c")): _*)
    val votes = (0 until 64).map { i =>
      sum(when(shiftright(col(s"__c${i / 4}"), i % 4).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"__b$i")
    }
    val packed = (0 until 64).map(i =>
        when(col(s"__b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val old = words.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val neu = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(old == neu, {
      val keys = (old.keySet ++ neu.keySet).toSeq.sorted
      keys.filter(k => old.get(k) != neu.get(k)).map(k =>
        s"id=$k text=${texts(k.toInt)}: old=${old.get(k)} new=${neu.get(k)}")
        .mkString("; ")
    })
  }

  test("TextStats rewrites ≡ old split/aggregate/filter(isin) forms") {
    val texts = Seq(
      Some("the quick brown fox"), Some("le la les et de"), Some(""),
      Some("   "), Some("\tword"), Some("word\t"), Some("a  b\t\tc"),
      Some("der die das el la 的"), Some("é 漢字 𝔘 the of"),
      Some("solo"), None) ++
      (1 to 20).map { i =>
        val r = new scala.util.Random(i)
        Some((0 until r.nextInt(25)).map(_ =>
          Seq("the", "la", "von", "con", "của", "xyz", "w" + r.nextInt(9))(
            r.nextInt(7))).mkString(" "))
      }
    val df = texts.toDF("text")
    // verbatim old forms
    val oldTok = when(trim(col("text")) === "" || col("text").isNull, 0)
      .otherwise(size(split(trim(col("text")), "\\s+")))
    val oldAwlWords = split(trim(col("text")), "\\s+")
    val oldAwl = when(trim(col("text")) === "" || col("text").isNull, 0.0)
      .otherwise(aggregate(oldAwlWords, lit(0L), (acc, w) => acc + length(w))
        .cast("double") / size(oldAwlWords))
    def oldNormW = split(regexp_replace(trim(lower(col("text"))), "\\s+", " "), " ")
    val oldSwHits = filter(oldNormW,
      w => w.isin(TextStats.stopwords("en").map(_.asInstanceOf[Any]): _*))
    val oldSw = when(size(oldNormW) === 0, 0.0)
      .otherwise(size(oldSwHits).cast("double") / size(oldNormW))
    val oldLang = {
      val scored = TextStats.stopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
        struct(size(filter(oldNormW,
          w => w.isin(sw.map(_.asInstanceOf[Any]): _*))).as("score"),
          lit(lang).as("lang"))
      }
      val best = array_max(array(scored: _*))
      when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
    }
    val bad = df.select(col("text"),
        oldTok.as("ot"), TextStats.tokenCount(col("text")).as("nt"),
        oldAwl.as("oa"), TextStats.avgWordLen(col("text")).as("na"),
        oldSw.as("os"), TextStats.stopwordRatio(col("text")).as("ns"),
        oldLang.as("ol"), TextStats.langId(col("text")).as("nl"))
      .collect().filterNot { r =>
        r.get(1) == r.get(2) && r.get(3) == r.get(4) &&
          r.get(5) == r.get(6) && r.get(7) == r.get(8)
      }
    assert(bad.isEmpty, bad.map(_.toString).mkString("; "))
  }

  test("LmScore gram builders ≡ old zip_with/slice position builders") {
    val texts = Seq(
      Some("a b c d e f g"), Some("a b"), Some("solo"), Some(""),
      Some("\ttab lead x y z"), Some("trail tab x y z\t"),
      Some("a a a a a a"), Some("é 漢 𝔘 w1 w2 w3"), None) ++
      (1 to 15).map { i =>
        val r = new scala.util.Random(i)
        Some((0 until r.nextInt(12)).map(_ => "t" + r.nextInt(5)).mkString(" "))
      }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val words = split(Dedup.normalize(col("text")), " ")
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // n = 2 (pair form)
    val oldPairs = docs.select(col("doc_id"), explode(zip_with(
        words, slice(words, lit(2), size(words)),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
      .where(col("w2").isNotNull)
    val newPairs = docs.select(col("doc_id"), explode(
        graft.expressions.WordShingles.word_shingles(
          Dedup.normalize(col("text")), 2)).as("__g"))
      .where(length(col("__g")) - length(translate(col("__g"), " ", "")) === 1)
      .select(col("doc_id"), substring_index(col("__g"), " ", 1).as("w1"),
        substring_index(col("__g"), " ", -1).as("w2"))
    assert(multiset(oldPairs) == multiset(newPairs))
    // n = 5 (the gramsOf form)
    val n = 5
    val oldG = docs.select(col("doc_id"), explode(when(size(words) >= n,
        transform(sequence(lit(1), size(words) - lit(n - 1)),
          i => slice(words, i, lit(n))))
        .otherwise(array().cast("array<array<string>>"))).as("__g"))
      .select(col("doc_id") +: (1 to n).map(k =>
        element_at(col("__g"), k).as(s"w$k")): _*)
      .where(col(s"w$n").isNotNull)
    val partsN = split(col("__g"), " ")
    val newG = docs.select(col("doc_id"), explode(
        graft.expressions.WordShingles.word_shingles(
          Dedup.normalize(col("text")), n)).as("__g"))
      .where(length(col("__g")) - length(translate(col("__g"), " ", "")) === n - 1)
      .select(col("doc_id") +: (1 to n).map(k =>
        partsN.getItem(k - 1).as(s"w$k")): _*)
    assert(multiset(oldG) == multiset(newG))
  }

  test("profile join composition stays cheap: gopher keep counts match") {
    // composition smoke: Gopher.profile(keep) over the doc fixture used
    // by gates still produces the same keep count as the rule-by-rule
    // conjunction (guards the staged-projection restructure)
    val docs = Seq(
      "the quick brown fox jumps with many of those words that have been",
      "short", "- a\n- b\n- c", "word " * 60).map(Option(_)).toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    val p = Gopher.profile(docs, "doc_id", "text", minStopwords = 0)
    val viaRules = p.where(col("ok_words") && col("ok_mean_len") &&
      col("ok_symbol") && col("ok_bullet") && col("ok_ellipsis") &&
      col("ok_alpha") && col("ok_stop")).count()
    assert(p.where(col("keep")).count() == viaRules)
  }
}
