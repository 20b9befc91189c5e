package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, GraftColumnShim, Row}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Every native kernel, one table: generated code (whole-stage on,
  * `CODEGEN_ONLY`, no fallback to interpretation) must give exactly the
  * results and null-ness of interpreted evaluation (`NO_CODEGEN`) on
  * adversarial input — nulls, empty strings and arrays, ragged arrays,
  * null elements, NaN/±Inf, non-BMP code points, a 1 MB text, float and
  * double vectors. Each row also pins the kernel's result type, its
  * nullable flag and its result on the all-null first input row (the
  * null rules: `sign_bucket` → 0L, `minhash_affine` → k nulls, every
  * other kernel → null).
  */
class KernelCodegenSpec extends SparkSpec {
  import spark.implicits._

  private case class Case(name: String, input: String, kernel: Column,
                          dataType: DataType, nullable: Boolean, onNull: Any)

  private val mb: String = {
    val unit = "naïve 😀 𝔘𝔫𝔦 Ａ ﬁ the quick brown fox "
    unit * ((1 << 20) / unit.getBytes("UTF-8").length + 1)
  }
  private val texts: Seq[String] = Seq(null, "", " ", "  two  spaces ", "\tx\t",
    "x", "the quick brown fox jumps over the lazy dog the quick brown fox",
    "dup dup dup dup", "Cafe\u0301 naïve señor ﬁ Ａ ① ø đ", "Caf\u00e9 au lait",
    "Kỹ Sư Phần Mềm với tiếng Việt",
    "emoji 😀 astral 𝔘𝔫𝔦 pair 😀", "😀" * 40, "việt ngữ tiếng việt", "a" * 300, mb)

  private val inf = Double.PositiveInfinity
  private def v(xs: Double*): Option[Seq[Option[Double]]] = Some(xs.map(Some(_)))
  private val v4 = v(0.5, -1.5, 2.0, 0.25)
  private val vecPairs: Seq[(Option[Seq[Option[Double]]], Option[Seq[Option[Double]]])] = {
    val rnd = new scala.util.Random(7)
    Seq((None, None), (v(), v()), (v4, None), (v4, v(1, 2, 3)),
      (Some(Seq(Some(1.0), None, Some(2.0), Some(3.0))), v4),
      (v(Double.NaN, 1, 2, 3), v4), (v(inf, 1, 2, 3), v4), (v(-inf, 1, 2, 3), v4),
      (v(inf, 0, 0, 0), v(0, 0, 0, 0)), (v(-0.0, 0.0, -0.0, 0.0), v4),
      (v(1e300, 1e300, 1, 1), v(1e300, -1e300, 1, 1)), (v(1e-45, 3e38, 1, 1), v4)) ++
      (1 to 20).map(_ => (v(Seq.fill(4)(rnd.nextGaussian()): _*),
        v(Seq.fill(4)(rnd.nextGaussian()): _*)))
  }
  private val planes = Array(Array(1.0, -1.0, 1.0, -1.0), Array(1.0, 1.0, 1.0, 1.0),
    Array(-1.0, 1.0, 0.5, 0.0))
  private val coefs = IndexedSeq((1103515245L, 12345L), (69069L, 1L), (2147483646L, 0L))
  private val w = Array(0.5, -1.25, 3.0)
  private val sets = Array(Array("the", "a", "😀", "việt"), Array("dup", "the", "fox"))

  private lazy val frames: Map[String, DataFrame] = {
    def f(xs: Option[Seq[Option[Double]]]) = xs.map(_.map(_.map(_.toFloat)))
    def some[T](xs: T*): Option[Seq[Option[T]]] = Some(xs.map(Some(_)))
    val row = some(1.0, 2.0, 3.0)
    Map(
      "text" -> texts.toDF("t"),
      "pair" -> ((null: String, null: String) +:
        texts.tail.filter(_ != mb).flatMap(t => Seq((t, "the quick brown fox"),
          ("brown fox", t), (t, t.reverse))) :+ (mb, "naïve 😀") :+ ("naïve", mb))
        .toDF("l", "r"),
      "vec" -> vecPairs.map { case (a, b) => (f(a), f(b), a, b) }
        .toDF("af", "bf", "ad", "bd"),
      "adc" -> Seq[(Option[Seq[Option[Seq[Option[Double]]]]], Option[Seq[Option[Int]]])](
        (None, None), (None, some(0, 0)), (Some(Seq(row, row)), None),
        (Some(Seq(row, row)), some(0, 2)), (Some(Seq(row, row)), some(0)),
        (Some(Seq()), Some(Seq())), (Some(Seq(row, row)), Some(Seq(Some(0), None))),
        (Some(Seq(row, row)), some(3, 0)), (Some(Seq(row, row)), some(-1, 0)),
        (Some(Seq(None, row)), some(0, 0)),
        (Some(Seq(Some(Seq(Some(1.0), None)), row)), some(1, 1)),
        (Some(Seq(some(Double.NaN, inf), some(-inf, 0.0))), some(1, 0)),
        (Some(Seq(some(inf), some(-inf))), some(0, 0))).toDF("tbl", "codes"),
      "hashes" -> Seq[Option[Seq[Option[Long]]]](None, Some(Seq()), Some(Seq(None, None)),
        Some(Seq(Some(0L), None, Some(4294967295L))), some(17L, 3L, 17L),
        some(Seq.tabulate(200)(i => (i * 2654435761L) % 4294967296L): _*)).toDF("hs"),
      "sets" -> Seq[(Option[Seq[Option[String]]], Option[Seq[Option[String]]])](
        (None, None), (None, some("a")), (Some(Seq()), Some(Seq())),
        (Some(Seq()), some("a")), (Some(Seq(None, Some("a"), Some("b"))),
          Some(Seq(None, Some("b"), Some("c")))), (Some(Seq(None)), Some(Seq(None))),
        (some("a", "𝔘", "😀"), some("𝔘", "😀", "😁")), (some("", "a"), some("")),
        (some(texts.tail.sorted: _*), some(texts.tail.sorted.take(5): _*)))
        .toDF("a", "b"),
      "drop" -> Seq[(String, Option[Seq[Option[Int]]])]((null, None), (null, some(0)),
        ("a b", None), ("a b c", Some(Seq())), ("a b c", some(1)),
        ("  x  y ", some(0, 2, 99, -1)), ("😀 𝔘𝔫𝔦 b", some(1, 1)), ("", some(0)),
        (mb, some(0, 5, 1000, 1 << 30))).toDF("t", "p"),
      "dec" -> Seq[Option[Seq[Option[Double]]]](None, v(), v(1, 2), v(1, 2, 3, 4),
        Some(Seq(Some(1.0), None, Some(2.0))), v(Double.NaN, 1, 2), v(1, inf, 2),
        v(1, 2, -inf), v(-0.0, 0.0, 1e-20), v(0.1, 0.2, 0.3), v(123456.789, -9.87, 1e-15),
        v(1e11, 1e11, 1e11)).toDF("x"))
  }

  private val vecTypes = Seq("f" -> "float", "d" -> "double")
  private val k = VecKernels
  private val cases: Seq[Case] =
    vecTypes.flatMap { case (a, at) => vecTypes.flatMap { case (b, bt) => Seq(
      Case(s"vec_dot($at, $bt)", "vec", k.vec_dot(col(s"a$a"), col(s"b$b")),
        DoubleType, true, null),
      Case(s"vec_l2sq($at, $bt)", "vec", k.vec_l2sq(col(s"a$a"), col(s"b$b")),
        DoubleType, true, null))
    } } ++ vecTypes.flatMap { case (a, at) => Seq(
      Case(s"vec_norm($at)", "vec", k.vec_norm(col(s"a$a")), DoubleType, true, null),
      Case(s"sign_bucket($at)", "vec", k.sign_bucket(col(s"a$a"), planes),
        LongType, false, 0L))
    } ++ Seq(
      Case("adc_sum", "adc", k.adc_sum(col("tbl"), col("codes")), DoubleType, true, null),
      Case("minhash_affine", "hashes", MinhashAffine.minhash_affine(col("hs"), coefs,
        2147483647L), ArrayType(LongType, containsNull = true), false, List(None, None, None)),
      Case("dec15_dot", "dec", Dec15Dot.dec15_dot(col("x"), w), DoubleType, true, null),
      Case("jaccard_sorted", "sets", JaccardSorted.jaccard_sorted(col("a"), col("b")),
        DoubleType, true, null),
      Case("jaro_winkler", "pair", JaroWinkler.jaro_winkler(col("l"), col("r")),
        DoubleType, true, null),
      Case("md5_u32", "text", Md5U32.md5_u32(col("t")), LongType, true, null),
      Case("rolling_hash_min(k = 8)", "text", RollingHashMin.rolling_hash_min(col("t"), 8),
        LongType, true, null),
      Case("rolling_hash_min(k = 1)", "text", RollingHashMin.rolling_hash_min(col("t"), 1),
        LongType, true, null),
      Case("simhash_md5", "text", SimhashMd5.simhash_md5(col("t")), LongType, true, null),
      Case("unicode_nfc", "text", UnicodeNormalize.unicode_nfc(col("t")),
        StringType, true, null),
      Case("unicode_nfkc", "text", UnicodeNormalize.unicode_nfkc(col("t")),
        StringType, true, null),
      Case("strip_accents", "text", UnicodeNormalize.strip_accents(col("t")),
        StringType, true, null),
      Case("strip_accents_nfkc", "text", NativeKernel(col("t"))(
        UnicodeNormalize(_, strip = true, compat = true)), StringType, true, null),
      Case("content_chunk_bounds", "text", ContentChunkBounds.content_chunk_bounds(col("t")),
        ArrayType(IntegerType, containsNull = false), true, null),
      Case("content_chunk_bounds(4, 2, 4, 16)", "text",
        ContentChunkBounds.content_chunk_bounds(col("t"), 4, 2, 4, 16),
        ArrayType(IntegerType, containsNull = false), true, null),
      Case("word_drop_positions", "drop",
        WordDropPositions.word_drop_positions(col("t"), col("p")), StringType, true, null),
      Case("word_set_hits", "text", WordSetHits.word_set_hits(col("t"), sets),
        ArrayType(IntegerType, containsNull = false), true, null)) ++
      Seq((1, false), (3, false), (3, true), (8, true)).map { case (n, d) =>
        Case(s"word_shingles(n = $n, distinct = $d)", "text",
          WordShingles.word_shingles(col("t"), n, d),
          ArrayType(StringType, containsNull = true), true, null)
      }

  /** Runs `f` with codegen on (whole-stage, CODEGEN_ONLY, no fallback)
    * or off (NO_CODEGEN); AQE off so the executed plan is final.
    */
  private def mode[T](codegen: Boolean)(f: => T): T = {
    val conf = Map(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = conf.keys.map(key => key -> spark.conf.getOption(key))
    conf.foreach { case (key, value) => spark.conf.set(key, value) }
    try f
    finally saved.foreach { case (key, value) =>
      value.fold(spark.conf.unset(key))(spark.conf.set(key, _)) }
  }

  /** Doubles by their bits (NaN equals NaN, −0.0 differs from 0.0),
    * null as None.
    */
  private def canon(x: Any): Any = x match {
    case null => None
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case other => other
  }

  /** The case over an RDD scan: a local relation would let the
    * optimizer fold the projection away before execution.
    */
  private def run(c: Case): (DataFrame, Seq[Any]) = {
    val in = frames(c.input)
    val df = spark.createDataFrame(in.rdd, in.schema).select(c.kernel.as("out"))
    (df, df.collect().toSeq.map((r: Row) => canon(r.get(0))))
  }

  for (c <- cases) test(s"${c.name}: codegen ≡ interpreted on adversarial input") {
    val (df, compiled) = mode(codegen = true)(run(c))
    val (_, interpreted) = mode(codegen = false)(run(c))
    assert(compiled.length == frames(c.input).count())
    assert(compiled == interpreted)
    assert(df.schema("out").dataType == c.dataType)
    assert(df.schema("out").nullable == c.nullable)
    assert(compiled.head == canon(c.onNull))
  }

  test("the table covers all 17 kernels") {
    val kernels = cases.map(c => GraftColumnShim.expression(c.kernel).getClass).distinct
    assert(kernels.forall(classOf[NativeKernel].isAssignableFrom))
    assert(kernels.size == 17)
  }

  test("adc_sum, vec_dot and minhash_affine projections run in whole-stage codegen") {
    def inWholeStage(plan: SparkPlan, kernel: Class[_]): Boolean =
      plan.collect { case w: WholeStageCodegenExec => w }.exists(_.child.exists {
        case p: ProjectExec => p.projectList.exists(_.exists(kernel.isInstance))
        case _ => false
      })
    for ((name, kernel) <- Seq("adc_sum" -> classOf[AdcSum],
        "vec_dot(float, double)" -> classOf[VecDot], "minhash_affine" -> classOf[MinhashAffine])) {
      val plan = mode(codegen = true)(run(cases.find(_.name == name).get)._1
        .queryExecution.executedPlan)
      assert(inWholeStage(plan, kernel), s"$name:\n$plan")
    }
  }
}
