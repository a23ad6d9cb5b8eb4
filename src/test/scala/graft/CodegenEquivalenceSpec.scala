package graft

import graft.expressions.{BoundLong, CharEntropy, HashExpressions, LevenshteinBytes, NormalizeText, TokensOutsideIntervals, VectorExpressions}
import graft.expressions.{LayoutExpressions => LayoutExprs}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Codegen/interpreted EQUIVALENCE for every custom Catalyst kernel
  * (round 19): each of the engine's 26 `doGenCode` expressions must
  * produce bit-identical results under
  *  - `CODEGEN_ONLY` + whole-stage codegen (the hot-path plan the
  *    bench measures — this mode also proves every kernel actually
  *    COMPILES under codegen rather than silently falling back), and
  *  - `NO_CODEGEN` + whole-stage off (the `eval()` path Spark uses on
  *    fallback and in some interpreted contexts).
  * A divergence between `eval` and `doGenCode` (null handling, boxing,
  * loop bounds) would otherwise surface only when Spark happens to
  * fall back mid-plan — far from the query that exposes it. Inputs
  * include the adversarial shapes: empty/null text, empty token
  * arrays, unicode (CJK/emoji/combining), whitespace runs, zero and
  * negative vector components, null vectors, negative intDiv
  * operands. */
class CodegenEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val centroids: Array[Array[Double]] =
    Array.tabulate(4, 8)((c, d) => (c + 1) * 0.5 - d * 0.25)
  private val codebooks: Array[Array[Array[Double]]] =
    Array.tabulate(2, 4, 4)((m, c, d) => m * 1.5 + c * 0.5 - d * 0.125)
  private val mu: Array[Double] = Array.tabulate(8)(d => 0.1 * d)
  private val comps: Array[Array[Double]] =
    Array(Array.tabulate(8)(d => if (d == 0) 1.0 else 0.0),
      Array.tabulate(8)(d => if (d == 3) 1.0 else 0.0))

  private def inputs(): DataFrame = {
    val texts = Seq(
      "", "x", "the quick brown fox jumps over the lazy dog",
      "a a a a a a a a a a a a", "汉字 テスト 🦜 mixé çombininǵ text",
      "  leading   and   trailing  ", "tab\tand\nnewline separated words",
      ("tok " * 40).trim, "UPPER lower MiXeD case WORDS here",
      "punct, punct; punct! (punct) [punct]")
    val rnd = new scala.util.Random(99)
    val rows = (0 until 48).map { i =>
      val t1 = if (i == 5) null else texts(i % texts.size) + (if (i >= texts.size) s" extra$i word${i % 7}" else "")
      val t2 = texts((i + 3) % texts.size)
      val vecA = if (i == 7) null else Array.fill(8)(rnd.nextInt(9) - 4 + 0.25 * rnd.nextInt(4))
      val vecB = Array.fill(8)(rnd.nextInt(9) - 4 + 0.5 * rnd.nextInt(2))
      val da = rnd.nextInt(2001) - 1000L
      val db = 1L + rnd.nextInt(99)
      val x = rnd.nextInt(1 << 16).toLong
      val y = rnd.nextInt(1 << 16).toLong
      (i, t1, t2, vecA, vecB, da, db, x, y)
    }
    rows.toDF("id", "text", "text2", "vecA", "vecB", "da", "db", "x", "y")
      .repartition(4)
  }

  /** Every kernel as an output column over the input frame. */
  private def kernels(df: DataFrame): DataFrame = {
    val tokens = split(coalesce(col("text"), lit("")), " ")
    val tokens2 = split(col("text2"), " ")
    val sig = HashExpressions.minHashSignature(tokens, 16)
    val sig2 = HashExpressions.minHashSignature(tokens2, 16)
    val grams48 = HashExpressions.md5GramHashes48(tokens, 2)
    val codes = VectorExpressions.pqEncode(col("vecA"), codebooks)
    val lut = VectorExpressions.pqLut(col("vecB"), codebooks)
    df.select(col("id"),
      sig.as("minhash_sig"),
      HashExpressions.signatureAgreement(sig, sig2).as("agree"),
      HashExpressions.winnowFingerprints(tokens, 3, 4).as("winnow"),
      HashExpressions.gramHashes(tokens, 2).as("grams"),
      HashExpressions.minHashTokens(tokens, 3, 16).as("mht"),
      grams48.as("md5g"),
      HashExpressions.hashedWeightSum(tokens, 64, 21).as("hws"),
      HashExpressions.intDiv(col("da"), col("db")).as("idiv"),
      HashExpressions.packLowBits(sig).as("pack"),
      HashExpressions.chunkHashes48(tokens, 4).as("chunk"),
      HashExpressions.positionalGramHashes48(tokens, 3).as("posg"),
      HashExpressions.slidingWindowHashes(grams48, lit(3)).as("swh"),
      CharEntropy.charEntropyStats(col("text")).as("entropy"),
      LevenshteinBytes.levBytes(col("text"), col("text2")).as("lev"),
      NormalizeText.normText(col("text")).as("norm"),
      TokensOutsideIntervals.tokensOutside(tokens,
        array(lit(1L), lit(3L), lit(6L), lit(9L))).as("outside"),
      VectorExpressions.vecDot(col("vecA"), col("vecB")).as("dot"),
      VectorExpressions.vecL2Sq(col("vecA"), col("vecB")).as("l2sq"),
      VectorExpressions.lshSignatures(col("vecA"), 8, 4, 2).as("lsh"),
      VectorExpressions.nearestCentroids(col("vecA"), centroids, 2).as("nc"),
      VectorExpressions.centroidAssignL2(col("vecA"), centroids).as("ca"),
      codes.as("pq_codes"),
      VectorExpressions.adcDistance(codes, lut).as("adc"),
      VectorExpressions.signedProjection(col("vecA"), 8, 4, 7L).as("sp"),
      VectorExpressions.residualEnergy(col("vecA"), mu, comps).as("re"),
      LayoutExprs.zOrderKey(col("x"), col("y"), 16).as("zorder"))
  }

  private def collectUnder(wholeStage: Boolean, factoryMode: String,
                           build: DataFrame => DataFrame = kernels): Seq[String] = {
    val wsKey = "spark.sql.codegen.wholeStage"
    val fmKey = "spark.sql.codegen.factoryMode"
    val wsPrev = spark.conf.get(wsKey)
    val fmPrev = spark.conf.getOption(fmKey)
    spark.conf.set(wsKey, wholeStage.toString)
    spark.conf.set(fmKey, factoryMode)
    try build(inputs()).orderBy("id").collect().toSeq.map(_.toString)
    finally {
      spark.conf.set(wsKey, wsPrev)
      fmPrev match {
        case Some(v) => spark.conf.set(fmKey, v)
        case None => spark.conf.unset(fmKey)
      }
    }
  }

  test("all 26 custom kernels: CODEGEN_ONLY results equal NO_CODEGEN results on adversarial inputs") {
    val gen = collectUnder(wholeStage = true, factoryMode = "CODEGEN_ONLY")
    val interp = collectUnder(wholeStage = false, factoryMode = "NO_CODEGEN")
    assert(gen.size === interp.size)
    gen.zip(interp).zipWithIndex.foreach { case ((g, i), idx) =>
      assert(g === i, s"row $idx diverged between codegen and interpreted")
    }
  }

  test("BoundLong: CODEGEN_ONLY results equal NO_CODEGEN results and the literals it stands for") {
    val base = 3L << 40
    val micros = 1704164645000000L // 2024-01-02 03:04:05 UTC
    def bound(df: DataFrame): DataFrame = df.select(col("id"),
      (BoundLong.long(base) + col("x")).as("packed"),
      (col("x") < BoundLong.long(30000L)).as("below"),
      BoundLong.timestampMicros(micros).as("ts"))
    def literal(df: DataFrame): DataFrame = df.select(col("id"),
      (lit(base) + col("x")).as("packed"),
      (col("x") < lit(30000L)).as("below"),
      lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(micros / 1000000L))).as("ts"))
    val gen = collectUnder(wholeStage = true, factoryMode = "CODEGEN_ONLY", build = bound)
    val interp = collectUnder(wholeStage = false, factoryMode = "NO_CODEGEN", build = bound)
    assert(gen === interp)
    assert(gen === collectUnder(wholeStage = true, factoryMode = "CODEGEN_ONLY", build = literal))
  }

  test("Verify.assertFlat rejects nested top-level gate outputs and passes flat ones (the q248 driver-crash class)") {
    val flat = Seq((1L, "a", 0.5)).toDF("id", "s", "d")
    assert(Verify.assertFlat("ok", flat) eq flat)
    val nested = Seq((1L, Seq(0.5, 0.25))).toDF("id", "qs")
    val err = intercept[IllegalArgumentException](Verify.assertFlat("bad", nested))
    assert(err.getMessage.contains("qs") && err.getMessage.contains("unpack"),
      s"wrong rejection: ${err.getMessage}")
  }
}
