package graft.dedup

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.functions.{Hash64, MinHashShingles, MinHashSignature, hashes}
import graft.text.TextFunctions

/**
 * The fused MinHash-LSH and quality kernels against the Column chains
 * they replaced, which live on here as references: the kernels must
 * reproduce them exactly, in generated and in interpreted code.
 */
class DedupKernelSpec extends SparkSpec {

  // ---- references: the Column-chain formulations the kernels replace ----

  private def refSignature(toks: Column, k: Int, numHashes: Int): Column =
    hashes.minhash(TextFunctions.shingles(toks, k), numHashes, 42L)

  private def refBandBuckets(sig: Column, bands: Int, rows: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => aggregate(
        slice(sig, b * rows + 1, lit(rows)),
        lit(0x9e3779b97f4a7c15L),
        (acc, x) => shiftleft(acc, 7).bitwiseOR(shiftrightunsigned(acc, 57)).bitwiseXOR(x)))

  private def refBuckets(sig: DataFrame, bands: Int, rows: Int): DataFrame =
    sig.where(col("sig")(0) =!= Long.MaxValue)
      .select(col("id"), posexplode(refBandBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket")))

  private def refCandidates(sig: DataFrame, numHashes: Int, bands: Int, maxBucketSize: Int): DataFrame = {
    val capped = refBuckets(sig, bands, numHashes / bands)
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .where(col("_n") <= maxBucketSize)
      .drop("_n")
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
  }

  private def refQuality(text: Column, t: Column): Column = {
    val lenScore = least(size(t).cast("double") / 64.0, lit(1.0))
    val uniq = TextFunctions.uniqueRatio(t)
    val stop = TextFunctions.stopwordRatio(t)
    val punct = TextFunctions.punctRatio(text)
    (lenScore * 0.25 + uniq * 0.25 +
      least(stop * 4.0, lit(1.0)) * 0.25 +
      (lit(1.0) - least(punct * 4.0, lit(1.0))) * 0.25)
  }

  /** reference FNV-1a over a byte array (the copying form the in-place one replaced) */
  private def refFnv(bytes: Array[Byte]): Long =
    bytes.foldLeft(Hash64.FnvBasis)((h, b) => (h ^ (b & 0xffL)) * 0x100000001b3L)

  // ---- inputs ----

  private val edgeTexts: Seq[String] = Seq(
    null, "", "   ", "\t\n", "\ta\tb\nc  d\r\n e\n", "one", "one two", "one two three four",
    "a b a b a b a b a b", "the the the the the the",
    "İSTANBUL ΣΊΣΥΦΟΣ Straße ĞÜŞ ÇÖ ΑΒΓ ǅemal ﬁx İi",
    "Hello, world!!! (yes) -- [no]; {maybe}: 'q' \"r\"?... a-b-c ,.;:!?'\"()[]{}-",
    "...!!!???", "the cat and the dog of the house in a box with it on it as at by or to an")

  /** (id, text): 200 seeded documents of 0-150 tokens — mixed case,
    * stopwords, punctuation and runs of mixed whitespace — then the
    * edge documents */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = TextFunctions.stopwords ++ (0 until 300).map(i => s"w$i") ++
      Seq("Spark", "ÉTÉ", "naïve", "(see", "note)", "end.", "a,b", "--", "\"quoted\"")
    val spaces = Seq(" ", " ", " ", "  ", "\t", "\n", " \r\n")
    val generated = (0 until 200).map { _ =>
      Seq.fill(rnd.nextInt(151))(vocab(rnd.nextInt(vocab.length)))
        .map(_ + spaces(rnd.nextInt(spaces.length))).mkString
    }
    (generated ++ edgeTexts).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  /** token arrays with null elements, which split never yields */
  private lazy val nullToks: DataFrame = {
    import spark.implicits._
    Seq(Seq("a", null, "b"), Seq(null, null, "c", "d"), Seq(null), Seq(null, "x"),
        Seq("p", "q", null), Seq(null, null, null, null, null, "z"), Seq("", null, ""),
        Seq("the", null, "the", "of"), null)
      .zipWithIndex.map { case (t, i) => (i.toLong, if (t == null) null else s"doc $i", t) }
      .toDF("id", "text", "toks")
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** runs `body` in generated code, then with code generation off */
  private def bothCodePaths(body: => Unit): Unit = {
    body
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)
  }

  private def assertSameColumns(df: DataFrame, ref: Column, got: Column): Unit = {
    val rows = df.select(col("id"), ref.as("ref"), got.as("got")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.get(1) === r.get(2), s"row ${r.get(0)}"))
  }

  // ---- specs ----

  test("minhash_shingles equals minhash(shingles(tokens)) lane for lane") {
    bothCodePaths {
      for (k <- Seq(1, 2, 3, 5); numHashes <- Seq(16, 128)) {
        assertSameColumns(docs,
          refSignature(TextFunctions.tokens(col("text")), k, numHashes),
          hashes.minhashShingles(TextFunctions.tokens(col("text")), k, numHashes, 42L))
        assertSameColumns(nullToks,
          refSignature(col("toks"), k, numHashes),
          hashes.minhashShingles(col("toks"), k, numHashes, 42L))
      }
    }
    val stub = docs.where(col("text").isNull)
      .select(hashes.minhashShingles(TextFunctions.tokens(col("text")), 3, 16, 42L))
      .head().getSeq[Long](0)
    assert(stub === Seq.fill(16)(Long.MaxValue))
  }

  test("band_buckets equals the rotate-xor HOF fold; the sentinel gets no bands") {
    bothCodePaths {
      for ((numHashes, bands) <- Seq(128 -> 32, 16 -> 4, 16 -> 16)) {
        val rows = numHashes / bands
        val sig = Dedup.minhashSignatures(docs, "id", "text", numHashes, 3, 42L).cache()
        assertSameColumns(sig.where(col("sig")(0) =!= Long.MaxValue),
          refBandBuckets(col("sig"), bands, rows), hashes.bandBuckets(col("sig"), bands, rows))
        val got = sig.select(col("id"),
          posexplode(hashes.bandBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket")))
        assert(got.collect().map(_.toString).sorted ===
          refBuckets(sig, bands, rows).collect().map(_.toString).sorted)
        assert(sig.where(col("sig")(0) === Long.MaxValue).count() > 0, "no stub documents")
        sig.unpersist()
      }
      // a short signature leaves the bands past its end at the seed
      val short = spark.sql("SELECT 0L AS id, array(5L, 6L, 7L) AS sig")
      assertSameColumns(short, refBandBuckets(col("sig"), 3, 2), hashes.bandBuckets(col("sig"), 3, 2))
    }
  }

  test("candidates from one bucket aggregate equal the window-capped self-join") {
    import spark.implicits._
    // near-dup families of six, so buckets of six registrations exist
    val base = docs.where(col("id") < 6).collect().map(_.getString(1))
    val family = base.zipWithIndex.flatMap { case (t, f) =>
      (1 to 5).map(v => (10000L + 10 * f + v, s"$t variant$v")) }.toSeq.toDF("id", "text")
    val sig = Dedup.minhashSignatures(docs.union(family), "id", "text", 128, 3, 42L).cache()
    val bySize = Seq(1000, 3, 2).map { cap =>
      val got = Dedup.candidatesFromSignatures(sig, 128, 32, cap).collect().map(_.toString).sorted
      val ref = refCandidates(sig, 128, 32, cap).collect().map(_.toString).sorted
      assert(got === ref, s"maxBucketSize $cap")
      cap -> got.length
    }.toMap
    assert(bySize(2) < bySize(3) && bySize(3) < bySize(1000), s"the cap never bit: $bySize")
    sig.unpersist()
  }

  test("hot bucket: an over-cap bucket yields no pairs, its documents still pair in other bands") {
    // 4 bands x 2 lanes; docs 0-4 share band 0, docs 0 and 1 also share band 2
    val sig = spark.sql(
      """SELECT id, array(7L, 7L, 100L + id, 200L + id,
        |  IF(id < 2, 9L, 300L + id), IF(id < 2, 9L, 400L + id), 500L + id, 600L + id) AS sig
        |FROM range(5)""".stripMargin)
    def pairs(cap: Int) = Dedup.candidatesFromSignatures(sig, 8, 4, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(1000) === (for (a <- 0L until 5L; b <- a + 1 until 5L) yield (a, b)).toSet)
    assert(pairs(5) === pairs(1000))
    assert(pairs(4) === Set((0L, 1L)))
    assert(pairs(1) === Set.empty)
  }

  test("quality_score equals the qualityScoreT arithmetic under both null sizings") {
    bothCodePaths {
      assertSameColumns(docs,
        refQuality(col("text"), TextFunctions.tokens(col("text"))),
        TextFunctions.qualityScore(col("text")))
      assertSameColumns(nullToks,
        refQuality(col("text"), col("toks")), TextFunctions.qualityScoreT(col("text"), col("toks")))
    }
    def nullTextScore(): Double = {
      assertSameColumns(docs,
        refQuality(col("text"), TextFunctions.tokens(col("text"))),
        TextFunctions.qualityScore(col("text")))
      docs.where(col("text").isNull).select(TextFunctions.qualityScore(col("text"))).head().getDouble(0)
    }
    val ansi = withConf("spark.sql.ansi.enabled" -> "true")(nullTextScore())
    val legacy = withConf("spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.sizeOfNull" -> "true")(nullTextScore())
    assert(ansi === 0.5)
    assert(legacy === (-1.0 / 64.0) * 0.25 + 0.25)
  }

  test("in-place FNV-1a reads a string at a non-zero offset; minhash kernels return primitive arrays") {
    val bytes = "xx héllo wörld yy".getBytes(UTF_8)
    val view = UTF8String.fromBytes(bytes, 3, bytes.length - 6)
    assert(view.getBaseOffset === Platform.BYTE_ARRAY_OFFSET + 3L)
    assert(view.toString === "héllo wörld")
    assert(Hash64.fnv1a(Hash64.FnvBasis, view) === refFnv(view.getBytes))
    assert(Hash64.fnv1a(Hash64.FnvBasis, UTF8String.EMPTY_UTF8) === Hash64.FnvBasis)
    val grams = Literal.create(Seq("a b", "b c"),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    assert(MinHashSignature(grams, 16, 42L).eval(null).isInstanceOf[UnsafeArrayData])
    assert(MinHashShingles(grams, 2, 16, 42L).eval(null).isInstanceOf[UnsafeArrayData])
  }
}
