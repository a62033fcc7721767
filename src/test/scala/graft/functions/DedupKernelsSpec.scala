package graft.functions

import graft.SparkTestSession
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Bit-parity of the one-pass winnow and MinHash kernels against the
  * declarative Spark chains they replaced: the per-character gram explode
  * + packed-key window selection, and the shingle explode + k `min`
  * aggregates. Spark's own `length`/`substr`/`md5` define the reference,
  * so codepoint walking over multi-byte text is checked, not assumed. */
class DedupKernelsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- references: the declarative chains, kept here verbatim in shape ----

  /** The pre-kernel selection: one row per gram position, a packed
    * `hash(40b) ∥ pos(21b) ∥ validStart(1b)` key, a w-row window `min`
    * ordered by position, and the gram text recovered by a join back. */
  private def declarativeWinnow(docs: DataFrame, minLen: Int, noise: Int): DataFrame = {
    val w = minLen - noise + 1
    val posMask = (1L << 21) - 1
    val len = length(col("text"))
    val occ = docs.where(len >= minLen)
      .select(col("id"), (len - (minLen - 1)).as("__last"),
        explode(sequence(lit(1), len - (noise - 1), lit(1))).as("pos"),
        col("text"))
      .select(col("id"),
        ((conv(substring(md5(col("text").substr(col("pos"), lit(noise))), 1, 10),
            16, 10).cast("long") * lit(1L << 22))
          + (col("pos").cast("long") * lit(2L))
          + when(col("pos") <= col("__last"), lit(1L)).otherwise(lit(0L)))
          .as("__key"))
    val frame = Window.partitionBy(col("id"))
      .orderBy(shiftright(col("__key"), 1).bitwiseAND(lit(posMask)))
      .rowsBetween(Window.currentRow, w - 1)
    occ.withColumn("__win", min(col("__key")).over(frame))
      .where(col("__key").bitwiseAND(lit(1L)) === lit(1L))
      .select(col("id"),
        shiftright(col("__win"), 1).bitwiseAND(lit(posMask)).cast("int").as("pos"))
      .dropDuplicates("id", "pos")
      .join(docs.select(col("id"), col("text")), Seq("id"))
      .select(col("id"), col("pos"),
        col("text").substr(col("pos"), lit(noise)).as("gram"))
  }

  private def kernelWinnow(docs: DataFrame, minLen: Int, noise: Int): DataFrame =
    docs.select(col("id"),
        explode(DedupKernels.winnow(col("text"), minLen, noise)).as("f"))
      .select(col("id"), col("f.pos").as("pos"), col("f.gram").as("gram"))

  private def fps(df: DataFrame): Seq[(Long, Int, String)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted

  /** The pre-kernel signature: explode the shingle set, one md5 per
    * shingle, k `min` aggregates grouped by id. */
  private def declarativeMinhash(sets: DataFrame, k: Int): DataFrame = {
    val hm = conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long") % Dedup.MinhashP
    val mins = Dedup.minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("__hm") + lit(b)) % Dedup.MinhashP).as(s"mh$i")
    }
    sets.select(col("id"), explode(col("shingles")).as("shingle"))
      .withColumn("__hm", hm)
      .groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
  }

  private def sigs(df: DataFrame, k: Int): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap

  // ---- fixtures ----

  private val multiByte = Seq(
    "東京都の天気は晴れ、明日も晴れの予報です。東京都の天気は晴れ",          // CJK, 3-byte
    "emoji 😀 run 😀😀 and 🎉 party 🎉 with more 😀 text around it",  // 4-byte
    "mixed café naïve 東京 😀 ascii and back again café naïve 東京 😀",
    "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",                  // every hash ties
    "😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀")        // 4-byte run

  private def randomCorpus(rnd: Random, n: Int, alphabet: String): Seq[String] =
    Seq.fill(n) {
      val cps = alphabet.codePoints().toArray
      val len = rnd.nextInt(70)
      val sb = new java.lang.StringBuilder
      (0 until len).foreach(_ => sb.appendCodePoint(cps(rnd.nextInt(cps.length))))
      sb.toString
    }

  test("winnow kernel matches the declarative window selection on multi-byte and random text") {
    val rnd = new Random(7071L)
    val texts = multiByte ++ randomCorpus(rnd, 60, "ab") ++
      randomCorpus(rnd, 60, "ab東京😀é ") ++ randomCorpus(rnd, 40, "abcdefgh")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for ((minLen, noise) <- Seq((30, 21), (12, 5), (8, 8), (6, 1), (3, 2))) {
      val want = fps(declarativeWinnow(docs, minLen, noise))
      val got = fps(kernelWinnow(docs, minLen, noise))
      assert(got === want, s"minLen=$minLen noise=$noise")
      assert(got.nonEmpty)
    }
  }

  test("winnow kernel edge cases: length exactly minLen, w = 1, one-character runs") {
    // exactly minLen codepoints -> one full window -> exactly one fingerprint
    val exact = "ab東京😀cd東京😀efgh東京😀ij"
    val n = exact.codePointCount(0, exact.length)
    val docs = Seq((1L, exact), (2L, "z" * 30), (3L, "😀" * 30)).toDF("id", "text")
    val one = fps(kernelWinnow(docs.where(col("id") === 1L), n, 4))
    assert(one.size === 1)
    assert(one === fps(declarativeWinnow(docs.where(col("id") === 1L), n, 4)))
    // minLen == noise: w = 1, every gram position is its own window
    val w1 = fps(kernelWinnow(docs, 5, 5))
    assert(w1 === fps(declarativeWinnow(docs, 5, 5)))
    assert(w1.count(_._1 == 1L) === n - 5 + 1)
    // a single-character run: every hash ties, the leftmost position wins
    // each window, so every position is selected (density 1)
    val run = fps(kernelWinnow(docs.where(col("id") =!= 1L), 12, 5))
    assert(run === fps(declarativeWinnow(docs.where(col("id") =!= 1L), 12, 5)))
    assert(run.filter(_._1 == 2L).map(_._2) === (1 to 30 - 12 + 1))
    assert(run.filter(_._1 == 3L).map(_._3).distinct === Seq("😀" * 5))
  }

  test("winnow kernel: NULL, empty and short text yield an empty array") {
    val docs = Seq((1L, Option.empty[String]), (2L, Option("")), (3L, Option("short")))
      .toDF("id", "text")
    val got = docs.select(col("id"), DedupKernels.winnow(col("text"), 8, 3).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[AnyRef](1)).toMap
    assert(got.values.forall(_.isEmpty) && got.size === 3)
    assert(kernelWinnow(docs, 8, 3).count() === 0)
    assert(WinnowKernel.eval(null, 8, 3).numElements() === 0)
  }

  test("winnow kernel: direct (interpreted) eval equals the DataFrame result") {
    for (t <- multiByte; (minLen, noise) <- Seq((12, 5), (30, 21))) {
      val direct = WinnowKernel.eval(UTF8String.fromString(t), minLen, noise)
      val directRows = (0 until direct.numElements()).map { i =>
        val r = direct.getStruct(i, 2)
        (r.getInt(0), r.getUTF8String(1).toString)
      }
      val viaDf = fps(kernelWinnow(Seq((1L, t)).toDF("id", "text"), minLen, noise))
        .map(x => (x._2, x._3))
      assert(directRows === viaDf, s"text=$t")
    }
  }

  test("winnowFingerprints fails loudly on a 2^21-character document, naming its id") {
    val big = "ab" * (1 << 20) // 2^21 chars, one past the 21 position bits
    val docs = Seq((4242L, big), (1L, "a short ordinary document of text")).toDF("doc_id", "text")
    val e = intercept[Exception](
      Dedup.winnowFingerprints(docs, "doc_id", "text").collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    val msgs = chain(e).filter(_ != null).mkString(" | ")
    assert(msgs.contains("Dedup.winnowFingerprints: document longer than 2097151 chars"), msgs)
    assert(msgs.contains("(id 4242)"), msgs)
  }

  test("minhash kernel matches the explode + min aggregates; empty sets stay absent") {
    val rnd = new Random(9091L)
    val words = Seq("alpha", "beta", "gamma", "東京", "😀", "café", "x", "")
    val rows = (0 until 120).map { i =>
      val n = if (i % 17 == 0) 0 else 1 + rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.size)) + rnd.nextInt(50)).distinct)
    }
    val sets = rows.toDF("id", "shingles")
    for (k <- Seq(1, 16)) {
      val want = sigs(declarativeMinhash(sets, k), k)
      val got = sigs(sets.where(size(col("shingles")) > 0)
        .select(col("id") +: (0 until k).map(i => DedupKernels.minhash(
          col("shingles"), Dedup.minhashCoeffs(k), Dedup.MinhashP)(i).as(s"mh$i")): _*), k)
      assert(got === want, s"k=$k")
      // through the operator: the set frame in, empty sets absent
      val viaOp = sigs(Dedup.minhashSignatures(sets, "id", k), k)
      assert(viaOp === want, s"k=$k (operator)")
      assert(!viaOp.contains(0L) && viaOp.size === rows.count(_._2.nonEmpty))
    }
  }

  test("minhash kernel: NULL and empty arrays yield NULL, direct eval equals the DataFrame") {
    val sets = Seq((1L, Option.empty[Seq[String]]), (2L, Option(Seq.empty[String])),
      (3L, Option(Seq("a b c", "b c d")))).toDF("id", "shingles")
    val coeffs = Dedup.minhashCoeffs(4)
    val got = sets.select(col("id"),
        DedupKernels.minhash(col("shingles"), coeffs, Dedup.MinhashP).as("mh"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(got(1L).isEmpty && got(2L).isEmpty)
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](UTF8String.fromString("a b c"), UTF8String.fromString("b c d")))
    val direct = MinhashKernel.eval(arr, coeffs.map(_._1).toArray,
      coeffs.map(_._2).toArray, Dedup.MinhashP).toLongArray().toSeq
    assert(got(3L) === Some(direct))
    assert(Dedup.minhashSignatures(sets, "id", 4).count() === 1)
  }

  test("kernels reject wrong input types at analysis time") {
    val e1 = intercept[Exception](
      Seq(1).toDF("x").select(DedupKernels.winnow(col("x"), 8, 3)).collect())
    assert(e1.getMessage.toLowerCase.contains("string"))
    val e2 = intercept[Exception](
      Seq(1).toDF("x").select(DedupKernels.minhash(col("x"),
        Dedup.minhashCoeffs(2), Dedup.MinhashP)).collect())
    assert(e2.getMessage.toLowerCase.contains("array<string>"))
  }
}
