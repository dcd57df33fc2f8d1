package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Native text expressions vs their HOF executable specifications:
  * identical output (values AND order) on randomized inputs including
  * edge cases (empty text, multi-space runs, short docs, unicode). */
class TextNativeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val textGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 12)
    ws <- Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("aa", "bb", "cc", "ä", "日本", "")))
  } yield ws.mkString(" ")

  private val cases: Seq[String] =
    Seq("", " ", "  ", "a", "a b", "a b c", "a  b c", "ab", "日 本 語 x y") ++
      Gen.listOfN(150, textGen).sample.get

  test("native word_shingles == HOF spec (values and order)") {
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(2, 3, 4)) {
      val got = df.select(col("id"), TextOps.wordShingles(col("text"), n))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val want = df.select(col("id"), TextOps.wordShinglesHof(col("text"), n))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      cases.indices.foreach { i =>
        assert(got(i.toLong) == want(i.toLong),
          s"n=$n text='${cases(i)}': ${got(i.toLong)} != ${want(i.toLong)}")
      }
    }
  }

  test("native shingle_hashes + winnow_select == winnowSelected HOF spec " +
      "(values and order, incl. short/empty docs)") {
    import graft.operators.TextAnalysis
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for ((k, w) <- Seq((3, 4), (2, 3))) {
      def dump(d: org.apache.spark.sql.DataFrame) = d
        .select(col("doc_id"), col("hv"), col("sel")).collect()
        .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Long](2)))
        .toMap
      val got = dump(TextAnalysis.winnowSelected(df, k, w))
      val want = dump(TextAnalysis.winnowSelectedHof(df, k, w))
      cases.indices.foreach { i =>
        assert(got(i.toLong) == want(i.toLong),
          s"k=$k w=$w text='${cases(i)}': ${got(i.toLong)} != ${want(i.toLong)}")
      }
    }
    // sparse synthetic hash arrays (duplicates, ties, nulls) directly
    // through winnow_select vs the windowed HOF
    val hvGen = for {
      n <- Gen.chooseNum(0, 10)
      v <- Gen.listOfN(n, Gen.frequency(
        9 -> Gen.chooseNum(0L, 6L).map(Option(_)),
        1 -> Gen.const(Option.empty[Long])))
    } yield v
    val hvs = Gen.listOfN(120, hvGen).sample.get
    val hdf = hvs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "hv")
    val w = 4
    val gotN = hdf.select(col("id"),
        graft.functions.textNative.winnow_select(col("hv"), w))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val wantN = hdf.withColumn("sel", expr(
        s"filter(array_distinct(transform(sequence(1, greatest(size(hv) - ${w - 1}, 1)), i -> " +
          s"array_max(filter(sequence(i, i + ${w - 1}), " +
          s"j -> try_element_at(hv, j) = array_min(slice(hv, i, $w)))) " +
          s"* 2147483648 + array_min(slice(hv, i, $w)))), " +
          "p -> p IS NOT NULL)"))
      .select(col("id"), col("sel"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    hvs.indices.foreach { i =>
      assert(gotN(i.toLong) == wantN(i.toLong),
        s"hv=${hvs(i)}: ${gotN(i.toLong)} != ${wantN(i.toLong)}")
    }
    // packed_low31 == array_distinct(transform(sel, p % 2^31)) on the
    // same generated arrays (incl. null elements)
    val gotP = hdf.select(col("id"),
        graft.functions.textNative.packed_low31(col("hv")))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[java.lang.Long](1)))).toMap
    val wantP = hdf.select(col("id"),
        expr("array_distinct(transform(hv, p -> p % 2147483648))"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[java.lang.Long](1)))).toMap
    hvs.indices.foreach { i =>
      assert(gotP(i.toLong) == wantP(i.toLong),
        s"packed hv=${hvs(i)}: ${gotP(i.toLong)} != ${wantP(i.toLong)}")
    }
  }

  test("native word_shingles_all == HOF spec (values, order, multiplicity)") {
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(2, 3, 4)) {
      val got = df.select(col("id"), TextOps.wordShinglesAll(col("text"), n))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val want = df.select(col("id"), TextOps.wordShinglesAllHof(col("text"), n))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      cases.indices.foreach { i =>
        assert(got(i.toLong) == want(i.toLong),
          s"n=$n text='${cases(i)}': ${got(i.toLong)} != ${want(i.toLong)}")
      }
    }
  }

  test("native char_trigrams == HOF spec (values and order)") {
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"), TextOps.charTrigrams(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val want = df.select(col("id"), TextOps.charTrigramsHof(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    cases.indices.foreach { i =>
      assert(got(i.toLong) == want(i.toLong),
        s"text='${cases(i)}': ${got(i.toLong)} != ${want(i.toLong)}")
    }
  }

  test("nfc_normalize: composes combining sequences, idempotent, " +
    "identity on NFC text") {
    import graft.functions.textNative
    // decomposed e + U+0301 composes to the single codepoint é;
    // already-NFC text (incl. non-BMP) passes through unchanged
    val rows = Seq(
      (1L, "cafe\u0301"), (2L, "caf\u00e9"), (3L, ""), (4L, "plain ascii"),
      (5L, "\ud83d\ude00 emoji"), (6L, "\u00e1\u00e9"))
      .toDF("id", "raw")
    val out = rows.select(col("id"),
        textNative.nfc_normalize(col("raw")).as("n1"),
        textNative.nfc_normalize(textNative.nfc_normalize(col("raw"))).as("n2"),
        length(col("raw")).as("lr"),
        length(textNative.nfc_normalize(col("raw"))).as("ln"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getInt(3), r.getInt(4)))).toMap
    assert(out(1L)._1 == "caf\u00e9" && out(1L)._4 == 4 && out(1L)._3 == 5)
    assert(out(2L)._1 == "caf\u00e9" && out(2L)._3 == 4)
    assert(out(3L)._1 == "")
    assert(out(4L)._1 == "plain ascii")
    assert(out(5L)._1 == "\ud83d\ude00 emoji")
    assert(out(6L)._1 == "\u00e1\u00e9")
    out.values.foreach { case (n1, n2, _, _) => assert(n1 == n2) }
  }

  test("fix_mojibake: inverts UTF-8-as-Latin-1 for every fixture " +
    "phrase; fail-closed on ASCII, genuine Latin-1, >U+00FF, mixed") {
    import graft.functions.textNative
    import graft.operators.TextAnalysis.{MojibakeCorrupt, MojibakePhrases}
    val fixtures = MojibakeCorrupt.zip(MojibakePhrases)
    val guards = Seq(
      "plain ascii" -> "plain ascii",       // no high chars
      "caf\u00e9" -> "caf\u00e9",           // genuine Latin-1: E9 is an
                                            // invalid UTF-8 start byte
      "c\u0153ur" -> "c\u0153ur",           // >U+00FF: not encodable
      // mojibake digraph + genuine >U+00FF char: ambiguous, untouched
      ("caf\u00c3\u00a9 \u0153" -> "caf\u00c3\u00a9 \u0153"))
    val cases = (fixtures ++ guards).zipWithIndex
      .map { case ((in, want), i) => (i.toLong, in, want) }
    val got = cases.map { case (i, in, _) => (i, in) }.toDF("id", "raw")
      .select(col("id"), textNative.fix_mojibake(col("raw")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (i, in, want) =>
      assert(got(i) == want, s"input='$in'")
    }
    // every fixture phrase actually changed (the corruption is real)
    fixtures.foreach { case (c, p) => assert(c != p) }
  }

  test("winnow_select fails loudly on hashes outside [0, 2^31)") {
    for (bad <- Seq(-1L, 2147483648L)) {
      val df = Seq((0L, Seq(3L, bad, 5L, 7L))).toDF("id", "hv")
      val e = intercept[Exception] {
        df.select(graft.functions.textNative.winnow_select(col("hv"), 2)).collect()
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains(s"hash $bad at index 1 is outside [0, 2^31)")), e.toString)
    }
    // the largest in-range hash still packs and unpacks exactly
    val top = 2147483647L
    val sel = Seq((0L, Seq(top))).toDF("id", "hv")
      .select(graft.functions.textNative.winnow_select(col("hv"), 2).as("sel"))
    assert(sel.collect().head.getSeq[Long](0) == Seq(2147483648L + top))
    assert(sel.select(graft.functions.textNative.packed_low31(col("sel")))
      .collect().head.getSeq[Long](0) == Seq(top))
  }
}
