package graft.text

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

class CorpusOpsSpec extends AnyFunSuite with LocalSparkSuite {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("balancedSample: exactly min-class-size per class, deterministic across reruns") {
    import spark.implicits._
    val d = Seq((1L, "en"), (2L, "en"), (3L, "en"), (4L, "zh"), (5L, "zh"))
      .toDF("doc_id", "lang").withColumn("text", lit("t"))
    def run() = CorpusOps.balancedSample(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val a = run()
    assert(a.size === 4) // k = 2 from each of the two classes
    assert(a.count(_._2 == "en") === 2 && a.count(_._2 == "zh") === 2)
    assert(a.forall(_._3 <= 2L))
    assert(run() === a)
  }

  test("sourceOverlap: hand-computed shared counts and Jaccard; disjoint source absent") {
    import spark.implicits._
    val d = Seq((1L, "A", "a b c"), (2L, "A", "a b c"), // dup collapses
      (3L, "B", "a b x"), (4L, "C", "q r s"))
      .toDF("doc_id", "source", "text")
    val out = CorpusOps.sourceOverlap(d, shingleK = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    spark.catalog.clearCache()
    // A = {ab, bc}, B = {ab, bx}: shared 1, jaccard 1/3
    assert(out === Map(("A", "B") -> ((1L, 333333L))))
  }

  test("collocations: hand-computed lift, tie-break by bigram") {
    // tokens a b a b c: N=5, c(ab)=2, c(ba)=1, c(bc)=1, c(a)=c(b)=2, c(c)=1
    val out = CorpusOps.collocations(docs((1L, "a b a b c")),
      minCount = 1L, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    assert(out.toSeq === Seq(
      ("a b", 2L, 2500000L), ("b c", 1L, 2500000L), ("b a", 1L, 1250000L)))
    spark.catalog.clearCache()
  }

  test("bpeMerges: overlap counting, greedy left-to-right merge, lexicographic tie-break") {
    // word "aaab" x3: round 1 counts (a,a)=6 (overlap included) vs
    // (a,b)=3 -> merge (a,a), greedy: " a a a b" -> " aa a b".
    // round 2: (aa,a)=3 ties (a,b)=3 -> "a" < "aa" picks (a,b).
    // round 3: only (aa,ab)=3 remains.
    val out = CorpusOps.bpeMerges(
      docs((1L, "aaab aaab"), (2L, "aaab")), merges = 3, vocabSize = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, "a", "a", 6L), (2L, "a", "b", 3L), (3L, "aa", "ab", 3L)))
  }

  test("bpeSegment: final segmentation reflects the learned merges") {
    // same corpus as the merge test: after 2 merges "aaab" = "aa ab";
    // the 3rd merge (aa,ab) closes it to a single symbol
    def seg(k: Int) = CorpusOps.bpeSegment(
      docs((1L, "aaab aaab"), (2L, "aaab")), merges = k, vocabSize = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(seg(2) === Seq(("aaab", 3L, 2L, "aa ab")))
    assert(seg(3) === Seq(("aaab", 3L, 1L, "aaab")))
  }

  test("applyMergeGreedy: boundary anchoring and leftmost-greedy semantics") {
    import spark.implicits._
    // (input segmentation, sym_a, sym_b, expected output)
    val cases = Seq(
      (" a bc", "a", "b", " a bc"),       // sym_b prefix of longer symbol: NO match
      (" xa b", "a", "b", " xa b"),       // sym_a suffix of longer symbol: NO match
      (" a b c", "a", "b", " ab c"),      // plain interior merge
      (" a b", "a", "b", " ab"),          // merge at end of string
      (" a b a b", "a", "b", " ab ab"),   // back-to-back occurrences both merge
      (" a b a b a b", "a", "b", " ab ab ab"),
      (" a a a", "a", "a", " aa a"),      // leftmost-greedy on same-symbol run
      (" a a a a", "a", "a", " aa aa"),
      (" a a a a a", "a", "a", " aa aa a"),
      (" c a b a", "a", "b", " c ab a"))
    val got = cases.toDF("s", "a", "b", "want")
      .select(CorpusOps.applyMergeGreedy(col("s"), col("a"), col("b"))
        .as("got"), col("want"), col("s"))
      .collect().map(r => (r.getString(2), r.getString(0), r.getString(1)))
    got.foreach { case (in, g, w) => assert(g === w, s"input '$in'") }
  }

  test("bpeMerges: a merged symbol is never matched by its prefix (ADVICE r12 case)") {
    // corpus: bc x10, ab x6, abc x3.
    // round 1: (b,c)=13 beats (a,b)=9 -> merge (b,c); abc = " a bc".
    // round 2: (a,b)=6 from "ab" beats (a,bc)=3 -> merge (a,b).
    //   The buggy un-anchored replace would turn " a bc" into " abc"
    //   here (merging a pair that does not exist); anchored, "abc"
    //   stays " a bc" so round 3 still sees the (a,bc) pair.
    // round 3: (a,bc)=3 is the only pair left.
    val d = docs(
      (1L, Seq.fill(10)("bc").mkString(" ")),
      (2L, Seq.fill(6)("ab").mkString(" ")),
      (3L, Seq.fill(3)("abc").mkString(" ")))
    val merges = CorpusOps.bpeMerges(d, merges = 3, vocabSize = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(merges.toSeq === Seq(
      (1L, "b", "c", 13L), (2L, "a", "b", 6L), (3L, "a", "bc", 3L)))
    val seg2 = CorpusOps.bpeSegment(d, merges = 2, vocabSize = 10)
      .collect().map(r => (r.getString(0), r.getString(3))).toMap
    assert(seg2 === Map("bc" -> "bc", "ab" -> "ab", "abc" -> "a bc"))
  }

  test("bpeMergesBytes: unicode words segment as UTF-8 byte symbols") {
    // 日 = E6 97 A5, 本 = E6 9C AC, 語 = E8 AA 9E.
    // corpus: 日本 x2, 日本語 x1 -> round-1 pair counts: five pairs at
    // 3 (both words share the 日本 prefix), suffix pairs at 1. Tie at
    // 3 breaks lexicographically on the hex symbols: (97, A5) wins.
    // round 2: ties at 3 again; (97A5, E6) is the ASCII-hex minimum.
    val d = docs((1L, "日本 日本 日本語"))
    val out = CorpusOps.bpeMergesBytes(d, merges = 2, vocabSize = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, "97", "A5", 3L), (2L, "97A5", "E6", 3L)))
  }

  test("bpeMergesBytes: tokens outside ^[a-z]+$ participate (restriction lifted)") {
    // "AB1" is excluded by the char-level trainer; byte-level learns
    // from it: bytes 41 42 31, pairs (41,42)=2 and (42,31)=2, tie
    // breaks to (41, 42)
    val out = CorpusOps.bpeMergesBytes(
      docs((1L, "AB1 AB1")), merges = 1, vocabSize = 10)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(("41", "42", 2L)))
  }

  test("tokenizeBpeBytes: unicode corpus encodes to hand-computed byte ids") {
    // same corpus as the byte-merge test: merges (97,A5) then
    // (97A5,E6). 日本 = E6 97 A5 E6 9C AC -> [E6, 97A5E6, 9C, AC] =
    // ids [230, 257, 156, 172]; 日本語 adds 語 = E8 AA 9E ->
    // [232, 170, 158]. Merged rank 2 -> 255 + 2 = 257.
    val out = CorpusOps.tokenizeBpeBytes(
      docs((1L, "日本 日本 日本語")), merges = 2, vocabSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val word = "230_257_156_172"
    assert(out.toSeq === Seq(
      (1L, 3L, 15L, s"${word}_${word}_${word}_232_170_158")))
  }

  test("nbQualityEval: planted classes give a perfect confusion row per class") {
    import spark.implicits._
    val srcs = (0 until 4).map(k => s"src$k")
    val seeds = seedSources(srcs)
    val rows = (0L until 40L).map { i =>
      val src = srcs((i % 4).toInt)
      (i, if (seeds(src)) "good clean prose here" else "spam junk click now",
        src)
    }
    val out = CorpusOps.nbQualityEval(
      rows.toDF("doc_id", "text", "source"), vocabSize = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 8 held-out docs, 4 per class; all correct -> accuracy 1e6;
    // the crawl row predicts seed for none of its docs
    assert(out(1L) === ((4L, 4L, 4L, 1000000L)))
    assert(out(0L) === ((4L, 0L, 4L, 1000000L)))
  }

  test("tokenizeBpe: hand-computed ids, base chars 0..25, merged symbols 25+rank") {
    // corpus: bc x11, ab x6, abc x4 (doc 4 mixes in a non-[a-z] token).
    // merges=2 learns (b,c) then (a,b) -> ids: bc=26, ab=27.
    // segmentations: bc=[bc], ab=[ab], abc=[a, bc] -> ids 0_26.
    val d = docs(
      (1L, Seq.fill(10)("bc").mkString(" ")),
      (2L, Seq.fill(6)("ab").mkString(" ")),
      (3L, Seq.fill(3)("abc").mkString(" ")),
      (4L, "abc X9 bc"))
    val out = CorpusOps.tokenizeBpe(d, merges = 2, vocabSize = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((10L, 10L, Seq.fill(10)("26").mkString("_"))))
    assert(out(2L) === ((6L, 6L, Seq.fill(6)("27").mkString("_"))))
    assert(out(3L) === ((3L, 6L, "0_26_0_26_0_26")))
    // non-[a-z] token X9 dropped; word order preserved
    assert(out(4L) === ((2L, 3L, "0_26_26")))
  }

  test("tokenizeWithMerges: colliding merge paths resolve to the first rank's id") {
    // merge ranks 2 (a,bc) and 3 (ab,c) both produce symbol "abc";
    // the string is all the segmentation sees, so the earlier rank's
    // id wins: 25 + 2 = 27, not 28.
    val out = CorpusOps.tokenizeWithMerges(
      docs((1L, "abc")), Seq(("b", "c"), ("a", "bc"), ("ab", "c")))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq === Seq((1L, 1L, "27")))
  }

  test("bpe counts artifact: build + append trains identical merges to from-scratch") {
    val d = docs((1L, "alpha beta alpha"), (2L, "beta gamma"),
      (3L, "alpha beta beta"), (4L, "gamma gamma alpha"))
    val path = java.nio.file.Files
      .createTempDirectory("bpe_counts").toString + "/idx"
    CorpusOps.bpeCountsBuild(d.filter(col("doc_id") <= 2L), path)
    CorpusOps.bpeCountsAppend(d.filter(col("doc_id") > 2L), path)
    val fromArtifact = CorpusOps.bpeMergesFromCounts(
      spark, path, merges = 4, vocabSize = 10).collect().toSeq
    val fromScratch = CorpusOps.bpeMerges(d, merges = 4, vocabSize = 10)
      .collect().toSeq
    assert(fromArtifact === fromScratch)
    spark.catalog.clearCache()
  }

  test("bpeMerges: non-lowercase-ascii words are excluded from the vocabulary") {
    val out = CorpusOps.bpeMerges(
      docs((1L, "Hello123 xy xy XY x9y")), merges = 1, vocabSize = 10)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(("x", "y", 2L)))
  }

  test("ilog2Fp: exact on powers of two, near-true log2, monotone") {
    assert(CorpusOps.ilog2Fp(1L) === 0L)
    assert(CorpusOps.ilog2Fp(2L) === (1L << 20))
    assert(CorpusOps.ilog2Fp(4L) === (2L << 20))
    assert(CorpusOps.ilog2Fp(1L << 40) === (40L << 20))
    // within 2 fixed-point ulp of the real 2^20-scaled log2
    for (x <- Seq(3L, 7L, 100L, 999L, 123457L, 987654321L)) {
      val want = math.floor((1 << 20) * math.log(x.toDouble) / math.log(2.0))
      assert(math.abs(CorpusOps.ilog2Fp(x) - want) <= 2L, s"x=$x")
    }
    // non-decreasing over a consecutive range
    (1L to 4096L).foldLeft(-1L) { (prev, x) =>
      val v = CorpusOps.ilog2Fp(x)
      assert(v >= prev, s"x=$x"); v
    }
  }

  /** The labeling rule of nbQuality, restated in plain Scala: every
    * other distinct source in (md5-hex, source) order is seed. */
  private def seedSources(srcs: Seq[String]): Set[String] = {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    srcs.distinct.sortBy(s => (md5hex(s), s))
      .zipWithIndex.filter(_._2 % 2 == 0).map(_._1).toSet
  }

  test("nbQuality: separates planted quality classes on the held-out split") {
    import spark.implicits._
    // seed sources (alternate in md5 order) speak "good" vocabulary,
    // crawl sources speak "spam": NB must recover the labels on every
    // held-out doc (doc_id % 5 == 0)
    val srcs = (0 until 4).map(k => s"src$k")
    val seeds = seedSources(srcs)
    val rows = (0L until 40L).map { i =>
      val src = srcs((i % 4).toInt)
      val text = if (seeds(src)) "good clean prose here"
        else "spam junk click now"
      (i, text, src)
    }
    val d = rows.toDF("doc_id", "text", "source")
    val out = CorpusOps.nbQuality(d, vocabSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.length === 8) // 40 docs, doc_id % 5 == 0 held out
    out.foreach { case (id, nScored, llr, pred, actual) =>
      assert(nScored === 4L, s"doc $id")
      assert(pred === actual, s"doc $id llr=$llr")
      assert(actual === (if (seeds(srcs((id % 4).toInt))) 1L else 0L),
        s"doc $id")
    }
  }

  test("lm3Surprisal: every backoff level fires with hand-computed scores") {
    // train = doc_id % 3 != 0: doc 1 "a b c a b c", doc 2 "a b d".
    // train counts: c123("a b c")=2, c12("a b")=3, c23("b c")=2,
    // c1: a=3 b=3 c=2 d=1, N=9.
    val d = docs(
      (0L, "a b c"),        // lv3: floor(1e6*2/3)       = 666666
      (1L, "a b c a b c"),  // train; lv3 instances only
      (2L, "a b d"),        // train; lv3: c123=1, c12=3 -> 333333
      (3L, "x b c"),        // lv2: floor(2e6*2/(5*3))   = 266666
      (6L, "x y c"),        // lv1: floor(4e6*2/(25*9))  = 35555
      (9L, "x y z"),        // lv0 (OOV): 0
      (12L, "a b"))         // no trigrams -> zeros
    val out = CorpusOps.lm3Surprisal(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out(0L) === ((1L, 1L, 0L, 0L, 0L, 666666L)))
    assert(out(3L) === ((1L, 0L, 1L, 0L, 0L, 266666L)))
    assert(out(6L) === ((1L, 0L, 0L, 1L, 0L, 35555L)))
    assert(out(9L) === ((1L, 0L, 0L, 0L, 1L, 0L)))
    assert(out(12L) === ((0L, 0L, 0L, 0L, 0L, 0L)))
    // self-scored train doc: "a b c"x2 at 666666, "b c a" at
    // c123=1/c12("b c")=2 -> 500000, "c a b" at c123=1/c12("c a")=1
    // -> 1000000; mean = floor(2833332/4) = 708333
    assert(out(1L) === ((4L, 4L, 0L, 0L, 0L, 708333L)))
  }

  test("trigrams: native expression == builtin SPEC incl. short inputs") {
    val rows = docs((1L, "a b c d"), (2L, "x y"), (3L, ""), (4L, null))
    val diff = rows.select(
      graft.text.TextFunctions.trigrams(col("text")).as("n"),
      graft.text.TextFunctions.trigramsBuiltin(col("text")).as("b"))
      .filter(not(col("n") === col("b"))).count()
    assert(diff === 0L)
    val first = rows.filter(col("doc_id") === 1L)
      .select(graft.text.TextFunctions.trigrams(col("text")))
      .collect()(0).getSeq[String](0)
    assert(first === Seq("a b c", "b c d"))
  }

  test("tokenizerFertility: unicode source fragments, ASCII source does not") {
    import spark.implicits._
    // exactly 7 merges collapse the dominant ASCII words (alpha needs
    // 4, beta 3; every ASCII pair outweighs every CJK pair 16:1, so
    // no merge reaches the CJK bytes): ascii fertility = 1 token per
    // word, cjk words stay byte soup at 9 tokens / 2 words
    val d = (
      (1L to 8L).map(i => (i, "alpha beta alpha beta", "ascii")) :+
        ((9L, "日本 語", "cjk"))
      ).toDF("doc_id", "text", "source")
    val out = CorpusOps.tokenizerFertility(d, merges = 7, vocabSize = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).map(x => x._1 -> x).toMap
    assert(out("ascii") === (("ascii", 8L, 32L, 32L, 1000000L)))
    assert(out("cjk") === (("cjk", 1L, 2L, 9L, 4500000L)))
  }

  test("detokenizeBytes: decode(encode(doc)) is the identity on every encodable doc, unicode incl.") {
    import spark.implicits._
    val d = docs((1L, "日本 日本 日本語 alpha"), (2L, "données café"),
      (3L, "alpha beta alpha beta gamma"), (4L, "x"), (5L, ""))
    val mt = CorpusOps.bpeMergesBytes(d, merges = 5, vocabSize = 20)
      .orderBy(col("merge_rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val out = CorpusOps.detokenizeBytes(d, mt)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // identity target: position-ordered separator-free token concat;
    // doc 5 has no encodable token and is absent (matches the encode)
    assert(out === Map(
      1L -> "日本日本日本語alpha", 2L -> "donnéescafé",
      3L -> "alphabetaalphabetagamma", 4L -> "x"))
  }

  test("tokenizerFertilityWithMerges: consuming the trained table == the self-training audit") {
    import spark.implicits._
    val d = (
      (1L to 8L).map(i => (i, "alpha beta alpha beta", "ascii")) :+
        ((9L, "日本 語", "cjk"))
      ).toDF("doc_id", "text", "source")
    val mt = CorpusOps.bpeMergesBytes(d, merges = 7, vocabSize = 10)
      .orderBy(col("merge_rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val shipped = CorpusOps.tokenizerFertilityWithMerges(d, mt)
      .collect().map(_.toSeq).toSet
    val selfTrained = CorpusOps.tokenizerFertility(d, merges = 7, vocabSize = 10)
      .collect().map(_.toSeq).toSet
    assert(shipped === selfTrained)
  }

  /** The round-13 composed encode, reconstructed verbatim as the SPEC
    * for the native [[graft.functions.BpeEncode]] expression: one
    * chained applyMergeGreedy projection per merge over the initial
    * segmentation, then the chained-`when` symbol→id map. The native
    * expression must produce identical ids on every token. */
  private def composedEncodeIds(tokens: Seq[String],
      mergeList: Seq[(String, String)], byteLevel: Boolean): Map[String, String] = {
    import spark.implicits._
    val baseVocab = if (byteLevel) 256L else 26L
    val symIds = mergeList.zipWithIndex
      .map { case ((a, b), i) => (a + b, baseVocab + i) }
      .groupBy(_._1).map { case (s0, xs) => (s0, xs.map(_._2).min) }
      .toSeq.sortBy(_._2)
    def symToId(sym: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val base = if (byteLevel) conv(sym, 16, 10).cast("long")
                 else (ascii(sym) - lit(97)).cast("long")
      symIds.foldLeft(base) {
        case (acc, (s0, id)) => when(sym === lit(s0), lit(id)).otherwise(acc)
      }
    }
    val init = if (byteLevel)
      regexp_replace(hex(encode(col("token"), "UTF-8")), "(..)", " $1")
    else regexp_replace(col("token"), "(.)", " $1")
    mergeList.foldLeft(
        tokens.toDF("token").withColumn("s", init)) {
        case (df, (a, b)) =>
          df.withColumn("s", CorpusOps.applyMergeGreedy(col("s"), lit(a), lit(b)))
      }
      .select(col("token"),
        split(col("s").substr(lit(2), length(col("s"))), " ").as("syms"))
      .select(col("token"), concat_ws("_",
        transform(col("syms"), y => symToId(y).cast("string"))).as("ids"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  private def nativeEncodeIds(tokens: Seq[String],
      mergeList: Seq[(String, String)], byteLevel: Boolean): Map[String, String] = {
    import spark.implicits._
    val shims = org.apache.spark.sql.graft.ColumnShims
    tokens.toDF("token")
      .select(col("token"), concat_ws("_",
        shims.column(graft.functions.BpeEncode(
          shims.expression(col("token")), mergeList, byteLevel))
          .cast("array<string>")).as("ids"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("bpe_encode: native expression == composed fold SPEC, char level incl. collisions/phantoms") {
    // trained table on a real mini-corpus, PLUS adversarial ranks:
    // colliding outputs ((a,bc) vs (ab,c)), an operand produced only
    // by a LATER rank ((bc,d) before (b,c) exists), same-symbol runs
    val d = docs((1L, Seq.fill(10)("bc").mkString(" ")),
      (2L, "ab ab ab abc abcd aaaa banana"), (3L, "bcd bcd dd aab"))
    val trained = CorpusOps.bpeMerges(d, merges = 5, vocabSize = 20)
      .orderBy(col("merge_rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val adversarial = Seq(("bc", "d"), ("b", "c"), ("a", "bc"),
      ("ab", "c"), ("a", "a"), ("aa", "b"), ("bcd", "d"))
    val tokens = Seq("bc", "ab", "abc", "abcd", "aaaa", "banana",
      "bcd", "dd", "aab", "bcdd", "aaaab", "q", "zz")
    for (mt <- Seq(trained, adversarial))
      assert(nativeEncodeIds(tokens, mt, byteLevel = false) ===
        composedEncodeIds(tokens, mt, byteLevel = false))
  }

  test("bpe_encode: native expression == composed fold SPEC, byte level incl. unicode") {
    val d = docs((1L, "日本 日本 日本語 alpha alpha beta"),
      (2L, "données données café 語"))
    val trained = CorpusOps.bpeMergesBytes(d, merges = 6, vocabSize = 20)
      .orderBy(col("merge_rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val tokens = Seq("日本", "日本語", "alpha", "beta", "données",
      "café", "語", "x", "日alpha本")
    assert(nativeEncodeIds(tokens, trained, byteLevel = true) ===
      composedEncodeIds(tokens, trained, byteLevel = true))
  }

  test("bpe_encode: a 2,000-merge table is one projection and encodes the deep chain") {
    import spark.implicits._
    // merges: (a,b), (ab,b), (abb,b), ... — each rank applies once,
    // so 'a' + 'b'*2000 collapses to the single rank-2000 symbol
    val n = 2000
    val mt = ("a", "b") +: (2 to n).map(k => ("a" + "b" * (k - 1), "b"))
    val words = Seq("a" + "b" * n, "ab", "b", "z", "a" + "b" * 3)
    val shims = org.apache.spark.sql.graft.ColumnShims
    val out = words.toDF("token")
      .select(col("token"), shims.column(graft.functions.BpeEncode(
        shims.expression(col("token")), mt, byteLevel = false)).as("ids"))
    // plan depth is O(1) in merge count: the round-13 fold would be
    // 2,000 nested projections here
    val nProjects = out.queryExecution.optimizedPlan.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
    }.size
    assert(nProjects <= 2, s"expected a flat plan, got $nProjects projections")
    val got = out.collect().map(r =>
      r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got("a" + "b" * n) === Seq(26L + (n - 1)))
    assert(got("ab") === Seq(26L))
    assert(got("b") === Seq(1L))
    assert(got("z") === Seq(25L))
    assert(got("a" + "b" * 3) === Seq(26L + 2))
  }

  test("nb counts artifact: build + append == from-scratch, incl. a source only in the append") {
    import spark.implicits._
    val srcs = (0 until 4).map(k => s"src$k")
    val seeds = seedSources(srcs)
    val rows = (0L until 40L).map { i =>
      val src = srcs((i % 4).toInt)
      (i, if (seeds(src)) "good clean prose here" else "spam junk click now",
        src)
    }
    val d = rows.toDF("doc_id", "text", "source")
    val path = java.nio.file.Files
      .createTempDirectory("nb_counts").toString + "/idx"
    // the append batch holds ALL of src3's docs (i % 4 == 3), so that
    // source is absent from the build partial — the source-keyed
    // layout must still reproduce the from-scratch label alternation
    CorpusOps.nbCountsBuild(d.filter(col("doc_id") % 4 =!= 3), path, "p0")
    CorpusOps.nbCountsBuild(d.filter(col("doc_id") % 4 === 3), path, "p1")
    val served = CorpusOps.nbQualityFromCounts(spark, d, path, vocabSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    spark.catalog.clearCache()
    val scratch = CorpusOps.nbQuality(d, vocabSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    spark.catalog.clearCache()
    assert(served === scratch && scratch.nonEmpty)
  }

  test("nb counts serve skips in-flight/crashed staging dirs (round-13 ADVICE)") {
    import spark.implicits._
    val srcs = (0 until 4).map(k => s"src$k")
    val seeds = seedSources(srcs)
    val rows = (0L until 40L).map { i =>
      val src = srcs((i % 4).toInt)
      (i, if (seeds(src)) "good clean prose here" else "spam junk click now",
        src)
    }
    val d = rows.toDF("doc_id", "text", "source")
    val path = java.nio.file.Files
      .createTempDirectory("nb_staging").toString + "/idx"
    CorpusOps.nbCountsBuild(d, path, "p0")
    val clean = CorpusOps.nbQualityFromCounts(spark, d, path, vocabSize = 16)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    // a crash (or concurrent commit) leaves an UNCOMMITTED partial in a
    // _staging_<id> dir: the old path/*/tokens glob read it (Hadoop
    // glob expansion bypasses Spark's hidden-path filter) and would
    // double-count; the part listing must skip it
    CorpusOps.nbCountsBuild(d, path, "_staging_99")
    CorpusOps.nbCountsBuild(d, path, ".trashed")
    val withStaging = CorpusOps.nbQualityFromCounts(spark, d, path, vocabSize = 16)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    assert(withStaging === clean && clean.nonEmpty)
    // a COMMITTED batch dir, by contrast, must merge in
    CorpusOps.nbCountsBuild(d.limit(8), path, "batch_7")
    val withBatch = CorpusOps.nbQualityFromCounts(spark, d, path, vocabSize = 16)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    assert(withBatch !== clean)
  }

  test("nfc: composes decomposed sequences, idempotent, identity on ASCII/NFC, null-safe") {
    import spark.implicits._
    val dec = "cafe\u0301"            // decomposed e + combining acute
    val comp = "caf\u00e9"            // composed
    val rows = Seq(
      (1L, dec),                      // decomposed -> composed
      (2L, comp),                     // already composed -> unchanged
      (3L, "plain ascii"),            // fast path
      (4L, "A\u030a B n\u0303"),      // two marks in one string
      (5L, null.asInstanceOf[String])) // null propagates
      .toDF("id", "t")
      .select(col("id"), TextFunctions.nfc(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(1L) == Some(comp))
    assert(rows(2L) == Some(comp))
    assert(rows(3L) == Some("plain ascii"))
    assert(rows(4L) == Some("\u00c5 B \u00f1"))
    assert(rows(5L).isEmpty)
    // idempotence: nfc(nfc(x)) == nfc(x)
    val twice = Seq(dec + " o\u0308").toDF("t")
      .select(TextFunctions.nfc(TextFunctions.nfc(col("t"))) ===
        TextFunctions.nfc(col("t"))).head().getBoolean(0)
    assert(twice)
    // normalize-then-tokenize: the two spellings of the same word are
    // the SAME token after nfc, different tokens without it
    val toks = Seq((dec, comp)).toDF("a", "b")
      .select((TextFunctions.nfc(col("a")) === TextFunctions.nfc(col("b"))).as("same"),
        (col("a") === col("b")).as("raw"))
      .head()
    assert(toks.getBoolean(0) && !toks.getBoolean(1))
  }

  test("vocabulary: tf/df counts and the (tf, df, token) total order") {
    val df = CorpusOps.vocabulary(
      docs((1L, "a a b"), (2L, "a c"), (3L, "b c")), topK = 2)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a: tf 3 df 2; b and c tie at tf 2 df 2 -> token asc breaks the tie
    assert(rows.toSeq == Seq(("a", 3L, 2L), ("b", 2L, 2L)))
  }

  test("vocabulary: limit boundary is deterministic across partitionings") {
    val d = docs((1L to 40L).map(i => i -> s"tok${i % 7} shared"): _*)
    val once = CorpusOps.vocabulary(d, 5).collect().map(_.getString(0)).toSeq
    val again = CorpusOps.vocabulary(d.repartition(13), 5).collect().map(_.getString(0)).toSeq
    assert(once == again)
  }

  test("topBigramCount: in-row run count matches hand-computed repetition") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a b a b a b"),   // bigrams: ab ba ab ba ab -> top "a b" x3
      (2L, "x y z"),         // all distinct -> 1
      (3L, "solo"),          // < 2 tokens -> 0
      (4L, null.asInstanceOf[String]), // null -> 0
      (5L, "t t t t"))       // "t t" x3
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.topBigramCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> 3L, 2L -> 1L, 3L -> 0L, 4L -> 0L, 5L -> 3L))
  }

  test("bigrams: native expression == builtin-composed spec, incl. edge cases") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).union(Seq("solo", "", "a b", null).toDF("text"))
      .select(
        TextFunctions.bigrams(col("text")).as("native"),
        TextFunctions.bigramsBuiltin(col("text")).as("builtin"))
    assert(d.filter(not(col("native") <=> col("builtin"))).count() == 0)
    assert(d.filter(size(col("native")) > 0).count() > 0)
  }

  test("topBigramCount: native expression == builtin-composed spec on real data") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        TextFunctions.topBigramCount(col("text")).as("native"),
        TextFunctions.topBigramCountBuiltin(col("text")).as("builtin"))
    assert(d.filter(col("native") =!= col("builtin")).count() == 0)
    assert(d.filter(col("native") > 0).count() > 0)
  }

  test("top_bigram_count: null array elements follow the builtin null semantics, no NPE") {
    // the SQL surface accepts any array<string>, including null
    // elements the internal tokenizer never produces: a
    // null-containing bigram starts a run of 1 and never extends one
    // (null === prev propagates to no-match in the builtin spec)
    graft.functions.Curves.register(spark)
    val rows = spark.sql(
      """SELECT top_bigram_count(array('a', NULL, 'b')) AS a,
        |  top_bigram_count(array(CAST(NULL AS STRING), NULL, NULL)) AS b,
        |  top_bigram_count(array('x', 'y', 'x', 'y', 'x')) AS c,
        |  top_bigram_count(array('a', NULL)) AS d""".stripMargin).head()
    assert((rows.getLong(0), rows.getLong(1), rows.getLong(2), rows.getLong(3))
      == ((1L, 1L, 2L, 1L)))
  }

  test("vocabCoverage: per-source OOV counts against the frozen topK vocabulary") {
    import spark.implicits._
    // vocab (topK=2) = {a, b} (tf order); source s1 all in-vocab,
    // s2 mixes in-vocab with OOV tokens
    val d = Seq(
      (1L, "s1", "a a b"), (2L, "s1", "a b"),
      (3L, "s2", "a x y"), (4L, "s2", "b x"))
      .toDF("doc_id", "source", "text")
    val out = CorpusOps.vocabCoverage(d, vocabSize = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("s1") == ((5L, 0L, 0L)))
    // s2: 5 tokens, 3 OOV (x, x, y) -> 600000 ppm
    assert(out("s2") == ((5L, 3L, 600000L)))
  }

  test("stratified sample: per-stratum rates, pure function of the key") {
    import spark.implicits._
    val d = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
      .withColumn("text", lit("x"))
    val rates = Seq("en" -> 500000L)
    val s1 = CorpusOps.stratifiedSample(d, rates, defaultPpm = 0L)
    val rows = s1.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // defaultPpm = 0 -> no zh rows at all
    assert(rows.forall(_._2 == "en"))
    // membership is exactly "salted hash bucket < rate" — recompute per row
    val buckets = d.select(col("doc_id"),
        CorpusOps.sampleBucket(col("doc_id"), "#sample").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (2L to 400L by 2).filter(i => buckets(i) < 500000L).toSet
    assert(rows.map(_._1).toSet == expected)
    // deterministic: a repartitioned rerun returns the identical set
    val s2 = CorpusOps.stratifiedSample(d.repartition(17), rates, 0L)
      .collect().map(_.getLong(0)).toSet
    assert(s2 == expected)
  }

  test("contamination: cross-split shingle overlap with exact containment") {
    // find one train and one test doc id by the actual split hash
    val p = CorpusOps.ContaminationParams(minOverlap = 1L)
    val ids = docs((1L to 200L).map(i => i -> "x"): _*)
      .select(col("doc_id"), TextFunctions.splitLabel(col("doc_id"), p.cuts).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainId = ids.collectFirst { case (i, "train") => i }.get
    val testId = ids.collectFirst { case (i, "test") => i }.get
    val otherTrain = ids.collectFirst { case (i, "train") if i != trainId => i }.get
    val d = docs(
      trainId -> "w1 w2 w3 w4 w5", // shares all 3 shingles with the bench doc
      testId -> "w1 w2 w3 w4 w5",
      otherTrain -> "q1 q2 q3 q4") // disjoint -> no pair
    val out = CorpusOps.contamination(d, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((trainId, testId, 3L, 1000000L)))
  }

  test("contamination: df cap drops non-discriminative shingles") {
    val p = CorpusOps.ContaminationParams(maxDf = 10, minOverlap = 1L)
    // 100 identical docs: every shingle has df 100 > 10 -> no pairs
    val d = docs((1L to 100L).map(i => i -> "w1 w2 w3 w4 w5"): _*)
    assert(CorpusOps.contamination(d, p).count() == 0L)
  }

  test("packSequences: offsets equal the naive global prefix sum, any bucket count") {
    // ids deliberately sparse/unordered-in-file to exercise the
    // order-preserving range bucketing
    val d = docs(Seq(7L, 100L, 3L, 42L, 999L, 500L).zipWithIndex.map {
      case (id, i) => id -> (0 to i).map(j => s"w$j").mkString(" ")
    }: _*)
    def run(nBuckets: Int) =
      CorpusOps.packSequences(d, ctxTokens = 4L, nBuckets = nBuckets)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    // naive spec: sort by doc_id, exclusive running sum of token counts
    val naive = d.select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (id, n)) => (id, n, acc + n) }
      .drop(1).map { case (id, n, end) => id -> ((n, end - n, (end - n) / 4L)) }.toMap
    assert(run(1) == naive)   // single bucket == the naive global window
    assert(run(4) == naive)   // bucket decomposition is invisible
    assert(run(32) == naive)  // more buckets than docs still works
  }

  test("globalShuffle: dense [0, N) permutation in salted-hash order, any bucket count") {
    val d = docs((1L to 40L).map(i => i -> s"text $i"): _*)
    def run(salt: String, nBuckets: Int) =
      CorpusOps.globalShuffle(d, salt, nBuckets)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // naive spec: one global sort by (hash, doc_id)
    val naive = d.select(col("doc_id"),
        CorpusOps.sampleBucket(col("doc_id"), "#shuffle").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, b) => (b, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    for (nBuckets <- Seq(1, 4, 32))
      assert(run("#shuffle", nBuckets) == naive, s"nBuckets=$nBuckets")
    // a permutation: positions are exactly 0..N-1
    assert(naive.values.toSeq.sorted == (0L until 40L))
    // determinism: a rerun is bit-identical
    assert(run("#shuffle", 4) == run("#shuffle", 4))
    // a different salt is a genuinely different epoch permutation
    assert(run("#epoch1", 4) != naive)
  }

  test("qualityGate: whole score classes from the top, quota is a ceiling") {
    import spark.implicits._
    // lang "a": 10 docs — 2 at quality 1e6 (all-distinct tokens), 3 at
    // 500000 ("x x"-style half-distinct), 5 at 333333 (one-third).
    // quota at keepPpm=500000 is 5 -> the 1e6 class (2) fits, the
    // 500000 class (2+3=5) fits exactly, the 333333 class would
    // overflow and is dropped wholesale.
    val a = Seq.tabulate(2)(i => (i.toLong, "a", s"u$i v$i")) ++
      Seq.tabulate(3)(i => (10L + i, "a", s"w$i w$i")) ++
      Seq.tabulate(5)(i => (20L + i, "a", s"z$i z$i z$i"))
    // lang "b": 3 docs all tied at one score; quota 1 < 3 -> none kept
    val b = Seq.tabulate(3)(i => (30L + i, "b", s"t$i t$i"))
    val d = (a ++ b).toDF("doc_id", "lang", "text")
    val out = CorpusOps.qualityGate(d, keepPpm = 500000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.map(_._1).sorted.toSeq == Seq(0L, 1L, 10L, 11L, 12L))
    assert(out.forall(_._2 == "a"))
    // keepPpm=1e6 keeps everything; 0 keeps nothing
    assert(CorpusOps.qualityGate(d, 1000000L).count() == d.count())
    assert(CorpusOps.qualityGate(d, 0L).count() == 0)
    // the frozen-cut apply path reproduces the gate on the build
    // corpus exactly (kept classes are a top-prefix of the score order)
    val applied = CorpusOps.qualityGateApply(d, CorpusOps.qualityGateCuts(d, 500000L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(applied == out.toSet)
  }

  test("curriculumOrder: band-major positions, shuffled within bands, any bucket count") {
    import spark.implicits._
    // two quality classes: 6 docs fully distinct (1e6), 6 half (5e5);
    // nBands=2 puts the classes in bands 0 and 1 exactly
    val d = ((1L to 6L).map(i => (i, s"a$i b$i")) ++
      (11L to 16L).map(i => (i, s"c$i c$i"))).toDF("doc_id", "text")
    def run(nBuckets: Int) =
      CorpusOps.curriculumOrder(d, nBands = 2, nBuckets = nBuckets)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // naive spec: band by class top quantile, order (band, hash, id)
    val hash = d.select(col("doc_id"),
        CorpusOps.sampleBucket(col("doc_id"), "#curriculum").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = ((1L to 6L).map(i => (i, 0L)) ++ (11L to 16L).map(i => (i, 1L)))
      .sortBy { case (id, band) => (band, hash(id), id) }
      .zipWithIndex.map { case ((id, band), i) => (id, band, i.toLong) }.toSet
    for (nBuckets <- Seq(1, 4, 32))
      assert(run(nBuckets).toSet == naive, s"nBuckets=$nBuckets")
    // high-quality band occupies strictly lower positions than low
    val byBand = run(4).groupBy(_._2).view.mapValues(_.map(_._3)).toMap
    assert(byBand(0L).max < byBand(1L).min)
    // within a band the layout is the salted-hash order, not id order
    val band0Ids = run(4).filter(_._2 == 0L).sortBy(_._3).map(_._1).toSeq
    assert(band0Ids == (1L to 6L).sortBy(i => (hash(i), i)))
  }

  private def srcDocs(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  test("domainCap: at most k per source, picks are the hash-order smallest") {
    val d = srcDocs((1L to 12L).map(i => (i, s"s${i % 2}", s"text $i")): _*)
    val out = CorpusOps.domainCap(d, maxPerDomain = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.length == 4)
    assert(out.groupBy(_._2).values.forall(_.length == 2))
    // independent spec: per source, the 2 docs smallest by (bucket, id)
    val buckets = d.select(col("doc_id"), col("source"),
        CorpusOps.sampleBucket(col("doc_id"), "#cap").as("b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = buckets.groupBy(_._2).values.flatMap { g =>
      g.sortBy(x => (x._3, x._1)).take(2).zipWithIndex
        .map { case ((id, s, _), i) => (id, s, i + 1L) }
    }.toSet
    assert(out.toSet == expect)
  }

  test("tokenBudget: greedy per-source fill, crossing doc kept, bucket-invariant") {
    val d = srcDocs((1L to 10L).map(i =>
      (i, s"s${i % 2}", (1L to (i % 4) + 1).map(j => s"w$j").mkString(" "))): _*)
    // naive spec: per source, order by (bucket, id), keep while the
    // EXCLUSIVE prefix is under budget (so the crossing doc stays)
    val rows = d.select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n"),
        CorpusOps.sampleBucket(col("doc_id"), "#budget").as("b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val budget = 5L
    val naive = rows.groupBy(_._2).values.flatMap { g =>
      g.sortBy(x => (x._4, x._1))
        .scanLeft((0L, "", 0L, 0L)) { case ((_, _, _, acc), (id, s, n, _)) =>
          (id, s, n, acc + n)
        }.drop(1)
        .filter { case (_, _, n, end) => end - n < budget }
        .map { case (id, s, n, end) => (id, s, n, end - n) }
    }.toSet
    assert(naive.nonEmpty && naive.size < rows.length, "budget must bite")
    for (nBuckets <- Seq(1, 4, 32)) {
      val got = CorpusOps.tokenBudget(d, budget, nBuckets)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == naive, s"nBuckets=$nBuckets")
    }
  }

  test("redactPii: emails, phones, IPs tagged; counts match; clean text untouched") {
    val df = docs(
      (1L, "write bob.smith+x@mail-host.co.uk or call 555-123-0042 from 10.1.2.3 ok"),
      (2L, "no pii here just words"),
      (3L, "almost: user@host (no tld dot), 55-123-0042, 10.1.2"))
      .select(col("doc_id"),
        TextFunctions.piiCount(col("text")).as("n"),
        TextFunctions.redactPii(col("text")).as("r"))
    val m = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(m(1L) == ((3L, "write <EMAIL> or call <PHONE> from <IP> ok")))
    assert(m(2L) == ((0L, "no pii here just words")))
    // user@host has no dotted TLD, 55- is short a digit, 10.1.2 short an octet
    assert(m(3L)._1 == 0L && m(3L)._2 == "almost: user@host (no tld dot), 55-123-0042, 10.1.2")
  }

  test("rarityScore: hand-computed mean inverse df") {
    // dfs: a->3, b->2, c->1; inv: a->333333, b->500000, c->1000000
    val out = CorpusOps.rarityScore(
        docs((1L, "a a b"), (2L, "a c"), (3L, "b a")))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((3L, (333333L + 333333L + 500000L) / 3)))
    assert(out(2L) == ((2L, (333333L + 1000000L) / 2)))
    assert(out(3L) == ((2L, (500000L + 333333L) / 2)))
  }

  test("bm25Rank: hand-computed score on a 3-doc corpus") {
    // docs: "a a b" (tf_a=2, dl=3), "b b" (0, 2), "a c c" (1, 3)
    val d = docs(1L -> "a a b", 2L -> "b b", 3L -> "a c c")
    val out = CorpusOps.bm25Rank(d, Seq("a"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // N=3, T=8, df=2 -> idf_ppm = 1e6*(3-2+1)//3 = 666666
    // doc1: sat = 44e6*2*8 // (20*8*2*... ) = 704000000 // (320*2? ...)
    //   den = 20*8*2 + 6*8 + 18*3*3 = 320+48+162 = 530 -> sat = 1328301
    //   score = 666666 * 1328301
    // doc3: den = 20*8*1 + 48 + 162 = 370 -> sat = 44e6*8//370 = 951351
    assert(out.toSeq == Seq(
      (1L, 3L, 666666L * 1328301L),
      (3L, 3L, 666666L * 951351L)))
  }

  test("tokenizeToIds: vocab order ids, hashed OOV, position-ordered sequence") {
    // corpus: "b" tf=3 -> id 0, "a" tf=2 -> id 1; "rare"/"x" are OOV
    val d = docs(1L -> "b a rare b", 2L -> "a b x")
    val out = CorpusOps.tokenizeToIds(d, vocabSize = 2, oovBuckets = 7)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    def oov(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      2L + java.lang.Long.parseLong(md, 16) % 7
    }
    assert(out(1L) == ((4L, s"0_1_${oov("rare")}_0")))
    assert(out(2L) == ((3L, s"1_0_${oov("x")}")))
  }

  test("domainTerms: hand-computed lift, tf floor, per-source top-k") {
    import spark.implicits._
    // source a: 6 tokens (x x x y z w), source b: 6 tokens (y y y z w q)
    val d = Seq(
      (1L, "a", "x x x y z w"),
      (2L, "b", "y y y z w q")).toDF("doc_id", "source", "text")
    val out = CorpusOps.domainTerms(d, 2, minTf = 2L).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    spark.catalog.clearCache()
    // lift(x in a) = 3 * 12 * 1e6 // (6 * 3) = 2e6 (all of x is in a)
    assert(out(("a", 1L)) == (("x", 3L, 2000000L)))
    assert(out(("b", 1L)) == (("y", 3L, 3 * 12 * 1000000L / (6 * 4))))
    // rank 2 in each source: the only other token at tf >= 2 is absent
    // (z, w, q all tf 1 per source) -> exactly one row per source
    assert(!out.contains(("a", 2L)) && !out.contains(("b", 2L)))
  }

  test("lmSurprisal: hand-computed inverse conditionals, empty-doc zero") {
    // corpus: c2(a b)=3, c2(b a)=2, c2(a c)=1; c1(a)=4, c1(b)=2
    // s(a b)=4e6//3=1333333, s(b a)=2e6//2=1e6, s(a c)=4e6//1=4e6
    val d = docs(1L -> "a b", 2L -> "a b a b a", 3L -> "a c", 4L -> "x")
    val out = CorpusOps.lmSurprisal(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    d.sparkSession.catalog.clearCache()
    assert(out(1L) == ((1L, 1333333L)))
    // doc 2's 4 bigrams: (a b)(b a)(a b)(b a)
    // mean = (2*1333333 + 2*1000000) // 4 = 1166666
    assert(out(2L) == ((4L, (2 * 1333333L + 2 * 1000000L) / 4)))
    assert(out(4L) == ((0L, 0L)))
    // the rarer continuation scores strictly higher than the common one
    assert(out(3L)._2 > out(1L)._2)
  }

  test("lm artifact: build+appends score identically to from-scratch; serve == one-shot") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = scores(CorpusOps.lmSurprisal(d))
    spark.catalog.clearCache()
    // full build serve == one-shot
    val full = java.nio.file.Files.createTempDirectory("lm_full").toString
    CorpusOps.writeLmIndex(d, full)
    assert(scores(CorpusOps.lmScoreIndexed(spark, d, full)) == oneShot)
    // three-way grown artifact == from-scratch
    val grown = java.nio.file.Files.createTempDirectory("lm_grown").toString
    CorpusOps.writeLmIndex(d.filter(col("doc_id") % 3 === 0), grown)
    CorpusOps.appendLmIndex(d.filter(col("doc_id") % 3 === 1), grown)
    CorpusOps.appendLmIndex(d.filter(col("doc_id") % 3 === 2), grown)
    assert(scores(CorpusOps.lmScoreIndexed(spark, d, grown)) == oneShot)
  }

  test("lm artifact: delete subtracts exactly — build + delete == from-scratch over survivors") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val surv = d.filter(col("doc_id") % 5 =!= 0)
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // from-scratch counts over the survivors, scoring EVERYTHING
    val scratch = java.nio.file.Files.createTempDirectory("lm_scr").toString
    CorpusOps.writeLmIndex(surv, scratch)
    val exp = scores(CorpusOps.lmScoreIndexed(spark, d, scratch))
    spark.catalog.clearCache()
    // full build, then the takedown: negated partials net out
    val live = java.nio.file.Files.createTempDirectory("lm_del").toString
    CorpusOps.writeLmIndex(d, live)
    val before = scores(CorpusOps.lmScoreIndexed(spark, d, live))
    spark.catalog.clearCache()
    CorpusOps.deleteLmIndex(d.filter(col("doc_id") % 5 === 0), live)
    assert(scores(CorpusOps.lmScoreIndexed(spark, d, live)) === exp)
    assert(before !== exp, "vacuous: the deleted docs moved no count")
    spark.catalog.clearCache()
  }

  test("nb counts: delete partial == from-scratch train over survivors") {
    import spark.implicits._
    val srcs = (0 until 4).map(k => s"src$k")
    val seeds = seedSources(srcs)
    val rows = (0L until 60L).map { i =>
      val src = srcs((i % 4).toInt)
      (i, if (seeds(src)) s"good clean prose here tok$i" else s"spam junk click now tok$i",
        src)
    }
    val d = rows.toDF("doc_id", "text", "source")
    // delete doc_id % 6 == 1: every source keeps members (the honest
    // limit — full-source takedown — is a rebuild, per the scaladoc)
    val surv = d.filter(col("doc_id") % 6 =!= 1)
    val path = java.nio.file.Files
      .createTempDirectory("nb_del").toString + "/idx"
    CorpusOps.nbCountsBuild(d, path, "p0")
    CorpusOps.nbCountsDelete(d.filter(col("doc_id") % 6 === 1), path, "d0")
    val served = CorpusOps.nbQualityFromCounts(spark, surv, path, vocabSize = 16)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    val scratch = CorpusOps.nbQuality(surv, vocabSize = 16)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    assert(served === scratch && scratch.nonEmpty)
  }

  test("lm compact: artifact content == from-scratch over survivors, zero-netted bigrams gone") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val surv = d.filter(col("doc_id") % 5 =!= 0)
    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = java.nio.file.Files.createTempDirectory("lmc_scr").toString
    CorpusOps.writeLmIndex(surv, scratch)
    val live = java.nio.file.Files.createTempDirectory("lmc_live").toString
    CorpusOps.writeLmIndex(d.filter(col("doc_id") % 3 === 0), live)
    CorpusOps.appendLmIndex(d.filter(col("doc_id") % 3 =!= 0), live)
    CorpusOps.deleteLmIndex(d.filter(col("doc_id") % 5 === 0), live)
    val servedBefore = scores(CorpusOps.lmScoreIndexed(spark, d, live))
    spark.catalog.clearCache()
    CorpusOps.compactLmIndex(spark, live)
    // frame-level equality with the from-scratch survivor build —
    // stronger than serve equality: zero-netted bigrams are gone and
    // every surviving count is the final sum
    assert(rows(live) === rows(scratch))
    assert(scores(CorpusOps.lmScoreIndexed(spark, d, live)) === servedBefore)
    spark.catalog.clearCache()
  }

  test("nb compact: merged part serves == pre-compact; superseded parts stay as empty re-delivery markers") {
    import spark.implicits._
    val srcs = (0 until 4).map(k => s"src$k")
    val seeds = seedSources(srcs)
    val rows = (0L until 60L).map { i =>
      val src = srcs((i % 4).toInt)
      (i, if (seeds(src)) s"good clean prose here tok$i" else s"spam junk click now tok$i",
        src)
    }
    val d = rows.toDF("doc_id", "text", "source")
    val surv = d.filter(col("doc_id") % 6 =!= 1)
    val path = java.nio.file.Files
      .createTempDirectory("nb_compact").toString + "/idx"
    // lifecycle with a STREAM-committed part: batch_1's dir is also
    // its idempotence marker, so compaction must keep the name alive
    CorpusOps.nbCountsBuild(d.filter(col("doc_id") < 30), path, "batch_0")
    graft.streaming.AtomicIngest.commitBatch(spark, path, 1L) { staging =>
      CorpusOps.writeNbPartial(d.filter(col("doc_id") >= 30), staging)
    }
    CorpusOps.nbCountsDelete(d.filter(col("doc_id") % 6 === 1), path, "d0")
    val before = CorpusOps.nbQualityFromCounts(spark, surv, path, vocabSize = 16)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    CorpusOps.compactNbCounts(spark, path)
    val after = CorpusOps.nbQualityFromCounts(spark, surv, path, vocabSize = 16)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    assert(after === before && after.nonEmpty)
    // one data part left; the superseded names persist as EMPTY dirs
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def exists(n: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$n"))
    assert(exists("compacted") && exists("batch_0") &&
      exists("batch_1") && exists("d0"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/batch_0/tokens")),
      "superseded part kept its data")
    // a re-delivered stream batch still finds its marker: the write
    // closure must NOT run (it would double-count batch_1)
    graft.streaming.AtomicIngest.commitBatch(spark, path, 1L) { _ =>
      fail("re-delivered batch was not skipped after compaction")
    }
    assert(CorpusOps.nbQualityFromCounts(spark, surv, path, vocabSize = 16)
      .collect().map(_.toSeq).toSet === before)
    spark.catalog.clearCache()
  }

  test("kmv sketch: exact below k, bottom-k estimate within tolerance above") {
    import spark.implicits._
    // stratum "small": 3 docs, few distinct shingles (< k) -> exact path
    // stratum "big": 200 docs of unique tokens -> estimator path
    val rows =
      (1L to 3L).map(i => (s"small", i, s"a b c d$i")) ++
        (1L to 200L).map(i => ("big", 100 + i, (0 to 20).map(j => s"t${i}_$j").mkString(" ")))
    val d = rows.toDF("lang", "doc_id", "text")
    val out = CorpusOps.kmvDistinctShingles(d, k = 16)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (smallExact, smallEst) = out("small")
    assert(smallExact < 16 && smallEst == smallExact) // exact path
    val (bigExact, bigEst) = out("big")
    assert(bigExact > 1000)
    // k=16 bottom-k: relative error ~1/sqrt(k-2) (~27%); 2 sigma bound
    assert(math.abs(bigEst - bigExact).toDouble / bigExact < 0.55,
      s"estimate $bigEst vs exact $bigExact")
  }

  test("hll sketch: estimate within tolerance, duplicate-insensitive, partitioning-invariant") {
    import spark.implicits._
    val rows =
      (1L to 3L).map(i => ("small", i, s"a b c d$i")) ++
        (1L to 200L).map(i => ("big", 100 + i, (0 to 20).map(j => s"t${i}_$j").mkString(" ")))
    val d = rows.toDF("lang", "doc_id", "text")
    val out = CorpusOps.hllDistinctShingles(d)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.get(2).toString.toLong))).toMap
    // exact distinct shingle count per stratum, computed independently
    val exact = d.select(col("lang"),
        explode(graft.dedup.Dedup.shingleHashes(col("text"), 3)).as("h"))
      .distinct().groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // m=64 raw HLL: ~13% standard error; 3-sigma bound on the big stratum
    val (_, bigEst) = out("big")
    assert(math.abs(bigEst - exact("big")).toDouble / exact("big") < 0.4,
      s"estimate $bigEst vs exact ${exact("big")}")
    // small stratum: most registers empty, raw estimate still positive
    assert(out("small")._1 > 0 && out("small")._2 > 0)
    // duplicate-insensitive: the doubled corpus has the SAME sketch
    assert(CorpusOps.hllDistinctShingles(d.union(d))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.get(2).toString.toLong))).toMap == out)
    // pure function of the data: partitioning cannot move any register
    assert(CorpusOps.hllDistinctShingles(d.repartition(13))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.get(2).toString.toLong))).toMap == out)
  }

  test("hll corrected estimate: linear counting beats raw on a small stratum, no-op on a big one") {
    import spark.implicits._
    val rows =
      (1L to 3L).map(i => ("small", i, s"a b c d$i")) ++
        (1L to 200L).map(i => ("big", 100 + i, (0 to 20).map(j => s"t${i}_$j").mkString(" ")))
    val d = rows.toDF("lang", "doc_id", "text")
    val exact = d.select(col("lang"),
        explode(graft.dedup.Dedup.shingleHashes(col("text"), 3)).as("h"))
      .distinct().groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = CorpusOps.hllCorrectedEstimate(
        CorpusOps.hllDistinctShingles(d))
      .collect().map(r => r.getString(0) ->
        ((r.get(2).toString.toLong, r.getDouble(3)))).toMap
    val (smallRaw, smallCor) = out("small")
    // the raw m=64 harmonic mean saturates near alpha*m (~45) however
    // small the stratum; linear counting recovers the true scale
    assert(math.abs(smallCor - exact("small")) <
      math.abs(smallRaw.toDouble - exact("small")),
      s"corrected $smallCor raw $smallRaw exact ${exact("small")}")
    assert(math.abs(smallCor - exact("small")) / exact("small") < 0.3,
      s"corrected $smallCor exact ${exact("small")}")
    // big stratum: raw regime, correction passes the raw value through
    val (bigRaw, bigCor) = out("big")
    assert(bigCor == bigRaw.toDouble, s"big: $bigCor vs raw $bigRaw")
  }

  test("bloom sizer: minimal power-of-two words; achieved FP rate within 2x of target") {
    import spark.implicits._
    val p = CorpusOps.ContaminationParams(minOverlap = 1L)
    // partition candidate ids into the hash-assigned splits, exactly
    // like the decontamination operator will
    val ids = docs((1L to 1200L).map(i => i -> "x"): _*)
      .select(col("doc_id"), TextFunctions.splitLabel(col("doc_id"), p.cuts).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val benchIds = ids.collect { case (i, "test") => i }.toSeq.sorted.take(50)
    val trainIds = ids.collect { case (i, "train") => i }.toSeq.sorted.take(550)
    assert(benchIds.size == 50 && trainIds.size == 550)
    var tok = 0
    def uniqueText(prefix: String): String = {
      tok += 1; (0 until 40).map(j => s"$prefix${tok}_$j").mkString(" ")
    }
    val d = docs(
      benchIds.map(i => i -> uniqueText("b")) ++
        trainIds.map(i => i -> uniqueText("t")): _*)
    val bench = d.filter(TextFunctions.splitLabel(col("doc_id"), p.cuts) === "test")
    val nShingles = bench
      .select(explode(graft.dedup.Dedup.shingleHashes(col("text"), p.shingleK)).as("h"))
      .distinct().count()
    val target = 20000L // 2% in ppm
    val words = CorpusOps.bloomWordsFor(nShingles, target)
    // minimality against the same closed form the sizer uses
    def fppm(w: Long): Double = {
      val inner = 1.0 - math.exp(-2.0 * nShingles / (w * 64.0))
      inner * inner * 1e6
    }
    assert((words & (words - 1)) == 0 && fppm(words) <= target)
    assert(words == 1 || fppm(words / 2) > target, s"words=$words not minimal")
    // achieved rate, measured empirically: train shingles are DISJOINT
    // from the benchmark's, so every hit is a false positive
    val out = CorpusOps.bloomDecontaminate(d, words = words, p = p)
    val fpHits = out.agg(coalesce(sum(col("n_hits")), lit(0L))).collect()(0).getLong(0)
    val probed = d.filter(TextFunctions.splitLabel(col("doc_id"), p.cuts) === "train")
      .select(explode(graft.dedup.Dedup.shingleHashes(col("text"), p.shingleK)))
      .count()
    val measuredPpm = fpHits.toDouble * 1e6 / probed
    assert(measuredPpm <= 2.0 * target,
      s"measured $measuredPpm ppm vs target $target (words=$words, n=$nShingles)")
    assert(measuredPpm >= target / 8.0, // sized, not absurdly oversized
      s"measured $measuredPpm ppm suspiciously low vs target $target")
  }

  test("kmv set ops: identical strata -> jaccard 1e6; disjoint -> 0; union est within tolerance") {
    import spark.implicits._
    val mk = (s: String, off: Int) => (1L to 100L).map(i =>
      (s, off + i, (0 to 20).map(j => s"$s${i}_$j").mkString(" ")))
    // "a1"/"a2" carry IDENTICAL shingle sets; "zz" is disjoint from both
    val rows = mk("a1", 0).map { case (_, i, t) => ("a1", i, t) } ++
      mk("a1", 1000).map { case (_, i, t) => ("a2", i, t) } ++
      mk("zz", 2000)
    val d = rows.toDF("lang", "doc_id", "text")
    val out = CorpusOps.kmvSetOps(d, k = 16)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out.size == 3) // all (a < b) stratum pairs
    // identical strata: every union-sketch member is in both sketches
    val (u12, kInter12, j12, i12) = out(("a1", "a2"))
    assert(kInter12 == 16L && j12 == 1000000L && i12 == u12)
    // disjoint strata: 60-bit hashes of disjoint shingle sets never collide here
    val (_, kInterAz, jAz, iAz) = out(("a1", "zz"))
    assert(kInterAz == 0L && jAz == 0L && iAz == 0L)
    // union estimate vs the exact distinct count of the union
    val exactUnion = d.filter(col("lang").isin("a1", "zz"))
      .select(explode(graft.dedup.Dedup.shingleHashes(col("text"), 3)).as("h"))
      .distinct().count()
    val (uAz, _, _, _) = out(("a1", "zz"))
    assert(math.abs(uAz - exactUnion).toDouble / exactUnion < 0.55,
      s"union estimate $uAz vs exact $exactUnion")
  }

  test("sketch lifecycle: partial-file appends estimate identically to a from-scratch build") {
    import spark.implicits._
    // overlapping content ACROSS batches (i % 37) so the read-time
    // merge actually sees duplicate hashes from different partials
    val rows = (1L to 120L).map(i => (if (i % 2 == 0) "en" else "zh", i,
      (0 to 10).map(j => s"t${i % 37}_$j").mkString(" ")))
    val d = rows.toDF("lang", "doc_id", "text")
    val parts = (0 to 2).map(m => d.filter(col("doc_id") % 3 === m))
    val tmp = java.nio.file.Files.createTempDirectory("graft_sketch_life").toString
    // HLL: build + two appends == one full build (max merge law)
    CorpusOps.writeHllSketch(parts(0), s"$tmp/hll")
    CorpusOps.appendHllSketch(parts(1), s"$tmp/hll")
    CorpusOps.appendHllSketch(parts(2), s"$tmp/hll")
    val hllServed = CorpusOps.hllSketchEstimate(spark, s"$tmp/hll")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val hllFull = CorpusOps.hllDistinctShingles(d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(hllServed == hllFull && hllServed.nonEmpty)
    // KMV: bottom-k of unioned partials == bottom-k of the union corpus
    CorpusOps.writeKmvSketch(parts(0), s"$tmp/kmv")
    CorpusOps.appendKmvSketch(parts(1), s"$tmp/kmv")
    CorpusOps.appendKmvSketch(parts(2), s"$tmp/kmv")
    val kmvServed = CorpusOps.kmvSketchEstimate(spark, s"$tmp/kmv")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val kmvFull = CorpusOps.kmvDistinctShingles(d)
      .collect().map(r => (r.getString(0),
        math.min(16L, r.getLong(1)), r.getLong(2))).sorted.toSeq
    assert(kmvServed == kmvFull && kmvServed.nonEmpty)
    // compaction: served estimates bit-identical, partial files merged
    def dataFiles(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val hllFilesBefore = dataFiles(s"$tmp/hll")
    CorpusOps.compactHllSketch(spark, s"$tmp/hll")
    assert(CorpusOps.hllSketchEstimate(spark, s"$tmp/hll")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq == hllServed)
    assert(dataFiles(s"$tmp/hll") < hllFilesBefore,
      s"hll: ${dataFiles(s"$tmp/hll")} vs $hllFilesBefore")
    val kmvFilesBefore = dataFiles(s"$tmp/kmv")
    CorpusOps.compactKmvSketch(spark, s"$tmp/kmv")
    assert(CorpusOps.kmvSketchEstimate(spark, s"$tmp/kmv")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq == kmvServed)
    assert(dataFiles(s"$tmp/kmv") < kmvFilesBefore,
      s"kmv: ${dataFiles(s"$tmp/kmv")} vs $kmvFilesBefore")
  }

  test("cms lifecycle: build+append == from-scratch; delete(+compact) == survivors from-scratch") {
    import spark.implicits._
    // heavy cross-batch token overlap ((i+j) % 23) PLUS a token unique
    // to each doc, so deletions both subtract from shared cells and
    // net doc-private cells to zero
    val rows = (1L to 90L).map(i =>
      (i, ((0 to 8).map(j => s"t${(i + j) % 23}") :+ s"only$i").mkString(" ")))
    val d = rows.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cms_life").toString
    def served(docs: org.apache.spark.sql.DataFrame) =
      CorpusOps.cmsEstimateFromSketch(spark, docs, s"$tmp/cms", topN = 40)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def scratch(docs: org.apache.spark.sql.DataFrame) = {
      val out = CorpusOps.cmsTokenCounts(docs, topN = 40)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      spark.catalog.clearCache()
      out
    }
    // sum-merge law: build 2/3 + append 1/3 == one full build
    CorpusOps.writeCmsSketch(d.filter(col("doc_id") % 3 =!= 0), s"$tmp/cms")
    CorpusOps.appendCmsSketch(d.filter(col("doc_id") % 3 === 0), s"$tmp/cms")
    val full = scratch(d)
    assert(full.nonEmpty && served(d) == full)
    // subtraction law: a negated partial nets to the survivor sketch
    val survivors = d.filter(col("doc_id") % 5 =!= 0)
    CorpusOps.deleteCmsSketch(d.filter(col("doc_id") % 5 === 0), s"$tmp/cms")
    val survScratch = scratch(survivors)
    assert(served(survivors) == survScratch)
    // compaction: zero-logical-change, zero-netted cells physically
    // dropped, file count shrinks
    def files = new java.io.File(s"$tmp/cms").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val mergedBefore = spark.read.parquet(s"$tmp/cms")
      .groupBy(col("r"), col("b")).agg(sum(col("cms")).as("cms"))
      .filter(col("cms") =!= 0L)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val filesBefore = files
    CorpusOps.compactCmsSketch(spark, s"$tmp/cms")
    val stored = spark.read.parquet(s"$tmp/cms")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(stored == mergedBefore, "compaction changed the merged sketch")
    assert(stored.forall(_._3 != 0L), "a zero-netted cell survived compaction")
    assert(files < filesBefore, s"$files vs $filesBefore")
    assert(served(survivors) == survScratch)
  }

  test("cms compact: a stream-committed batch dir survives as an empty re-delivery marker") {
    import spark.implicits._
    val d = (1L to 40L).map(i => (i, s"alpha beta tok$i")).toDF("doc_id", "text")
    val surv = d.filter(col("doc_id") % 4 =!= 0)
    val path = java.nio.file.Files
      .createTempDirectory("cms_compact").toString + "/cms"
    def served() = {
      val out = CorpusOps.cmsEstimateFromSketch(spark, surv, path, topN = 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      spark.catalog.clearCache()
      out
    }
    // build + one STREAM-committed CDC batch (its batch_1 dir is the
    // re-delivery marker) + a delete, then compact
    CorpusOps.writeCmsSketch(d.filter(col("doc_id") <= 20), path)
    val batch1 = d.filter(col("doc_id") > 20).withColumn("op", lit("add"))
    graft.streaming.AtomicIngest.commitBatch(spark, path, 1L) { staging =>
      CorpusOps.writeCmsCdcPartial(batch1, staging)
    }
    CorpusOps.deleteCmsSketch(d.filter(col("doc_id") % 4 === 0), path)
    val before = served()
    CorpusOps.compactCmsSketch(spark, path)
    assert(served() === before && before.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(s"$path/batch_1")
    assert(fs.exists(marker), "compaction dropped the batch_1 re-delivery marker")
    assert(fs.listStatus(marker).isEmpty, "superseded batch dir kept its data")
    // a re-delivered batch 1 must NOT run again (it would double-count)
    graft.streaming.AtomicIngest.commitBatch(spark, path, 1L) { _ =>
      fail("re-delivered batch was not skipped after compaction")
    }
    assert(served() === before)
  }

  test("weightedSample: matches the naive prefix-sum spec; picks telescope to floor(T/stride)") {
    // sparse unordered ids, varying lengths — same shape as the pack test
    val d = docs(Seq(7L, 100L, 3L, 42L, 999L, 500L).zipWithIndex.map {
      case (id, i) => id -> (0 to 2 * i).map(j => s"w$j").mkString(" ")
    }: _*)
    val stride = 4L
    // naive spec: sort by doc_id, exclusive prefix sum, systematic picks
    val naive = d.select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (id, n)) => (id, n, acc + n) }
      .drop(1)
      .map { case (id, n, end) =>
        (id, n, end - n, (end / stride) - ((end - n) / stride))
      }
    val expected = naive.filter(_._4 >= 1)
      .map { case (id, n, st, p) => id -> ((n, st, p)) }.toMap
    val total = naive.map(_._2).sum
    for (nBuckets <- Seq(1, 4, 32)) {
      val got = CorpusOps.weightedSample(d, stride, nBuckets)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == expected, s"nBuckets=$nBuckets")
      // the picks partition the token axis: sum telescopes exactly
      assert(got.values.map(_._3).sum == total / stride, s"nBuckets=$nBuckets")
    }
  }

  test("bloom decontamination: no false negatives vs the exact join; hits bounded; deterministic") {
    val p = CorpusOps.ContaminationParams(minOverlap = 1L)
    val ids = docs((1L to 200L).map(i => i -> "x"): _*)
      .select(col("doc_id"), TextFunctions.splitLabel(col("doc_id"), p.cuts).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainId = ids.collectFirst { case (i, "train") => i }.get
    val testId = ids.collectFirst { case (i, "test") => i }.get
    val otherTrain = ids.collectFirst { case (i, "train") if i != trainId => i }.get
    val d = docs(
      trainId -> "w1 w2 w3 w4 w5",  // shares all 3 shingles with the bench doc
      testId -> "w1 w2 w3 w4 w5",
      otherTrain -> "q1 q2 q3 q4")  // disjoint from the benchmark
    val out = CorpusOps.bloomDecontaminate(d, words = 8192, p)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // one-sided: the truly contaminated doc is ALWAYS flagged, with
    // n_hits at least its true shared-shingle count (3)
    assert(out.contains(trainId) && out(trainId)._2 >= 3L)
    // hits never exceed the doc's own shingle count
    assert(out.forall { case (_, (nSh, nHits)) => nHits <= nSh })
    // 524288-bit filter, 6 benchmark bits set -> the disjoint doc's 2
    // probes miss (deterministic for this fixed data)
    assert(!out.contains(otherTrain))
    // pure function of the data
    val again = CorpusOps.bloomDecontaminate(d.repartition(7), words = 8192, p)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(again == out)
  }

  test("cms sketch: one-sided guarantee, exact at low load, collisions over-estimate only") {
    import spark.implicits._
    val d = Seq((1L, "a a a b b c"), (2L, "a b d"), (3L, "e")).toDF("doc_id", "text")
    // wide sketch: 5 distinct tokens across 4x1024 counters -> in any
    // row a collision among 5 tokens is possible but min-over-4-rows
    // makes all estimates exact with overwhelming margin; assert the
    // hard guarantee (est >= true) everywhere and exactness here
    val out = CorpusOps.cmsTokenCounts(d, depth = 4, width = 1024, topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    spark.catalog.clearCache()
    assert(out.length == 5)
    assert(out.forall { case (_, t, e) => e >= t }) // CMS never under-counts
    assert(out.toSeq.map(t => (t._1, t._2)).sorted ==
      Seq(("a", 4L), ("b", 3L), ("c", 1L), ("d", 1L), ("e", 1L)))
    assert(out.forall { case (_, t, e) => e == t }) // wide sketch -> exact
    // width=1: every token lands in the single bucket per row -> every
    // estimate is the total token count (the degenerate over-estimate)
    val tiny = CorpusOps.cmsTokenCounts(d, depth = 2, width = 1, topN = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    spark.catalog.clearCache()
    assert(tiny.forall(_._2 == 10L))
  }

  test("domain stats: lower discrete median, deterministic under ties") {
    import spark.implicits._
    // src_even: counts 1,2,3,4 -> cnt=4, rn=(4+1)//2=2 -> median 2
    // src_ties: counts 5,5,9 -> rn=2 -> median 5 whatever the tie order
    val d = Seq(
      ("src_even", "en", "w"), ("src_even", "en", "w w"),
      ("src_even", "fr", "w w w"), ("src_even", "en", "w w w w"),
      ("src_ties", "en", "a b c d e"), ("src_ties", "de", "a b c d e"),
      ("src_ties", "en", "a b c d e f g h i"))
      .toDF("source", "lang", "text")
    val out = CorpusOps.domainStats(d)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("src_even") == ((4L, 10L, 2L, 2L)))
    assert(out("src_ties") == ((3L, 19L, 2L, 5L)))
  }

  test("chunkWindows: stride grid, off-grid tail window, arithmetic chunk_idx") {
    val d = docs(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // cap 3 off-grid -> starts 1,3
      (2L, (1 to 8).map(i => s"t$i").mkString(" ")),  // exactly one full window
      (3L, "a b c"),                                  // short doc -> one short chunk
      (4L, (1 to 17).map(i => s"t$i").mkString(" "))) // starts 1,5,9 + off-grid cap 10
    val out = CorpusOps.chunkWindows(d, win = 8, stride = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(x => (x._1, x._2)).toSeq
    def t(a: Int, b: Int) = (a to b).map(i => s"t$i").mkString(" ")
    assert(out.filter(_._1 == 1L) == Seq(
      (1L, 0L, 1L, 8L, t(1, 8)), (1L, 1L, 3L, 8L, t(3, 10))))
    assert(out.filter(_._1 == 2L) == Seq((2L, 0L, 1L, 8L, t(1, 8))))
    assert(out.filter(_._1 == 3L) == Seq((3L, 0L, 1L, 3L, "a b c")))
    assert(out.filter(_._1 == 4L) == Seq(
      (4L, 0L, 1L, 8L, t(1, 8)), (4L, 1L, 5L, 8L, t(5, 12)),
      (4L, 2L, 9L, 8L, t(9, 16)), (4L, 3L, 10L, 8L, t(10, 17))))
    // invariant: every token index is inside some window (tail covered)
    assert(out.filter(_._1 == 4L).map(x => x._3 + x._4 - 1).max == 17L)
  }

  test("mixtureWeights: alpha=1/2 up-samples small sources, exact integer ppm") {
    import spark.implicits._
    // big: 100 tokens, small: 4, tiny: 1 -> isq 10/2/1, sums 105/13
    val rows =
      (1 to 10).map(i => ("big", (1 to 10).map(j => s"b$i$j").mkString(" "))) ++
      Seq(("small", "s1 s2 s3 s4"), ("tiny", "t1"))
    val out = CorpusOps.mixtureWeights(rows.toDF("source", "text"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("big") == ((100L, 952380L, 769230L, 807692L)))   // down-sampled
    assert(out("small") == ((4L, 38095L, 153846L, 4038482L)))   // ~4x up
    assert(out("tiny") == ((1L, 9523L, 76923L, 8077601L)))      // ~8x up
    // weights sum to ~1e6 (floor rounding leaves at most n_sources ulps)
    val wsum = out.values.map(_._3).sum
    assert(wsum > 999990L && wsum <= 1000000L)
  }

  test("mixtureSample: most-boosted source keeps 100%, others hash-thinned at boost/max") {
    import spark.implicits._
    // big: 32 docs x 25 tokens (800), small: 4 docs x 4 tokens (16)
    // -> isq 28/4, boosts 892500/6375274, keep_ppm 139993 / 1000000
    val rows = (1 to 32).map(i => ("big", (1 to 25).map(j => s"b${i}x$j").mkString(" "))) ++
      (1 to 4).map(i => ("small", s"s$i a b c"))
    val df = rows.zipWithIndex.map { case ((src, t), i) => (i.toLong, src, t) }
      .toDF("doc_id", "source", "text")
    val out = CorpusOps.mixtureSample(df).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val small = out.filter(_._2 == "small")
    assert(small.length == 4 && small.forall(_._3 == 1000000L))
    // big survivors are exactly the docs whose salted bucket < 139993
    val expectBig = df.filter($"source" === "big")
      .withColumn("bk", CorpusOps.sampleBucket($"doc_id", "#mix"))
      .filter($"bk" < 139993L).collect().map(_.getLong(0)).toSet
    val gotBig = out.filter(_._2 == "big")
    assert(gotBig.map(_._1).toSet == expectBig)
    assert(gotBig.forall(_._3 == 139993L))
    assert(gotBig.length < 32) // the thinning actually removed rows
  }

  test("contamination: cached and recomputed postings plans agree exactly") {
    // cachePostings only changes WHERE the postings come from (cache
    // pool vs three narrow re-scans) — the result must be identical
    val p = CorpusOps.ContaminationParams(minOverlap = 1L)
    val d = docs((1L to 300L).map(i =>
      i -> s"w${i % 7} w${i % 5} w${i % 3} common tail tokens here"): _*)
    def rows(pp: CorpusOps.ContaminationParams) =
      CorpusOps.contamination(d, pp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val cached = rows(p)
    assert(cached.nonEmpty) // the corpus actually produces pairs
    assert(rows(p.copy(cachePostings = false)) == cached)
    d.sparkSession.catalog.clearCache()
  }
}
