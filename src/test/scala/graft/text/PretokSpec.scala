package graft.text

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Pins the GPT-2-style pre-tokenization semantics
  * ([[TextFunctions.PretokPattern]]): fixture splits (ASCII +
  * unicode), full-coverage concat identity, agreement with the SHIPPED
  * GPT-2 pattern (lookahead included, run driver-side with Java regex)
  * everywhere outside the ONE documented divergence (Unicode
  * whitespace), and the divergence itself — exactly where
  * docs/COMPAT.md §pretok says it is and nowhere else. */
class PretokSpec extends AnyFunSuite with LocalSparkSuite {

  private def split(text: String): Seq[String] = {
    import spark.implicits._
    Seq(text).toDF("text")
      .select(TextFunctions.pretokenize(col("text")).as("p"))
      .collect()(0).getSeq[String](0)
  }

  /** The shipped GPT-2 pattern verbatim (lookahead included) — Java
    * regex supports it, so the reference runs driver-side. */
  private val Gpt2 = ("'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+" +
    "| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+").r

  private def gpt2Split(text: String): Seq[String] =
    Gpt2.findAllIn(text).toSeq

  test("fixture splits: contractions, space attachment, category runs, unicode") {
    assert(split("I'll say don't, it's 42km!") ===
      Seq("I", "'ll", " say", " don", "'t", ",", " it", "'s", " 42", "km", "!"))
    assert(split("hello world") === Seq("hello", " world"))
    assert(split("abc123def") === Seq("abc", "123", "def"))
    // unicode letters are \p{L}, CJK included; accents stay in the run
    assert(split("café über 東京 2024") ===
      Seq("café", " über", " 東京", " 2024"))
    // symbols group, letters break them
    assert(split("a+=b;") === Seq("a", "+=", "b", ";"))
    assert(split("") === Seq.empty)
  }

  test("every character lands in exactly one piece (concat identity)") {
    val fixtures = Seq("I'll say don't!", "  double  spaces  ", "tabs\tand\nnewlines",
      "mixed 東京2024 ++ text", "trailing   ", " nbsp and vt", "x")
    for (t <- fixtures)
      assert(split(t).mkString === t, s"coverage broke on: ${t.replace("\n", "\\n")}")
  }

  test("agrees with the shipped GPT-2 pattern outside the documented divergences") {
    // single spaces between tokens — the overwhelmingly common case —
    // split identically to the shipped pattern
    val agree = Seq("I'll say don't, it's 42km!", "hello world", "a+=b; c==d",
      "café über 東京 2024", "one two three4 five!", "trailing space ")
    for (t <- agree)
      assert(split(t) === gpt2Split(t), s"diverged from GPT-2 on: $t")
  }

  test("multi-whitespace runs match the shipped lookahead semantics (attach transform)") {
    // shipped: "a  b" -> [a][ ][ b] — the lookahead \s+(?!\S) leaves
    // the run's last char, and a literal space attaches forward; the
    // attach transform reproduces this without the lookahead
    assert(split("a  b") === Seq("a", " ", " b"))
    assert(split("a  b") === gpt2Split("a  b"))
    // a trailing non-space whitespace char stands alone (the shipped
    // \s+ fallback — only a literal space can match the ` ?` prefixes)
    assert(split("a\t\tb") === Seq("a", "\t", "\t", "b"))
    assert(split("a\t\tb") === gpt2Split("a\t\tb"))
    assert(split("a \tb") === gpt2Split("a \tb"))
    assert(split("a\t b") === Seq("a", "\t", " b"))
    assert(split("a\t b") === gpt2Split("a\t b"))
    // at end of string both consume the full run as one piece
    assert(split("a  ") === gpt2Split("a  "))
    // leading runs behave the same as interior ones
    assert(split("   x") === gpt2Split("   x"))
    // an attached space BREAKS a contraction in the shipped engine:
    // " 's" is a symbol run " '" plus a letter run — including the
    // merge with an adjacent bare letter-run piece ("sword")
    assert(split("a  's") === Seq("a", " ", " '", "s"))
    assert(split("a  's") === gpt2Split("a  's"))
    assert(split("a  'sword") === Seq("a", " ", " '", "sword"))
    assert(split("a  'sword") === gpt2Split("a  'sword"))
    assert(split("a  'll x") === gpt2Split("a  'll x"))
    assert(split("a  's't") === gpt2Split("a  's't"))
    assert(split("a  's1") === gpt2Split("a  's1"))
    assert(split("a  's word") === gpt2Split("a  's word"))
    // symbol and digit runs receive the space like letter runs do
    assert(split("a  !!") === gpt2Split("a  !!"))
    assert(split("a  42") === gpt2Split("a  42"))
    // uppercase is not a contraction in either engine
    assert(split("a  'S") === gpt2Split("a  'S"))
  }

  test("randomized agreement with the shipped pattern (divergent chars excluded)") {
    // alphabet deliberately excludes unicode whitespace — the one
    // remaining documented divergence; everything else (all five ASCII
    // whitespace chars, contractions, categories) must agree
    val alphabet = "ab1!' \t\n\r\f\u000Bé東s".toCharArray
    val rnd = new scala.util.Random(20260815L)
    for (i <- 0 until 400) {
      val t = Array.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val ours = split(t)
      assert(ours === gpt2Split(t),
        s"diverged from GPT-2 on case $i: ${t.replace("\n", "\\n").replace("\t", "\\t")}")
      assert(ours.mkString === t, s"coverage broke on case $i")
    }
  }

  test("vertical tab is whitespace, matching the shipped pattern (class gap closed)") {
    // the pinned class [ \t\n\x0B\f\r] is Python's core [ \t\n\v\f\r]
    // spelled so Java and RE2 agree (RE2's own \s lacks \x0B); a VT
    // therefore splits as whitespace, like the shipped pattern —
    // including through the attach transform (trailing VT stands alone)
    assert(split("a\u000Bb") === Seq("a", "\u000B", "b"))
    assert(split("a\u000Bb") === gpt2Split("a\u000Bb"))
    assert(split("a \u000B b") === gpt2Split("a \u000B b"))
    assert(split("a\u000B\u000Bb") === gpt2Split("a\u000B\u000Bb"))
    assert(split("a\u000B b") === gpt2Split("a\u000B b"))
  }

  test("documented divergence: unicode whitespace is a symbol run (shipped \\s is Unicode-aware)") {
    // GPT-2 ships under Python regex where NBSP/ideographic space are
    // \s; the pinned ASCII class makes them symbol runs here -- in
    // both engines identically, joined with adjacent symbol chars
    assert(split("a b") === Seq("a", " ", "b"))
    assert(split("x  　 y") === Seq("x", "  　", " y"))
  }

  test("pretokenizeBpe: piece ids match a hand-computed byte encode") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab!")).toDF("doc_id", "text")
    // one merge: hex(a)=61, hex(b)=62 -> symbol 6162 gets id 256
    val out = CorpusOps.pretokenizeBpe(docs, Seq(("61", "62")))
      .orderBy(col("pos")).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3), r.getString(4)))
    assert(out === Array(
      (0L, "ab", 1L, "256"),
      (1L, " ab", 2L, "32_256"),
      (2L, "!", 1L, "33")))
  }
}
