package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Randomized properties with no reference counterpart (the reference
  * ships no property tests — /root/reference/duckdb_lindel_rust/src/lib.rs:341).
  * Deterministic seed so failures reproduce.
  */
class SFCPropertySpec extends AnyFunSuite {
  import SFC._

  private val allDims: Seq[(Int, Int)] =
    for (bits <- Seq(8, 16, 32, 64); n <- 1 to (128 / bits)) yield (bits, n)

  test("decode(encode(x)) == x for every (bits, n) combo — both curves") {
    val rnd = new Random(42)
    for ((bits, n) <- allDims; _ <- 1 to 200) {
      val xs = Array.fill(n)(mask(rnd.nextLong(), bits))
      val out = new Array[Long](n)
      hilbertDecode(hilbertEncode(xs, bits), bits, n, out)
      assert(out.toSeq == xs.toSeq, s"hilbert bits=$bits n=$n xs=${xs.toSeq}")
      mortonDecode(mortonEncode(xs, bits), bits, n, out)
      assert(out.toSeq == xs.toSeq, s"morton bits=$bits n=$n xs=${xs.toSeq}")
    }
  }

  test("encode(decode(k)) == k for every (bits, n) combo — both curves") {
    val rnd = new Random(43)
    for ((bits, n) <- allDims; _ <- 1 to 200) {
      val total = bits * n
      val key =
        if (total >= 128) U128(rnd.nextLong(), rnd.nextLong())
        else if (total > 64) U128(mask(rnd.nextLong(), total - 64), rnd.nextLong())
        else U128(0L, mask(rnd.nextLong(), total))
      val out = new Array[Long](n)
      hilbertDecode(key, bits, n, out)
      assert(hilbertEncode(out, bits) == key, s"hilbert bits=$bits n=$n k=$key")
      mortonDecode(key, bits, n, out)
      assert(mortonEncode(out, bits) == key, s"morton bits=$bits n=$n k=$key")
    }
  }

  test("Hilbert adjacency: consecutive indices differ by 1 in exactly one coordinate") {
    def check(bits: Int, n: Int, steps: Long): Unit = {
      val prev = new Array[Long](n)
      val cur = new Array[Long](n)
      hilbertDecode(U128(0, 0), bits, n, prev)
      var k = 1L
      while (k <= steps) {
        hilbertDecode(U128(0, k), bits, n, cur)
        val diffs = (0 until n).map(i => math.abs(cur(i) - prev(i))).filter(_ != 0)
        assert(diffs == Seq(1L), s"bits=$bits n=$n step $k: ${prev.toSeq} -> ${cur.toSeq}")
        System.arraycopy(cur, 0, prev, 0, n)
        k += 1
      }
    }
    check(8, 2, 65535L) // the full 2-D 8-bit curve
    check(8, 3, 8191L)
    check(16, 2, 8191L)
    check(32, 2, 2047L)
  }

  test("magic-mask fast paths == bit-by-bit generic interleave (both directions)") {
    val rnd = new Random(47)
    for ((bits, n) <- Seq((8, 2), (16, 2), (32, 2), (64, 2), (8, 4), (16, 4)); _ <- 1 to 2000) {
      val xs = Array.fill(n)(mask(rnd.nextLong(), bits))
      val fast = mortonEncode(xs, bits, n)
      assert(fast == mortonEncodeGeneric(xs, bits, n), s"encode bits=$bits n=$n xs=${xs.toSeq}")
      // decode of an arbitrary key (not just encode outputs) must agree,
      // including keys with stray bits above n*bits
      val key = U128(if (bits * n > 64) rnd.nextLong() else 0L, rnd.nextLong())
      val a = new Array[Long](n); val b = new Array[Long](n)
      mortonDecode(key, bits, n, a)
      mortonDecodeGeneric(key, bits, n, b)
      assert(a.toSeq == b.toSeq, s"decode bits=$bits n=$n key=$key")
    }
  }

  /** Skilling's transform then the bit-by-bit interleave: the reference
    * the table-driven Hilbert encode must reproduce. */
  private def skillingKey(xs: Array[Long], bits: Int): U128 = {
    val x = xs.clone()
    hilbertTransformInPlace(x, bits)
    mortonEncodeGeneric(x, bits, x.length)
  }

  test("table-driven Hilbert encode == Skilling transform + generic interleave") {
    val p = new Array[Long](2)
    for (a <- 0L until 256L; b <- 0L until 256L) { // the full 2-D 8-bit grid
      p(0) = a; p(1) = b
      assert(hilbertEncode(p, 8) == skillingKey(p, 8), s"bits=8 xs=${p.toSeq}")
    }
    val rnd = new Random(48)
    for ((bits, n) <- Seq((16, 2), (32, 2), (8, 4), (16, 4)); _ <- 1 to 200000) {
      val xs = Array.fill(n)(mask(rnd.nextLong(), bits))
      assert(hilbertEncode(xs, bits) == skillingKey(xs, bits), s"bits=$bits n=$n xs=${xs.toSeq}")
    }
    // every width CurveRanges may pass: 4-D takes the table at all of
    // them, 2-D only at multiples of 4
    for (n <- Seq(2, 4); bits <- 1 to 64 / n; _ <- 1 to 500) {
      val xs = Array.fill(n)(mask(rnd.nextLong(), bits))
      assert(hilbertEncode(xs, bits) == skillingKey(xs, bits), s"bits=$bits n=$n xs=${xs.toSeq}")
    }
  }

  test("table-driven Hilbert encode: 8 states at n = 2, 384 at n = 4; leaves the input alone") {
    assert(hilbertStates(2).size == 8)
    assert(hilbertStates(4).size == 384)
    val xs = Array(3L, 5L, 7L, 11L)
    val k = hilbertEncodeInPlace(xs, 16, 4)
    assert(xs.toSeq == Seq(3L, 5L, 7L, 11L) && k == skillingKey(xs, 16))
  }

  test("Morton interleave matches naive bit spec (elem 0 -> MSB of each group)") {
    val rnd = new Random(44)
    for (_ <- 1 to 500) {
      val a = rnd.nextInt(256).toLong; val b = rnd.nextInt(256).toLong
      var expected = 0L
      for (bit <- 0 until 8) {
        expected |= ((a >> bit) & 1L) << (2 * bit + 1)
        expected |= ((b >> bit) & 1L) << (2 * bit)
      }
      assert(mortonEncode(Array(a, b), 8).lo == expected, s"a=$a b=$b")
    }
  }

  test("Morton keys preserve per-dimension order when other dims are equal") {
    val rnd = new Random(45)
    for (_ <- 1 to 500) {
      val a1 = rnd.nextInt(1 << 20).toLong; val a2 = rnd.nextInt(1 << 20).toLong
      val b = rnd.nextInt(1 << 20).toLong
      val k1 = mortonEncode(Array(a1, b), 32).toBigInt
      val k2 = mortonEncode(Array(a2, b), 32).toBigInt
      if (a1 != a2) assert((a1 < a2) == (k1 < k2))
      else assert(k1 == k2)
    }
  }

  test("128-bit keys: u128 numeric order == big-endian byte lexicographic order") {
    val rnd = new Random(46)
    val keys = Array.fill(300)(U128(rnd.nextLong(), rnd.nextLong()))
    val byNum = keys.sortBy(_.toBigInt)
    val byBytes = keys.sortWith { (x, y) =>
      val a = x.toBytesBE; val b = y.toBytesBE
      var i = 0
      while (i < 16 && a(i) == b(i)) i += 1
      i < 16 && (a(i) & 0xff) < (b(i) & 0xff)
    }
    assert(byNum.map(_.toBigInt).toSeq == byBytes.map(_.toBigInt).toSeq)
  }
}
