package graft.core

/** 128-bit unsigned value as two longs (big-endian: hi, lo).
  *
  * Spark has no 128-bit integer type (DecimalType caps at precision 38 <
  * 39 digits of u128 max), so curve keys wider than 64 bits surface as
  * 16-byte big-endian BinaryType — Spark orders binary lexicographically
  * by unsigned byte, which matches u128 numeric order exactly.
  */
final case class U128(hi: Long, lo: Long) {
  def toBytesBE: Array[Byte] = {
    val b = new Array[Byte](16)
    var i = 0
    while (i < 8) { b(i) = (hi >>> (56 - 8 * i)).toByte; b(i + 8) = (lo >>> (56 - 8 * i)).toByte; i += 1 }
    b
  }
  def toBigInt: BigInt = (BigInt(hi) & U128.M64) << 64 | (BigInt(lo) & U128.M64)
  def toDecimalString: String = toBigInt.toString
}

object U128 {
  private val M64 = (BigInt(1) << 64) - 1
  def fromBytesBE(b: Array[Byte]): U128 = {
    require(b.length == 16, s"expected 16 bytes, got ${b.length}")
    var hi = 0L; var lo = 0L
    var i = 0
    while (i < 8) { hi = (hi << 8) | (b(i) & 0xffL); lo = (lo << 8) | (b(i + 8) & 0xffL); i += 1 }
    U128(hi, lo)
  }
  def fromBigInt(v: BigInt): U128 = U128(((v >> 64) & M64).toLong, (v & M64).toLong)
}

/** Space-filling-curve codecs: Morton (Z-order) and Hilbert.
  *
  * Semantics verified bit-for-bit against the reference
  * (Query-farm/lindel) goldens — see /root/repo/SURVEY.md Appendix A:
  *   - Morton = MSB-first bit interleave, array element 0 occupying the
  *     most-significant bit of each n-bit group
  *     (reference: duckdb_lindel_rust via morton-encoding crate;
  *     exec dispatch src/lindel_extension.cpp:663-945).
  *   - Hilbert = John Skilling's 2004 "transpose" algorithm
  *     ("Programming the Hilbert curve", AIP Conf. Proc. 707) followed by
  *     the same Morton interleave (reference: lindel crate v0.1.1).
  *     Skilling's code ([[hilbertTransformInPlace]]) is the reference, the
  *     generator of the fast path and the general path. The encode for
  *     n = 2 (bits <= 32, a multiple of 4) and n = 4 (bits <= 16) is
  *     table-driven: a finite-state transducer over the Morton key of
  *     the raw coordinates, whose tables a BFS over Skilling's per-level
  *     ops builds at object init (see [[hilbertStates]]).
  *     SFCPropertySpec asserts it equals Skilling's code.
  *   - Floats / signed ints are encoded by raw bit reinterpretation
  *     (IEEE-754 / two's complement), no order-preserving transform
  *     (src/lindel_extension.cpp:708,735,771).
  *
  * Coordinates are passed as raw bit patterns in `Array[Long]`, masked to
  * `bits` ∈ {8,16,32,64}; n·bits ≤ 128. All loops are allocation-free
  * except the result; hot paths are called from generated code
  * (see graft.functions.CurveEncode#doGenCode).
  */
object SFC {

  /** Validate (bits, n): bits ∈ {8,16,32,64}, 1 ≤ n ≤ 128/bits. */
  def checkDims(bits: Int, n: Int): Unit = {
    require(bits == 8 || bits == 16 || bits == 32 || bits == 64, s"element bit width must be 8/16/32/64, got $bits")
    require(n >= 1 && n * bits <= 128, s"n*bits must be <= 128, got n=$n bits=$bits")
  }

  /** Smallest unsigned output width in {8,16,32,64,128} holding n*bits
    * (reference bind table src/lindel_extension.cpp:521-657). */
  def outputBits(bits: Int, n: Int): Int = {
    val total = bits * n
    if (total <= 8) 8 else if (total <= 16) 16 else if (total <= 32) 32 else if (total <= 64) 64 else 128
  }

  /** Element width decoded from (key width, n): largest w in {8,16,32,64}
    * with w*n <= inputBits (reference DECODE_TYPE_MAPPINGS,
    * src/lindel_extension.cpp:64-97). 0 if none fits. */
  def decodeElemBits(inputBits: Int, n: Int): Int = {
    var w = 64
    while (w >= 8 && w * n > inputBits) w >>= 1
    if (w >= 8) w else 0
  }

  // ---------------------------------------------------------------- Morton

  /** Spread the low 32 bits of v so bit b lands at bit 2b (the classic
    * magic-mask Morton dilation). */
  @inline private def spread2(v0: Long): Long = {
    var v = v0 & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** Inverse of [[spread2]]: gather the even bits of v into the low 32. */
  @inline private def compact2(v0: Long): Long = {
    var v = v0 & 0x5555555555555555L
    v = (v | (v >>> 1)) & 0x3333333333333333L
    v = (v | (v >>> 2)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v >>> 4)) & 0x00ff00ff00ff00ffL
    v = (v | (v >>> 8)) & 0x0000ffff0000ffffL
    v = (v | (v >>> 16)) & 0x00000000ffffffffL
    v
  }

  /** Spread the low 16 bits of v so bit b lands at bit 4b. */
  @inline private def spread4(v0: Long): Long = {
    var v = v0 & 0xffffL
    v = (v | (v << 24)) & 0x000000ff000000ffL
    v = (v | (v << 12)) & 0x000f000f000f000fL
    v = (v | (v << 6)) & 0x0303030303030303L
    v = (v | (v << 3)) & 0x1111111111111111L
    v
  }

  /** Inverse of [[spread4]]: gather every 4th bit of v into the low 16. */
  @inline private def compact4(v0: Long): Long = {
    var v = v0 & 0x1111111111111111L
    v = (v | (v >>> 3)) & 0x0303030303030303L
    v = (v | (v >>> 6)) & 0x000f000f000f000fL
    v = (v | (v >>> 12)) & 0x000000ff000000ffL
    v = (v | (v >>> 24)) & 0xffffL
    v
  }

  /** MSB-first interleave of xs (each masked to `bits`) into a u128.
    * Bit b of element i lands at key position b*n + (n-1-i). */
  def mortonEncode(xs: Array[Long], bits: Int): U128 = mortonEncode(xs, bits, xs.length)

  /** As above, over the first n slots of xs (xs may be a reused buffer).
    * The dominant 2-D case (bits <= 32, the layout-write sort key), the
    * 2-D u128 case (bits = 64, one spread per 32-bit half) and the 4-D
    * sub-64-bit case take magic-mask spreads — a dozen shift/mask ops
    * instead of n*bits branchy loop iterations; [[mortonEncodeGeneric]]
    * is the bit-by-bit reference, and SFCPropertySpec asserts equality. */
  def mortonEncode(xs: Array[Long], bits: Int, n: Int): U128 =
    if (n == 2 && bits <= 32) {
      val m = (1L << bits) - 1L
      U128(0L, (spread2(xs(0) & m) << 1) | spread2(xs(1) & m))
    } else if (n == 2 && bits == 64) {
      U128((spread2(xs(0) >>> 32) << 1) | spread2(xs(1) >>> 32),
        (spread2(xs(0)) << 1) | spread2(xs(1)))
    } else if (n == 4 && bits <= 16) {
      val m = (1L << bits) - 1L
      U128(0L, (spread4(xs(0) & m) << 3) | (spread4(xs(1) & m) << 2) |
        (spread4(xs(2) & m) << 1) | spread4(xs(3) & m))
    } else mortonEncodeGeneric(xs, bits, n)

  /** Bit-by-bit reference interleave (all widths/arities). */
  private[core] def mortonEncodeGeneric(xs: Array[Long], bits: Int, n: Int): U128 = {
    var hi = 0L; var lo = 0L
    var b = bits - 1
    while (b >= 0) {
      var i = 0
      while (i < n) {
        if (((xs(i) >>> b) & 1L) != 0L) {
          val pos = b * n + (n - 1 - i)
          if (pos >= 64) hi |= 1L << (pos - 64) else lo |= 1L << pos
        }
        i += 1
      }
      b -= 1
    }
    U128(hi, lo)
  }

  /** Inverse of [[mortonEncode]]: writes n coords (bit patterns) into
    * `out`. Same fast paths as the encode. */
  def mortonDecode(key: U128, bits: Int, n: Int, out: Array[Long]): Unit =
    if (n == 2 && bits <= 32) {
      val m = (1L << bits) - 1L
      out(0) = compact2(key.lo >>> 1) & m
      out(1) = compact2(key.lo) & m
    } else if (n == 2 && bits == 64) {
      out(0) = (compact2(key.hi >>> 1) << 32) | compact2(key.lo >>> 1)
      out(1) = (compact2(key.hi) << 32) | compact2(key.lo)
    } else if (n == 4 && bits <= 16) {
      val m = (1L << bits) - 1L
      out(0) = compact4(key.lo >>> 3) & m
      out(1) = compact4(key.lo >>> 2) & m
      out(2) = compact4(key.lo >>> 1) & m
      out(3) = compact4(key.lo) & m
    } else mortonDecodeGeneric(key, bits, n, out)

  /** Bit-by-bit reference de-interleave (all widths/arities). */
  private[core] def mortonDecodeGeneric(key: U128, bits: Int, n: Int, out: Array[Long]): Unit = {
    java.util.Arrays.fill(out, 0L)
    var b = bits - 1
    while (b >= 0) {
      var i = 0
      while (i < n) {
        val pos = b * n + (n - 1 - i)
        val bit = if (pos >= 64) (key.hi >>> (pos - 64)) & 1L else (key.lo >>> pos) & 1L
        if (bit != 0L) out(i) |= 1L << b
        i += 1
      }
      b -= 1
    }
  }

  // --------------------------------------------------------------- Hilbert

  /** Skilling 2004 forward transform, in place (axes → transpose form).
    * After this, Morton-interleaving x yields the Hilbert index. */
  def hilbertTransformInPlace(x: Array[Long], bits: Int): Unit =
    hilbertTransformInPlace(x, bits, x.length)

  /** As above, over the first n slots of x (x may be a reused buffer). */
  def hilbertTransformInPlace(x: Array[Long], bits: Int, n: Int): Unit = {
    // inverse-undo
    var k = bits - 1
    while (k >= 1) {
      val q = 1L << k
      val p = q - 1L
      var i = 0
      while (i < n) {
        if ((x(i) & q) != 0L) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      k -= 1
    }
    // Gray encode
    var i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    k = bits - 1
    while (k >= 1) {
      if ((x(n - 1) & (1L << k)) != 0L) t ^= (1L << k) - 1L
      k -= 1
    }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
  }

  /** Inverse of [[hilbertTransformInPlace]] (transpose form → axes). */
  def hilbertInverseInPlace(x: Array[Long], bits: Int): Unit =
    hilbertInverseInPlace(x, bits, x.length)

  /** As above, over the first n slots of x. */
  def hilbertInverseInPlace(x: Array[Long], bits: Int, n: Int): Unit = {
    // Gray decode
    val t0 = x(n - 1) >>> 1
    var i = n - 1
    while (i >= 1) { x(i) ^= x(i - 1); i -= 1 }
    x(0) ^= t0
    // undo
    var k = 1
    while (k <= bits - 1) {
      val q = 1L << k
      val p = q - 1L
      i = n - 1
      while (i >= 0) {
        if ((x(i) & q) != 0L) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i -= 1
      }
      k += 1
    }
  }

  /** Hilbert index of point xs (bit patterns masked to `bits`). Leaves xs
    * unchanged: the general path transforms a private copy. */
  def hilbertEncode(xs: Array[Long], bits: Int): U128 = {
    val n = xs.length
    hilbertEncodeInPlace(if (tableDriven(bits, n)) xs else xs.clone(), bits, n)
  }

  /** Hilbert index of the first n slots of x, for callers that may lose
    * x's contents: the table-driven paths only read it, the general path
    * (Skilling's transform, then the Morton interleave) overwrites it. */
  def hilbertEncodeInPlace(x: Array[Long], bits: Int, n: Int): U128 =
    if (!tableDriven(bits, n)) {
      hilbertTransformInPlace(x, bits, n)
      mortonEncode(x, bits, n)
    } else if (n == 2) U128(0L, hilbert2(x(0), x(1), bits))
    else U128(0L, hilbert4(x, bits))

  private def tableDriven(bits: Int, n: Int): Boolean =
    (n == 2 && bits <= 32 && bits % 4 == 0) || (n == 4 && bits <= 16)

  // ------------------------------------- Hilbert encode as a transducer
  //
  // Skilling's inverse-undo loop at plane k reads bit k of every x(i) and
  // then only flips or swaps the bits BELOW k, the same way in every lower
  // plane. So after the planes above k, plane k of x(i) is plane k of
  // input dimension perm(i), XOR flip bit i; and the Gray-code tail t at
  // plane k is the parity of the planes above. (perm, flip, parity) is a
  // finite state, each Morton digit of the raw coordinates (one bit per
  // dimension, dimension 0 highest) moves it, and the output digit at
  // that plane depends only on the state and the digit. Walking the raw
  // Morton key top-down through a (state, digit) -> (output digit, next
  // state) table therefore yields the Hilbert key, with no per-level loop
  // over the dimensions.

  /** One plane of [[hilbertTransformInPlace]] on a transducer state
    * (packed: perm(i) in bits 8+2i, flip in bits 1-4, parity in bit 0).
    * Returns `next << n | out`. */
  private def hilbertLevel(n: Int, state: Int, digit: Int): Int = {
    val perm = Array.tabulate(n)(i => (state >>> (8 + 2 * i)) & 3)
    var flip = (state >>> 1) & 0xf
    var parity = state & 1
    // plane bit of each x(i) after the ops of the planes above
    val b = Array.tabulate(n)(i => ((digit >>> (n - 1 - perm(i))) & 1) ^ ((flip >>> i) & 1))
    // Gray encode: prefix XOR, then the tail t of the planes above
    var g = 0
    var out = 0
    for (i <- 0 until n) { g ^= b(i); out = (out << 1) | (g ^ parity) }
    parity ^= g
    // this plane's inverse-undo ops, as they act on every plane below
    for (i <- 0 until n) {
      if (b(i) == 1) flip ^= 1
      else {
        val p = perm(0); perm(0) = perm(i); perm(i) = p
        if (((flip ^ (flip >>> i)) & 1) != 0) flip ^= 1 | (1 << i)
      }
    }
    val packed = (0 until n).foldLeft((flip << 1) | parity)((k, i) => k | (perm(i) << (8 + 2 * i)))
    (packed << n) | out
  }

  /** The transducer states reachable from the identity (Skilling's
    * starting point), in BFS order; state 0 is the identity. Perms and
    * flips account for n!·2^n·2 candidates, of which 8 (n = 2) and 384
    * (n = 4) are reachable. */
  private[core] def hilbertStates(n: Int): IndexedSeq[Int] = {
    require(n >= 1 && n <= 4, s"transducer arity must be 1..4, got $n")
    val identity = (0 until n).foldLeft(0)((k, i) => k | (i << (8 + 2 * i)))
    val seen = scala.collection.mutable.LinkedHashSet(identity)
    val queue = scala.collection.mutable.Queue(identity)
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      for (d <- 0 until (1 << n)) {
        val next = hilbertLevel(n, s, d) >>> n
        if (seen.add(next)) queue.enqueue(next)
      }
    }
    seen.toIndexedSeq
  }

  /** Transition table consuming `digits` Morton digits (w = n·digits key
    * bits) per lookup: entry `(s << w) | chunk` holds `next << w | out`,
    * with states numbered as in [[hilbertStates]]. */
  private[core] def hilbertTable(n: Int, digits: Int): Array[Int] = {
    val states = hilbertStates(n)
    val index = states.zipWithIndex.toMap
    val w = n * digits
    val table = new Array[Int](states.size << w)
    for (s <- states.indices; chunk <- 0 until (1 << w)) {
      var state = states(s)
      var out = 0
      for (j <- digits - 1 to 0 by -1) {
        val e = hilbertLevel(n, state, (chunk >>> (j * n)) & ((1 << n) - 1))
        out = (out << n) | (e & ((1 << n) - 1))
        state = e >>> n
      }
      table((s << w) | chunk) = (index(state) << w) | out
    }
    table
  }

  // 2-D: a byte (4 planes) per lookup, 8 x 256 entries; 4-D: a plane per
  // lookup, 384 x 16 entries (a byte per lookup, 384 x 256, is no faster
  // and 16x the heap).
  private val hilbert2Byte = hilbertTable(2, 4)
  private val hilbert4Plane = hilbertTable(4, 1)

  // One walk per arity, not one walk shared by both table widths: shared,
  // the 2-D encode measured 66 and 79 ns/pt against a 45 ns median for
  // this form (perfbench layout_write traced runs, 4-vCPU guest, JDK 17).
  private def hilbert2(x0: Long, x1: Long, bits: Int): Long = {
    val m = (1L << bits) - 1L
    val key = (spread2(x0 & m) << 1) | spread2(x1 & m)
    var s = 0
    var out = 0L
    var sh = 2 * bits
    while (sh > 0) {
      sh -= 8
      val e = hilbert2Byte((s << 8) | ((key >>> sh) & 0xffL).toInt)
      out = (out << 8) | (e & 0xff)
      s = e >>> 8
    }
    out
  }

  private def hilbert4(x: Array[Long], bits: Int): Long = {
    val m = (1L << bits) - 1L
    val key = (spread4(x(0) & m) << 3) | (spread4(x(1) & m) << 2) |
      (spread4(x(2) & m) << 1) | spread4(x(3) & m)
    var s = 0
    var out = 0L
    var sh = 4 * bits
    while (sh > 0) {
      sh -= 4
      val e = hilbert4Plane((s << 4) | ((key >>> sh) & 0xfL).toInt)
      out = (out << 4) | (e & 0xf)
      s = e >>> 4
    }
    out
  }

  /** Inverse of [[hilbertEncode]]: writes n coords into `out`. */
  def hilbertDecode(key: U128, bits: Int, n: Int, out: Array[Long]): Unit = {
    mortonDecode(key, bits, n, out)
    hilbertInverseInPlace(out, bits, n)
  }

  // --------------------------------------------- convenience (tests, SQL)

  /** Encode with curve ∈ {"hilbert","morton"}; returns BigInt for tests. */
  def encodeBigInt(curve: String, xs: Array[Long], bits: Int): BigInt = {
    val k = if (curve == "hilbert") hilbertEncode(xs, bits) else mortonEncode(xs, bits)
    k.toBigInt
  }

  def decodeLongs(curve: String, key: BigInt, bits: Int, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    val k = U128.fromBigInt(key)
    if (curve == "hilbert") hilbertDecode(k, bits, n, out) else mortonDecode(k, bits, n, out)
    out
  }

  /** Sign-extend a `bits`-wide pattern to a Long (two's complement). */
  def signExtend(v: Long, bits: Int): Long = (v << (64 - bits)) >> (64 - bits)

  /** Mask a value to its low `bits` bits (drop sign extension). */
  def mask(v: Long, bits: Int): Long = if (bits == 64) v else v & ((1L << bits) - 1L)
}
