package graft

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{GenerateMutableProjection, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Codegen-vs-interpreted PROPERTY harness (VERDICT r14 #3): every custom
  * Catalyst expression in `functions/Expressions.scala` (+ the codegen'd
  * BloomContains) is evaluated BOTH ways on the same randomized inputs —
  * `Expression.eval` (the interpreted `nullSafeEval` body) against a
  * `GenerateMutableProjection` (the `doGenCode` body compiled by Janino)
  * — and must agree BIT-exactly: doubles compared by `doubleToLongBits`
  * (so a NaN-vs-NaN or −0.0-vs-+0.0 divergence fails), arrays element-
  * wise with null slots. Inputs cover the branches a fixture never hits:
  * null top-level values, null array elements, empty arrays/strings,
  * surrogate pairs (codePointAt stride), combining characters (NFC),
  * NaN/±Inf/−0.0, negative longs, division by zero.
  *
  * The two bodies are hand-mirrored Scala/Java; this harness is what
  * keeps them from drifting (the ANN deep-read's lesson: oracle-green
  * DataFrame output does not prove the codegen path was ever taken).
  */
class CodegenParitySpec extends AnyFunSuite {
  // eager: the first generate() below sizes Spark's JVM-wide codegen cache
  // from the active session's static conf, so the session must exist first
  private val spark = SparkSpec.spark

  private val Rounds = 300

  private def canon(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (a: ArrayData, ArrayType(et, _)) =>
      a.toObjectArray(et).map(canon(_, et)).toSeq
    case (u: UTF8String, _) => u.toString
    case (d: java.lang.Double, _) => java.lang.Double.doubleToLongBits(d)
    case (f: java.lang.Float, _) => java.lang.Float.floatToIntBits(f)
    case (b: Array[Byte], _) => b.toSeq
    case _ => v
  }

  /** Drives `expr` THREE ways over `rows` — interpreted eval, generated
    * MutableProjection, and generated UnsafeProjection (a different
    * generated write path: UnsafeRow/UnsafeArrayWriter serialization, the
    * one the exchange actually ships) — and fails on the first divergence.
    */
  private def assertParity(name: String, expr: Expression, rows: Seq[InternalRow]): Unit = {
    val proj = GenerateMutableProjection.generate(Seq(expr))
    proj.initialize(0)
    val unsafe = GenerateUnsafeProjection.generate(Seq(expr))
    unsafe.initialize(0)
    rows.zipWithIndex.foreach { case (row, i) =>
      val interpreted = canon(expr.eval(row), expr.dataType)
      val out = proj(row)
      val generated = canon(
        if (out.isNullAt(0)) null else out.get(0, expr.dataType), expr.dataType)
      assert(generated == interpreted,
        s"$name diverged on row $i: interpreted=$interpreted codegen=$generated input=$row")
      val u = unsafe(row)
      val viaUnsafe = canon(
        if (u.isNullAt(0)) null else u.get(0, expr.dataType), expr.dataType)
      assert(viaUnsafe == interpreted,
        s"$name diverged through UnsafeProjection on row $i: " +
          s"interpreted=$interpreted unsafe=$viaUnsafe input=$row")
    }
  }

  private def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)

  // ---------------------------------------------------------- generators

  private val rng = new Random(0x5EED15L)

  private def maybeNull[T <: AnyRef](v: => T, p: Double = 0.12): AnyRef =
    if (rng.nextDouble() < p) null else v

  /** Strings exercising the unicode branches: ASCII, empty, surrogate
    * pairs (emoji plane), combining marks (NFC must change bytes).
    */
  private def randString(): UTF8String = {
    val n = rng.nextInt(12)
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      rng.nextInt(5) match {
        case 0 => sb.append(('a' + rng.nextInt(26)).toChar)
        case 1 => sb.append(('A' + rng.nextInt(26)).toChar)
        case 2 => sb.appendAll(Character.toChars(0x1F600 + rng.nextInt(0x50))) // surrogate pair
        case 3 => sb.append('e').append('́') // e + combining acute (NFC-composable)
        case 4 => sb.append((0xA0 + rng.nextInt(0x500)).toChar)
      }
    }
    UTF8String.fromString(sb.toString)
  }

  private def randLong(): Long = rng.nextInt(4) match {
    case 0 => rng.nextLong()
    case 1 => rng.nextInt(100).toLong
    case 2 => -rng.nextInt(100).toLong
    case _ => Long.MaxValue - rng.nextInt(3)
  }

  private def randDouble(): Double = rng.nextInt(8) match {
    case 0 => Double.NaN
    case 1 => Double.PositiveInfinity
    case 2 => Double.NegativeInfinity
    case 3 => -0.0
    case 4 => 0.0
    case _ => (rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(6))
  }

  private def longArray(containsNull: Boolean): GenericArrayData =
    new GenericArrayData(Array.fill[Any](rng.nextInt(10))(
      if (containsNull && rng.nextDouble() < 0.15) null else java.lang.Long.valueOf(randLong())))

  private def doubleArray(): GenericArrayData =
    new GenericArrayData(Array.fill[Any](rng.nextInt(8))(
      if (rng.nextDouble() < 0.15) null else java.lang.Double.valueOf(randDouble())))

  private def floatArray(): GenericArrayData =
    new GenericArrayData(Array.fill[Any](rng.nextInt(8))(
      if (rng.nextDouble() < 0.15) null else java.lang.Float.valueOf(randDouble().toFloat)))

  private def byteArraySig(): GenericArrayData =
    new GenericArrayData(Array.fill[Any](rng.nextInt(10))(
      if (rng.nextDouble() < 0.1) null else java.lang.Byte.valueOf(rng.nextInt(4).toByte)))

  private def stringArray(): GenericArrayData =
    new GenericArrayData(Array.fill[Any](rng.nextInt(6))(maybeNull(randString())))

  private def structArray(): GenericArrayData =
    new GenericArrayData(Array.fill[Any](rng.nextInt(6))(maybeNull({
      val a = if (rng.nextDouble() < 0.15) null else java.lang.Integer.valueOf(rng.nextInt(100) - 50)
      val b = if (rng.nextDouble() < 0.15) null else java.lang.Long.valueOf(randLong())
      val c = if (rng.nextDouble() < 0.15) null else java.lang.Double.valueOf(randDouble())
      new GenericInternalRow(Array[Any](a, b, c))
    })))

  private def ref(i: Int, dt: DataType): BoundReference = BoundReference(i, dt, nullable = true)

  // ----------------------------------------------------------- the sweep

  test("string expressions: PolyHash, NfcNormalize, ShinglePolyHash, ShingleHash60, Edit1Distance") {
    val rows = (0 until Rounds).map(_ => row(maybeNull(randString())))
    assertParity("PolyHash", PolyHash(ref(0, StringType), 31, Portable.P1), rows)
    assertParity("NfcNormalize", NfcNormalize(ref(0, StringType)), rows)
    assertParity("ShinglePolyHash", ShinglePolyHash(ref(0, StringType), 5, 31, Portable.P1), rows)
    assertParity("ShinglePolyHash k=1", ShinglePolyHash(ref(0, StringType), 1, 37, Portable.P2), rows)
    assertParity("ShingleHash60", ShingleHash60(ref(0, StringType), 5), rows)

    // edit distance: mix random pairs with near-identical pairs (the
    // interesting 0/1 verdicts come from planted single edits)
    val pairs = (0 until Rounds).map { _ =>
      val a = randString().toString
      val b = rng.nextInt(4) match {
        case 0 => a
        case 1 if a.nonEmpty => a.substring(0, rng.nextInt(a.length)) + "x" +
          a.substring(rng.nextInt(a.length)) // near edit
        case 2 => randString().toString
        case _ => a + "z"
      }
      row(maybeNull(UTF8String.fromString(a)), maybeNull(UTF8String.fromString(b)))
    }
    assertParity("Edit1Distance",
      Edit1Distance(ref(0, StringType), ref(1, StringType)), pairs)
  }

  test("hash-array expressions: MinHash, MinHashMixed, SimHash60, WindowMin, Poly/Hash60Array") {
    val nullableLongArr = ArrayType(LongType, containsNull = true)
    val rows = (0 until Rounds).map(_ => row(maybeNull(longArray(containsNull = true))))
    assertParity("MinHashSignature", MinHashSignature(ref(0, nullableLongArr), 8), rows)
    assertParity("MinHashMixedSignature", MinHashMixedSignature(ref(0, nullableLongArr), 8), rows)
    assertParity("SimHash60", SimHash60(ref(0, nullableLongArr)), rows)

    val denseArr = ArrayType(LongType, containsNull = false)
    val denseRows = (0 until Rounds).map(_ => row(maybeNull(longArray(containsNull = false))))
    assertParity("WindowMin w=4", WindowMin(ref(0, denseArr), 4), denseRows)
    assertParity("WindowMin w=1", WindowMin(ref(0, denseArr), 1), denseRows)

    val strArr = ArrayType(StringType, containsNull = true)
    val strRows = (0 until Rounds).map(_ => row(maybeNull(stringArray())))
    assertParity("PolyHashArray", PolyHashArray(ref(0, strArr), 31, Portable.P1), strRows)
    assertParity("Hash60Array", Hash60Array(ref(0, strArr)), strRows)
  }

  test("vector expressions: ArrayDotProduct, ArrayScaleDiv, LshBuckets (float and double)") {
    val fArr = ArrayType(FloatType, containsNull = true)
    val dArr = ArrayType(DoubleType, containsNull = true)
    val ffRows = (0 until Rounds).map(_ => row(maybeNull(floatArray()), maybeNull(floatArray())))
    val fdRows = (0 until Rounds).map(_ => row(maybeNull(floatArray()), maybeNull(doubleArray())))
    val ddRows = (0 until Rounds).map(_ => row(maybeNull(doubleArray()), maybeNull(doubleArray())))
    assertParity("ArrayDotProduct f*f", ArrayDotProduct(ref(0, fArr), ref(1, fArr)), ffRows)
    assertParity("ArrayDotProduct f*d", ArrayDotProduct(ref(0, fArr), ref(1, dArr)), fdRows)
    assertParity("ArrayDotProduct d*d", ArrayDotProduct(ref(0, dArr), ref(1, dArr)), ddRows)

    // divisor includes 0.0 / NaN / ±Inf through randDouble
    val divF = (0 until Rounds).map(_ => row(maybeNull(floatArray()),
      if (rng.nextDouble() < 0.1) null else java.lang.Double.valueOf(randDouble())))
    val divD = (0 until Rounds).map(_ => row(maybeNull(doubleArray()),
      if (rng.nextDouble() < 0.1) null else java.lang.Double.valueOf(randDouble())))
    assertParity("ArrayScaleDiv float", ArrayScaleDiv(ref(0, fArr), ref(1, DoubleType)), divF)
    assertParity("ArrayScaleDiv double", ArrayScaleDiv(ref(0, dArr), ref(1, DoubleType)), divD)

    val lshF = (0 until Rounds / 3).map(_ => row(maybeNull(floatArray())))
    val lshD = (0 until Rounds / 3).map(_ => row(maybeNull(doubleArray())))
    assertParity("LshBuckets float", LshBuckets(ref(0, fArr), 4, 8), lshF)
    assertParity("LshBuckets double", LshBuckets(ref(0, dArr), 4, 8), lshD)
  }

  test("signature/key expressions: SigAgreement, HilbertIndex, BloomContains") {
    val bArr = ArrayType(ByteType, containsNull = true)
    val sigRows = (0 until Rounds).map(_ => row(maybeNull(byteArraySig()), maybeNull(byteArraySig())))
    assertParity("SigAgreement", SigAgreement(ref(0, bArr), ref(1, bArr)), sigRows)

    val keyRows = (0 until Rounds).map(_ => row(
      if (rng.nextDouble() < 0.1) null else java.lang.Long.valueOf(randLong()),
      if (rng.nextDouble() < 0.1) null else java.lang.Long.valueOf(randLong())))
    assertParity("HilbertIndex bits=16",
      HilbertIndex(ref(0, LongType), ref(1, LongType), 16), keyRows)
    assertParity("HilbertIndex bits=31",
      HilbertIndex(ref(0, LongType), ref(1, LongType), 31), keyRows)

    // a REAL bloom blob (built by the aggregate), random + planted keys
    graft.functions.GraftFunctions.register(spark)
    val blob = spark.range(100).selectExpr("graft_bloom_build(id) AS f")
      .head().getAs[Array[Byte]](0)
    val bloomRows = (0 until Rounds).map { _ =>
      val key: AnyRef = if (rng.nextDouble() < 0.1) null
        else java.lang.Long.valueOf(if (rng.nextBoolean()) rng.nextInt(100).toLong else randLong())
      row(maybeNull(blob, 0.08), key)
    }
    assertParity("BloomContains",
      BloomContains(ref(0, BinaryType), ref(1, LongType)), bloomRows)
  }

  test("struct-array expressions: StructFieldArray, StructFieldSum over every field type") {
    val st = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType), StructField("c", DoubleType)))
    val arr = ArrayType(st, containsNull = true)
    val rows = (0 until Rounds).map(_ => row(maybeNull(structArray())))
    assertParity("StructFieldArray int", StructFieldArray(ref(0, arr), "a"), rows)
    assertParity("StructFieldArray long", StructFieldArray(ref(0, arr), "b"), rows)
    assertParity("StructFieldSum int", StructFieldSum(ref(0, arr), "a"), rows)
    assertParity("StructFieldSum long", StructFieldSum(ref(0, arr), "b"), rows)
    assertParity("StructFieldSum double", StructFieldSum(ref(0, arr), "c"), rows)
  }
}
