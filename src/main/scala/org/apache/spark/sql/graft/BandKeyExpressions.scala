package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native LSH band-key expressions for the near-dup stores and batch joins.
  *
  * Both replace expression-composed spellings whose generated code grew
  * with the band count: the MinHash keys were `bands` separate
  * `xxhash64(slice(sig, …), b)` terms (a ~1,400-line class at 16 bands),
  * the hamming multi-index keys `chunks · (width + 1)` packed XOR terms
  * (a ~3,400-line class at `maxHamming = 7`, too long for HotSpot to
  * JIT). Each expression here emits one static call whose body is a
  * compact loop, so the class stays small whatever the layout. Values
  * are bit-identical to the composed spellings, which BandKeyParitySpec
  * keeps as the witness: stores written by either read the same.
  */
object BandKeyExpressions {

  def minhashBandKeys(signature: Column, bands: Int, rows: Int): Column =
    ExpressionUtils.column(
      MinHashBandKeys(ExpressionUtils.expression(signature), bands, rows))

  def hammingBandKeys(hash: Column, nChunks: Int, expand: Boolean): Column =
    ExpressionUtils.column(
      HammingBandKeys(ExpressionUtils.expression(hash), nChunks, expand))
}

/** MinHash LSH band keys: array of (band, bucket) structs, one per band;
  * bucket b = xxhash64 (seed 42) over the signature slice
  * `[b·rows, (b+1)·rows)` followed by the int `b` — the value of
  * `struct(lit(b).as("band"), xxhash64(slice(sig, b*rows+1, rows),
  * lit(b)).as("bucket"))`. Like that spelling it never returns NULL: a
  * NULL signature hashes as an empty slice, NULL elements are skipped,
  * and a band past the signature's end hashes its empty slice. */
case class MinHashBandKeys(child: Expression, bands: Int, rows: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(bands > 0 && rows > 0)

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = MinHashBandKeys.Type
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    MinHashBandKeys.compute(child.eval(input).asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cls = "org.apache.spark.sql.graft.MinHashBandKeys"
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = $cls.compute(${c.isNull} ? null : ${c.value}, $bands, $rows);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_band_keys"
}

object MinHashBandKeys {
  val Type: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false))), containsNull = false)

  /** xxhash64's default seed — the composed spelling's. */
  private val Seed = 42L

  def compute(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var h = Seed
      var i = b * rows
      val end = math.min(i + rows, n)
      while (i < end) {
        if (!sig.isNullAt(i)) h = XXH64.hashLong(sig.getLong(i), h)
        i += 1
      }
      out(b) = new GenericInternalRow(Array[Any](b, XXH64.hashInt(b, h)))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Packed multi-index band keys of a 64-bit hash: per chunk c (width =
  * 64 / nChunks bits) the key `c · 2^width + chunkValue`, followed, with
  * `expand`, by the `width` one-bit-flip neighbours of the chunk value
  * (the radius-1 probe side). The value of the composed
  * `array(lit(c << width) + (shiftrightunsigned(h, c*width) & mask)
  * [^ (1 << b)] …)`: a NULL hash yields an array of NULL keys, never a
  * NULL array. */
case class HammingBandKeys(child: Expression, nChunks: Int, expand: Boolean)
  extends UnaryExpression with ExpectsInputTypes {

  require(nChunks > 0 && 64 % nChunks == 0)

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = child.nullable)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    HammingBandKeys.compute(v == null, if (v == null) 0L else v.asInstanceOf[Long],
      nChunks, expand)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cls = "org.apache.spark.sql.graft.HammingBandKeys"
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = $cls.compute(${c.isNull}, ${c.value}, $nChunks, $expand);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HammingBandKeys =
    copy(child = newChild)

  override def prettyName: String = "graft_hamming_band_keys"
}

object HammingBandKeys {
  def compute(isNull: Boolean, h: Long, nChunks: Int, expand: Boolean): ArrayData = {
    val width = 64 / nChunks
    val perChunk = if (expand) width + 1 else 1
    if (isNull) return new GenericArrayData(new Array[Any](nChunks * perChunk))
    val mask = (1L << width) - 1
    val out = new Array[Long](nChunks * perChunk)
    var k = 0
    var c = 0
    while (c < nChunks) {
      val base = c.toLong * (1L << width)
      val v = (h >>> (c * width)) & mask
      out(k) = base + v
      k += 1
      if (expand) {
        var b = 0
        while (b < width) {
          out(k) = base + (v ^ (1L << b))
          k += 1
          b += 1
        }
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
