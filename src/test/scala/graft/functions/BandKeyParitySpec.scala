package graft.functions

import graft.flow.SparkTestSession
import graft.streaming.{AdmissionFixture, StreamOps}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{BandKeyExpressions, HammingBandKeys, MinHashBandKeys}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native band-key expressions bit-equal to the composed
  * spellings they replaced — kept here, and only here, as the witness —
  * on the generated-code path and the interpreted one, and pins that
  * stores banded by the composed keys read the same under the native
  * ones: their on-disk band rows are equal, and a gate probing them
  * admits the same ids. */
class BandKeyParitySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  /** The composed MinHash band keys: one xxhash64 over each slice. */
  private def composedBandKeys(sig: Column, bands: Int, numHashes: Int): Column = {
    val rows = numHashes / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rows + 1, rows), lit(b)).as("bucket"))
    }: _*)
  }

  /** The composed packed multi-index keys: one term per key. */
  private def composedHammingBandKeys(hash: Column, nChunks: Int, expand: Boolean): Column = {
    val width = 64 / nChunks
    val mask = (1L << width) - 1
    def cv(c: Int) = shiftrightunsigned(hash, c * width).bitwiseAND(mask)
    def packed(c: Int, v: Column) = lit(c.toLong * (1L << width)) + v
    array((0 until nChunks).flatMap { c =>
      packed(c, cv(c)) +: (if (!expand) Nil
      else (0 until width).map(b => packed(c, cv(c).bitwiseXOR(1L << b))))
    }: _*)
  }

  private val numHashes = 128

  private def signatures: DataFrame = {
    val r = new scala.util.Random(7)
    val rows: Seq[Row] =
      (0 until 40).map(i => Row(i.toLong, Seq.fill(numHashes)(r.nextLong()))) ++ Seq(
        Row(40L, Seq.fill(numHashes)(Long.MaxValue)), // the empty-doc signature
        Row(41L, null),
        Row(42L, Seq.fill(numHashes / 2)(r.nextLong())), // shorter than numHashes
        Row(43L, Seq.tabulate(numHashes)(i =>
          if (i % 5 == 0) null else java.lang.Long.valueOf(i.toLong)))) // NULL elements
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("sig", ArrayType(LongType)))))
  }

  test("native MinHash band keys == composed xxhash64(slice) keys, generated and interpreted") {
    val sigs = signatures
    for (bands <- Seq(8, 16, 32)) {
      val rows = sigs.select(col("id"), col("sig"),
        TextFunctions.bandKeys(col("sig"), bands, numHashes).as("native"),
        composedBandKeys(col("sig"), bands, numHashes).as("composed")).collect()
      assert(rows.length == 44)
      val nativeType = sigs.select(TextFunctions.bandKeys(col("sig"), bands, numHashes)).schema.head
      val composedType = sigs.select(composedBandKeys(col("sig"), bands, numHashes)).schema.head
      assert(nativeType.dataType == composedType.dataType && nativeType.nullable == composedType.nullable)
      val interpreted = MinHashBandKeys(BoundReference(0, ArrayType(LongType), nullable = true),
        bands, numHashes / bands)
      rows.foreach { r =>
        val composed = r.getSeq[Row](3).map(k => (k.getInt(0), k.getLong(1)))
        assert(r.getSeq[Row](2).map(k => (k.getInt(0), k.getLong(1))) == composed,
          s"bands=$bands id=${r.getLong(0)}")
        val in = Option(r.getSeq[java.lang.Long](1))
          .map(s => ArrayData.toArrayData(s.map(x => x: Any).toArray)).orNull
        val out = interpreted.eval(InternalRow(in)).asInstanceOf[ArrayData]
        val evald = (0 until out.numElements()).map { i =>
          val k = out.getStruct(i, 2); (k.getInt(0), k.getLong(1))
        }
        assert(evald == composed, s"interpreted bands=$bands id=${r.getLong(0)}")
      }
    }
  }

  test("native hamming band keys == composed packed XOR keys, generated and interpreted") {
    val r = new scala.util.Random(11)
    val hashes: Seq[java.lang.Long] = (Seq.fill(40)(r.nextLong()) ++
      Seq(0L, -1L, Long.MinValue, Long.MaxValue)).map(java.lang.Long.valueOf) :+ null
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      hashes.zipWithIndex.map { case (h, i) => Row(i.toLong, h) }, 2),
      StructType(Seq(StructField("id", LongType), StructField("h", LongType))))
    for (chunks <- Seq(2, 4, 8); expand <- Seq(false, true)) {
      val native = BandKeyExpressions.hammingBandKeys(col("h"), chunks, expand)
      val composed = composedHammingBandKeys(col("h"), chunks, expand)
      assert(df.select(native).schema.head.dataType == df.select(composed).schema.head.dataType)
      val interpreted = HammingBandKeys(BoundReference(0, LongType, nullable = true), chunks, expand)
      df.select(col("id"), col("h"), native.as("n"), composed.as("c")).collect().foreach { row =>
        val want = row.getSeq[java.lang.Long](3)
        assert(row.getSeq[java.lang.Long](2) == want,
          s"chunks=$chunks expand=$expand id=${row.getLong(0)}")
        val out = interpreted.eval(InternalRow(row.get(1))).asInstanceOf[ArrayData]
        val evald = (0 until out.numElements()).map(i =>
          if (out.isNullAt(i)) null else java.lang.Long.valueOf(out.getLong(i)))
        assert(evald == want, s"interpreted chunks=$chunks expand=$expand id=${row.getLong(0)}")
      }
    }
  }

  test("stores banded by the composed keys read the same: equal band rows, " +
    "equal admissions") {
    import spark.implicits._
    import AdmissionFixture._
    val Seq(b0, b1) = minhashBatches("parity").take(2)

    // MinHash store: re-band trigger 0's signatures with the composed keys
    // into the bands sidecar a composed-key build would have written, then
    // probe trigger 1 against that store and against the native-built one
    val native = tmp("graft_parity") + "/sigs"
    val composed = tmp("graft_parity") + "/sigs"
    admittedIds(StreamOps.applyNearDupBatch(b0.toDF(), native, 0L))
    admittedIds(StreamOps.applyNearDupBatch(b0.toDF(), composed, 0L))
    val sigs = spark.read.parquet(composed)
    val composedBands = sigs.select(col("graft_id").as("hist_id"),
      explode(composedBandKeys(col("graft_sig"), 16, numHashes)).as("b"))
      .select(col("hist_id"), col("b.band"), col("b.bucket"))
    val stored = spark.read.parquet(native + ".bands/batch=0")
    assert(stored.schema.map(f => (f.name, f.dataType)) ==
      composedBands.schema.map(f => (f.name, f.dataType)))
    assert(stored.collect().toSet == composedBands.collect().toSet)
    composedBands.write.mode("overwrite").parquet(composed + ".bands/batch=0.tmp")
    val fs = new org.apache.hadoop.fs.Path(composed).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(composed + ".bands/batch=0"), true)
    fs.rename(new org.apache.hadoop.fs.Path(composed + ".bands/batch=0.tmp"),
      new org.apache.hadoop.fs.Path(composed + ".bands/batch=0"))
    val viaNative = admittedIds(StreamOps.applyNearDupBatch(b1.toDF(), native, 1L))
    val viaComposed = admittedIds(StreamOps.applyNearDupBatch(b1.toDF(), composed, 1L))
    assert(viaComposed == viaNative)
    assert(!viaNative.contains(122L), "the history copy must drop through the old bands")

    // hamming store: the store rows ARE the exact band keys
    def fps(b: Seq[graft.streaming.Doc]) = b.toDF().select(col("doc_id"),
      TextFunctions.simhash64Fast(TextFunctions.tokens(col("text"))).as("fp"))
    val hNative = tmp("graft_parity") + "/fps"
    val hComposed = tmp("graft_parity") + "/fps"
    admittedIds(StreamOps.applyHammingNearDupBatch(fps(b0), hNative, 0L,
      hashCol = "fp", maxHamming = 7))
    val rows = spark.read.parquet(hNative + "/batch=0")
    val reband = rows.select(col("graft_id"), col("graft_sh")).distinct()
      .withColumn("graft_bucket", explode(composedHammingBandKeys(col("graft_sh"), 4, expand = false)))
    assert(rows.collect().toSet == reband.collect().toSet)
    reband.write.parquet(hComposed + "/batch=0")
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(hNative + ".meta"),
      new org.apache.hadoop.fs.Path(hComposed + ".meta"))
    val hViaNative = admittedIds(StreamOps.applyHammingNearDupBatch(fps(b1), hNative, 1L,
      hashCol = "fp", maxHamming = 7))
    val hViaComposed = admittedIds(StreamOps.applyHammingNearDupBatch(fps(b1), hComposed, 1L,
      hashCol = "fp", maxHamming = 7))
    assert(hViaComposed == hViaNative)
    assert(!hViaNative.contains(122L), "the history copy must drop through the old keys")
  }
}
