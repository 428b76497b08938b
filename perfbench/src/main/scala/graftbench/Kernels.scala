package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.sources.Tables

/** ns/row of the native kernels behind near-dup and similarity, each
  * pair of throughput and oracle-replayable kernels side by side. The
  * input is cached and materialized first, the JIT is warmed by one
  * untimed run, and the output goes to the no-op sink, so the figure is
  * the kernel plus a cached scan; `kernel.baseline_ns_row` is that scan
  * alone. */
object Kernels {
  val Copies = 16
  val Reps = 3
  // the md5-based replayable kernels run about two orders of magnitude
  // slower per row, so they get the first rows of the corpus only
  val ReplayableDocs = 250

  def measure(ctx: Ctx): Map[String, Double] = {
    if (!ctx.tracer.enabled) return Map.empty
    val spark = ctx.spark
    def cached(df: DataFrame): (DataFrame, Double) = { val c = df.persist(); (c, c.count().toDouble) }
    val docs = Tables.documents(spark, ctx.input)
    def prep(d: DataFrame) = d.select(col("text"), TextFunctions.shingles(col("text"), 3).as("sh"),
      TextFunctions.tokens(col("text")).as("tok"))
    val copies = explode(sequence(lit(1), lit(Copies)))
    val (text, nText) = cached(prep(docs.select(col("text"), copies.as("copy"))))
    val (few, nFew) = cached(prep(docs.filter(col("doc_id") < ReplayableDocs)))
    val (vecs, nVec) = cached(Tables.embeddings(spark, ctx.input).select(col("embedding").as("a"), copies.as("copy"))
      .select(col("a"), reverse(col("a")).as("b")))
    try {
      def nsRow(name: String, in: DataFrame, rows: Double, c: Column): (String, Double) =
        ctx.call(s"kernel.$name", "kernel") {
          def run(): Double = {
            val t0 = System.nanoTime()
            in.select(c.as("x")).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0).toDouble
          }
          run()
          s"kernel.${name}_ns_row" -> Stats.median((1 to Reps).map(_ => run())) / rows
        }
      Seq(
        nsRow("baseline", text, nText, col("text")),
        nsRow("minhash_fast", text, nText, TextFunctions.minhashSignatureFast(col("sh"), 32)),
        nsRow("minhash_replayable", few, nFew, TextFunctions.minhashSignatureReplayable(col("sh"), 32)),
        nsRow("simhash_fast", text, nText, TextFunctions.simhash64Fast(col("tok"))),
        nsRow("simhash_replayable", few, nFew, TextFunctions.simhash64Replayable(col("tok"))),
        nsRow("shingles", text, nText, TextFunctions.shingles(col("text"), 3)),
        nsRow("cosine", vecs, nVec, VectorFunctions.cosineF(col("a"), col("b")))).toMap
    } finally Seq(text, few, vecs).foreach(_.unpersist())
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
