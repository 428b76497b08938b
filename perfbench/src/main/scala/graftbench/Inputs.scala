package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.Tables

/** A workload's input, made from the fixture in `perfbench/fixtures`
  * (the sf0.001 tables, 500 documents and 500 vectors) in two steps:
  *
  *  1. `graft.ScaleGen.generate` scales every table by 2 into the input
  *     directory, so the corpus has 1,000 documents and 1,000 vectors
  *     with the fixture's vocabulary, lengths and planted near-dups.
  *  2. Seeded choices on top of `documents`: which documents a workload
  *     takes and in what order (their position becomes `doc_id`), plus
  *     planted exact copies, planted near copies (1 to 3 word edits of an
  *     earlier document), one degenerate LSH bucket (documents that share
  *     one fixture text with a single edit) and one hot term in about 30%
  *     of documents.
  *
  * Plants always copy an earlier document, so a stream admitted in
  * `doc_id` order sees the original first. The same seed gives the same
  * files; the seed moves which documents and edits, never the sizes.
  */
object Inputs {
  val Scale = 2
  val HotTerm = "dataflow"
  val ExactCopyFrac = 0.02
  val NearCopyFrac = 0.05
  val BucketFrac = 0.03
  val HotFrac = 0.30

  /** Writes the input of a workload that takes `docs` documents. */
  def generate(spark: SparkSession, fixture: String, dir: String, seed: Long, docs: Int): Unit = {
    graft.ScaleGen.generate(spark, fixture, dir, Scale)
    val src = Tables.documents(spark, dir)
    val schema = src.schema
    val rows = src.orderBy("doc_id").collect()
    require(docs <= rows.length, s"$docs documents asked, the scaled fixture has ${rows.length}")
    val r = new java.util.SplittableRandom(seed)
    val order = rows.indices.toArray
    for (i <- order.indices.reverse) { // Fisher-Yates
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val taken = order.take(docs).map(i => rows(i))
    val words = taken.flatMap(_.getString(1).split(' ')).distinct.sorted
    def word(): String = words(r.nextInt(words.length))
    val template = taken(r.nextInt(docs)).getString(1).split(' ')
    val texts = new ArrayBuffer[String](docs)
    for (i <- 0 until docs) {
      val u = r.nextDouble()
      val w: Array[String] =
        if (i >= 10 && u < ExactCopyFrac) texts(r.nextInt(i)).split(' ')
        else if (i >= 10 && u < ExactCopyFrac + NearCopyFrac) {
          val t = texts(r.nextInt(i)).split(' ')
          for (_ <- 0 until 1 + r.nextInt(3)) t(r.nextInt(t.length)) = word()
          t
        } else if (u < ExactCopyFrac + NearCopyFrac + BucketFrac) {
          val t = template.clone()
          t(r.nextInt(t.length)) = word()
          t
        } else taken(i).getString(1).split(' ')
      if (r.nextDouble() < HotFrac && !w.contains(HotTerm)) w(r.nextInt(w.length)) = HotTerm
      texts += w.mkString(" ")
    }
    // n_chars is the text's length, as in the fixture
    val out = (0 until docs).map { i =>
      val t = taken(i)
      Row(i.toLong, texts(i), t.getString(2), t.getString(3), texts(i).length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out, Scale), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** The vector a workload's nearest-neighbour queries ask about: a
    * seeded choice among the input's `vec_id`s. */
  def probeId(spark: SparkSession, dir: String, seed: Long): Long = {
    import spark.implicits._
    val ids = Tables.embeddings(spark, dir).select("vec_id").as[Long].collect().sorted
    ids(new java.util.SplittableRandom(seed ^ 0x5eedL).nextInt(ids.length))
  }
}
