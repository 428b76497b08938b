package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded corpora and store helpers shared by the admission-gate specs
  * (AdmissionGateEquivalenceSpec, AdmissionReleaseSpec,
  * AdmissionStageBudgetSpec). `tag` keeps each spec's texts distinct, so
  * no persisted plan is shared with another suite's (Spark's
  * CacheManager dedupes persists by plan). */
object AdmissionFixture {

  /** `n` seeded words from a 5,000-word vocabulary. */
  def words(seed: Long, n: Int = 40): Seq[String] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)("w" + r.nextInt(5000))
  }

  def doc(id: Long, seed: Long, tag: String): Doc =
    Doc(id, (tag +: words(seed)).mkString(" "))

  /** `of` with `edits` words replaced: one edit of a 41-word text keeps
    * 3-shingle Jaccard ≈ 0.85 (a near-dup at 0.8), three edits put it
    * well below. */
  def near(id: Long, of: Doc, edits: Int, seed: Long): Doc = {
    val ws = of.text.split(" ")
    val r = new scala.util.Random(seed)
    r.shuffle((1 until ws.length).toList).take(edits).zipWithIndex
      .foreach { case (p, k) => ws(p) = s"e${seed}_$k" }
    Doc(id, ws.mkString(" "))
  }

  /** Four MinHash batches: in-batch and cross-batch near-dups (the
    * in-batch pair's LARGER id listed first), an exact copy of history,
    * an edit too far to count, a third batch of 1,001 identical docs
    * whose buckets all exceed the in-batch cap, and a fourth holding one
    * more copy of them (its history buckets now exceed the default
    * `maxBucket` of 1,000) beside an exact copy of an earlier doc. */
  def minhashBatches(tag: String): Seq[Seq[Doc]] = {
    val b0 = (0L until 30L).map(i => doc(i, 1000 + i, tag))
    val batch0 = b0 :+ near(35, b0(2), 1, 1) :+ near(36, b0(4), 3, 2)
    val b1 = (100L until 120L).map(i => doc(i, 2000 + i, tag))
    val batch1 = near(125, b1(3), 1, 3) +: b1 :+
      near(121, b0(3), 1, 4) :+ b0(7).copy(doc_id = 122) :+
      near(123, batch0(30), 1, 5) :+ near(124, b0(9), 3, 6)
    val batch2 = (1000L to 2000L).map(i => Doc(i, s"$tag alpha beta gamma delta"))
    val batch3 = Seq(batch2.head.copy(doc_id = 3000), b0(11).copy(doc_id = 3001))
    Seq(batch0, batch1, batch2, batch3)
  }

  private def fp(seed: Long): Long = new scala.util.Random(seed).nextLong()
  private def flip(h: Long, bits: Int*): Long = bits.foldLeft(h)((x, b) => x ^ (1L << b))

  /** Three hamming batches over explicit fingerprints: an identical-hash
    * class {4, 7}, a smaller id close to that class's representative
    * (so the representative itself drops), in-batch pairs at the radius
    * edge, NULL fingerprints, cross-batch matches to admitted and to
    * DROPPED rows, and seeded clusters of 0–5 bit flips with ids in
    * shuffled order. */
  def hammingBatches(seed: Long): Seq[Seq[FpRow]] = {
    def row(id: Long, h: Long) = FpRow(id, java.lang.Long.valueOf(h))
    val planted0 = Seq(row(1, fp(1)), row(2, flip(fp(1), 0, 1)),
      row(7, fp(2)), row(4, fp(2)), row(6, flip(fp(2), 10, 20, 30)),
      row(3, flip(fp(2), 5)), FpRow(8, null), row(9, fp(3)))
    val planted1 = Seq(row(11, flip(fp(1), 40)), row(12, flip(fp(2), 5, 6)),
      row(13, fp(4)), row(14, fp(4)), row(15, flip(fp(2), 10, 20, 30, 50)),
      FpRow(16, null), row(17, flip(fp(9), 63)))
    val r = new scala.util.Random(seed)
    val centres = Seq.fill(6)(r.nextLong())
    def clustered(ids: Seq[Long]) = r.shuffle(ids).map { id =>
      val c = centres(r.nextInt(centres.size))
      row(id, flip(c, Seq.fill(r.nextInt(6))(r.nextInt(64)): _*))
    }
    Seq(planted0 ++ clustered(100L until 140L),
      planted1 ++ clustered(200L until 240L),
      clustered(300L until 340L))
  }

  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** New stores under this conf come up in commit-log mode. */
  def inMode[A](spark: SparkSession, log: Boolean)(f: => A): A =
    if (!log) f
    else {
      spark.conf.set("spark.graft.store.commitLog", "true")
      try f finally spark.conf.unset("spark.graft.store.commitLog")
    }

  /** Run one gate call, collect its admitted ids, release `admitted`. */
  def admittedIds(admitted: DataFrame): Seq[Long] = {
    val ids = admitted.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    admitted.unpersist()
    ids
  }
}
