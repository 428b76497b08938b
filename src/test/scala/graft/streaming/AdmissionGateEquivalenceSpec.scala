package graft.streaming

import graft.flow.SparkTestSession
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The MinHash and SimHash admission gates each make ONE candidate join
  * per trigger (history and the batch's own rows on one build side).
  * These specs pin that the fused gates admit exactly what the pairwise
  * convention gives, replayed pair by pair in plain Scala:
  *  - within a batch the larger id of a verified pair drops;
  *  - a row drops on any verified match to an ADMITTED history row.
  * For MinHash "verified" is the store's contract: candidates share an
  * uncapped (band, bucket) — history capped at `maxBucket` over the
  * store's counts, the batch at 1,000 within the batch — and verify by
  * signature agreement (history) or exact shingle Jaccard (batch). For
  * hamming the multi-index blocking is exact, so the reference is the
  * brute-force all-pairs `bit_count(xor) <= maxHamming`. Both store
  * modes run every case. */
class AdmissionGateEquivalenceSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import AdmissionFixture._

  private val numHashes = 128
  private val bands = 16
  private val threshold = 0.8

  private case class Info(id: Long, sig: Seq[Long], keys: Set[(Int, Long)], sh: Set[String])

  private def infos(docs: Seq[Doc]): Seq[Info] = {
    import spark.implicits._
    docs.toDF().select(col("doc_id"),
      minhashTextSignature(col("text"), 3, numHashes).as("sig"),
      bandKeys(minhashTextSignature(col("text"), 3, numHashes), bands, numHashes).as("keys"),
      array_distinct(shingles(col("text"), 3)).as("sh"))
      .collect().toSeq.map { r =>
        Info(r.getLong(0), r.getSeq[Long](1),
          r.getSeq[org.apache.spark.sql.Row](2).map(k => (k.getInt(0), k.getLong(1))).toSet,
          r.getSeq[String](3).toSet)
      }
  }

  /** Plain-Scala replay of the MinHash gate's contract, batch by batch. */
  private def minhashReference(batches: Seq[Seq[Doc]], maxBucket: Int): Seq[Seq[Long]] = {
    var hist = Vector.empty[Info]
    batches.map { docs =>
      val batch = infos(docs)
      val histN = hist.flatMap(_.keys).groupBy(identity).view.mapValues(_.size).toMap
      val batchN = batch.flatMap(_.keys).groupBy(identity).view.mapValues(_.size).toMap
      def agree(a: Info, b: Info) =
        a.sig.zip(b.sig).count { case (x, y) => x == y }.toDouble / numHashes
      def jaccard(a: Info, b: Info) = {
        val inter = a.sh.intersect(b.sh).size.toDouble
        val uni = (a.sh.size + b.sh.size).toDouble - inter
        if (uni == 0) 1.0 else inter / uni
      }
      val admitted = batch.filterNot { d =>
        hist.exists(h => d.keys.exists(k => h.keys(k) && histN(k) <= maxBucket) &&
          agree(d, h) >= threshold) ||
          batch.exists(e => e.id < d.id &&
            d.keys.exists(k => e.keys(k) && batchN(k) <= 1000) &&
            jaccard(d, e) >= threshold)
      }
      hist ++= admitted
      admitted.map(_.id).sorted
    }
  }

  for (log <- Seq(false, true)) {
    val mode = if (log) "commit-log" else "legacy"

    test(s"MinHash gate ($mode): one candidate pass admits exactly the " +
      "pairwise convention, bucket caps included") {
      import spark.implicits._
      val batches = minhashBatches(s"gate$mode")
      for (maxBucket <- Seq(1000, 1)) {
        val store = tmp("graft_gate_mh") + "/sigs"
        val got = inMode(spark, log) {
          batches.zipWithIndex.map { case (b, t) =>
            admittedIds(StreamOps.applyNearDupBatch(b.toDF(), store, t.toLong,
              bands = bands, threshold = threshold, maxBucket = maxBucket))
          }
        }
        val want = minhashReference(batches, maxBucket)
        assert(got == want, s"maxBucket=$maxBucket")
        // the fixture exercises what it claims: in-batch drops (larger
        // id), history drops, the 1,001-doc batch passing its in-batch
        // cap, and its copy passing the history cap
        assert(!got.head.contains(35L) && got.head.contains(2L))
        assert(!got(1).contains(125L) && got(1).contains(103L))
        assert(!got(1).contains(122L))
        assert(got(2).size == 1001)
        assert(got(3) == Seq(3000L))
      }
      // with no history, the in-batch drops are the batch operator's
      val first = batches.head.toDF()
      val losers = graft.operators.Dedup.minhashNearDup(first, "doc_id", "text",
        numHashes, bands, 3, threshold).select("id_b").as[Long].collect().toSet
      val store = tmp("graft_gate_mh") + "/sigs"
      val got0 = inMode(spark, log) {
        admittedIds(StreamOps.applyNearDupBatch(first, store, 0L, bands = bands))
      }
      assert(got0 == batches.head.map(_.doc_id).filterNot(losers).sorted)
      spark.catalog.clearCache() // minhashNearDup retains its caches by design
    }

    for ((maxHamming, chunks) <- Seq((3, 0), (3, 4), (7, 0))) {
      test(s"SimHash gate ($mode, maxHamming=$maxHamming, chunks=$chunks): " +
        "one candidate pass admits exactly the brute-force pairwise convention") {
        import spark.implicits._
        for (seed <- Seq(1L, 2L, 3L)) {
          val batches = hammingBatches(seed)
          val store = tmp("graft_gate_hd") + "/fps"
          val got = inMode(spark, log) {
            batches.zipWithIndex.map { case (b, t) =>
              admittedIds(StreamOps.applyHammingNearDupBatch(b.toDF(), store,
                t.toLong, maxHamming = maxHamming, chunks = chunks))
            }
          }
          def close(a: FpRow, b: FpRow) = a.fingerprint != null &&
            b.fingerprint != null &&
            java.lang.Long.bitCount(a.fingerprint ^ b.fingerprint) <= maxHamming
          var hist = Vector.empty[FpRow]
          val want = batches.map { b =>
            val admitted = b.filterNot(d => hist.exists(close(_, d)) ||
              b.exists(e => e.doc_id < d.doc_id && close(e, d)))
            hist ++= admitted
            admitted.map(_.doc_id).sorted
          }
          assert(got == want, s"seed=$seed")
          if (seed == 1L && maxHamming == 3) {
            // identical class {4,7}: 3 is one bit from it and smaller, so
            // the representative 4 drops with its member 7; NULLs admit
            assert(got.head.take(4) == Seq(1L, 3L, 8L, 9L))
            // 12 matches admitted 3; 15 matches only DROPPED rows
            assert(!got(1).contains(12L) && got(1).contains(15L) &&
              got(1).contains(16L) && got(1).contains(13L) && !got(1).contains(14L))
          }
        }
      }
    }
  }
}
