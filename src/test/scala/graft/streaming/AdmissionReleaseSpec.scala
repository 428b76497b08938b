package graft.streaming

import graft.flow.SparkTestSession
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every cache the MinHash and SimHash gates take inside a trigger is
  * released by the gate itself; the returned `admitted` is the only one
  * left, and the caller's unpersist returns the session's persisted-RDD
  * set to its baseline — on the first trigger (no history) and on a
  * steady-state one (history present), in both store modes. Without it a
  * long-running stream grows storage memory by one cache per trigger. */
class AdmissionReleaseSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import AdmissionFixture._

  private def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  for (log <- Seq(false, true)) {
    val mode = if (log) "commit-log" else "legacy"

    test(s"applyNearDupBatch ($mode) leaves no cache behind once admitted is released") {
      import spark.implicits._
      val batches = minhashBatches(s"release$mode").take(2)
      val store = tmp("graft_rel_mh") + "/sigs"
      val baseline = cachedIds
      inMode(spark, log) {
        batches.zipWithIndex.foreach { case (b, t) =>
          val admitted = StreamOps.applyNearDupBatch(b.toDF(), store, t.toLong)
          assert(admitted.count() > 0)
          assert(cachedIds.size > baseline.size, "admitted is returned persisted")
          admitted.unpersist()
          assert(cachedIds == baseline,
            s"trigger $t: leftover caches ${cachedIds -- baseline}")
        }
      }
    }

    test(s"applyHammingNearDupBatch ($mode) leaves no cache behind once admitted is released") {
      import spark.implicits._
      val batches = minhashBatches(s"release-h$mode").take(2)
      val store = tmp("graft_rel_hd") + "/fps"
      val baseline = cachedIds
      inMode(spark, log) {
        batches.zipWithIndex.foreach { case (b, t) =>
          val fps = b.toDF().select(col("doc_id"),
            TextFunctions.simhash64Fast(TextFunctions.tokens(col("text"))).as("fp"))
          val admitted = StreamOps.applyHammingNearDupBatch(fps, store, t.toLong,
            hashCol = "fp", maxHamming = 7)
          assert(admitted.count() > 0)
          admitted.unpersist()
          assert(cachedIds == baseline,
            s"trigger $t: leftover caches ${cachedIds -- baseline}")
        }
      }
    }
  }
}
