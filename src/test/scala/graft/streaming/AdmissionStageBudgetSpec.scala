package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.flow.SparkTestSession
import graft.functions.TextFunctions
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stage budget of one steady-state trigger (history present, no
  * maintenance) of the MinHash and SimHash admission gates, in both
  * store modes. Each gate makes one candidate pass per trigger; a change
  * that re-adds a second candidate pipeline fails here instead of in a
  * benchmark run. The budgets are the stage counts of the one-pass plans
  * on this fixture; the Janino compiles of the trigger are reported
  * beside them. */
class AdmissionStageBudgetSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import AdmissionFixture._

  /** Upper bounds, (legacy, commit-log). A gate that also runs the batch
    * operator's pair pipeline takes 51/51 (MinHash) and 20/21 (SimHash)
    * stages here. */
  private val nearDupBudget = (32, 32)
  private val hammingBudget = (13, 14)

  /** Stages submitted while `f` runs, counted through its job group.
    * Listener delivery is asynchronous but ordered: a marker job run
    * afterwards is seen last, so its end means every stage was counted. */
  private def stagesOf(f: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val group = s"graft-stage-budget-${System.nanoTime()}"
    val marker = group + "-marker"
    val stages = new AtomicInteger
    @volatile var markerDone = false
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def groupOf(p: java.util.Properties) =
      Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) stages.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e.properties) == marker) markerJobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone = true
    }
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    sc.addSparkListener(listener)
    try {
      val c0 = compiles.getCount
      sc.setJobGroup(group, "admission stage budget")
      try f finally sc.clearJobGroup()
      val c1 = compiles.getCount
      sc.setJobGroup(marker, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!markerDone && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerDone, "listener never saw the marker job")
      (stages.get, c1 - c0)
    } finally sc.removeSparkListener(listener)
  }

  for (log <- Seq(false, true)) {
    val mode = if (log) "commit-log" else "legacy"

    test(s"MinHash gate ($mode): a steady-state trigger stays within its stage budget") {
      import spark.implicits._
      val Seq(b0, b1) = minhashBatches(s"budget$mode").take(2)
      val store = tmp("graft_budget_mh") + "/sigs"
      inMode(spark, log) {
        admittedIds(StreamOps.applyNearDupBatch(b0.toDF(), store, 0L))
        val (stages, compiles) = stagesOf {
          admittedIds(StreamOps.applyNearDupBatch(b1.toDF(), store, 1L))
        }
        info(s"$stages stages, $compiles Janino compiles")
        val budget = if (log) nearDupBudget._2 else nearDupBudget._1
        assert(stages <= budget, s"$stages stages > budget $budget")
      }
    }

    test(s"SimHash gate ($mode): a steady-state trigger stays within its stage budget") {
      import spark.implicits._
      val Seq(b0, b1) = minhashBatches(s"budget-h$mode").take(2)
      def fps(b: Seq[Doc]) = b.toDF().select(col("doc_id"),
        TextFunctions.simhash64Fast(TextFunctions.tokens(col("text"))).as("fp"))
      val store = tmp("graft_budget_hd") + "/fps"
      inMode(spark, log) {
        admittedIds(StreamOps.applyHammingNearDupBatch(fps(b0), store, 0L,
          hashCol = "fp", maxHamming = 7))
        val (stages, compiles) = stagesOf {
          admittedIds(StreamOps.applyHammingNearDupBatch(fps(b1), store, 1L,
            hashCol = "fp", maxHamming = 7))
        }
        info(s"$stages stages, $compiles Janino compiles")
        val budget = if (log) hammingBudget._2 else hammingBudget._1
        assert(stages <= budget, s"$stages stages > budget $budget")
      }
    }
  }
}
