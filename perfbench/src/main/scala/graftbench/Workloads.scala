package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.Tables

/** What a workload's code can reach: the session, the generated input
  * directory, a scratch directory, the tracer, and how many pipeline
  * children may run at once. */
final class Ctx(
    val spark: SparkSession,
    val input: String,
    val work: String,
    val tracer: Tracer,
    val seed: Long,
    val concurrency: Int,
    val gauge: Boolean = false) {

  /** Per layer: persisted RDDs left behind, and their bytes. */
  val leaks: mutable.LinkedHashMap[String, (Int, Long)] = mutable.LinkedHashMap.empty
  private val counted = mutable.HashSet.empty[Int]

  /** A call into one layer of the program; traced, it is a span. With the
    * cache gauge on, every persistent RDD that is new after the call and
    * still persisted counts once, as left behind by the call's layer. The
    * gauge can only tell calls apart when they do not overlap, so the
    * gauged pass runs its pipeline one child at a time. A caller that
    * releases what it was handed does so inside `f`. */
  def call[T](name: String, layer: String)(f: => T): T =
    if (!gauge) tracer.span(name, layer)(f)
    else {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val r = tracer.span(name, layer)(f)
      val (ids, bytes) = Residency.snap(spark.sparkContext, id => !before.contains(id) && !counted.contains(id))
      counted ++= ids
      val (n, b) = leaks.getOrElse(layer, (0, 0L))
      leaks(layer) = (n + ids.size, b + bytes)
      r
    }
}

/** One timed operation of a pass: a job of a batch workload or one
  * micro-batch trigger of ingest. */
final case class Op(name: String, seconds: Double, error: Option[String])

final case class PassOut(ops: Seq[Op], userBytes: Long, storeBytes: Long)

/** A result the run checks after timing: the parquet every pass writes
  * (the last pass must give the rows of the first), and the oracle SQL
  * the first pass is compared with, if any. */
final case class Output(job: String, oracle: Option[String])

trait Workload {
  def name: String
  /** Documents the workload's input takes from the scaled fixture. */
  def docs: Int
  def pass(ctx: Ctx, k: Int): PassOut
  def outputs: Seq[Output]
  /** Checks after timing: (name, passed, detail). */
  def checks(ctx: Ctx, passes: Int): Seq[(String, Boolean, String)]
  /** Per-layer metrics only this workload defines. */
  def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = Map.empty
  /** Operations in one pass, and the fewest passes a run makes. */
  def opsPerPass: Int
  def minPasses: Int
  /** The untimed pass that warms the JIT before measuring. */
  def warmup(ctx: Ctx): Unit = pass(ctx, 999)

  /** The tail percentile, the same in every run of this workload: the
    * highest whole percentile that leaves at least ten operations above
    * it in the smallest run, but never below p90. A run too short for
    * ten samples above p90 still reports p90; the result line states
    * the percentile and the sample count beside it. */
  def tailPercentile: Double = {
    val n = opsPerPass * minPasses
    math.max(90.0, math.floor(100.0 * (1 - 10.0 / n)))
  }
}

object Workload {
  def apply(name: String): Workload = name match {
    case "curate" => Curate
    case "ingest" => Ingest
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (curate, ingest)")
  }

  lazy val registry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
  lazy val oracle: Map[String, String] = SparkEntry.oracleSql

  def outDir(ctx: Ctx, k: Int, job: String): String = s"${ctx.work}/out/p$k/$job"

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed(name: String)(f: => Unit): Op = {
    val t0 = now
    val e = Try(f) match {
      case Success(_) => None
      case Failure(err) => Some(s"${err.getClass.getSimpleName}: ${err.getMessage}".take(300))
    }
    Op(name, secs(t0), e)
  }

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L // crc and markers
      else f.length()
    walk(new java.io.File(path))
  }

  def dataFiles(path: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(path))
  }

  /** The source stage: a full scan of each input table through the
    * program's loaders, into the no-op sink. */
  def scanSources(ctx: Ctx, tables: Seq[String]): Op = timed("sources.scan") {
    ctx.call("sources.scan", "sources") {
      tables.foreach(t => Tables.table(ctx.spark, ctx.input, t).write.format("noop").mode("overwrite").save())
    }
  }

  /** Runs `children` as the children of one `flow.Pipeline`, at most
    * `ctx.concurrency` at a time, inside a `flow.pipeline` span. Each child's
    * wall time is one operation; a child that throws is a failed
    * operation, and the others still run. */
  def runPipeline(ctx: Ctx, name: String, children: Seq[(String, () => Unit)]): Seq[Op] = {
    val pipeline = new graft.flow.Pipeline(name, ctx.spark)
    val done = new java.util.concurrent.ConcurrentHashMap[String, Op]()
    children.foreach { case (n, f) =>
      pipeline.register(n) {
        val op = timed(n)(f())
        done.put(n, op)
        op.error.foreach(e => throw new RuntimeException(e))
      }
    }
    try ctx.tracer.span("flow.pipeline", "flow")(pipeline.run(maxConcurrency = ctx.concurrency))
    catch { case _: graft.flow.PipelineFaultedException => () } // counted per child
    finally pipeline.close()
    children.map { case (n, _) => Option(done.get(n)).getOrElse(Op(n, 0, Some("not run"))) }
  }

}

import Workload._

/** Batch LLM-corpus curation over `documents` and `embeddings`: exact,
  * MinHash and SimHash near-dup, dedup-against, a BM25 index build and
  * query, an IVF-PQ build and top-k, and image near-dup. After a source
  * scan, the jobs run as the children of one `flow.Pipeline` and each
  * writes its result as parquet. The n-gram, dup-cluster and
  * corpus-curation queries cost another ~10 s a pass here and are left
  * out to keep a run near a minute. */
object Curate extends Workload {
  val name = "curate"
  val docs = 1000
  // job -> (span name, layer, registry query it reproduces)
  val registryJobs = Seq(
    ("q_dedup_exact", "dedup.exact", "dedup"),
    ("q_minhash_pairs", "dedup.minhash", "dedup"),
    ("q_simhash_pairs", "dedup.simhash", "dedup"),
    ("q_dedup_against", "dedup.against", "dedup"))
  val bm25Queries = Seq("q1" -> "spark join window", "q2" -> "merge batch stream", "q3" -> "vector hash scan")
  val jobs: Seq[String] = registryJobs.map(_._1) ++ Seq("q_bm25_index", "ivfpq_topk", "image_features", "q_image_near_dup")
  // the source scan, the registry jobs and three more children
  def opsPerPass: Int = 1 + registryJobs.size + 3
  def minPasses: Int = 2
  val pairJobs = Seq("q_minhash_pairs", "q_simhash_pairs")

  // q_dedup_against's oracle is an all-pairs cross join that takes DuckDB
  // longer than a whole pass; `checks` computes the same exact answer
  def outputs: Seq[Output] = jobs.map(j => Output(j, oracle.get(j).filter(_ => j != "q_dedup_against")))

  private val probeIds = mutable.HashMap.empty[String, Long]
  def probeId(ctx: Ctx): Long =
    probeIds.synchronized(probeIds.getOrElseUpdate(ctx.input, Inputs.probeId(ctx.spark, ctx.input, ctx.seed)))

  def probe(ctx: Ctx): Array[Float] =
    Tables.embeddings(ctx.spark, ctx.input).filter(col("vec_id") === probeId(ctx))
      .select("embedding").head().getSeq[Float](0).toArray

  def pass(ctx: Ctx, k: Int): PassOut = {
    val spark = ctx.spark
    val ops = ArrayBuffer.empty[Op]
    def sink(job: String, df: DataFrame): Unit = {
      graft.flow.Sinks.parquet(df, outDir(ctx, k, job))
      if (pairJobs.contains(job))
        ctx.tracer.count("pairs_out", spark.read.parquet(outDir(ctx, k, job)).count().toDouble)
    }
    val mm = graft.multimodal.Multimodal
    ctx.tracer.span("curate.pass", "bench") {
      ops += scanSources(ctx, Seq("documents", "embeddings"))
      ops ++= runPipeline(ctx, "curate", registryJobs.map { case (q, span, layer) =>
        q -> (() => ctx.call(span, layer)(sink(q, registry(q)(spark, ctx.input))))
      } ++ Seq(
        "q_bm25_index" -> (() => {
          val idx = ctx.call("retrieval.bm25_build", "retrieval") {
            graft.operators.Bm25Index.buildAndSave(Tables.documents(spark, ctx.input),
              s"${ctx.work}/idx/p$k/bm25", "doc_id", "text", buckets = 16)
          }
          ctx.call("retrieval.bm25_query", "retrieval")(sink("q_bm25_index", idx.topK(bm25Queries, k = 10)))
        }),
        "ivfpq_topk" -> (() => {
          val corpus = Tables.embeddings(spark, ctx.input).filter(col("vec_id") =!= probeId(ctx))
          val p = probe(ctx)
          val idx = ctx.call("retrieval.ivfpq_build", "retrieval") {
            graft.operators.IvfPqIndex.buildAndSave(corpus, s"${ctx.work}/idx/p$k/ivfpq", "vec_id", "embedding",
              nlist = 8, m = 8, ksub = 32)
          }
          ctx.call("retrieval.ivfpq_query", "retrieval")(sink("ivfpq_topk", idx.topK(corpus, p, 10)))
        }),
        "q_image_near_dup" -> (() => {
          ctx.call("media.features", "media") {
            sink("image_features", mm.imageDhash(mm.syntheticImageCorpusMemo(spark, ctx.input)).toDF())
          }
          ctx.call("media.pairs", "media") {
            val hashes = spark.read.parquet(outDir(ctx, k, "image_features"))
            sink("q_image_near_dup", mm.hammingNearDupPairs(hashes, "media_id", "dhash", maxHamming = 6, chunks = 4))
          }
        })))
    }
    PassOut(ops.toSeq, dirBytes(ctx.input), jobs.map(j => dirBytes(outDir(ctx, k, j))).sum +
      dirBytes(s"${ctx.work}/idx/p$k"))
  }

  /** Word 3-gram sets as the near-dup operators define them (distinct
    * shingles; a doc of at most 3 words is one shingle). */
  def shingleSet(text: String): Set[String] = {
    val w = text.split("\\s+")
    if (w.length <= 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }

  val MinhashRecallFloor = 0.9
  val AnnRecallFloor = 0.5

  def checks(ctx: Ctx, passes: Int): Seq[(String, Boolean, String)] = {
    val spark = ctx.spark
    import spark.implicits._
    // near-dup recall of the MinHash LSH pairs against exact Jaccard >= 0.8
    val docs = Tables.documents(spark, ctx.input).select("doc_id", "text").as[(Long, String)].collect()
    val sets = docs.map { case (id, t) => (id, shingleSet(t)) }
    def jaccard(a: Set[String], b: Set[String]): Double = {
      val inter = a.count(b.contains)
      inter.toDouble / (a.size + b.size - inter)
    }
    val truth = mutable.HashSet.empty[(Long, Long)]
    for (i <- sets.indices; j <- i + 1 until sets.length) {
      val (a, sa) = sets(i); val (b, sb) = sets(j)
      if (jaccard(sa, sb) >= 0.8) truth += ((math.min(a, b), math.max(a, b)))
    }
    val found = spark.read.parquet(outDir(ctx, 0, "q_minhash_pairs")).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val recall = if (truth.isEmpty) 1.0 else truth.count(found.contains).toDouble / truth.size
    // dedup-against: the even docs that no odd doc matches at exact
    // Jaccard >= 0.5, which is what the registry's oracle SQL computes
    val (even, odd) = sets.partition(_._1 % 2 == 0)
    val expected = even.filterNot { case (_, sa) => odd.exists { case (_, sb) => jaccard(sa, sb) >= 0.5 } }
      .map(_._1).toSet
    val against = spark.read.parquet(outDir(ctx, 0, "q_dedup_against")).select("doc_id").as[Long].collect().toSet
    // IVF-PQ recall@10 against brute-force cosine
    val vecs = Tables.embeddings(spark, ctx.input).select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val p = vecs.find(_._1 == probeId(ctx)).get._2
    def cos(a: Seq[Float], b: Seq[Float]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val exact = vecs.filter(_._1 != probeId(ctx)).sortBy(v => -cos(p, v._2)).take(10).map(_._1).toSet
    val annIds = spark.read.parquet(outDir(ctx, 0, "ivfpq_topk")).select("vec_id").as[Long].collect().toSet
    val annRecall = exact.count(annIds.contains).toDouble / exact.size
    Seq(
      ("minhash_recall", recall >= MinhashRecallFloor,
        f"recall $recall%.4f of ${truth.size} exact pairs (floor $MinhashRecallFloor)"),
      ("ivfpq_recall_at_10", annRecall >= AnnRecallFloor, f"recall@10 $annRecall%.2f (floor $AnnRecallFloor)"),
      ("dedup_against_exact", against == expected,
        s"${against.size} kept vs ${expected.size} by exact Jaccard"))
  }

  override def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = Kernels.measure(ctx)
}

/** Trickle ingest: the seeded doc stream arrives in fixed-size
  * micro-batches; one caller admits the next batch only after the
  * previous one committed (a closed loop, as `foreachBatch` runs).
  * Each trigger runs the exact gate, the MinHash near-dup gate and the
  * SimHash hamming gate of `streaming.StreamOps`, then merges the
  * admitted rows into a corpus table with `Merge.into`. After the last
  * trigger of a pass the stores are folded, and the corpus table is
  * compacted and read back. No `spark.graft.*` conf is set, so the
  * default store protocol runs. */
object Ingest extends Workload {
  val name = "ingest"
  val BatchDocs = 100
  val Triggers = 2
  val docs: Int = BatchDocs * Triggers

  def outputs: Seq[Output] = Nil
  def opsPerPass: Int = Triggers
  def minPasses: Int = 1

  /** Per pass: ids admitted by each gate, in order. */
  final case class Admissions(exact: Seq[Long], near: Seq[Long], hamming: Seq[Long])
  private val admissions = mutable.HashMap.empty[Int, Admissions]
  // UTF-8 bytes of each input doc's text, read once per input
  private val textBytes = mutable.HashMap.empty[String, Map[Long, Long]]

  def storesDir(ctx: Ctx, k: Int): String = s"${ctx.work}/stores/p$k"
  def stores(ctx: Ctx, k: Int): Map[String, String] =
    Seq("exact", "near", "hamming", "corpus").map(s => s -> s"${storesDir(ctx, k)}/$s").toMap

  /** Everything on disk under each entry of the stores directory (a
    * store, or a sidecar the program keeps beside it), as relative path,
    * size and modification time; checksum files are left out. */
  def storeState(dir: String): Map[String, Set[(String, Long, Long)]] = {
    def walk(f: java.io.File, rel: String): Seq[(String, Long, Long)] =
      if (f.isDirectory) (rel, 0L, 0L) +: Option(f.listFiles()).toSeq.flatten.flatMap(c => walk(c, s"$rel/${c.getName}"))
      else if (f.getName.endsWith(".crc")) Nil
      else Seq((rel, f.length(), f.lastModified()))
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filterNot(_.getName.endsWith(".crc"))
      .map(f => f.getName -> walk(f, f.getName).toSet).toMap
  }

  /** Runs a store-mutating step. Traced, it counts, on the step's span,
    * how many stores and sidecars the step changed on disk: one commit
    * for each. */
  def committing[T](ctx: Ctx, k: Int)(f: => T): T =
    if (!ctx.tracer.enabled) f
    else {
      val before = storeState(storesDir(ctx, k))
      val r = f
      val after = storeState(storesDir(ctx, k))
      ctx.tracer.count("commits", (before.keySet ++ after.keySet).count(s => before.get(s) != after.get(s)))
      r
    }

  def pass(ctx: Ctx, k: Int): PassOut = pass(ctx, k, Triggers)

  /** The untimed warm-up: one trigger, which also folds and compacts, so
    * every step of a pass has run once. */
  override def warmup(ctx: Ctx): Unit = pass(ctx, 999, 1)

  private def pass(ctx: Ctx, k: Int, triggers: Int): PassOut = {
    val spark = ctx.spark
    val st = stores(ctx, k)
    val source = Tables.documents(spark, ctx.input)
    import spark.implicits._
    val bytes = textBytes.getOrElseUpdate(ctx.input,
      source.select(col("doc_id"), length(encode(col("text"), "UTF-8")).cast("long")).as[(Long, Long)].collect().toMap)
    val ops = ArrayBuffer.empty[Op]
    val exactIds, nearIds, hamIds = ArrayBuffer.empty[Long]
    var admittedBytes = 0L
    def ids(df: DataFrame): Seq[Long] = df.select("doc_id").as[Long].collect().toSeq
    ctx.tracer.span("ingest.pass", "bench") {
      for (t <- 0 until triggers) {
        val batch = source.filter(col("doc_id").between(t * BatchDocs, (t + 1) * BatchDocs - 1))
        val op = timed(s"trigger$t") {
          ctx.tracer.span(s"ingest.trigger$t", "bench") {
            // Each gate hands the next one its admitted rows as a fresh
            // batch, as chained streams do; chaining the returned frames
            // instead grows one logical plan per trigger that the analyzer
            // walks again at every step.
            def rebatch(df: DataFrame): DataFrame = {
              val r = df.select(source.columns.toIndexedSeq.map(col): _*).collect()
              df.unpersist()
              spark.createDataFrame(java.util.Arrays.asList(r: _*), source.schema)
            }
            val a1 = ctx.call("admit.exact", "admit")(committing(ctx, k) {
              rebatch(graft.streaming.StreamOps.applyExactDedupBatch(batch, st("exact"), t))
            })
            val a2 = ctx.call("admit.neardup", "admit")(committing(ctx, k) {
              rebatch(graft.streaming.StreamOps.applyNearDupBatch(a1, st("near"), t))
            })
            val h = ctx.call("admit.hamming", "admit")(committing(ctx, k) {
              val a3 = graft.streaming.StreamOps.applyHammingNearDupBatch(
                a2.select(col("doc_id"), graft.functions.TextFunctions.simhash64Fast(
                  graft.functions.TextFunctions.tokens(col("text"))).as("graft_fp")),
                st("hamming"), t, hashCol = "graft_fp", maxHamming = 7)
              val r = ids(a3)
              a3.unpersist()
              r
            })
            exactIds ++= ids(a1); nearIds ++= ids(a2); hamIds ++= h
            val admitted = a2.filter(col("doc_id").isin(h: _*))
            admittedBytes += h.map(bytes).sum
            ctx.call("store.merge", "store")(committing(ctx, k) {
              graft.operators.Merge.into(spark, st("corpus"), admitted, Seq("doc_id"))
            })
            if (t == triggers - 1) ctx.call("admit.maintain", "admit")(committing(ctx, k) {
              graft.streaming.StreamOps.maintainExactDedupStore(spark, st("exact"))
              graft.streaming.StreamOps.maintainNearDupStore(spark, st("near"))
              graft.streaming.StreamOps.maintainHammingNearDupStore(spark, st("hamming"))
            })
            if (t == triggers - 1) ctx.call("store.compact", "store")(committing(ctx, k) {
              graft.operators.Compact.compactDir(spark, st("corpus"))
              spark.read.parquet(st("corpus")).count()
            })
          }
        }
        ops += op.copy(name = "trigger")
      }
    }
    admissions(k) = Admissions(exactIds.toSeq, nearIds.toSeq, hamIds.toSeq)
    PassOut(ops.toSeq, math.max(1L, admittedBytes), st.values.map(dirBytes).sum)
  }

  def checks(ctx: Ctx, passes: Int): Seq[(String, Boolean, String)] = {
    val spark = ctx.spark
    import spark.implicits._
    val offered = Tables.documents(spark, ctx.input).orderBy("doc_id")
    val exactRef = graft.operators.Dedup.exact(offered, "doc_id", "text").select("doc_id").as[Long].collect().toSet
    val offeredIds = offered.select("doc_id").as[Long].collect().toSet
    (0 until passes).flatMap { k =>
      val st = stores(ctx, k)
      val a = admissions(k)
      def read(path: String, c: String): Set[Long] =
        Try(spark.read.parquet(path).select(col(c).cast("long")).as[Long].collect().toSet).getOrElse(Set(-1L))
      val corpus = read(st("corpus"), "doc_id")
      val rejected = offeredIds -- a.hamming
      Seq(
        (s"durable.exact_store.p$k", read(st("exact"), "graft_id") == a.exact.toSet, s"${a.exact.size} acked"),
        (s"durable.near_store.p$k", read(st("near"), "graft_id") == a.near.toSet, s"${a.near.size} acked"),
        (s"durable.hamming_store.p$k", read(st("hamming"), "graft_id") == a.hamming.toSet, s"${a.hamming.size} acked"),
        (s"durable.corpus.p$k", corpus == a.hamming.toSet && corpus.intersect(rejected).isEmpty,
          s"${corpus.size} rows, ${rejected.size} rejected"),
        (s"exact_gate_equals_dedup_exact.p$k", a.exact.toSet == exactRef,
          s"${a.exact.size} admitted vs ${exactRef.size} from Dedup.exact"))
    }
  }

  override def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = {
    // admission-gate time per trigger, in trigger order, per traced pass;
    // growth compares the last quarter of a pass's triggers with the first
    val spans = ctx.tracer.spans.toSeq
    val gates = Set("admit.exact", "admit.neardup", "admit.hamming")
    val growth = spans.filter(_.name == "ingest.pass").map { pass =>
      val perTrigger = spans.filter(t => t.parent == pass.id && t.name.startsWith("ingest.trigger"))
        .sortBy(_.start)
        .map(t => spans.filter(g => g.parent == t.id && gates(g.name)).map(g => (g.end - g.start) / 1e9).sum)
      val q = math.max(1, perTrigger.size / 4)
      Stats.median(perTrigger.takeRight(q)) / Stats.median(perTrigger.take(q))
    }
    Map(
      "admit.admitted_frac" -> admissions(0).hamming.size.toDouble / docs,
      "admit.growth" -> Stats.median(growth),
      "store.files" -> stores(ctx, 0).values.map(dataFiles).sum.toDouble)
  }

}
