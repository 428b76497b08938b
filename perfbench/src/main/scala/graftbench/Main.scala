package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.GraftBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It sets up (session, seeded input from the
  * fixture, load) and warms up with one untimed pass, then runs passes
  * over the workload for the given number of seconds, clearing the Spark
  * cache before each. It writes `result.json` into the work directory;
  * `run.py` adds the DuckDB oracle checks and prints the result line.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cores> <fixtureDir>
  */
object Main {
  val MiB: Double = 1024.0 * 1024.0

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class PassRec(traced: Boolean, out: PassOut, wall: Double, sums: StageSums,
      peakCached: Long, groups: Seq[String])

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, work, coresS, fixture) = args
    val wl = Workload(wlName)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up: from JVM start through the untimed warm-up pass
    val spark = session(work, cores)
    val tSession = System.currentTimeMillis()
    val input = s"$work/input"
    Inputs.generate(spark, fixture, input, seed, wl.docs)
    val tInput = System.currentTimeMillis()
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)
    val runId = f"$wlName-s$seed-${System.currentTimeMillis()}%x"
    val plain = new Ctx(spark, input, work, new Tracer(sc, false, runId), seed, cores)
    val traced = new Ctx(spark, input, work, new Tracer(sc, true, runId), seed, cores)
    // The traced run warms up with the cache gauge on, one pipeline child
    // at a time, so each persisted RDD is charged to the call that left it.
    val warm = if (trace) new Ctx(spark, input, work, new Tracer(sc, false, runId), seed, 1, gauge = true) else plain
    spark.catalog.clearCache()
    wl.warmup(warm)
    val tWarm = System.currentTimeMillis()
    val setupS = (tWarm - jvmStart) / 1000.0
    val setupParts = Seq("session" -> (tSession - jvmStart), "input" -> (tInput - tSession), "warmup" -> (tWarm - tInput))
    GraftBus.drain(sc)
    meter.clearStages()

    // ---- measured passes: untraced only, or untraced and traced in the
    // order U T T U ..., so a drift over the run (the JIT still warming)
    // falls on both sides alike in the overhead
    val recs = ArrayBuffer.empty[PassRec]
    val minPasses = if (trace) 4 else wl.minPasses
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (k < minPasses || System.nanoTime() < deadline) {
      val isTraced = trace && (k % 4 == 1 || k % 4 == 2)
      val ctx = if (isTraced) traced else plain
      spark.catalog.clearCache()
      GraftBus.drain(sc)
      meter.resetPeak()
      val before = meter.snapshot
      val spansBefore = ctx.tracer.spans.size
      val t0 = System.nanoTime()
      val out = wl.pass(ctx, k)
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBus.drain(sc)
      val after = meter.snapshot
      val d = after - before
      recs += PassRec(isTraced, out, wall, d, meter.peakCached, ctx.tracer.spans.drop(spansBefore).map(_.group).toSeq)
      k += 1
    }
    val passes = k

    // ---- checks, after timing
    val tChecks = System.nanoTime()
    val checks = scala.util.Try(wl.checks(plain, passes)).fold(
      e => Seq(("checks", false, s"${e.getClass.getSimpleName}: ${e.getMessage}")), identity)
    val checkSecs = (System.nanoTime() - tChecks) / 1e9
    val extra = if (trace) wl.layerMetrics(traced, passes) ++ Layers.leakMetrics(warm) else Map.empty[String, Double]

    val plainRecs = recs.filterNot(_.traced).toSeq
    val ops = recs.flatMap(_.out.ops).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(setupS, plainRecs, ops, wl.tailPercentile)
      else Layers.metrics(traced, meter, recs.toSeq, extra, cores)

    // ---- result file for run.py
    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""workload":${Json.str(wlName)},"seed":$seed,"passes":$passes,"""
    sb ++= s""""attempted":${ops.size},"failed_ops":${ops.count(_.error.isDefined)},"""
    sb ++= s""""tail_percentile":${Json.num(wl.tailPercentile)},"op_samples":${ops.size},"""
    sb ++= s""""check_s":${Json.num(checkSecs)},"""
    sb ++= s""""setup_s":${Json.num(setupS)},"""
    sb ++= s""""setup_parts":{${setupParts.map { case (n, ms) => s"${Json.str(n)}:${Json.num(ms / 1000.0)}" }.mkString(",")}},"""
    val opMed = ops.groupBy(_.name).map { case (n, os) => s"${Json.str(n)}:${Json.num(Stats.median(os.map(_.seconds)))}" }
    sb ++= s""""op_medians":{${opMed.mkString(",")}},"""
    sb ++= s""""pass_walls":[${recs.map(r => Json.num(r.wall)).mkString(",")}],"""
    sb ++= s""""errors":[${ops.flatMap(o => o.error.map(e => Json.str(s"${o.name}: $e"))).distinct.mkString(",")}],"""
    sb ++= s""""checks":[${checks.map { case (n, ok, d) => s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString(",")}],"""
    sb ++= s""""outputs":[${wl.outputs.map(o => s"""{"job":${Json.str(o.job)},"path":${Json.str(Workload.outDir(plain, 0, o.job))},"last_path":${Json.str(Workload.outDir(plain, passes - 1, o.job))},"oracle":${o.oracle.map(Json.str).getOrElse("null")}}""").mkString(",")}],"""
    sb ++= s""""tables":${Json.str(input)},"""
    sb ++= s""""metrics":{${metrics.map { case (n, v, u) => s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString(",")}}"""
    sb ++= "}"
    Files.write(Paths.get(s"$work/result.json"), sb.toString.getBytes(StandardCharsets.UTF_8))
    if (trace) {
      Files.createDirectories(Paths.get(s"$work/trace"))
      Files.write(Paths.get(s"$work/trace/spans.jsonl"),
        traced.tracer.toJsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }

  def endToEnd(setupS: Double, recs: Seq[PassRec], ops: Seq[Op],
      tailP: Double): Seq[(String, Double, String)] = {
    val opSecs = ops.map(_.seconds)
    Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", Stats.median(recs.map(_.wall)), "s"),
      ("task_cpu_s", Stats.median(recs.map(_.sums.cpuNs / 1e9)), "s"),
      ("trigger_p50_s", Stats.median(opSecs), "s"),
      ("trigger_tail_s", Stats.quantile(opSecs, tailP / 100), "s"),
      ("peak_storage_mb", Stats.median(recs.map(_.peakCached / MiB)), "MiB"),
      ("store_bytes_per_user_byte",
        Stats.median(recs.map(r => r.out.storeBytes.toDouble / math.max(1L, r.out.userBytes))), "ratio"))
  }
}

/** Per-layer metrics of the traced passes. */
object Layers {
  import Main.{MiB, PassRec}

  // layers whose spans sit inside passes; the kernel pass runs outside
  // them and reports ns/row instead
  val LayerNames = Seq("bench", "sources", "flow", "dedup", "retrieval", "media", "admit", "store")
  val LeakLayers = Seq("sources", "flow", "dedup", "retrieval", "media", "admit", "store")

  def metrics(ctx: Ctx, meter: Meter, recs: Seq[PassRec], extra: Map[String, Double],
      cores: Int): Seq[(String, Double, String)] = {
    val tr = recs.filter(_.traced)
    val n = math.max(1, tr.size).toDouble
    val spans = ctx.tracer.spans.toSeq
    val inPasses = tr.flatMap(_.groups).toSet
    val passSpans = spans.filter(s => inPasses.contains(s.group))
    def dur(s: Span) = (s.end - s.start) / 1e9
    def sumNamed(p: String => Boolean) = passSpans.filter(s => p(s.name)).map(dur).sum
    def perPass(name: String) = sumNamed(_ == name) / n
    def perCall(name: String, agg: Seq[Double] => Double) = {
      val ds = passSpans.filter(_.name == name).map(dur)
      if (ds.isEmpty) 0.0 else agg(ds)
    }
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    def sums(p: Span => Boolean): StageSums = {
      val s = new StageSums
      passSpans.filter(p).foreach(x => s += meter.group(x.group))
      s
    }
    val all = sums(_ => true)
    val wallTr = tr.map(_.wall).sum
    val untracedWall = Stats.median(recs.filterNot(_.traced).map(_.wall))
    val tracedWall = Stats.median(tr.map(_.wall))
    val pipelines = passSpans.filter(_.name == "flow.pipeline").map(_.id).toSet
    val flowSums = sums(s => s.layer == "flow" || pipelines.contains(s.parent))
    val dedupSums = sums(_.layer == "dedup")
    val admitSums = sums(_.layer == "admit")
    val writeSums = sums(s => s.layer == "admit" || s.layer == "store")
    val pairsOut = passSpans.filter(_.layer == "dedup").flatMap(_.counts.get("pairs_out")).sum / n
    val commits = passSpans.flatMap(_.counts.get("commits")).sum / n
    val cand = dedupSums.shuffleWriteRecords / n
    val triggers = passSpans.count(_.name == "admit.exact")
    val userBytes = tr.map(_.out.userBytes).sum.toDouble
    val self = ctx.tracer.selfNs
    val selfBy = passSpans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
    val pipeline = perPass("flow.pipeline")
    val children = passSpans.filter(s => pipelines.contains(s.parent)).map(dur).sum / n
    def safe(a: Double, b: Double) = if (b > 0) a / b else 0.0

    val base: Seq[(String, Double, String)] = Seq(
      ("trace.overhead_s", tracedWall - untracedWall, "s"),
      ("trace.overhead_frac", safe(tracedWall - untracedWall, untracedWall), "ratio"),
      ("sources.scan_s", perPass("sources.scan"), "s"),
      ("sources.input_mb", all.inputBytes / n / MiB, "MiB"),
      ("flow.pipeline_s", pipeline, "s"),
      ("flow.children_s", children, "s"),
      ("flow.overlap", safe(children, pipeline), "ratio"),
      ("flow.sink_mb", flowSums.outputBytes / n / MiB, "MiB"),
      ("engine.tasks", all.tasks / n, "count"),
      ("engine.busy_frac", safe(all.runNs / 1e9, wallTr * cores), "ratio"),
      ("engine.gc_s", all.gcMs / 1000.0 / n, "s"),
      ("engine.shuffle_write_mb", all.shuffleWriteBytes / n / MiB, "MiB"),
      ("engine.shuffle_read_mb", all.shuffleReadBytes / n / MiB, "MiB"),
      ("engine.spill_mb", all.spillBytes / n / MiB, "MiB"),
      ("engine.peak_exec_mb", all.peakExecBytes / MiB, "MiB"),
      ("engine.straggler_ratio", meter.stragglerRatio(cores, _.nonEmpty), "ratio"),
      ("dedup.minhash_s", perPass("dedup.minhash"), "s"),
      ("dedup.simhash_s", perPass("dedup.simhash"), "s"),
      ("dedup.against_s", perPass("dedup.against"), "s"),
      ("dedup.exact_s", perPass("dedup.exact"), "s"),
      ("dedup.candidate_records", cand, "count"),
      ("dedup.pairs_out", pairsOut, "count"),
      ("dedup.pair_yield", safe(pairsOut, cand), "ratio"),
      ("retrieval.bm25_build_s", perPass("retrieval.bm25_build"), "s"),
      ("retrieval.bm25_query_s", perPass("retrieval.bm25_query"), "s"),
      ("retrieval.ivfpq_build_s", perPass("retrieval.ivfpq_build"), "s"),
      ("retrieval.ivfpq_query_s", perPass("retrieval.ivfpq_query"), "s"),
      ("media.features_s", perPass("media.features"), "s"),
      ("media.pairs_s", perPass("media.pairs"), "s"),
      ("admit.exact_s", perCall("admit.exact", Stats.median), "s"),
      ("admit.neardup_s", perCall("admit.neardup", Stats.median), "s"),
      ("admit.hamming_s", perCall("admit.hamming", Stats.median), "s"),
      ("admit.maintain_s", perCall("admit.maintain", mean), "s"),
      ("admit.history_read_mb", safe(admitSums.inputBytes / MiB, triggers), "MiB"),
      ("store.merge_s", perCall("store.merge", Stats.median), "s"),
      ("store.compact_s", perCall("store.compact", mean), "s"),
      ("store.write_amp", safe(writeSums.outputBytes.toDouble, userBytes), "ratio"),
      ("store.commits", commits, "count"),
      ("cache.peak_mb", tr.map(_.peakCached).foldLeft(0L)(math.max) / MiB, "MiB")) ++
      LayerNames.map(l => (s"self.${l}_s", selfBy.getOrElse(l, 0.0) / n, "s"))
    val kernel = Seq("baseline", "minhash_fast", "minhash_replayable", "simhash_fast", "simhash_replayable",
      "shingles", "cosine").map(k => (s"kernel.${k}_ns_row", extra.getOrElse(s"kernel.${k}_ns_row", 0.0), "ns/row"))
    val leaks = ("cache" +: LeakLayers.map(l => s"cache.$l")).flatMap(p =>
      Seq((s"$p.leaked_rdds", "count"), (s"$p.leaked_mb", "MiB")))
    val fromWl = Seq(("admit.admitted_frac", "ratio"), ("admit.growth", "ratio"), ("store.files", "count")) ++ leaks
    base ++ kernel ++ fromWl.map { case (k, u) => (k, extra.getOrElse(k, 0.0), u) }
  }

  /** What the gauged warm-up pass left persisted: in total and per layer. */
  def leakMetrics(gauged: Ctx): Map[String, Double] = {
    val all = gauged.leaks.values
    Map("cache.leaked_rdds" -> all.map(_._1).sum.toDouble, "cache.leaked_mb" -> all.map(_._2).sum / MiB) ++
      LeakLayers.flatMap { l =>
        val (c, b) = gauged.leaks.getOrElse(l, (0, 0L))
        Seq(s"cache.$l.leaked_rdds" -> c.toDouble, s"cache.$l.leaked_mb" -> b / MiB)
      }
  }
}
