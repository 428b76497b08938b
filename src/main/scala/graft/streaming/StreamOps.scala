package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming layer — the reference IS a push-streaming library (bounded
  * buffers, completion, per-key dispatch, batch-then-flush; SURVEY.md §2.1
  * A13/A14, §2.2 "Streaming"). Spark-natively that surface is Structured
  * Streaming: micro-batch pull with watermark-bounded state instead of
  * bounded-capacity backpressure.
  *
  * Every transform here works identically on a batch DataFrame and a
  * streaming one (same logical operators) — mirroring how a reference
  * pipeline is agnostic to whether its source is finite.
  *
  * Scale notes: state stores (windows, dedup, mapGroupsWithState) are
  * partitioned by grouping key across executors; watermarks bound state
  * size — an unbounded-state streaming query is a leak at 100 TB/day, so
  * every stateful op here requires an explicit watermark or timeout.
  */
object StreamOps {

  /** A14 batching over event time: tumbling window aggregation. */
  def tumbling(df: DataFrame, tsCol: String, duration: String, keys: Column*)(
      aggs: Column*): DataFrame =
    df.groupBy(window(col(tsCol), duration) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Sliding window: each event lands in windowDuration/slideDuration
    * overlapping windows. */
  def sliding(df: DataFrame, tsCol: String, windowDuration: String, slideDuration: String,
      keys: Column*)(aggs: Column*): DataFrame =
    df.groupBy(window(col(tsCol), windowDuration, slideDuration) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session window: events within `gap` of each other merge into one
    * session (dynamic-length windows). */
  def session(df: DataFrame, tsCol: String, gap: String, keys: Column*)(
      aggs: Column*): DataFrame =
    df.groupBy(session_window(col(tsCol), gap) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Watermarked source: rows older than maxDelay behind the max observed
    * event time are dropped from stateful operators downstream. */
  def watermarked(df: DataFrame, tsCol: String, maxDelay: String): DataFrame =
    df.withWatermark(tsCol, maxDelay)

  /** Stateful exact dedup over a key set, state bounded by the watermark
    * (north-star dedup in streaming form). */
  def dedupStream(df: DataFrame, tsCol: String, maxDelay: String, cols: String*): DataFrame =
    df.withWatermark(tsCol, maxDelay)
      .dropDuplicatesWithinWatermark(cols.head, cols.tail: _*)

  /** A13 DataDispatcher parity, streaming form: a lazily-created stateful
    * child per key. The reference creates one child flow per distinct key
    * and routes rows to it; here each key owns a `GroupState[S]` evolved by
    * `child` on every micro-batch — distributed, fault-tolerant via
    * checkpoint, no driver-side key table.
    *
    * `timeout` is deliberately REQUIRED (no NoTimeout default): on an
    * unbounded key space, per-key state without a timeout is a leak.
    * Passing `GroupStateTimeout.NoTimeout()` is allowed but must be a
    * conscious choice (bounded key space, or batch use where state dies
    * with the job).
    */
  def dispatchStateful[K: Encoder, V, S: Encoder, O: Encoder](
      ds: Dataset[V], key: V => K, timeout: GroupStateTimeout)(
      child: (K, Iterator[V], GroupState[S]) => Iterator[O]): Dataset[O] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append(), timeout)(child)

  /** Stream-stream equi-join bounded by event time: each left row joins
    * right rows of the same key within ±`within` of its timestamp. Both
    * sides carry watermarks so the join state is GC'd once the bound
    * passes — the unbounded-state trap is unrepresentable through this
    * API. Works identically on batch frames (watermark is a no-op).
    */
  def streamStreamJoin(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      within: String, maxDelay: String): DataFrame = {
    // the join keeps both sides' columns (only the dup key is dropped) —
    // shared names would make every downstream by-name access ambiguous
    val collisions =
      (left.columns.toSet intersect right.columns.toSet) - key
    require(collisions.isEmpty,
      s"rename non-key columns shared by both sides before joining: $collisions")
    val l = left.withWatermark(leftTs, maxDelay)
    val r = right.withWatermark(rightTs, maxDelay)
    l.join(
        r,
        l(key) === r(key) &&
          r(rightTs) >= l(leftTs) - expr(s"INTERVAL $within") &&
          r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within"))
      .drop(r(key))
  }

  /** A13 parity on the arbitrary-state v2 API (`transformWithState`,
    * Spark 4): a typed StatefulProcessor per key with named state
    * variables and TTL support — the forward path for per-key child
    * pipelines; `dispatchStateful` (flatMapGroupsWithState) remains the
    * stable one. */
  def dispatchStatefulV2[K: Encoder, V, O: Encoder](
      ds: Dataset[V], key: V => K,
      processor: org.apache.spark.sql.streaming.StatefulProcessor[K, V, O],
      timeMode: org.apache.spark.sql.streaming.TimeMode =
        org.apache.spark.sql.streaming.TimeMode.None(),
      outputMode: OutputMode = OutputMode.Append()): Dataset[O] =
    ds.groupByKey(key).transformWithState(processor, timeMode, outputMode)

  /** Streaming CUSUM drift monitor ([[graft.operators.Changepoint]] in
    * stateful-stream form): per key, fold Page's recursion
    * S ← max(0, S + (x − μ − slack)) across micro-batches and EMIT only
    * alarm rows (key, ts, statistic) where S crosses `threshold` — the
    * alert stream a monitoring sink subscribes to. μ rides on each input
    * row (caller joins its trained reference table; a stream cannot use
    * its own mean), which is exactly the production shape: monitor live
    * traffic against a frozen baseline.
    *
    * Ordering: rows are folded in `ts` order WITHIN a micro-batch;
    * cross-batch order is arrival order (use a watermarked, in-order
    * source per key, the standard monitoring contract). State per key is
    * ONE double; `timeout` is required for the same leak reason as
    * [[dispatchStateful]].
    *
    * Input tuples: (key, ts, value, mu). */
  def cusumStream[K: Encoder](
      ds: Dataset[(K, Long, Double, Double)],
      slack: Double,
      threshold: Double,
      timeout: GroupStateTimeout): Dataset[(K, Long, Double)] = {
    implicit val outEnc: Encoder[(K, Long, Double)] =
      Encoders.tuple(implicitly[Encoder[K]],
        Encoders.scalaLong, Encoders.scalaDouble)
    implicit val stateEnc: Encoder[Double] = Encoders.scalaDouble
    dispatchStateful[K, (K, Long, Double, Double), Double, (K, Long, Double)](
      ds, _._1, timeout) { (key, rows, state) =>
      var s = state.getOption.getOrElse(0.0)
      val alarms = rows.toArray.sortBy(_._2).flatMap { case (_, ts, x, mu) =>
        s = math.max(0.0, s + (x - mu - slack))
        if (s > threshold) Some((key, ts, s)) else None
      }
      state.update(s)
      alarms.iterator
    }
  }

  /** Streaming whole-document sequence packing — the DELIVERY side of
    * the training-data story ([[graft.operators.SeqPack.packBestFit]] in
    * cross-batch form): pack docs into fixed-context training sequences
    * AS THEY INGEST, instead of re-running a batch packer over the
    * accumulated corpus per delivery. Each shard's open (partially
    * filled) bins ride as keyed streaming state across micro-batches —
    * a doc arriving in batch 7 tops up a bin opened in batch 2 — through
    * the SAME best-fit core as the batch operator (identical sort and
    * tie-break discipline; within a batch the packing is BFD, across
    * batches it is best-fit against the carried bins, the unavoidable
    * online relaxation).
    *
    * State is BOUNDED by construction: ≤ `maxOpenBins` open bins per
    * shard (when exceeded, the FULLEST bins — smallest remaining, the
    * ones least likely to ever fit another doc — are closed permanently,
    * deterministically), shards are finite, so `timeout` defaults to
    * NoTimeout as a conscious bounded-state choice (the
    * [[dispatchStateful]] contract); pass a timeout to also expire idle
    * shards. Exactly-once and replay-idempotent via the streaming
    * checkpoint: flatMapGroupsWithState versions its state per batch, so
    * a replayed micro-batch re-reads the PRE-batch state and re-emits
    * identical placements (SeqPackStreamSpec pins restart continuation).
    *
    * Returns the streaming Dataset of placements; the caller attaches
    * its sink (writeStream + checkpointLocation). */
  def seqPackStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      ctxTokens: Int = 2048,
      shards: Int = 8,
      maxOpenBins: Int = 1024,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout())
      : Dataset[graft.operators.SeqPack.Packed] = {
    require(ctxTokens > 0 && shards > 0 && maxOpenBins > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.SeqPack
    val prepared = docs
      .select(
        col(idCol).cast("long"),
        graft.functions.TextFunctions.tokenCount(col(textCol)))
      .as[(Long, Long)]
    dispatchStateful[Int, (Long, Long), SeqPack.BinState, SeqPack.Packed](
      prepared,
      t => (((t._1 % shards) + shards) % shards).toInt, // pmod, as batch
      timeout) { (shard, rows, state) =>
      val st = state.getOption.getOrElse(SeqPack.BinState.empty)
      val (placed, ns) = SeqPack.packGroup(shard, rows.toArray, ctxTokens, st)
      val bounded =
        if (ns.open.size <= maxOpenBins) ns
        // close the fullest bins (smallest remaining; binId tie-break)
        else ns.copy(open = ns.open.sorted.drop(ns.open.size - maxOpenBins))
      state.update(bounded)
      placed.iterator
    }
  }

  /** A18 streaming form: maintain a dimension store from a stream via
    * `foreachBatch` — each micro-batch runs one DimUpsert cycle (new keys
    * minted with surrogate keys, facts enriched) and hands the enriched
    * batch to `sink`. Exactly the reference's live DbDataJoiner loop:
    * stream in, dim table grows monotonically, facts come out keyed.
    *
    * foreachBatch gives at-least-once batch delivery on restart; the
    * upsert is idempotent on keys (re-minting never duplicates dim rows),
    * so the dim store converges — the sink must tolerate replayed facts
    * (or write idempotently by batchId). */
  def dimUpsertStream(
      facts: DataFrame,
      dimPath: String,
      keyCol: String,
      checkpoint: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val enriched = graft.operators.DimUpsert.upsert(
          batch.sparkSession, dimPath, batch, keyCol)
        sink(enriched, batchId)
      }
      .start()

  /** Stream-static enrichment against a commit-log dimension store that
    * ANOTHER writer maintains concurrently: each micro-batch pins the
    * store's tip version ONCE, reads that snapshot, and broadcast-joins
    * the batch against it — so a dim commit landing mid-batch can never
    * tear a batch (every row of the batch joins the same version; the
    * snapshot's files survive concurrent logical deletes until vacuum's
    * retention window). The next batch naturally picks up the new tip —
    * a freshness lag of at most one trigger, which is the streaming
    * analogue of snapshot isolation.
    *
    * Plan per batch: manifest read (one metadata file) → broadcast when
    * the dim is under the measured size gate, else hash join — at 100 TB
    * of FACTS the dim is the small side by construction; a dim too big
    * to broadcast still joins with the corpus-side shuffle bounded to
    * the batch, never history. Output adds `graft_dim_version` so sinks
    * can audit exactly which dim state enriched each row.
    *
    * `joinType` left: facts with no dim match pass through null-extended
    * (the lookup-join default) rather than silently dropping. */
  def enrichStream(
      facts: DataFrame,
      dimPath: String,
      keyCols: Seq[String],
      checkpoint: String,
      joinType: String = "left")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val store = new org.apache.hadoop.fs.Path(dimPath)
        val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val v = graft.operators.CommitLog.currentVersion(fs, store)
        val enriched = graft.operators.CommitLog.read(spark, store, Some(v)) match {
          case Some(dim) =>
            batch.join(
              graft.operators.Joins.broadcastIfSmall(dim), keyCols, joinType)
          case None => // dim not yet populated: null-extend nothing to join
            batch
        }
        sink(enriched.withColumn("graft_dim_version", lit(v)), batchId)
      }
      .start()

  /** Streaming MERGE: foreachBatch-driven upsert of each micro-batch
    * into the parquet store at `targetPath` (matched keys update,
    * unmatched insert — see graft.operators.Merge). Batches must carry
    * at most one row per key: pre-aggregate in `prepare` (e.g.
    * last-event-wins via max_by) — the hook receives each raw batch and
    * returns the frame to merge. Restart-safe: replaying a batch merges
    * the same rows to the same keys (idempotent store state). */
  def mergeStream(
      facts: DataFrame,
      targetPath: String,
      keyCols: Seq[String],
      checkpoint: String)(
      prepare: DataFrame => DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val prepared = prepare(batch)
        if (!prepared.isEmpty) {
          graft.operators.Merge.into(batch.sparkSession, targetPath, prepared, keyCols)
          ()
        }
      }
      .start()

  /** Streaming APPEND into a commit-log table, exactly-once — the
    * commonest ingest shape (event streams into a fact table), which
    * [[mergeStream]] cannot give cheaply (MERGE pays a key join per
    * batch; appends have no key). Appends are NOT idempotent, so
    * exactly-once comes from the commit itself: the batch's files and
    * the batchId high-water mark publish in ONE manifest CAS, and a
    * replayed batch (crash after commit, before the checkpoint advanced)
    * sees `batchId <= last` and skips. The mark is found by a bounded
    * manifest walk ([[graft.operators.CommitLog.lastMeta]]), so
    * maintenance commits (OPTIMIZE, DELETE) landing after the last
    * append cannot hide it.
    *
    * Commits are BLIND APPENDS: add-only manifests that never conflict
    * with one another (Delta's rule), so N independent streams can
    * append to one table concurrently with no lock and no spurious
    * retries — while a whole-table writer (fold, OPTIMIZE) still
    * conflicts with them normally and re-runs.
    */
  def appendStream(
      facts: DataFrame,
      targetPath: String,
      checkpoint: String,
      partitionCols: Seq[String] = Nil)(
      prepare: DataFrame => DataFrame = identity):
      org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatchOnce(batch, targetPath, batchId, partitionCols, prepare)
        ()
      }
      .start()

  /** One exactly-once append step (see [[appendStream]]); returns false
    * when the batch was already applied (replay) or empty. */
  def appendBatchOnce(
      batch: DataFrame,
      targetPath: String,
      batchId: Long,
      partitionCols: Seq[String] = Nil,
      prepare: DataFrame => DataFrame = identity): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(targetPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the append sink is log-native: a fresh path becomes a log store
    // (exactly-once NEEDS the atomic manifest); an existing legacy swap
    // store cannot take appends safely and is refused
    require(graft.operators.CommitLog.isLog(fs, store) || !fs.exists(store),
      s"append sink needs a commit-log store; $targetPath exists without _log/")
    val last = graft.operators.CommitLog.lastMeta(fs, store, "appendBatchId")
      .map(_.toLong).getOrElse(-1L)
    if (batchId <= last) return false
    val rows = prepare(batch)
    if (rows.isEmpty) return false
    val tip = graft.operators.CommitLog.currentVersion(fs, store)
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    val w = rows.write
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(staging.toString)
    graft.operators.CommitLog.commitStaged(
      spark, store, staging, tip, Nil, wholeStore = false,
      meta = Map("appendBatchId" -> batchId.toString, "operation" -> "append"),
      schema = Some(rows.schema),
      blindAppend = true)
    true
  }

  /** Continuously-maintained BM25 index: each micro-batch of documents
    * appends into a log-backed [[graft.operators.Bm25Index]] — the
    * retrieval-side twin of the dedup admission stores. The first batch
    * BOOTSTRAPS the index (build ≡ append for BM25, so the split is
    * immaterial); every later batch rides
    * [[graft.operators.Bm25Index.append]]: delta-only tokenize, one
    * atomic manifest for postings+doclen+stats, queryable at any pinned
    * version while the stream runs.
    *
    * Exactly-once under foreachBatch's at-least-once delivery: the
    * batchId high-water mark rides the manifest meta (the same
    * `lastMeta` guard as [[appendBatchOnce]]), so a replayed batch is
    * skipped BEFORE the duplicate-doc-id refusal in append would fire.
    * Docs that genuinely recur across DIFFERENT batches are refused by
    * that append guard — dedup upstream (e.g. [[dedupStream]]) when the
    * source can repeat documents. */
  def bm25IndexStream(
      docs: DataFrame,
      indexPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      buckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBm25BatchOnce(batch, indexPath, batchId, idCol, textCol, buckets)
        ()
      }
      .start()

  /** One exactly-once BM25 index maintenance step (see
    * [[bm25IndexStream]]); returns false when the batch was already
    * applied (replay) or empty. */
  def applyBm25BatchOnce(
      batch: DataFrame,
      indexPath: String,
      batchId: Long,
      idCol: String,
      textCol: String,
      buckets: Int = 64): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(indexPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = Map("bm25BatchId" -> batchId.toString)
    if (!graft.operators.CommitLog.isLog(fs, store)) {
      require(!fs.exists(store),
        s"$indexPath exists without a commit log — the streaming BM25 sink " +
          "is log-native (exactly-once needs the atomic manifest); plain " +
          "buildAndSave stores cannot take appends")
      if (batch.isEmpty) return false
      graft.operators.Bm25Index.buildAndSaveLog(
        batch, indexPath, idCol, textCol, buckets, meta = tag)
      return true
    }
    val last = graft.operators.CommitLog.lastMeta(fs, store, "bm25BatchId")
      .map(_.toLong).getOrElse(-1L)
    if (batchId <= last) return false
    if (batch.isEmpty) return false
    graft.operators.Bm25Index.append(spark, indexPath, batch, meta = tag)
    true
  }

  /** Streaming write-audit-publish: every micro-batch is staged, audited
    * against the expectations suite, and either published atomically or
    * QUARANTINED — the admission firewall between an unreliable feed and
    * a trusted table. Refused batches land in full (plus their per-check
    * audit report) under `quarantine/batch=<id>/`, so nothing is ever
    * dropped silently and a fixed upstream can replay the quarantine.
    *
    * Exactly-once: accepted batches carry a wapBatchId high-water mark
    * in their commit meta (replays skip); refused batches publish no
    * commit, and their replay re-audits deterministically and
    * OVERWRITES the same quarantine directory — idempotent either
    * way. */
  def wapStream(
      batches: DataFrame,
      storePath: String,
      checkpoint: String,
      checks: Seq[graft.operators.Expectations.Expectation],
      quarantinePath: String,
      auditWholeTable: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyWapBatchOnce(batch, storePath, batchId, checks,
          quarantinePath, auditWholeTable)
        ()
      }
      .start()

  /** One exactly-once audited-append step (see [[wapStream]]); returns
    * true when the batch PUBLISHED, false when skipped (replay/empty)
    * or quarantined. */
  def applyWapBatchOnce(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      checks: Seq[graft.operators.Expectations.Expectation],
      quarantinePath: String,
      auditWholeTable: Boolean = true): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.operators.CommitLog.isLog(fs, store)) {
      val last = graft.operators.CommitLog.lastMeta(fs, store, "wapBatchId")
        .map(_.toLong).getOrElse(-1L)
      if (batchId <= last) return false
    }
    if (batch.isEmpty) return false
    val res = graft.operators.Wap.appendAudited(
      spark, storePath, batch, checks, auditWholeTable,
      meta = Map("wapBatchId" -> batchId.toString))
    if (!res.published) {
      val dir = s"$quarantinePath/batch=$batchId"
      batch.write.mode("overwrite").parquet(s"$dir/data")
      import spark.implicits._
      res.report
        .map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2), r.getBoolean(3)))
        .toDF("check_name", "column_name", "metric", "passed")
        .write.mode("overwrite").parquet(s"$dir/report")
    }
    res.published
  }

  /** Streaming CDC replication: micro-batches of change events (op +
    * sequence per key) keep a log-backed replica current — the
    * `apply_changes` sink. Each trigger resolves its batch per key
    * (highest sequence wins) and lands upserts AND deletes in ONE
    * atomic commit ([[graft.operators.Cdc.applyChangesAtomic]]), so
    * there is no half-applied crash window for the replay logic to
    * reason about: the batchId high-water mark in that single commit's
    * meta is the whole exactly-once story. Cross-batch ordering is the
    * stream's (foreachBatch is ordered); within a batch the sequence
    * column resolves. */
  def cdcStream(
      changes: DataFrame,
      replicaPath: String,
      checkpoint: String,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatchOnce(batch, replicaPath, batchId, keyCols, seqCol, opCol)
        ()
      }
      .start()

  /** One exactly-once CDC apply step (see [[cdcStream]]); returns false
    * when the batch was already applied (replay) or empty. */
  def applyCdcBatchOnce(
      batch: DataFrame,
      replicaPath: String,
      batchId: Long,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(replicaPath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.operators.CommitLog.isLog(fs, store)) {
      val last = graft.operators.CommitLog.lastMeta(fs, store, "cdcBatchId")
        .map(_.toLong).getOrElse(-1L)
      if (batchId <= last) return false
    } else require(!fs.exists(store),
      s"$replicaPath exists without a commit log — the CDC sink is " +
        "log-native (exactly-once needs the atomic manifest)")
    if (batch.isEmpty) return false
    graft.operators.Cdc.applyChangesAtomic(
      spark, replicaPath, batch, keyCols, seqCol, opCol,
      meta = Map("cdcBatchId" -> batchId.toString))
    true
  }

  /** Streaming incremental-join maintenance: micro-batches of LEFT-side
    * rows land in the log-backed left source table and the materialized
    * `left ⋈ right` view (graft.operators.IncrementalJoin) refreshes to
    * the new tips — the streaming face of delta view maintenance: each
    * trigger pays batch ⋈ right, never a recompute. The right side is
    * any log table; appends to it between triggers are picked up by the
    * same refresh (the view records exact source versions).
    *
    * Exactly-once: the batchId high-water mark rides the LEFT source's
    * manifest meta, so a foreachBatch replay skips the duplicate append;
    * the refresh itself is idempotent BY CONSTRUCTION (it compares
    * recorded source versions to tips and publishes nothing when
    * current), so it runs unconditionally — which also heals the
    * crash-between-append-and-refresh window: the replayed batch skips
    * its append and the refresh catches the view up. */
  def incrementalJoinStream(
      leftRows: DataFrame,
      leftStore: String,
      rightStore: String,
      viewStore: String,
      leftKey: String,
      rightKey: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    leftRows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyJoinBatchOnce(batch, leftStore, rightStore, viewStore,
          leftKey, rightKey, batchId)
        ()
      }
      .start()

  /** One exactly-once incremental-join maintenance step (see
    * [[incrementalJoinStream]]); returns false when the batch append
    * was a replay or empty (the view refresh still runs). */
  def applyJoinBatchOnce(
      batch: DataFrame,
      leftStore: String,
      rightStore: String,
      viewStore: String,
      leftKey: String,
      rightKey: String,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(leftStore)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last =
      if (graft.operators.CommitLog.isLog(fs, store))
        graft.operators.CommitLog.lastMeta(fs, store, "ijBatchId")
          .map(_.toLong).getOrElse(-1L)
      else -1L
    val appended =
      if (batchId <= last || batch.isEmpty) false
      else {
        graft.operators.IncrementalJoin.appendTable(spark, leftStore, batch,
          meta = Map("ijBatchId" -> batchId.toString))
        true
      }
    graft.operators.IncrementalJoin.refresh(
      spark, leftStore, rightStore, viewStore, leftKey, rightKey)
    appended
  }

  /** Streaming SCD2: apply each micro-batch as a dimension delta to the
    * type-2 history store (changed keys close their current version and
    * open a new one — see graft.operators.Scd2). `batchTs` maps the
    * batchId to the version-effectivity timestamp — it must be
    * DETERMINISTIC (derive from batchId or the batch's own event time,
    * never now()): replaying a batch with the same timestamp is
    * idempotent (unchanged attributes produce no version churn), which is
    * what makes this exactly-once under foreachBatch's at-least-once
    * delivery. `prepare` pre-aggregates to one row per key (same contract
    * as [[mergeStream]]). */
  def scd2Stream(
      facts: DataFrame,
      storePath: String,
      keyCol: String,
      checkpoint: String,
      maintainEvery: Int = 32)(
      prepare: DataFrame => DataFrame,
      batchTs: Long => String): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prepared = prepare(batch)
        if (!prepared.isEmpty) {
          graft.operators.Scd2.apply(
            batch.sparkSession, storePath, prepared, keyCol, batchTs(batchId))
          ()
        }
        // periodic small-file compaction of the hot slice dirs each
        // trickle batch rewrites; crash-safe, content-preserving
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0) {
          graft.operators.Scd2.maintain(batch.sparkSession, storePath)
          ()
        }
      }
      .start()

  /** Streaming incremental aggregation: fold each micro-batch's partial
    * aggregates into the parquet store (see
    * graft.operators.IncrementalAgg) — the streaming materialized-view
    * refresh. Unlike MERGE/dim-upsert, the fold is NOT idempotent (a
    * replayed batch would double-count), so the last applied batchId is
    * committed inside the store by the same rename that commits the data,
    * and replays are skipped — exactly-once store state under
    * foreachBatch's at-least-once delivery. */
  def incrementalAggStream(
      facts: DataFrame,
      storePath: String,
      keyCols: Seq[String],
      valueCol: String,
      checkpoint: String,
      distinctCol: Option[String] = None,
      buckets: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAggBatchOnce(batch, storePath, keyCols, valueCol, batchId,
          distinctCol, buckets)
        ()
      }
      .start()

  /** The guarded fold behind [[incrementalAggStream]]: applies the batch
    * only when `batchId` is beyond the store's recorded high-water mark.
    *
    * Exactly-once protocol: the marker lives INSIDE the store directory
    * and is written into the staging dir that IncrementalAgg's swap
    * renames into place — data and marker commit in the same atomic
    * rename, so no crash point leaves an applied fold with a stale
    * marker (which would double-count on replay) or vice versa.
    *
    * @return true when the batch was applied, false when skipped as a
    *         replay. */
  def applyAggBatchOnce(
      batch: DataFrame,
      storePath: String,
      keyCols: Seq[String],
      valueCol: String,
      batchId: Long,
      distinctCol: Option[String] = None,
      buckets: Option[Int] = None): Boolean = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val marker = new org.apache.hadoop.fs.Path(
      store, graft.operators.IncrementalAgg.BatchMarker)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Commit-log stores: no lease, no marker file — the high-water mark
    // rides the manifest meta, and update() itself skips replays
    // anchored at the fold's own read version (a racing fold conflicts
    // at the CAS, so check-and-fold is atomic without a lock).
    if (graft.operators.CommitLog.active(spark, fs, store)) {
      val last = graft.operators.CommitLog.tipMeta(fs, store)
        .get("batchId").map(_.toLong).getOrElse(-1L)
      if (batchId <= last) return false
      graft.operators.IncrementalAgg.update(
        spark, storePath, batch, keyCols, valueCol, batchId = Some(batchId),
        log = Some(true), distinctCol = distinctCol, buckets = buckets)
      return true
    }
    require(buckets.isEmpty,
      s"bucketed incremental-agg stores need the commit log (store " +
        s"$storePath is legacy swap-mode)")

    // one lease spans marker-check AND fold: two streams pointed at the
    // same store would otherwise both pass `batchId <= last` and
    // double-apply the batch before serializing on the inner lease
    graft.operators.Swap.withStoreLease(spark, store) { lease =>

    // Interrupted-swap recovery: IncrementalAgg.update commits by
    // rename(store → .old-tag) then rename(.staging-tag → store). A crash
    // between the two leaves NO store dir — treating that as "fresh"
    // would silently rebuild from one batch and discard all history
    // (still sitting in .old-tag). The staged dir was fully written
    // (data + marker) before the first rename, so the one completable
    // case is rolled forward; anything else fails loudly instead of
    // guessing. allowLoneStaging: a lone .staging-* is a first-batch
    // crash mid-write and will be rebuilt by replay — genuinely fresh.
    graft.operators.Swap.recoverWholeDir(
      spark, store, graft.operators.Swap.Suffix, allowLoneStaging = true)

    def readMarkerFile(p: org.apache.hadoop.fs.Path): Long = {
      val in = fs.open(p)
      val line =
        try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
          .readLine()
        finally in.close()
      // never NPE/NumberFormat into a wedged stream: an unreadable
      // marker means the store's provenance is unknown — fail loudly
      // with the recovery path instead of guessing
      try {
        require(line != null && line.trim.nonEmpty)
        line.trim.toLong
      } catch {
        case _: Exception => throw new IllegalStateException(
          s"unreadable batch marker $p (content: ${Option(line).getOrElse("<empty>")}) — " +
            "cannot tell which batches are applied; rebuild the store or " +
            "restore the marker before resuming the stream")
      }
    }

    // stores written before the in-store marker kept it as a SIBLING file
    // (storePath + "._graft_last_batch") — honor it as the high-water mark
    // and migrate: the next applied batch commits the in-store marker, then
    // the legacy file is removed
    val legacyMarker = new org.apache.hadoop.fs.Path(
      storePath + "." + graft.operators.IncrementalAgg.BatchMarker)
    val last =
      if (!fs.exists(store)) -1L
      else if (fs.exists(marker)) readMarkerFile(marker)
      else if (fs.exists(legacyMarker)) readMarkerFile(legacyMarker)
      else throw new IllegalStateException(
        s"store $storePath exists but has no batch marker — it was not " +
          "maintained by incrementalAggStream, so replay safety is unknown; " +
          "start from a fresh store path or add the marker manually")
    if (batchId <= last) return false
    graft.operators.IncrementalAgg.update(
      spark, storePath, batch, keyCols, valueCol, batchId = Some(batchId),
      lease = Some(lease), distinctCol = distinctCol)
    // the in-store marker is now committed; the legacy sibling is migrated
    if (fs.exists(legacyMarker)) fs.delete(legacyMarker, false)
    true
    }
  }

  /** Running per-key event counters (A19 StatisticsRecorder, streaming
    * form): emits (key, cumulative count) on every update.
    *
    * `timeout` is REQUIRED (see [[dispatchStateful]]): on an unbounded
    * key space a counter per key without expiry is a state leak. With
    * `ProcessingTimeTimeout`, pass `idleTtl` (e.g. "1 hour") — a key idle
    * that long is dropped and restarts from zero if seen again. With
    * `NoTimeout` (bounded key spaces / batch runs), `idleTtl` must be
    * None. */
  def runningCounts[K: Encoder, V](
      ds: Dataset[V], key: V => K,
      timeout: GroupStateTimeout,
      idleTtl: Option[String] = None)(implicit
      outEnc: Encoder[(K, Long)]): Dataset[(K, Long)] = {
    // EventTimeTimeout would need a watermark-derived timeout TIMESTAMP
    // (setTimeoutTimestamp), which this counter does not plumb — accepting
    // it would silently never expire state, the exact leak this parameter
    // exists to prevent.
    require(timeout != GroupStateTimeout.EventTimeTimeout(),
      "runningCounts supports ProcessingTimeTimeout (with idleTtl) or NoTimeout; " +
        "EventTimeTimeout is not supported")
    require(idleTtl.isDefined == (timeout == GroupStateTimeout.ProcessingTimeTimeout()),
      "idleTtl must be set exactly when timeout is ProcessingTimeTimeout")
    implicit val longEnc: Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
    ds.groupByKey(key).flatMapGroupsWithState[Long, (K, Long)](
      OutputMode.Update(), timeout) {
      (k: K, rows: Iterator[V], state: GroupState[Long]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          idleTtl.foreach(state.setTimeoutDuration)
          Iterator((k, next))
        }
    }
  }

  /** Streaming cross-corpus dedup-against (VERDICT r14 item 7): gate an
    * INCREMENTAL document feed against a FROZEN reference corpus — "drop
    * anything in the new crawl that near-dups last month's corpus". The
    * reference's capped LSH bands are fingerprinted once up front
    * ([[graft.operators.Dedup.freezeReference]]) and reused by every
    * micro-batch; each trigger runs band-join + exact 3-gram-Jaccard
    * verify against only the candidate reference docs
    * ([[graft.operators.Dedup.dedupAgainstFrozen]]) and hands the
    * admitted rows to `sink`. Per-doc decisions depend only on
    * (doc, reference), so batches decompose exactly — the union of
    * per-batch admissions equals the batch [[graft.operators.Dedup.dedupAgainst]]
    * on the union (StreamingDedupAgainstSpec) — and the ONLY cross-batch
    * state is the fixed-size frozen band cache (no growth with the
    * stream; unlike [[nearDupStream]] there is nothing to admit into).
    *
    * Returns (query, release): call `release()` after stopping the query
    * to drop the frozen cache — the near-dup family's Releasable
    * discipline (PpjoinReleaseSpec class). */
  def dedupAgainstStream(
      docs: DataFrame,
      reference: DataFrame,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.5,
      numHashes: Int = 128,
      bands: Int = 64,
      maxBucket: Int = 1000)(
      sink: (DataFrame, Long) => Unit)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) = {
    val frozen = graft.operators.Dedup.freezeReference(
      reference, idCol, textCol, shingleN, numHashes, bands,
      seed = 42L, maxBucket = maxBucket)
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = graft.operators.Dedup.dedupAgainstFrozen(
          batch, frozen, threshold)
        // admitted is persisted+materialized by the core; the sink reads
        // it, then it must not outlive the trigger (nearDupStream shape)
        try sink(admitted, batchId)
        finally admitted.unpersist()
      }
      .start()
    (q, frozen.release)
  }

  /** Streaming directional-containment gate (completes the streaming
    * near-dup family: [[dedupAgainstStream]] = symmetric Jaccard,
    * [[decontaminateStream]] = n-gram overlap, this = containment): drop
    * any incoming doc MOSTLY CONTAINED (|A∩B|/|A| ≥ threshold) in a
    * FROZEN reference corpus — quotation/excerpt leakage the symmetric
    * axis misses (a short probe inside a long reference doc has Jaccard
    * ≈ |A|/|B| → 0). The reference's doc-packed sorted shingle arrays
    * and document frequencies are fingerprinted once
    * ([[graft.operators.Dedup.freezeContainmentReference]]); each
    * trigger runs the exact asymmetric prefix filter + merge-walk verify
    * against only candidate reference docs
    * ([[graft.operators.Dedup.containmentAgainstFrozen]]). Per-doc
    * decisions depend only on (doc, reference) → EXACT cross-batch
    * decomposition with no cap caveat (ContainmentStreamSpec); the only
    * state is the fixed reference-sized cache pair. Returns
    * (query, release) — the Releasable discipline. */
  def containmentAgainstStream(
      docs: DataFrame,
      reference: DataFrame,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxTokenDf: Long = 100000L)(
      sink: (DataFrame, Long) => Unit)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) = {
    val frozen = graft.operators.Dedup.freezeContainmentReference(
      reference, idCol, textCol, shingleN, maxTokenDf)
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = graft.operators.Dedup.containmentAgainstFrozen(
          batch, frozen, threshold)
        // persisted+materialized by the core; must not outlive the
        // trigger (the dedupAgainstStream shape)
        try sink(admitted, batchId)
        finally admitted.unpersist()
      }
      .start()
    (q, frozen.release)
  }

  /** Streaming benchmark decontamination (the [[dedupAgainstStream]]
    * sibling for test-set leakage): gate an incremental document feed
    * against a FROZEN evaluation/benchmark set — any doc sharing ≥1
    * word n-gram with the benchmark is dropped before it can reach a
    * training corpus. The benchmark's distinct n-gram hashes are
    * computed once ([[graft.operators.Decontaminate.freezeBenchmark]])
    * and broadcast into every micro-batch's semi-join. Per-doc
    * decisions depend only on (doc, benchmark) → exact cross-batch
    * decomposition (DecontaminateStreamSpec); the only state is the
    * fixed benchmark-sized hash cache. Returns (query, release). */
  def decontaminateStream(
      docs: DataFrame,
      benchmark: DataFrame,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchTextCol: String = "text",
      n: Int = 13)(
      sink: (DataFrame, Long) => Unit)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => Unit) = {
    val frozen = graft.operators.Decontaminate.freezeBenchmark(
      benchmark, benchTextCol, n)
    val q = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.operators.Decontaminate.cleanAgainstFrozen(
          batch, idCol, textCol, frozen), batchId)
      }
      .start()
    (q, frozen.release)
  }

  /** Incremental corpus near-dup dedup: each micro-batch of documents is
    * checked against a persistent MinHash-signature store of everything
    * ever admitted; near-dups of history (and within the batch) are
    * dropped, and the admitted docs' signatures append to the store.
    * This is continuous-ingestion dedup — the batch operator re-run over
    * the full corpus per day does not scale; this touches only
    * batch × LSH-bucket-mates.
    *
    * Cross-batch similarity is ESTIMATED from signature agreement (the
    * store holds k-long signatures, never text — at 100 TB the store is
    * the only thing that persists, and it is fixed-width per doc); the
    * MinHash estimator's error is ~1/√k. Within-batch dedup has the text
    * in hand and verifies exactly.
    *
    * Exactly-once admissions without a marker: admitted signatures land
    * in a `batch=<id>` hive partition OVERWRITTEN per attempt, and the
    * history join excludes rows of the current batchId — a replayed
    * batch dedups against strictly-older history, recomputes the same
    * admitted set, and overwrites its own partition idempotently. */
  def nearDupStream(
      docs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 128,
      bands: Int = 16,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 1000,
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = applyNearDupBatch(batch, storePath, batchId, idCol,
          textCol, numHashes, bands, shingleN, threshold, maxBucket)
        try sink(admitted, batchId)
        // per-batch caches must not accumulate across a long-running
        // stream — admitted is the last one standing (the inner ones are
        // released inside applyNearDupBatch)
        finally admitted.unpersist()
        // periodic store maintenance: fold the one-dir-per-trigger
        // batch partitions so per-batch read cost stays O(compacted +
        // recent deltas) instead of O(#triggers ever). Runs AFTER the
        // sink — a crash mid-fold recovers on the next batch.
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintainNearDupStore(batch.sparkSession, storePath)
      }
      .start()

  /** The per-batch step behind [[nearDupStream]] (driveable directly in
    * tests and backfills). Returns the admitted rows of `batch`,
    * persisted — the caller unpersists them after its sink; every other
    * cache the trigger takes is released before this returns.
    *
    * One fused text→signature pass feeds ONE LSH candidate join (see
    * [[nearDupAdmitCore]]): the batch's band keys against the capped
    * history bands and the batch's own bands together. History pairs
    * verify by signature agreement ≥ `threshold` (the store holds no
    * text), batch pairs by exact shingle Jaccard; a near-dup of history,
    * or the larger id of a verified in-batch pair, drops. `maxBucket`
    * caps history buckets; in-batch buckets are capped at 1,000 docs.
    *
    * Store layout (all maintained by [[maintainNearDupStore]]):
    *  - `<store>/batch=<id>/`       admitted MinHash signatures
    *  - `<store>.bands/batch=<id>/` their exploded LSH band keys
    *  - `<store>.buckets/batch=<id>/` partial bucket counts per batch
    *  - `<store>.meta`              numHashes/bands/shingleN sidecar
    *
    * The band/bucket sidecars are what keep the per-batch cost from
    * growing with corpus history: without them every trigger re-exploded
    * the ENTIRE signature store (x bands) and re-aggregated the bucket
    * histogram from scratch — O(history) work per micro-batch, growing
    * forever under trickle ingest. Band keys and bucket counts of an
    * admitted batch never change, so they are written once at admission
    * and only READ afterwards; after a maintenance fold the bucket scan
    * is O(distinct buckets + recent deltas), not O(all signatures ever).
    * The verify join's history read pushes the candidate id set into
    * the parquet scan as an In filter when it is small (the common case
    * — bounded by batch size × bucket cap): maintenance folds SORT the
    * store by graft_id, so row-group min/max stats skip the bulk of a
    * years-old store and the read approximates an indexed fetch. Above
    * `maxVerifyFetch` ids it falls back to the full-scan join. */
  def applyNearDupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 128,
      bands: Int = 16,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 1000,
      maxVerifyFetch: Int = 100000): DataFrame = {
    import graft.functions.TextFunctions._
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val bandsRoot = new org.apache.hadoop.fs.Path(storePath + BandsSuffix)
    val bucketsRoot = new org.apache.hadoop.fs.Path(storePath + BucketsSuffix)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // mode sniff, same rule as every store operator: an existing `_log/`
    // (or a NEW store under the session's commit-log default) takes the
    // manifest protocol; existing swap-based stores keep the lease
    if (graft.operators.CommitLog.active(spark, fs, store))
      return applyNearDupBatchLog(batch, storePath, batchId, idCol, textCol,
        numHashes, bands, shingleN, threshold, maxBucket, maxVerifyFetch)

    // the signature store and its sidecars mutate below (own-partition
    // deletes + three partition writes): hold the store's single-writer
    // lease so a concurrent backfill or second stream fails loudly
    graft.operators.Swap.withStoreLease(spark, store) { _ =>

    // roll forward any maintenance fold interrupted mid-swap; folds
    // preserve content (old batches move into batch=-1), so a fold that
    // completed on one store root but crashed before the next leaves the
    // three roots differently partitioned yet semantically consistent
    Seq(store, bandsRoot, bucketsRoot).foreach(
      graft.operators.Swap.recoverDirs(spark, _, graft.operators.Swap.Suffix))

    // one fused text→signature pass over the batch
    val sigB = batch.select(
      col(idCol).as("graft_id"),
      minhashTextSignature(col(textCol), shingleN, numHashes).as("graft_sig"))
      .persist()
    val bandB = sigB.select(col("graft_id"),
      explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
      .select(col("graft_id"), col("graft_band.band"), col("graft_band.bucket"))

    // Replay-protocol guard — fail LOUD, before anything is deleted.
    // Maintenance folds move older batches into batch=-1 and keep only
    // the LATEST batch replayable; replaying an already-folded batch id
    // would find its own prior admissions in batch=-1, pass the
    // same-batch exclusion below, and silently drop the entire batch as
    // duplicates of itself. Out-of-protocol replays (a checkpoint
    // restored to before the store's high-water mark, or a backfill
    // interleaved with maintenance) must surface here instead.
    if (fs.exists(store)) {
      val live = fs.listStatus(store).map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
      val maxLive = if (live.nonEmpty) live.max else -1L
      require(
        batchId >= maxLive,
        s"out-of-protocol replay: batch $batchId is older than the newest " +
          s"admitted batch $maxLive in $storePath — its prior admissions may " +
          "already be folded into batch=-1, which would silently flag the " +
          "replay as duplicates of itself; only the latest batch may replay " +
          "(reset the checkpoint and store consistently, or rebuild the store)")
    }

    // history = all admitted signatures from STRICTLY OLDER batches (the
    // same-batch exclusion is what makes replays idempotent: an earlier
    // attempt's own partition must not flag the recomputed batch as dups
    // of itself). Own partitions are deleted up front in all THREE
    // stores: a crashed attempt can leave partial parquet files there,
    // and even schema inference over them could wedge the replay.
    Seq(store, bandsRoot, bucketsRoot).foreach { r =>
      val own = new org.apache.hadoop.fs.Path(r, s"batch=$batchId")
      if (fs.exists(own)) fs.delete(own, true)
    }
    val hasHistory = fs.exists(store) &&
      fs.listStatus(store).exists(_.getPath.getName.startsWith("batch="))

    // a store written with a different numHashes would zip_with against
    // mismatched signature widths and SILENTLY skew every similarity
    // estimate; a different bands/shingleN would bucket inconsistently.
    // The config sidecar is checked per batch in O(1); a pre-sidecar
    // store validates its width ONCE as an aggregate over all history
    // (min==max==numHashes — a 1-row probe could sample a lucky row of a
    // mixed-width store) and then records the sidecar.
    ensureNearDupMeta(spark, fs, storePath, hasHistory, numHashes, bands, shingleN)
    // stores created before the band/bucket sidecars existed: derive
    // both from the signature store once (write-then-rename; a crash
    // mid-write leaves only a .tmp that gets rebuilt, and a crash
    // BETWEEN the two sidecars resumes with just the missing one)
    if (hasHistory && (!fs.exists(bandsRoot) || !fs.exists(bucketsRoot)))
      bootstrapNearDupSidecars(spark, fs, storePath, numHashes, bands)

    val history = if (hasHistory)
      spark.read.parquet(storePath).filter(col("batch") =!= batchId)
        .select(col("graft_id").as("hist_id"), col("graft_sig").as("hist_sig"))
    else
      sigB.select(col("graft_id").as("hist_id"), col("graft_sig").as("hist_sig"))
        .limit(0)

    // precomputed band keys + bucket histogram — READ, never recomputed
    val bandH = if (hasHistory)
      spark.read.parquet(bandsRoot.toString).filter(col("batch") =!= batchId)
        .select("hist_id", "band", "bucket")
    else
      history.select(col("hist_id"), lit(0).as("band"), lit(0L).as("bucket"))
        .limit(0)
    // hot-bucket cap on the history side — the standard LSH skew guard:
    // a boilerplate bucket holding half the corpus must not cross-join
    // against every future batch. Summing per-batch partials costs
    // O(partial rows); maintenance folds keep that near O(distinct
    // buckets).
    val smallBuckets = (if (hasHistory)
      spark.read.parquet(bucketsRoot.toString).filter(col("batch") =!= batchId)
        .groupBy("band", "bucket").agg(sum("n").as("n"))
    else
      bandH.groupBy("band", "bucket").agg(count(lit(1)).as("n")))
      .filter(col("n") <= maxBucket)
      .select("band", "bucket")
    val (admitted, release) = nearDupAdmitCore(
      batch, idCol, textCol, sigB, bandB, history, bandH, smallBuckets,
      _ => spark.read.parquet(storePath).filter(col("batch") =!= batchId),
      hasHistory, numHashes, shingleN, threshold, maxVerifyFetch)
    // admitted signatures (+ their band keys and bucket-count partial) →
    // this batch's own partitions; overwrite makes the replayed attempt
    // idempotent, and a crash between the three writes replays the whole
    // batch (foreachBatch commits only after the sink returns), which
    // deletes and rewrites all three. The writes also MATERIALIZE the
    // admitted cache, so the inner caches can be released here — a
    // long-running stream must not accumulate per-batch persists
    // (nearDupStream releases `admitted` itself after the sink runs).
    val sigA = sigB
      .join(admitted.select(col(idCol).as("graft_id")), Seq("graft_id"), "left_semi")
      .persist()
    sigA.write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
    val bandA = sigA.select(col("graft_id").as("hist_id"),
      explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
      .select(col("hist_id"), col("graft_band.band"), col("graft_band.bucket"))
    bandA.write.mode("overwrite").parquet(s"$storePath$BandsSuffix/batch=$batchId")
    bandA.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$storePath$BucketsSuffix/batch=$batchId")
    sigA.unpersist()
    sigB.unpersist()
    release()
    admitted
    }
  }

  /** Per-micro-batch distribution drift against PINNED baselines — the
    * streaming form of [[graft.operators.Drift]]: score every trigger's
    * rows against the distribution the curation thresholds (or the
    * model, or the IVF centroids) were built on, and alert the moment
    * ingest moves. Baselines are captured ONCE before the stream starts
    * (`Drift.psiBaseline` / `Drift.catBaseline` — driver-resident
    * histograms), so the per-trigger cost is one tiny aggregate over the
    * BATCH per monitored column; the baseline table is never re-scanned,
    * the same never-O(history)-per-trigger economics as the dedup
    * stores' sidecars.
    *
    * Emits one row per monitored column per trigger:
    * (column, kind, psi, chi2 [NaN for numeric], rows_cur) — route it to
    * a metrics sink or a threshold alarm in `sink`. */
  def driftStream(
      rows: DataFrame,
      checkpoint: String,
      numeric: Seq[graft.operators.Drift.PsiBaseline],
      categorical: Seq[graft.operators.Drift.CatBaseline] = Nil)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    require(numeric.nonEmpty || categorical.nonEmpty,
      "driftStream needs at least one baseline to monitor")
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val parts =
          numeric.map(b => graft.operators.Drift.psiAgainst(b, batch)
            .select(
              lit(b.valueCol).as("column"), lit("numeric").as("kind"),
              col("psi"), lit(Double.NaN).as("chi2"), col("rows_cur"))) ++
          categorical.map(b => graft.operators.Drift.psiCatAgainst(b, batch)
            .select(
              lit(b.valueCol).as("column"), lit("categorical").as("kind"),
              col("psi"), col("chi2"), col("rows_cur")))
        sink(parts.reduce(_ unionByName _), batchId)
      }
      .start()
  }

  /** Within-batch bucket cap of the MinHash gate: a (band, bucket) held
    * by more than this many docs of ONE batch yields no in-batch
    * candidates (the batch operator's skew guard, and the value the gate
    * has always applied). The history side keeps the per-call
    * `maxBucket` over the store's bucket counts. */
  private val InBatchMaxBucket = 1000

  /** The candidate → verify → admit middle shared by the legacy and
    * commit-log store modes — everything between "history frames are in
    * hand" and "write the admitted rows", which is mode-independent.
    *
    * ONE LSH candidate pass: the batch's band rows (`bandB`, from the
    * single signature pass `sigB`) join once against a build side that
    * holds the history band rows under the store cap (`smallBuckets`)
    * and the batch's own band rows under [[InBatchMaxBucket]] (counted
    * within the batch; singleton buckets cannot pair). A batch pair is
    * kept on its larger id, the one that drops. Then:
    *  - history candidates verify by MinHash signature agreement ≥
    *    `threshold` (the store keeps signatures, not text);
    *  - batch candidates verify by exact shingle Jaccard ≥ `threshold`
    *    (the text is in hand; shingles are built for candidate docs
    *    only). The larger id of a verified pair drops — the batch
    *    operator's pairwise convention.
    *
    * History signatures for the verify join: the candidate id set is
    * bounded by batch size × maxBucket, so in the common case it is tiny
    * relative to the store — push it into the parquet read (maintenance
    * folds sort the store by graft_id, so row-group min/max stats skip
    * the bulk of years-old history and the read approximates an indexed
    * fetch). Above spark.sql.parquet.pushdown.inFilterThreshold an In
    * predicate pushes only as ONE [min,max] range, which prunes nothing
    * when candidates span the id space — so a gap-split OR-of-BETWEEN
    * cover over the sorted ids is pushed alongside the exact In filter;
    * the cover is a superset, the exact In evaluates residually. Above
    * `maxVerifyFetch` ids, fall back to the full-scan join against
    * `history`.
    *
    * Returns (admitted [persisted], release) — the caller runs `release`
    * (the candidate and shingle caches) once its writes have
    * materialized `admitted`, and unpersists `admitted` after its sink. */
  private def nearDupAdmitCore(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      sigB: DataFrame,
      bandB: DataFrame,
      history: DataFrame,
      bandH: DataFrame,
      smallBuckets: DataFrame,
      histSigs: Array[Any] => DataFrame,
      hasHistory: Boolean,
      numHashes: Int,
      shingleN: Int,
      threshold: Double,
      maxVerifyFetch: Int): (DataFrame, () => Unit) = {
    import graft.functions.TextFunctions.{jaccardSortedDistinct, shingles}
    val batchSide = bandB
      .withColumn("graft_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter(col("graft_n").between(2, InBatchMaxBucket))
      .select(col("band"), col("bucket"), col("graft_id").as("graft_other"),
        lit(false).as("graft_hist"))
    val build = if (!hasHistory) batchSide else bandH
      .join(smallBuckets, Seq("band", "bucket"), "left_semi")
      .select(col("band"), col("bucket"), col("hist_id").as("graft_other"),
        lit(true).as("graft_hist"))
      .unionByName(batchSide)
    val candidates = bandB.join(build, Seq("band", "bucket"))
      .filter(col("graft_hist") || col("graft_other") < col("graft_id"))
      .select("graft_id", "graft_other", "graft_hist").distinct()
      .persist() // read by the history id probe and both verifies

    // cap+1 probe, overflow-safe for maxVerifyFetch = Int.MaxValue
    val capProbe = math.min(maxVerifyFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val histCand = candidates.filter(col("graft_hist"))
      .select(col("graft_id"), col("graft_other").as("hist_id"))
    val candIds =
      if (hasHistory) histCand.select("hist_id").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    // MinHash estimator: fraction of agreeing signature positions
    val agree = size(filter(
      zip_with(col("graft_sig"), col("hist_sig"), (a, b) => a === b),
      x => x)).cast("double") / numHashes
    val dupOfHistory =
      if (candIds.isEmpty) None
      else {
        val histVerify = if (candIds.length <= maxVerifyFetch) {
          val cover = idCoverFilter(col("graft_id"), candIds)
          histSigs(candIds)
            .where(cover.getOrElse(lit(true)))
            .filter(col("graft_id").isInCollection(candIds.toSeq))
            .select(col("graft_id").as("hist_id"), col("graft_sig").as("hist_sig"))
        } else history
        Some(histCand
          .join(sigB, "graft_id")
          .join(histVerify, "hist_id")
          .filter(agree >= threshold)
          .select(col("graft_id").as(idCol)))
      }

    val batchCand = candidates.filter(!col("graft_hist"))
      .select("graft_id", "graft_other")
    val candShingles = batch.select(col(idCol).as("graft_id"), col(textCol))
      .join(batchCand.select("graft_id")
        .unionByName(batchCand.select(col("graft_other").as("graft_id"))),
        Seq("graft_id"), "left_semi")
      .select(col("graft_id"),
        sort_array(array_distinct(shingles(col(textCol), shingleN))).as("graft_sh"))
      .persist() // both sides of the pair verify
    val dupInBatch = batchCand
      .join(candShingles.withColumnRenamed("graft_sh", "sh_a"), "graft_id")
      .join(candShingles.select(col("graft_id").as("graft_other"),
        col("graft_sh").as("sh_b")), "graft_other")
      .filter(jaccardSortedDistinct(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("graft_id").as(idCol))

    val admitted = batch
      .join(dupOfHistory.fold(dupInBatch)(_.unionByName(dupInBatch)),
        Seq(idCol), "left_anti")
      .persist()
    (admitted, () => { candidates.unpersist(); candShingles.unpersist(); () })
  }

  /** Read a log store (or one sub-table) at a pinned version from an
    * explicitly PRUNED file list: files whose manifest-recorded
    * stats-column range overlaps none of the candidate `ranges` are
    * skipped before any footer is opened — manifest-level pruning on
    * top of the row-group pruning the pushed filters already do. Files
    * without stats are always kept (conservative). None when no file
    * survives — no file can contain the candidates. */
  private[graft] def prunedRead(
      spark: org.apache.spark.sql.SparkSession,
      store: org.apache.hadoop.fs.Path,
      sub: Option[String],
      version: Long,
      ranges: Option[Seq[(Any, Any)]]): Option[DataFrame] = {
    import graft.operators.CommitLog
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = CommitLog.snapshotFilesWithStats(fs, store, version)
    val slice = sub.fold(all)(s0 => all.filter(_._1.startsWith(s0 + "/")))
    if (slice.isEmpty) return None
    val kept = ranges match {
      case None => slice
      case Some(rs) => slice.filter { case (_, st) =>
        st.forall(s => rs.exists { case (lo, hi) => s.overlaps(lo, hi) })
      }
    }
    if (kept.isEmpty) None
    else {
      val basePath = sub.fold(store)(s0 => new org.apache.hadoop.fs.Path(store, s0))
      Some(spark.read.option("basePath", basePath.toString)
        .parquet(kept.map { case (f, _) =>
          new org.apache.hadoop.fs.Path(store, f).toString }: _*))
    }
  }

  /** Manifest-meta keys of a commit-log dedup store: the LSH config
    * (validated per batch in O(1), replacing the `.meta` sidecar) and
    * the admission high-water mark (replacing the live-dir listing the
    * replay guard reads in legacy mode — and surviving folds, which a
    * listing does not: after a fold only `batch=-1` is live, but the
    * manifest still knows the newest admitted batch). Carried forward on
    * EVERY commit, so tipMeta always answers. */
  private def nearDupLogMeta(
      numHashes: Int, bands: Int, shingleN: Int, maxBatch: Long) =
    Map(
      "numHashes" -> numHashes.toString,
      "bands" -> bands.toString,
      "shingleN" -> shingleN.toString,
      "maxBatch" -> maxBatch.toString)

  private def requireLogConfig(
      meta: Map[String, String],
      storePath: String,
      numHashes: Int,
      bands: Int,
      shingleN: Int): Unit =
    require(
      meta.get("numHashes").contains(numHashes.toString) &&
        meta.get("bands").contains(bands.toString) &&
        meta.get("shingleN").contains(shingleN.toString),
      s"signature store at $storePath was built with " +
        s"(numHashes=${meta.getOrElse("numHashes", "?")}, " +
        s"bands=${meta.getOrElse("bands", "?")}, " +
        s"shingleN=${meta.getOrElse("shingleN", "?")}), this stream uses " +
        s"($numHashes, $bands, $shingleN) — rebuild the store or match " +
        "the configuration")

  private def requireReplayable(
      batchId: Long, maxBatch: Long, storePath: String): Unit =
    require(batchId >= maxBatch,
      s"out-of-protocol replay: batch $batchId is older than the newest " +
        s"admitted batch $maxBatch in $storePath — its prior admissions may " +
        "already be folded into batch=-1, which would silently flag the " +
        "replay as duplicates of itself; only the latest batch may replay " +
        "(reset the checkpoint and store consistently, or rebuild the store)")

  /** Commit-log mode of [[applyNearDupBatch]]. One store root holds the
    * three tables as sub-dirs under a single `_log/`:
    *
    * {{{
    * store/_log/...            numbered manifests (truth)
    * store/sigs/batch=<id>/    admitted MinHash signatures
    * store/bands/batch=<id>/   their exploded LSH band keys
    * store/buckets/batch=<id>/ partial bucket counts per batch
    * }}}
    *
    * so ONE manifest admits a batch's signatures, band keys, and bucket
    * partials ATOMICALLY — the legacy mode's crash window between its
    * three partition writes (replayed via whole-batch rewrite) simply
    * does not exist, and neither do lease files: commits carry
    * [[graft.operators.CommitLog.SerialToken]], so any concurrent writer
    * (second stream, backfill, maintenance) loses the CAS race loudly
    * with a ConflictException instead of corrupting admissions — the
    * foreachBatch retry then replays the batch against the new tip.
    * Reads pin the version the admission decisions were computed
    * against, so a fold landing mid-batch cannot shift history under
    * the verify join. Replays retire-and-replace the batch's own dirs
    * in the same commit (the manifest IS the overwrite). Deletion
    * defers to [[graft.operators.CommitLog.vacuum]]. */
  private def applyNearDupBatchLog(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      shingleN: Int,
      threshold: Double,
      maxBucket: Int,
      maxVerifyFetch: Int): DataFrame = {
    import graft.functions.TextFunctions._
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val baseV = CommitLog.currentVersion(fs, store)
    val tipMeta = CommitLog.tipMeta(fs, store)
    if (baseV > 0) requireLogConfig(tipMeta, storePath, numHashes, bands, shingleN)
    requireReplayable(batchId,
      tipMeta.get("maxBatch").map(_.toLong).getOrElse(-1L), storePath)

    // one fused text→signature pass over the batch
    val sigB = batch.select(
      col(idCol).as("graft_id"),
      minhashTextSignature(col(textCol), shingleN, numHashes).as("graft_sig"))
      .persist()
    val bandB = sigB.select(col("graft_id"),
      explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
      .select(col("graft_id"), col("graft_band.band"), col("graft_band.bucket"))

    // history = the pinned snapshot at baseV, minus the current batch
    // (same-batch exclusion keeps replays idempotent — a prior attempt's
    // own rows must not flag the recomputed batch as dups of itself)
    val sigsHist = CommitLog.readSub(spark, store, "sigs", Some(baseV))
      .map(_.filter(col("batch") =!= batchId))
    val hasHistory = sigsHist.isDefined
    val history = sigsHist
      .map(_.select(col("graft_id").as("hist_id"), col("graft_sig").as("hist_sig")))
      .getOrElse(sigB
        .select(col("graft_id").as("hist_id"), col("graft_sig").as("hist_sig"))
        .limit(0))
    val bandH = CommitLog.readSub(spark, store, "bands", Some(baseV))
      .map(_.filter(col("batch") =!= batchId).select("hist_id", "band", "bucket"))
      .getOrElse(history
        .select(col("hist_id"), lit(0).as("band"), lit(0L).as("bucket"))
        .limit(0))
    val smallBuckets = CommitLog.readSub(spark, store, "buckets", Some(baseV))
      .map(_.filter(col("batch") =!= batchId)
        .groupBy("band", "bucket").agg(sum("n").as("n")))
      .getOrElse(bandH.groupBy("band", "bucket").agg(count(lit(1)).as("n")))
      .filter(col("n") <= maxBucket)
      .select("band", "bucket")

    val (admitted, release) = nearDupAdmitCore(
      batch, idCol, textCol, sigB, bandB, history, bandH, smallBuckets,
      // manifest-stats file pruning on top of the pushed range cover:
      // the candidate ids' gap-split ranges drop whole files whose
      // recorded graft_id range cannot match
      candIds => prunedRead(spark, store, Some("sigs"), baseV, idRanges(candIds))
        .map(_.filter(col("batch") =!= batchId))
        .getOrElse(history.select(
          col("hist_id").as("graft_id"), col("hist_sig").as("graft_sig"))
          .limit(0)),
      hasHistory, numHashes, shingleN, threshold, maxVerifyFetch)

    // stage all three tables, publish ONE manifest. The writes also
    // materialize the admitted cache, so the inner caches release here.
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    val sigA = sigB
      .join(admitted.select(col(idCol).as("graft_id")), Seq("graft_id"), "left_semi")
      .persist()
    sigA.write.parquet(
      new org.apache.hadoop.fs.Path(staging, s"sigs/batch=$batchId").toString)
    val bandA = sigA.select(col("graft_id").as("hist_id"),
      explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
      .select(col("hist_id"), col("graft_band.band"), col("graft_band.bucket"))
    bandA.write.parquet(
      new org.apache.hadoop.fs.Path(staging, s"bands/batch=$batchId").toString)
    bandA.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .write.parquet(
        new org.apache.hadoop.fs.Path(staging, s"buckets/batch=$batchId").toString)
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = Seq(
        s"sigs/batch=$batchId", s"bands/batch=$batchId", s"buckets/batch=$batchId"),
      wholeStore = false,
      meta = nearDupLogMeta(numHashes, bands, shingleN, batchId),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_id")) // band/bucket files lack it → no stats
    sigA.unpersist()
    sigB.unpersist()
    release()
    admitted
  }

  /** Commit-log mode of [[maintainNearDupStore]]: fold every batch
    * except the newest (and the previous `batch=-1`) into a fresh
    * sorted `batch=-1` PER SUB-TABLE, retired and replaced by ONE
    * manifest — the legacy mode's crash window BETWEEN per-root folds
    * (store folded, sidecars not) does not exist. Row-count parity is
    * checked from parquet footers before the commit for the two
    * content-preserving folds (the bucket fold legitimately
    * re-aggregates). */
  private def maintainNearDupStoreLog(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long): Unit = {
    import graft.operators.CommitLog
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseV = CommitLog.currentVersion(fs, store)
    if (baseV == 0) return
    val files = CommitLog.snapshotFiles(fs, store, baseV)
    def batchIds(sub: String): Seq[Long] = files
      .filter(_.startsWith(sub + "/"))
      .flatMap(_.split('/').lift(1))
      .distinct
      .flatMap(n =>
        scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
    val ids = batchIds("sigs")
    val live = ids.filter(_ >= 0)
    if (live.isEmpty) return
    val maxId = live.max
    val foldIds = ids.filter(_ < maxId).sorted // includes a previous -1
    if (!foldIds.exists(_ >= 0)) return        // only the fold itself left

    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    def foldSub(
        sub: String,
        reagg: Option[DataFrame => DataFrame],
        sortCols: Seq[String]): Unit = {
      val inFiles = files.filter(f =>
        foldIds.exists(i => f.startsWith(s"$sub/batch=$i/")))
      if (inFiles.isEmpty) return
      val bytes = inFiles
        .map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(store, f)).getLen)
        .sum
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val folded = CommitLog.readSub(spark, store, sub, Some(baseV)).get
        .filter(col("batch").isin(foldIds: _*)).drop("batch")
      val combined = reagg.fold(folded)(f => f(folded))
      // range-partition + sort (not a global sort): each output file
      // holds a contiguous key range for row-group pruning + compression
      val out = combined
        .repartitionByRange(nOut, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
      val dest = new org.apache.hadoop.fs.Path(staging, s"$sub/batch=-1")
      out.write.parquet(dest.toString)
      if (reagg.isEmpty) {
        val before = graft.operators.Compact.footerRowsOf(spark,
          inFiles.map(new org.apache.hadoop.fs.Path(store, _)))
        val after = graft.operators.Compact.footerRowsIn(spark, Seq(dest))
        if (before != after) {
          fs.delete(staging, true)
          throw new IllegalStateException(
            s"fold row mismatch for $storePath/$sub: $before -> $after " +
              "(store untouched)")
        }
      }
    }
    foldSub("sigs", None, Seq("graft_id"))
    foldSub("bands", None, Seq("band", "bucket", "hist_id"))
    foldSub("buckets",
      Some(df => df.groupBy("band", "bucket").agg(sum("n").as("n"))),
      Seq("band", "bucket"))
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = foldIds.flatMap(i =>
        Seq(s"sigs/batch=$i", s"bands/batch=$i", s"buckets/batch=$i")),
      wholeStore = false,
      meta = CommitLog.tipMeta(fs, store), // config + maxBatch carry forward
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_id")) // sorted fold → tight per-file ranges
    // trickle ingest adds a version per trigger and a fold retires whole
    // batch dirs; without a vacuum the store never physically shrinks —
    // maintenance is the natural cadence (retention still protects
    // recently pinned readers)
    CommitLog.vacuum(spark, store)
    ()
  }

  private[graft] val BandsSuffix = ".bands"
  private[graft] val BucketsSuffix = ".buckets"
  private[graft] val MetaSuffix = ".meta"

  /** Row-group-prunable cover for a candidate id set: sort the ids, split
    * at the `maxRanges - 1` widest gaps, and return OR-of-BETWEEN over the
    * resulting tight ranges (plus a single [min,max] range for string
    * ids, whose gap widths are not meaningful). The cover is a SUPERSET
    * of the ids — callers keep the exact In filter on top — so it only
    * affects which row groups are read, never which rows qualify. None
    * for empty or unsupported id types (cover skipped, exact filter still
    * applies). */
  private[graft] def idCoverFilter(
      idCol: org.apache.spark.sql.Column,
      ids: Array[Any],
      maxRanges: Int = 32): Option[org.apache.spark.sql.Column] =
    idRanges(ids, maxRanges).map(rs =>
      rs.map { case (lo, hi) => idCol >= lit(lo) && idCol <= lit(hi) }
        .reduce(_ || _))

  /** The driver-side range cover behind [[idCoverFilter]], reusable for
    * FILE-level pruning against commit-log manifest stats: a superset of
    * `ids` as ≤ `maxRanges` [lo, hi] pairs (typed endpoints). */
  private[graft] def idRanges(
      ids: Array[Any],
      maxRanges: Int = 32): Option[Seq[(Any, Any)]] = {
    if (ids.isEmpty) None
    else if (ids.forall(v => v.isInstanceOf[java.lang.Long] ||
      v.isInstanceOf[java.lang.Integer] ||
      v.isInstanceOf[java.lang.Short] || v.isInstanceOf[java.lang.Byte])) {
      // endpoints keep their ORIGINAL boxed type: a widening cast on the
      // column side (int col vs long literal) can block parquet pushdown
      val sorted = ids.map(v => (v.asInstanceOf[Number].longValue, v))
        .distinctBy(_._1).sortBy(_._1)
      val gaps = (1 until sorted.length)
        .map(i => (sorted(i)._1 - sorted(i - 1)._1, i))
        .filter(_._1 > 1)
        .sortBy(-_._1)
        .take(maxRanges - 1)
        .map(_._2).sorted
      val bounds = (0 +: gaps) :+ sorted.length
      Some(bounds.sliding(2)
        .map { case Seq(a, b) => (sorted(a)._2, sorted(b - 1)._2) }.toSeq)
    } else if (ids.forall(_.isInstanceOf[String])) {
      val xs = ids.map(_.asInstanceOf[String])
      Some(Seq((xs.min, xs.max)))
    } else None
  }

  /** Validate (or create) the `<store>.meta` config sidecar. */
  private def ensureNearDupMeta(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      storePath: String,
      hasHistory: Boolean,
      numHashes: Int,
      bands: Int,
      shingleN: Int): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(storePath + MetaSuffix)
    if (fs.exists(metaPath)) {
      val in = fs.open(metaPath)
      val text =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          new String(buf.toByteArray, "UTF-8")
        } finally in.close()
      val m = text.split("\n").map(_.trim).filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
      require(
        m.get("numHashes").contains(numHashes.toString) &&
          m.get("bands").contains(bands.toString) &&
          m.get("shingleN").contains(shingleN.toString),
        s"signature store at $storePath was built with " +
          s"(numHashes=${m.getOrElse("numHashes", "?")}, " +
          s"bands=${m.getOrElse("bands", "?")}, " +
          s"shingleN=${m.getOrElse("shingleN", "?")}), this stream uses " +
          s"($numHashes, $bands, $shingleN) — rebuild the store or match " +
          "the configuration")
    } else {
      if (hasHistory) {
        // legacy pre-sidecar store: the signature width is checkable
        // retroactively (bands/shingleN are not — signatures don't
        // record them; they are recorded as THIS config from here on)
        val w = spark.read.parquet(storePath)
          .agg(min(size(col("graft_sig"))).as("lo"),
            max(size(col("graft_sig"))).as("hi")).collect().head
        if (!w.isNullAt(0)) require(
          w.getInt(0) == numHashes && w.getInt(1) == numHashes,
          s"signature store at $storePath holds widths " +
            s"[${w.getInt(0)}, ${w.getInt(1)}], this stream uses " +
            s"numHashes=$numHashes — rebuild the store or match the " +
            "configuration")
      }
      val tmp = new org.apache.hadoop.fs.Path(metaPath.toString + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(
        s"numHashes=$numHashes\nbands=$bands\nshingleN=$shingleN\n"
          .getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, metaPath))
        throw new java.io.IOException(s"could not write sidecar $metaPath")
    }
  }

  /** One-time derivation of the band/bucket sidecars from a signature
    * store written before they existed. O(history) ONCE, not per batch.
    * Each sidecar builds only if missing (a crash between the two
    * resumes with just the missing one — the bucket partials then derive
    * from the already-committed band store, which is cheaper anyway). */
  private def bootstrapNearDupSidecars(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      storePath: String,
      numHashes: Int,
      bands: Int): Unit = {
    import graft.functions.TextFunctions._
    def writeVia(df: DataFrame, dest: String): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(dest + ".tmp")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      df.write.partitionBy("batch").parquet(tmp.toString)
      if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dest)))
        throw new java.io.IOException(s"could not commit sidecar store $dest")
    }
    val bandsDest = storePath + BandsSuffix
    if (!fs.exists(new org.apache.hadoop.fs.Path(bandsDest)))
      writeVia(
        spark.read.parquet(storePath)
          .select(col("batch"), col("graft_id").as("hist_id"),
            explode(bandKeys(col("graft_sig"), bands, numHashes)).as("graft_band"))
          .select(col("batch"), col("hist_id"),
            col("graft_band.band"), col("graft_band.bucket")),
        bandsDest)
    if (!fs.exists(new org.apache.hadoop.fs.Path(storePath + BucketsSuffix)))
      writeVia(
        spark.read.parquet(bandsDest).groupBy("batch", "band", "bucket")
          .agg(count(lit(1)).as("n")),
        storePath + BucketsSuffix)
  }

  /** Maintenance for a [[nearDupStream]] store: fold every batch
    * partition except the latest into a single `batch=-1` dir (merging
    * with the previous fold) in the signature store and both sidecars.
    * Trickle ingest otherwise accumulates one tiny dir per trigger
    * forever — the listing/task-scheduling small-file failure mode — and
    * the bucket-histogram partials would re-sum one partial per trigger
    * ever. The LATEST batch keeps its own partition: under at-least-once
    * foreachBatch only the most recent batch can replay, and a replay
    * needs its own partition excludable (batch =!= id) and deletable;
    * folded older batches keep working because batch=-1 passes the
    * exclusion filter for every live id.
    *
    * Crash posture: each root folds via the staged partition-dir swap
    * ([[graft.operators.Swap.commitDirs]]) — marker-gated roll-forward,
    * recovered at the top of every applyNearDupBatch. Signature and band
    * folds are content-preserving and row-count-verified from parquet
    * footers; the bucket fold re-aggregates partials (one row per bucket
    * afterwards) so its row count legitimately shrinks. */
  def maintainNearDupStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.operators.CommitLog.isLog(fs, store))
      return maintainNearDupStoreLog(spark, storePath, targetFileBytes)
    // ONE lease on the signature-store root covers all three roots (the
    // sidecars are derived siblings nobody writes independently)
    graft.operators.Swap.withStoreLease(
      spark, new org.apache.hadoop.fs.Path(storePath)) { _ =>
      // folds also SORT: the signature store by graft_id (tight row-group
      // min/max for the candidate verify join's id lookups + better
      // compression), the band store by its join key (runs of equal
      // buckets compress and map-side combine well)
      foldBatchPartitions(spark, storePath, targetFileBytes, reagg = None,
        sortCols = Seq("graft_id"))
      foldBatchPartitions(spark, storePath + BandsSuffix, targetFileBytes,
        reagg = None, sortCols = Seq("band", "bucket", "hist_id"))
      foldBatchPartitions(spark, storePath + BucketsSuffix, targetFileBytes,
        reagg = Some(df => df.groupBy("band", "bucket").agg(sum("n").as("n"))),
        sortCols = Seq("band", "bucket"))
    }
  }

  /** Incremental corpus EXACT dedup: each micro-batch is checked against
    * a persistent fingerprint store of everything ever admitted — the
    * restart-survivable form of `dropDuplicates`, whose state dies with
    * its checkpoint. Same store protocol as [[nearDupStream]] minus the
    * LSH machinery: admitted (id, md5-of-text) rows land in a
    * `batch=<id>` partition overwritten per attempt (exactly-once
    * admissions without a marker), maintenance folds trigger-grain
    * partitions into `batch=-1` SORTED by fingerprint (per-batch cost
    * stays O(compacted + deltas), and the history lookup's pushed
    * fingerprint range hits tight row groups), and a replay older than
    * the newest admitted batch fails loudly before anything is deleted.
    *
    * The store holds fingerprints only — fixed-width per doc, never
    * text; at 100 TB it is the only thing that persists. Pass
    * pre-normalized text (TextFunctions.normalize) when byte-identical
    * is too strict a key. */
  def exactDedupStream(
      docs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = applyExactDedupBatch(batch, storePath, batchId, idCol, textCol)
        try sink(admitted, batchId)
        finally admitted.unpersist()
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintainExactDedupStore(batch.sparkSession, storePath)
      }
      .start()

  /** The per-batch step behind [[exactDedupStream]] (driveable directly
    * in tests and backfills). Returns the admitted rows of `batch`.
    *
    * History lookup: the batch's own distinct fingerprints are the
    * candidate set, bounded by batch size — below `maxFetch` they push
    * into the parquet read as an In filter plus a min/max range cover
    * (maintenance folds sort the store by fingerprint, so row-group
    * stats skip the bulk of a years-old store); above it, a full-scan
    * semi-join. Within the batch the minimum id per fingerprint
    * survives, matching Dedup.dedupExact's deterministic convention. */
  def applyExactDedupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxFetch: Int = 100000): DataFrame = {
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    if (graft.operators.CommitLog.active(spark, fs, store))
      return applyExactDedupBatchLog(batch, storePath, batchId, idCol,
        textCol, maxFetch)

    graft.operators.Swap.withStoreLease(spark, store) { _ =>
    graft.operators.Swap.recoverDirs(spark, store, graft.operators.Swap.Suffix)

    // replay-protocol guard — identical contract to the near-dup store:
    // only the newest admitted batch may replay; anything older may
    // already be folded into batch=-1, where its own prior admissions
    // would flag the replay as duplicates of itself
    if (fs.exists(store)) {
      val live = fs.listStatus(store).map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
      val maxLive = if (live.nonEmpty) live.max else -1L
      require(batchId >= maxLive,
        s"out-of-protocol replay: batch $batchId is older than the newest " +
          s"admitted batch $maxLive in $storePath — only the latest batch " +
          "may replay (reset the checkpoint and store consistently, or " +
          "rebuild the store)")
    }
    val own = new org.apache.hadoop.fs.Path(store, s"batch=$batchId")
    if (fs.exists(own)) fs.delete(own, true) // crashed attempt's partials
    val hasHistory = fs.exists(store) &&
      fs.listStatus(store).exists(_.getPath.getName.startsWith("batch="))

    val fpB = batch.select(
      col(idCol).as("graft_id"),
      md5(col(textCol).cast("string")).as("graft_fp"))
      .persist()

    // cap+1 probe mirrors the near-dup verify fetch
    val capProbe = math.min(maxFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val batchFps: Array[Any] =
      if (hasHistory) fpB.select("graft_fp").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    val history =
      if (!hasHistory || batchFps.isEmpty) fpB.select("graft_fp").limit(0)
      else if (batchFps.length <= maxFetch) {
        val cover = idCoverFilter(col("graft_fp"), batchFps)
        spark.read.parquet(storePath).filter(col("batch") =!= batchId)
          .where(cover.getOrElse(lit(true)))
          .filter(col("graft_fp").isInCollection(batchFps.toSeq))
          .select("graft_fp")
      } else
        spark.read.parquet(storePath).filter(col("batch") =!= batchId)
          .select("graft_fp")

    val dupOfHistory = fpB
      .join(history, Seq("graft_fp"), "left_semi")
      .select(col("graft_id").as(idCol))
    // within-batch: min id per fingerprint survives
    val dupInBatch = fpB
      .join(fpB.groupBy("graft_fp").agg(min("graft_id").as("graft_keep")),
        Seq("graft_fp"))
      .filter(col("graft_id") =!= col("graft_keep"))
      .select(col("graft_id").as(idCol))

    val admitted = batch
      .join(dupOfHistory.unionByName(dupInBatch).distinct(), Seq(idCol), "left_anti")
      .persist()
    // admitted fingerprints → this batch's own partition; the write also
    // materializes the admitted cache so fpB can be released here
    fpB.join(admitted.select(col(idCol).as("graft_id")), Seq("graft_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
    fpB.unpersist()
    admitted
    }
  }

  /** Maintenance for an [[exactDedupStream]] store: fold every batch
    * partition except the latest into `batch=-1`, sorted by fingerprint
    * (row-group-prunable history lookups, better compression). Same
    * crash posture as the near-dup folds: staged partition-dir swap,
    * marker-gated roll-forward, footer row-count parity. */
  def maintainExactDedupStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.operators.CommitLog.isLog(fs, store))
      return maintainExactDedupStoreLog(spark, storePath, targetFileBytes)
    graft.operators.Swap.withStoreLease(
      spark, new org.apache.hadoop.fs.Path(storePath)) { _ =>
      foldBatchPartitions(spark, storePath, targetFileBytes, reagg = None,
        sortCols = Seq("graft_fp"))
    }
  }

  /** Incremental EMBEDDING near-dup dedup (r17 verdict item 5 — the
    * semantic twin of [[nearDupStream]] / [[exactDedupStream]]): each
    * micro-batch of (id, embedding) rows is checked against a
    * persistent vector store of everything ever admitted; rows whose
    * cosine to any admitted vector reaches `threshold` are dropped (and
    * within the batch the larger id of a qualifying pair drops — the
    * same pairwise convention as the text stream), and the admitted
    * rows' vectors + replayable hyperplane buckets append to the store.
    *
    * Unlike the text store (whose cross-batch similarity is a MinHash
    * ESTIMATE), the vector store holds the embeddings themselves —
    * fixed-width per doc — so cross-batch cosine is EXACT and the
    * streamed admission decomposes cleanly: a row's fate depends only
    * on (row, admitted history), which is what the batch≡stream parity
    * spec pins. Candidate blocking rides the SAME replayable hyperplane
    * buckets as the batch operator ([[graft.operators.Dedup
    * .embeddingNearDupReplayable]]); per-trigger history cost is
    * O(bucket mates of the batch), pushed into the parquet read as an
    * In + range-cover filter over the bucket column (maintenance folds
    * sort the store by bucket, so row-group stats skip the bulk of an
    * old store).
    *
    * Store protocol = the signature-store protocol verbatim: admitted
    * rows land in a `batch=<id>` hive partition OVERWRITTEN per attempt
    * (exactly-once admissions without a marker), only the newest batch
    * may replay (guarded loudly), maintenance folds old partitions into
    * `batch=-1`, and a `.meta` sidecar pins (planes, dim) — a store
    * bucketed under different planes would block inconsistently, and a
    * different dim would silently truncate every dot product. Commit-log
    * mode engages the same way as the text stores (existing `_log/`, or
    * a new store under the session default). */
  def embeddingNearDupStream(
      vecs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      planes: Int = 8,
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = applyEmbeddingNearDupBatch(
          batch, storePath, batchId, idCol, vecCol, threshold, planes)
        try sink(admitted, batchId)
        finally admitted.unpersist()
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintainEmbeddingNearDupStore(batch.sparkSession, storePath)
      }
      .start()

  /** The per-batch step behind [[embeddingNearDupStream]] (driveable
    * directly in tests and backfills). Returns the admitted rows of
    * `batch` (persisted — the caller unpersists after its sink). */
  def applyEmbeddingNearDupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "doc_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      planes: Int = 8,
      maxBucketFetch: Int = 100000): DataFrame = {
    require(planes >= 1 && planes <= 30, s"planes=$planes out of range")
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    if (graft.operators.CommitLog.active(spark, fs, store))
      return applyEmbeddingNearDupBatchLog(batch, storePath, batchId, idCol,
        vecCol, threshold, planes, maxBucketFetch)

    graft.operators.Swap.withStoreLease(spark, store) { _ =>
    graft.operators.Swap.recoverDirs(spark, store, graft.operators.Swap.Suffix)

    if (fs.exists(store)) {
      val live = fs.listStatus(store).map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
      val maxLive = if (live.nonEmpty) live.max else -1L
      requireReplayable(batchId, maxLive, storePath)
    }
    val own = new org.apache.hadoop.fs.Path(store, s"batch=$batchId")
    if (fs.exists(own)) fs.delete(own, true) // crashed attempt's partials
    val hasHistory = fs.exists(store) &&
      fs.listStatus(store).exists(_.getPath.getName.startsWith("batch="))

    val dim = {
      val r = batch.agg(max(size(col(vecCol)))).head
      if (r.isNullAt(0)) 0 else r.getInt(0)
    }
    ensureEmbeddingMeta(fs, storePath, planes, dim,
      batchEmpty = dim == 0)

    val sigB = batch.select(
      col(idCol).as("graft_id"),
      col(vecCol).as("graft_vec"),
      (if (dim == 0) lit(0L)
       else graft.operators.Similarity
         .replayableHyperplaneBucket(col(vecCol), planes, dim))
        .as("graft_bucket"))
      .persist()

    val histRead: Array[Any] => DataFrame = buckets => {
      val cover = idCoverFilter(col("graft_bucket"), buckets)
      spark.read.parquet(storePath).filter(col("batch") =!= batchId)
        .where(cover.getOrElse(lit(true)))
        .filter(col("graft_bucket").isInCollection(buckets.toSeq))
    }
    val histFull = () =>
      spark.read.parquet(storePath).filter(col("batch") =!= batchId)

    val admitted = embeddingAdmitCore(
      batch, idCol, sigB, histRead, histFull, hasHistory, threshold,
      maxBucketFetch)
    // admitted vectors+buckets → this batch's own partition; the write
    // materializes the admitted cache so sigB can be released here
    sigB.join(admitted.select(col(idCol).as("graft_id")), Seq("graft_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
    sigB.unpersist()
    admitted
    }
  }

  /** The candidate → verify → admit middle shared by the legacy and
    * commit-log embedding store modes. Cross-batch verify is EXACT
    * cosine against bucket-mate history vectors (round-4, the
    * [[graft.operators.Similarity.exactPairs]] contract); within-batch
    * the larger id of a qualifying pair drops. */
  private def embeddingAdmitCore(
      batch: DataFrame,
      idCol: String,
      sigB: DataFrame,
      histRead: Array[Any] => DataFrame,
      histFull: () => DataFrame,
      hasHistory: Boolean,
      threshold: Double,
      maxBucketFetch: Int): DataFrame = {
    import graft.operators.Similarity
    val capProbe = math.min(maxBucketFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val batchBuckets: Array[Any] =
      if (hasHistory) sigB.select("graft_bucket").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    val history =
      if (!hasHistory || batchBuckets.isEmpty)
        sigB.select(col("graft_id").as("hist_id"),
          col("graft_vec").as("hist_vec"),
          col("graft_bucket").as("hist_bucket")).limit(0)
      else {
        val src = if (batchBuckets.length <= maxBucketFetch)
          histRead(batchBuckets) else histFull()
        src.select(col("graft_id").as("hist_id"),
          col("graft_vec").as("hist_vec"),
          col("graft_bucket").as("hist_bucket"))
      }
    val dupOfHistory = sigB
      .join(history, col("graft_bucket") === col("hist_bucket"))
      .filter(round(Similarity.cosine(col("graft_vec"), col("hist_vec")), 4)
        >= threshold)
      .select(col("graft_id").as(idCol)).distinct()
    // within-batch: bucket-blocked exact pairs, larger id drops (the
    // text stream's pairwise convention — Dedup.dedupNear's id_b rule)
    val dupInBatch = sigB.as("l")
      .join(sigB.as("r"),
        col("l.graft_bucket") === col("r.graft_bucket") &&
          col("l.graft_id") < col("r.graft_id"))
      .filter(round(Similarity.cosine(col("l.graft_vec"), col("r.graft_vec")), 4)
        >= threshold)
      .select(col("r.graft_id").as(idCol)).distinct()
    batch
      .join(dupOfHistory.unionByName(dupInBatch).distinct(), Seq(idCol), "left_anti")
      .persist()
  }

  /** Validate (or create) the `<store>.meta` sidecar pinning the bucket
    * function config: `planes` (blocking layout) and `dim` (dot-product
    * width). An empty first batch defers creation — there is nothing to
    * pin yet and no admission that depends on it. */
  private def ensureEmbeddingMeta(
      fs: org.apache.hadoop.fs.FileSystem,
      storePath: String,
      planes: Int,
      dim: Int,
      batchEmpty: Boolean): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(storePath + MetaSuffix)
    if (fs.exists(metaPath)) {
      val in = fs.open(metaPath)
      val text =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          new String(buf.toByteArray, "UTF-8")
        } finally in.close()
      val m = text.split("\n").map(_.trim).filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
      require(
        m.get("planes").contains(planes.toString) &&
          (batchEmpty || m.get("dim").contains(dim.toString)),
        s"embedding store at $storePath was built with " +
          s"(planes=${m.getOrElse("planes", "?")}, " +
          s"dim=${m.getOrElse("dim", "?")}), this stream uses " +
          s"(planes=$planes, dim=$dim) — rebuild the store or match the " +
          "configuration")
    } else if (!batchEmpty) {
      val tmp = new org.apache.hadoop.fs.Path(metaPath.toString + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(s"planes=$planes\ndim=$dim\n".getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, metaPath))
        throw new java.io.IOException(s"could not write sidecar $metaPath")
    }
  }

  /** Maintenance for an [[embeddingNearDupStream]] store: fold every
    * batch partition except the latest into `batch=-1`, sorted by
    * bucket (the history lookup's pushed bucket cover then hits tight
    * row groups) — same crash posture as the text-store folds. */
  def maintainEmbeddingNearDupStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.operators.CommitLog.isLog(fs, store))
      return maintainEmbeddingNearDupStoreLog(spark, storePath, targetFileBytes)
    graft.operators.Swap.withStoreLease(
      spark, new org.apache.hadoop.fs.Path(storePath)) { _ =>
      foldBatchPartitions(spark, storePath, targetFileBytes, reagg = None,
        sortCols = Seq("graft_bucket", "graft_id"))
    }
  }

  /** Commit-log mode of [[applyEmbeddingNearDupBatch]]: single-level log
    * store, pinned-snapshot history, manifest-stats file pruning on the
    * bucket column, replay high-water mark + (planes, dim) in the
    * manifest meta. */
  private def applyEmbeddingNearDupBatchLog(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int,
      maxBucketFetch: Int): DataFrame = {
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val baseV = CommitLog.currentVersion(fs, store)
    val meta = CommitLog.tipMeta(fs, store)
    requireReplayable(batchId,
      meta.get("maxBatch").map(_.toLong).getOrElse(-1L), storePath)

    val dim = {
      val r = batch.agg(max(size(col(vecCol)))).head
      if (r.isNullAt(0)) 0 else r.getInt(0)
    }
    val pinnedDim = meta.get("dim").map(_.toInt)
    require(meta.get("planes").forall(_.toInt == planes) &&
      (dim == 0 || pinnedDim.forall(_ == dim)),
      s"embedding store at $storePath was built with " +
        s"(planes=${meta.getOrElse("planes", "?")}, " +
        s"dim=${meta.getOrElse("dim", "?")}), this stream uses " +
        s"(planes=$planes, dim=$dim) — rebuild the store or match the " +
        "configuration")

    val histAll = CommitLog.read(spark, store, Some(baseV))
      .map(_.filter(col("batch") =!= batchId))
    val hasHistory = histAll.isDefined

    val sigB = batch.select(
      col(idCol).as("graft_id"),
      col(vecCol).as("graft_vec"),
      (if (dim == 0) lit(0L)
       else graft.operators.Similarity
         .replayableHyperplaneBucket(col(vecCol), planes, dim))
        .as("graft_bucket"))
      .persist()

    val histRead: Array[Any] => DataFrame = buckets => {
      val cover = idCoverFilter(col("graft_bucket"), buckets)
      prunedRead(spark, store, None, baseV, idRanges(buckets)) match {
        case None => sigB.limit(0)
        case Some(df) => df
          .filter(col("batch") =!= batchId)
          .where(cover.getOrElse(lit(true)))
          .filter(col("graft_bucket").isInCollection(buckets.toSeq))
      }
    }
    val admitted = embeddingAdmitCore(
      batch, idCol, sigB, histRead, () => histAll.get, hasHistory,
      threshold, maxBucketFetch)
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    sigB.join(admitted.select(col(idCol).as("graft_id")), Seq("graft_id"), "left_semi")
      .write.parquet(
        new org.apache.hadoop.fs.Path(staging, s"batch=$batchId").toString)
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = Seq(s"batch=$batchId"),
      wholeStore = false,
      meta = Map("maxBatch" -> batchId.toString,
        "planes" -> planes.toString) ++
        (pinnedDim.orElse(if (dim > 0) Some(dim) else None)
          .map(d => "dim" -> d.toString)),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_bucket"))
    sigB.unpersist()
    admitted
  }

  /** Commit-log mode of [[maintainEmbeddingNearDupStore]]: one manifest
    * folds every batch but the newest into a bucket-sorted `batch=-1`. */
  private def maintainEmbeddingNearDupStoreLog(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long): Unit =
    foldLogStoreBatches(spark, storePath, targetFileBytes,
      sortCols = Seq("graft_bucket", "graft_id"), statsCol = Some("graft_bucket"))

  /** Streaming near-dup admission over 64-bit HAMMING fingerprints — the
    * media/simhash twin of [[embeddingNearDupStream]]: image dHash/pHash,
    * audio energy fingerprints and text SimHash (anything that feeds
    * [[graft.operators.Dedup.hammingNearDupPairs]]) gain a
    * restart-survivable ingest store. Each micro-batch is checked against
    * every fingerprint ADMITTED so far; a row drops when its hash is
    * within `maxHamming` of an admitted hash (cross-batch is EXACT —
    * `bit_count(xor)` on the stored 64-bit values, no estimate) or of a
    * smaller-id row in its own batch (the pairwise larger-id-drops
    * convention shared with the text and embedding stores).
    *
    * The store exploits the measured saturation property of perceptual
    * hashes (BandAudit, r18: the dHash SUPPORT grows far slower than the
    * corpus): admission only needs the DISTINCT admitted hash values —
    * an identical later copy is hamming-0 of its predecessor and drops,
    * so the store is support-sized BY CONSTRUCTION and stops growing
    * when the fingerprint manifold saturates, no matter how many rows
    * stream through. Rows are the admitted support exploded into
    * multi-index band rows (packed (chunk, value) key in `graft_bucket`,
    * exact keys only); the PROBE side carries the radius-1 flip
    * expansion, so per-trigger history cost is O(bucket mates of the
    * batch support), pushed into the parquet read as an In + range-cover
    * filter over the bucket column (maintenance folds sort by bucket).
    * Within-batch dedup is the distinct-first collapse (class members
    * drop against their min-id representative; representative pairs run
    * over the support only — never a member-level pair expansion).
    *
    * Store protocol = the signature-store protocol verbatim: admitted
    * rows land in a `batch=<id>` hive partition OVERWRITTEN per attempt,
    * only the newest batch may replay (guarded loudly), maintenance
    * folds old partitions into `batch=-1`, and a `.meta` sidecar pins
    * `chunks` (the packed band-key layout — a store banded under a
    * different chunk split would probe garbage silently). `maxHamming`
    * is a per-call semantic knob like the embedding store's `threshold`,
    * not a layout property. Rows with a NULL fingerprint never pair and
    * are admitted (the batch core's convention). Commit-log mode engages
    * like the other stores (existing `_log/`, or session default). */
  def hammingNearDupStream(
      fps: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      hashCol: String = "fingerprint",
      maxHamming: Int = 3,
      chunks: Int = 0,
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    fps.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = applyHammingNearDupBatch(
          batch, storePath, batchId, idCol, hashCol, maxHamming, chunks)
        try sink(admitted, batchId)
        finally admitted.unpersist()
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintainHammingNearDupStore(batch.sparkSession, storePath)
      }
      .start()

  /** Streaming TEXT SimHash near-dup admission: docs(id, text) →
    * [[graft.functions.TextFunctions.simhash64Fast]] fingerprints (the
    * throughput xxhash64 kernel [[graft.operators.Dedup.simhashNearDup]]
    * uses — a private ingest store needs speed, not oracle replay) →
    * the generic [[hammingNearDupStream]] admission store. Default
    * maxHamming = 7 matches the batch q_simhash_pairs contract; chunks
    * resolves through the same autoChunks rule (7 → 4 → 16-bit keys). */
  def simhashNearDupStream(
      docs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 7,
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    hammingNearDupStream(
      docs.select(col(idCol),
        graft.functions.TextFunctions.simhash64Fast(
          graft.functions.TextFunctions.tokens(col(textCol))).as("graft_fp")),
      storePath, checkpoint, idCol = idCol, hashCol = "graft_fp",
      maxHamming = maxHamming, chunks = 0, maintainEvery = maintainEvery)(sink)

  /** Resolve the multi-index layout for a hamming store: `chunks = 0`
    * (the default) = the widest radius-1-sound split, floored at 2 so
    * the packed (chunk, value) band key always fits a non-negative long
    * (chunks=1 would make the key the raw 64-bit hash). */
  private def hammingStoreChunks(maxHamming: Int, chunks: Int): Int = {
    val n = if (chunks == 0)
      math.max(2, graft.operators.Dedup.autoChunks(maxHamming))
    else chunks
    require(n >= 2 && 64 % n == 0,
      s"chunks=$n must divide 64 and be >= 2 (the packed band key " +
        "reserves the sign bit)")
    require(maxHamming / n <= 1,
      s"per-chunk radius ${maxHamming / n} > 1 at chunks=$n — raise " +
        s"chunks so that maxHamming=$maxHamming < 2*chunks")
    n
  }

  /** Packed multi-index band keys for a 64-bit hash: one long per chunk,
    * `(chunkIdx << width) | chunkValue`. With `expand` the radius-1 flip
    * neighbors ride along (probe side); without, exact keys only (store
    * side). Width ≤ 32 because chunks ≥ 2, so the packed key is always
    * non-negative. One native loop (org.apache.spark.sql.graft.HammingBandKeys). */
  private def hammingBandKeys(
      hash: Column, nChunks: Int, expand: Boolean): Column =
    org.apache.spark.sql.graft.BandKeyExpressions.hammingBandKeys(hash, nChunks, expand)

  /** The per-batch step behind [[hammingNearDupStream]] (driveable
    * directly in tests and backfills). Returns the admitted rows of
    * `batch` (persisted — the caller unpersists after its sink). */
  def applyHammingNearDupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "doc_id",
      hashCol: String = "fingerprint",
      maxHamming: Int = 3,
      chunks: Int = 0,
      maxBucketFetch: Int = 200000): DataFrame = {
    val nChunks = hammingStoreChunks(maxHamming, chunks)
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    if (graft.operators.CommitLog.active(spark, fs, store))
      return applyHammingNearDupBatchLog(batch, storePath, batchId, idCol,
        hashCol, maxHamming, nChunks, maxBucketFetch)

    graft.operators.Swap.withStoreLease(spark, store) { _ =>
    graft.operators.Swap.recoverDirs(spark, store, graft.operators.Swap.Suffix)

    if (fs.exists(store)) {
      val live = fs.listStatus(store).map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
      val maxLive = if (live.nonEmpty) live.max else -1L
      requireReplayable(batchId, maxLive, storePath)
    }
    val own = new org.apache.hadoop.fs.Path(store, s"batch=$batchId")
    if (fs.exists(own)) fs.delete(own, true) // crashed attempt's partials
    val hasHistory = fs.exists(store) &&
      fs.listStatus(store).exists(_.getPath.getName.startsWith("batch="))

    val batchEmpty = batch.isEmpty
    ensureHammingMeta(fs, storePath, nChunks, batchEmpty)

    val histRead: Array[Any] => DataFrame = buckets => {
      val cover = idCoverFilter(col("graft_bucket"), buckets)
      spark.read.parquet(storePath).filter(col("batch") =!= batchId)
        .where(cover.getOrElse(lit(true)))
        .filter(col("graft_bucket").isInCollection(buckets.toSeq))
    }
    val histFull = () =>
      spark.read.parquet(storePath).filter(col("batch") =!= batchId)

    val (admitted, release) = hammingAdmitCore(
      batch, idCol, hashCol, histRead, histFull, hasHistory, maxHamming,
      nChunks, maxBucketFetch)
    // admitted support exploded to exact band rows → this batch's own
    // partition (the write materializes the admitted cache)
    admittedBandRows(admitted, idCol, hashCol, nChunks)
      .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
    release()
    admitted
    }
  }

  /** The candidate → verify → admit middle shared by the legacy and
    * commit-log hamming store modes: ONE banded candidate join. The batch
    * SUPPORT (distinct hash values, each keyed by its identical class's
    * min-id representative) probes with the radius-1 flip expansion
    * against a build side holding the bucket-mate history rows and the
    * exact keys of the batch support itself; candidates verify by exact
    * `bit_count(xor) <= maxHamming`. A support value drops when it is
    * close to a history hash, or to another batch value whose
    * representative has the smaller id. A batch row then drops when its
    * value dropped (whole identical classes drop together) or when it is
    * not its class's representative (hamming 0 to a smaller id). This
    * equals the pairwise larger-id-drops convention exactly: a non-min
    * member always drops, and a class min drops iff a smaller-id close
    * row exists, whose own class min is a smaller-id close
    * representative.
    *
    * Returns (admitted [persisted], release) — the caller runs `release`
    * (the class cache) once its store write has materialized `admitted`,
    * and unpersists `admitted` after its sink. */
  private def hammingAdmitCore(
      batch: DataFrame,
      idCol: String,
      hashCol: String,
      histRead: Array[Any] => DataFrame,
      histFull: () => DataFrame,
      hasHistory: Boolean,
      maxHamming: Int,
      nChunks: Int,
      maxBucketFetch: Int): (DataFrame, () => Unit) = {
    val radius = maxHamming / nChunks
    // one row per distinct hash; cached, since the bucket probe, both
    // join sides and the row-level drop all read it (the exploded probe
    // is ~chunks·(width+1) times larger and cheap to re-derive)
    val classes = batch.filter(col(hashCol).isNotNull)
      .groupBy(col(hashCol).as("graft_sh"))
      .agg(min(col(idCol)).as("graft_rep"))
      .persist()
    val probe = classes.withColumn("graft_bucket",
      explode(hammingBandKeys(col("graft_sh"), nChunks, expand = radius == 1)))
    val capProbe = math.min(maxBucketFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val batchBuckets: Array[Any] =
      if (hasHistory) probe.select("graft_bucket").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    val batchSide = classes.select(
      explode(hammingBandKeys(col("graft_sh"), nChunks, expand = false))
        .as("graft_bucket"),
      col("graft_sh").as("other_sh"), col("graft_rep").as("other_rep"))
    val build =
      if (batchBuckets.isEmpty) batchSide
      else {
        val src = if (batchBuckets.length <= maxBucketFetch)
          histRead(batchBuckets) else histFull()
        src.select(col("graft_bucket"), col("graft_sh").as("other_sh"),
          lit(null).cast(batchSide.schema("other_rep").dataType).as("other_rep"))
          .unionByName(batchSide)
      }
    val dupHashes = probe.join(build, Seq("graft_bucket"))
      .filter(col("other_rep").isNull || col("other_rep") < col("graft_rep"))
      .filter(graft.functions.TextFunctions
        .hamming64(col("graft_sh"), col("other_sh")) <= maxHamming)
      .select("graft_sh").distinct()
    val dropped = batch.join(classes, batch(hashCol) === classes("graft_sh"))
      .join(dupHashes.withColumn("graft_dup", lit(true)), Seq("graft_sh"), "left")
      .filter(col(idCol) =!= col("graft_rep") || col("graft_dup").isNotNull)
      .select(col(idCol))
    val admitted = batch.join(dropped, Seq(idCol), "left_anti").persist()
    (admitted, () => { classes.unpersist(); () })
  }

  /** Admitted rows → store rows: the distinct admitted support exploded
    * into exact band keys (NULL fingerprints are admitted but have no
    * bands, so they never occupy the store). */
  private def admittedBandRows(
      admitted: DataFrame, idCol: String, hashCol: String,
      nChunks: Int): DataFrame =
    admitted
      .filter(col(hashCol).isNotNull)
      .select(col(idCol).as("graft_id"), col(hashCol).as("graft_sh"))
      .withColumn("graft_bucket",
        explode(hammingBandKeys(col("graft_sh"), nChunks, expand = false)))

  /** Validate (or create) the `<store>.meta` sidecar pinning `chunks` —
    * the packed band-key layout. An empty first batch defers creation. */
  private def ensureHammingMeta(
      fs: org.apache.hadoop.fs.FileSystem,
      storePath: String,
      nChunks: Int,
      batchEmpty: Boolean): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(storePath + MetaSuffix)
    if (fs.exists(metaPath)) {
      val in = fs.open(metaPath)
      val text =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          new String(buf.toByteArray, "UTF-8")
        } finally in.close()
      val m = text.split("\n").map(_.trim).filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
      require(m.get("chunks").contains(nChunks.toString),
        s"hamming store at $storePath was banded with " +
          s"chunks=${m.getOrElse("chunks", "?")}, this stream uses " +
          s"chunks=$nChunks — rebuild the store or match the layout")
    } else if (!batchEmpty) {
      val tmp = new org.apache.hadoop.fs.Path(metaPath.toString + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(s"chunks=$nChunks\n".getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, metaPath))
        throw new java.io.IOException(s"could not write sidecar $metaPath")
    }
  }

  /** Maintenance for a [[hammingNearDupStream]] store: fold every batch
    * partition except the latest into `batch=-1`, sorted by bucket (the
    * history lookup's pushed bucket cover then hits tight row groups). */
  def maintainHammingNearDupStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.operators.CommitLog.isLog(fs, store))
      return maintainHammingNearDupStoreLog(spark, storePath, targetFileBytes)
    graft.operators.Swap.withStoreLease(spark, store) { _ =>
      foldBatchPartitions(spark, storePath, targetFileBytes, reagg = None,
        sortCols = Seq("graft_bucket", "graft_sh"))
    }
  }

  /** Commit-log mode of [[applyHammingNearDupBatch]]: single-level log
    * store, pinned-snapshot history, manifest-stats file pruning on the
    * bucket column, replay high-water mark + `chunks` in the manifest. */
  private def applyHammingNearDupBatchLog(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      nChunks: Int,
      maxBucketFetch: Int): DataFrame = {
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val baseV = CommitLog.currentVersion(fs, store)
    val meta = CommitLog.tipMeta(fs, store)
    requireReplayable(batchId,
      meta.get("maxBatch").map(_.toLong).getOrElse(-1L), storePath)
    require(meta.get("chunks").forall(_.toInt == nChunks),
      s"hamming store at $storePath was banded with " +
        s"chunks=${meta.getOrElse("chunks", "?")}, this stream uses " +
        s"chunks=$nChunks — rebuild the store or match the layout")

    val histAll = CommitLog.read(spark, store, Some(baseV))
      .map(_.filter(col("batch") =!= batchId))
    val hasHistory = histAll.isDefined

    val histRead: Array[Any] => DataFrame = buckets => {
      val cover = idCoverFilter(col("graft_bucket"), buckets)
      prunedRead(spark, store, None, baseV, idRanges(buckets)) match {
        case None => batch.select(col(idCol).as("graft_id"),
          col(hashCol).as("graft_sh"), lit(0L).as("graft_bucket")).limit(0)
        case Some(df) => df
          .filter(col("batch") =!= batchId)
          .where(cover.getOrElse(lit(true)))
          .filter(col("graft_bucket").isInCollection(buckets.toSeq))
      }
    }
    val (admitted, release) = hammingAdmitCore(
      batch, idCol, hashCol, histRead, () => histAll.get, hasHistory,
      maxHamming, nChunks, maxBucketFetch)
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    admittedBandRows(admitted, idCol, hashCol, nChunks)
      .write.parquet(
        new org.apache.hadoop.fs.Path(staging, s"batch=$batchId").toString)
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = Seq(s"batch=$batchId"),
      wholeStore = false,
      meta = Map("maxBatch" -> batchId.toString,
        "chunks" -> nChunks.toString),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_bucket"))
    release()
    admitted
  }

  /** Commit-log mode of [[maintainHammingNearDupStore]]: one manifest
    * folds every batch but the newest into a bucket-sorted `batch=-1`. */
  private def maintainHammingNearDupStoreLog(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long): Unit =
    foldLogStoreBatches(spark, storePath, targetFileBytes,
      sortCols = Seq("graft_bucket", "graft_sh"), statsCol = Some("graft_bucket"))

  /** Streaming FRAME-LEVEL (positional) hamming near-dup admission — the
    * video twin of [[hammingNearDupStream]]: items are identified by a
    * SET of aligned 64-bit fingerprints (one per sampled frame index),
    * and an item is a near-dup of another iff at least
    * `minMatchedFrames` of its SAME-INDEX frames are within `maxHamming`
    * bits — exactly the batch
    * [[graft.multimodal.Multimodal.videoNearDupPairs]] contract
    * (alignment via `groupCols`). Input rows are FRAMES
    * `(idCol, posCol, hashCol)`; admission is decided per ITEM.
    *
    * The store holds the admitted items' frame fingerprints exploded to
    * multi-index band rows with the frame position FOLDED INTO the
    * bucket key (`pos · chunks · 2^width + packed(chunk, value)`), so
    * bucket equality implies frame alignment and the probe join needs
    * no extra predicate; positions must be non-negative (a sampled
    * frame index always is). Cross-batch verify is EXACT
    * `bit_count(xor)` per aligned frame; an item drops when ≥
    * `minMatchedFrames` of its frames match ONE admitted item (matches
    * spread across different admitted items do not sum — the pair
    * semantics of the batch operator). Unlike the scalar store there is
    * no cross-item support collapse: admitted items are mutually
    * non-dup by construction, so the store is admitted-items ×
    * frames × chunks rows. Items whose frames are all NULL (or absent)
    * never pair and are admitted; an item with fewer frames than
    * `minMatchedFrames` can never DROP (the batch contract — callers
    * sampling very short clips should lower the knob).
    *
    * Store protocol = the signature-store protocol verbatim (per-attempt
    * `batch=<id>` overwrite, only-newest replay guard, bucket-sorted
    * `batch=-1` folds, `.meta`/manifest pins `chunks` — the key layout;
    * `maxHamming`/`minMatchedFrames` are per-call semantic knobs);
    * commit-log mode engages like the other stores. */
  def frameHammingNearDupStream(
      frames: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "media_id",
      posCol: String = "frame_idx",
      hashCol: String = "fhash",
      maxHamming: Int = 6,
      minMatchedFrames: Int = 4,
      chunks: Int = 0,
      maintainEvery: Int = 32)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    frames.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val admitted = applyFrameHammingNearDupBatch(
          batch, storePath, batchId, idCol, posCol, hashCol, maxHamming,
          minMatchedFrames, chunks)
        try sink(admitted, batchId)
        finally admitted.unpersist()
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          maintainFrameHammingNearDupStore(batch.sparkSession, storePath)
      }
      .start()

  /** Frame band keys: [[hammingBandKeys]] with the (non-negative) frame
    * position folded into every key — `pos · stride + packed` with
    * `stride = chunks · 2^width` — so bucket equality ⇒ same position ∧
    * same chunk ∧ same chunk value. Positions stay distinguishable up
    * to 2⁴⁵ even at the widest layout (chunks=2 → stride 2³³). */
  private def frameBandKeys(
      hash: Column, pos: Column, nChunks: Int, expand: Boolean): Column = {
    val stride = nChunks.toLong * (1L << (64 / nChunks))
    transform(hammingBandKeys(hash, nChunks, expand),
      k => pos.cast("long") * lit(stride) + k)
  }

  /** The per-batch step behind [[frameHammingNearDupStream]] (driveable
    * directly in tests and backfills). Returns the admitted FRAME rows
    * of `batch` (persisted — the caller unpersists after its sink). */
  def applyFrameHammingNearDupBatch(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String = "media_id",
      posCol: String = "frame_idx",
      hashCol: String = "fhash",
      maxHamming: Int = 6,
      minMatchedFrames: Int = 4,
      chunks: Int = 0,
      maxBucketFetch: Int = 200000): DataFrame = {
    val nChunks = hammingStoreChunks(maxHamming, chunks)
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    if (graft.operators.CommitLog.active(spark, fs, store))
      return applyFrameHammingNearDupBatchLog(batch, storePath, batchId,
        idCol, posCol, hashCol, maxHamming, minMatchedFrames, nChunks,
        maxBucketFetch)

    graft.operators.Swap.withStoreLease(spark, store) { _ =>
    graft.operators.Swap.recoverDirs(spark, store, graft.operators.Swap.Suffix)

    if (fs.exists(store)) {
      val live = fs.listStatus(store).map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
      val maxLive = if (live.nonEmpty) live.max else -1L
      requireReplayable(batchId, maxLive, storePath)
    }
    val own = new org.apache.hadoop.fs.Path(store, s"batch=$batchId")
    if (fs.exists(own)) fs.delete(own, true) // crashed attempt's partials
    val hasHistory = fs.exists(store) &&
      fs.listStatus(store).exists(_.getPath.getName.startsWith("batch="))

    val batchEmpty = batch.isEmpty
    ensureHammingMeta(fs, storePath, nChunks, batchEmpty)

    val histRead: Array[Any] => DataFrame = buckets => {
      val cover = idCoverFilter(col("graft_bucket"), buckets)
      spark.read.parquet(storePath).filter(col("batch") =!= batchId)
        .where(cover.getOrElse(lit(true)))
        .filter(col("graft_bucket").isInCollection(buckets.toSeq))
    }
    val histFull = () =>
      spark.read.parquet(storePath).filter(col("batch") =!= batchId)

    val admitted = frameHammingAdmitCore(
      batch, idCol, posCol, hashCol, histRead, histFull, hasHistory,
      maxHamming, minMatchedFrames, nChunks, maxBucketFetch)
    admittedFrameBandRows(admitted, idCol, posCol, hashCol, nChunks)
      .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")
    admitted
    }
  }

  /** The candidate → verify → admit middle shared by the legacy and
    * commit-log frame-store modes. Within-batch: the batch operator
    * verbatim — aligned-frame pairs via the distinct-first multi-index
    * join (`groupCols = posCol`), count per item pair, larger id drops
    * at ≥ `minMatchedFrames`. Cross-batch: batch frames probe
    * bucket-mate history frames (position folded into the bucket key),
    * exact per-frame hamming verify, then the SAME per-pair aligned
    * count against each admitted item. */
  private def frameHammingAdmitCore(
      batch: DataFrame,
      idCol: String,
      posCol: String,
      hashCol: String,
      histRead: Array[Any] => DataFrame,
      histFull: () => DataFrame,
      hasHistory: Boolean,
      maxHamming: Int,
      minMatchedFrames: Int,
      nChunks: Int,
      maxBucketFetch: Int): DataFrame = {
    val radius = maxHamming / nChunks
    val valid = batch.filter(col(hashCol).isNotNull && col(posCol).isNotNull)
    val dupInBatch = graft.operators.Dedup.hammingNearDupPairs(
        valid, idCol, hashCol, maxHamming, nChunks, groupCols = Seq(posCol))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("graft_m"))
      .filter(col("graft_m") >= minMatchedFrames)
      .select(col("id_b").as(idCol)).distinct()

    val probe = valid
      .select(col(idCol).as("graft_bid"),
        col(posCol).cast("long").as("graft_pos"),
        col(hashCol).as("graft_bh"))
      .withColumn("graft_bucket", explode(frameBandKeys(
        col("graft_bh"), col("graft_pos"), nChunks, expand = radius == 1)))
      .select("graft_bid", "graft_pos", "graft_bh", "graft_bucket")
      .distinct().persist()
    val capProbe = math.min(maxBucketFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val batchBuckets: Array[Any] =
      if (hasHistory) probe.select("graft_bucket").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    val dupOfHistory =
      if (!hasHistory || batchBuckets.isEmpty) batch.select(col(idCol)).limit(0)
      else {
        val src = if (batchBuckets.length <= maxBucketFetch)
          histRead(batchBuckets) else histFull()
        probe
          .join(src.select(col("graft_bucket"), col("graft_id").as("graft_hid"),
            col("graft_sh").as("graft_hh")), Seq("graft_bucket"))
          .filter(graft.functions.TextFunctions
            .hamming64(col("graft_bh"), col("graft_hh")) <= maxHamming)
          // one row per (batch item, admitted item, aligned frame)
          .select("graft_bid", "graft_hid", "graft_pos").distinct()
          .groupBy("graft_bid", "graft_hid")
          .agg(count(lit(1)).as("graft_m"))
          .filter(col("graft_m") >= minMatchedFrames)
          .select(col("graft_bid").as(idCol)).distinct()
      }
    val admitted = batch
      .join(dupOfHistory.unionByName(dupInBatch).distinct(),
        Seq(idCol), "left_anti")
      .persist()
    admitted.count() // materialize before releasing the probe cache
    probe.unpersist()
    admitted
  }

  /** Admitted frame rows → store rows: exact band keys only (no flip
    * expansion — that rides the probe side). */
  private def admittedFrameBandRows(
      admitted: DataFrame, idCol: String, posCol: String, hashCol: String,
      nChunks: Int): DataFrame =
    admitted
      .filter(col(hashCol).isNotNull && col(posCol).isNotNull)
      .select(col(idCol).as("graft_id"),
        col(posCol).cast("long").as("graft_pos"),
        col(hashCol).as("graft_sh"))
      .withColumn("graft_bucket", explode(frameBandKeys(
        col("graft_sh"), col("graft_pos"), nChunks, expand = false)))

  /** Maintenance for a [[frameHammingNearDupStream]] store: fold every
    * batch partition except the latest into `batch=-1`, sorted by bucket
    * (the probe's pushed bucket cover then hits tight row groups). */
  def maintainFrameHammingNearDupStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.operators.CommitLog.isLog(fs, store))
      return foldLogStoreBatches(spark, storePath, targetFileBytes,
        sortCols = Seq("graft_bucket", "graft_id"),
        statsCol = Some("graft_bucket"))
    graft.operators.Swap.withStoreLease(spark, store) { _ =>
      foldBatchPartitions(spark, storePath, targetFileBytes, reagg = None,
        sortCols = Seq("graft_bucket", "graft_id"))
    }
  }

  /** Commit-log mode of [[applyFrameHammingNearDupBatch]] — the scalar
    * store's log mode with the frame-store schema: single-level log,
    * pinned-snapshot history, manifest-stats file pruning on the bucket
    * column, replay high-water mark + `chunks` in the manifest. */
  private def applyFrameHammingNearDupBatchLog(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String,
      posCol: String,
      hashCol: String,
      maxHamming: Int,
      minMatchedFrames: Int,
      nChunks: Int,
      maxBucketFetch: Int): DataFrame = {
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val baseV = CommitLog.currentVersion(fs, store)
    val meta = CommitLog.tipMeta(fs, store)
    requireReplayable(batchId,
      meta.get("maxBatch").map(_.toLong).getOrElse(-1L), storePath)
    require(meta.get("chunks").forall(_.toInt == nChunks),
      s"frame hamming store at $storePath was banded with " +
        s"chunks=${meta.getOrElse("chunks", "?")}, this stream uses " +
        s"chunks=$nChunks — rebuild the store or match the layout")

    val histAll = CommitLog.read(spark, store, Some(baseV))
      .map(_.filter(col("batch") =!= batchId))
    val hasHistory = histAll.isDefined

    val histRead: Array[Any] => DataFrame = buckets => {
      val cover = idCoverFilter(col("graft_bucket"), buckets)
      prunedRead(spark, store, None, baseV, idRanges(buckets)) match {
        case None => batch.select(col(idCol).as("graft_id"),
          lit(0L).as("graft_pos"), col(hashCol).as("graft_sh"),
          lit(0L).as("graft_bucket")).limit(0)
        case Some(df) => df
          .filter(col("batch") =!= batchId)
          .where(cover.getOrElse(lit(true)))
          .filter(col("graft_bucket").isInCollection(buckets.toSeq))
      }
    }
    val admitted = frameHammingAdmitCore(
      batch, idCol, posCol, hashCol, histRead, () => histAll.get,
      hasHistory, maxHamming, minMatchedFrames, nChunks, maxBucketFetch)
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    admittedFrameBandRows(admitted, idCol, posCol, hashCol, nChunks)
      .write.parquet(
        new org.apache.hadoop.fs.Path(staging, s"batch=$batchId").toString)
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = Seq(s"batch=$batchId"),
      wholeStore = false,
      meta = Map("maxBatch" -> batchId.toString,
        "chunks" -> nChunks.toString),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_bucket"))
    admitted
  }

  /** Commit-log mode of [[applyExactDedupBatch]]: the fingerprint store
    * is a plain single-level log store (`store/_log/` +
    * `store/batch=<id>/`) — one manifest per batch, replays
    * retire-and-replace their own partition, the replay high-water mark
    * rides the manifest meta (surviving folds, which the legacy live-dir
    * listing does not), and concurrent writers serialize loudly through
    * [[graft.operators.CommitLog.SerialToken]] instead of a lease. */
  private def applyExactDedupBatchLog(
      batch: DataFrame,
      storePath: String,
      batchId: Long,
      idCol: String,
      textCol: String,
      maxFetch: Int): DataFrame = {
    import graft.operators.CommitLog
    val spark = batch.sparkSession
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val baseV = CommitLog.currentVersion(fs, store)
    requireReplayable(batchId,
      CommitLog.tipMeta(fs, store).get("maxBatch").map(_.toLong).getOrElse(-1L),
      storePath)
    // pinned snapshot minus the current batch (replay idempotence)
    val histAll = CommitLog.read(spark, store, Some(baseV))
      .map(_.filter(col("batch") =!= batchId))
    val hasHistory = histAll.isDefined

    val fpB = batch.select(
      col(idCol).as("graft_id"),
      md5(col(textCol).cast("string")).as("graft_fp"))
      .persist()

    // cap+1 probe mirrors the near-dup verify fetch
    val capProbe = math.min(maxFetch.toLong + 1L, Int.MaxValue.toLong).toInt
    val batchFps: Array[Any] =
      if (hasHistory) fpB.select("graft_fp").distinct().limit(capProbe)
        .collect().map(_.get(0))
      else Array.empty[Any]
    val history =
      if (!hasHistory || batchFps.isEmpty) fpB.select("graft_fp").limit(0)
      else if (batchFps.length <= maxFetch) {
        val cover = idCoverFilter(col("graft_fp"), batchFps)
        // manifest-stats file pruning first (folds sort by fingerprint,
        // so per-file ranges are tight), pushed filters inside the kept
        // files second
        prunedRead(spark, store, None, baseV, idRanges(batchFps)) match {
          case None => fpB.select("graft_fp").limit(0)
          case Some(df) => df
            .filter(col("batch") =!= batchId)
            .where(cover.getOrElse(lit(true)))
            .filter(col("graft_fp").isInCollection(batchFps.toSeq))
            .select("graft_fp")
        }
      } else histAll.get.select("graft_fp")

    val dupOfHistory = fpB
      .join(history, Seq("graft_fp"), "left_semi")
      .select(col("graft_id").as(idCol))
    // within-batch: min id per fingerprint survives
    val dupInBatch = fpB
      .join(fpB.groupBy("graft_fp").agg(min("graft_id").as("graft_keep")),
        Seq("graft_fp"))
      .filter(col("graft_id") =!= col("graft_keep"))
      .select(col("graft_id").as(idCol))

    val admitted = batch
      .join(dupOfHistory.unionByName(dupInBatch).distinct(), Seq(idCol), "left_anti")
      .persist()
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    fpB.join(admitted.select(col(idCol).as("graft_id")), Seq("graft_id"), "left_semi")
      .write.parquet(
        new org.apache.hadoop.fs.Path(staging, s"batch=$batchId").toString)
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = Seq(s"batch=$batchId"),
      wholeStore = false,
      meta = Map("maxBatch" -> batchId.toString),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = Some("graft_fp"))
    fpB.unpersist()
    admitted
  }

  /** Commit-log mode of [[maintainExactDedupStore]]: one manifest folds
    * every batch but the newest into a sorted `batch=-1`, parity-checked
    * from footers pre-commit. */
  private def maintainExactDedupStoreLog(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long): Unit =
    foldLogStoreBatches(spark, storePath, targetFileBytes,
      sortCols = Seq("graft_fp"), statsCol = Some("graft_fp"))

  /** Shared single-level log-store fold (exact-dedup and embedding
    * stores): one manifest folds every batch but the newest into
    * `batch=-1`, range-partitioned and sorted by `sortCols` so the
    * per-file stats ranges stay tight for the history lookups,
    * parity-checked from footers pre-commit. */
  private def foldLogStoreBatches(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileBytes: Long,
      sortCols: Seq[String],
      statsCol: Option[String]): Unit = {
    import graft.operators.CommitLog
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseV = CommitLog.currentVersion(fs, store)
    if (baseV == 0) return
    val files = CommitLog.snapshotFiles(fs, store, baseV)
    val ids = files.flatMap(_.split('/').headOption).distinct
      .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
    val live = ids.filter(_ >= 0)
    if (live.isEmpty) return
    val maxId = live.max
    val foldIds = ids.filter(_ < maxId).sorted
    if (!foldIds.exists(_ >= 0)) return

    val inFiles = files.filter(f =>
      foldIds.exists(i => f.startsWith(s"batch=$i/")))
    val bytes = inFiles
      .map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(store, f)).getLen)
      .sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val folded = CommitLog.read(spark, store, Some(baseV)).get
      .filter(col("batch").isin(foldIds: _*)).drop("batch")
      .repartitionByRange(nOut, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
    val staging = graft.operators.Swap.Suffix.staging(
      store, graft.operators.Swap.newTag())
    val dest = new org.apache.hadoop.fs.Path(staging, "batch=-1")
    folded.write.parquet(dest.toString)
    val before = graft.operators.Compact.footerRowsOf(spark,
      inFiles.map(new org.apache.hadoop.fs.Path(store, _)))
    val after = graft.operators.Compact.footerRowsIn(spark, Seq(dest))
    if (before != after) {
      fs.delete(staging, true)
      throw new IllegalStateException(
        s"fold row mismatch for $storePath: $before -> $after (store untouched)")
    }
    CommitLog.commitStaged(spark, store, staging, baseV,
      retireNames = foldIds.map("batch=" + _),
      wholeStore = false,
      meta = CommitLog.tipMeta(fs, store),
      extraTouched = Seq(CommitLog.SerialToken),
      statsCol = statsCol) // sorted fold → tight per-file ranges
    // same rationale as the near-dup fold: maintenance is when the store
    // physically shrinks
    CommitLog.vacuum(spark, store)
    ()
  }

  /** Fold all `batch=<id>` dirs of `rootPath` except the highest id into
    * `batch=-1`. No-op when there is nothing to fold. (Test-visible so
    * the crash window BETWEEN per-root folds — store folded, sidecars
    * not — can be driven directly.) */
  private[graft] def foldBatchPartitions(
      spark: org.apache.spark.sql.SparkSession,
      rootPath: String,
      targetFileBytes: Long,
      reagg: Option[DataFrame => DataFrame],
      sortCols: Seq[String] = Nil): Unit = {
    val root = new org.apache.hadoop.fs.Path(rootPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    graft.operators.Swap.recoverDirs(spark, root, graft.operators.Swap.Suffix)
    val partDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
    val ids = partDirs.map(_.getPath.getName.stripPrefix("batch=").toLong)
    val live = ids.filter(_ >= 0)
    if (live.isEmpty) return
    val maxId = live.max
    val foldIds = ids.filter(_ < maxId).sorted // includes a previous -1
    if (foldIds.count(_ >= 0) == 0) return     // only the fold itself left
    val foldNames = foldIds.map("batch=" + _)
    val foldBytes = partDirs
      .filter(s => foldNames.contains(s.getPath.getName))
      .flatMap(s => fs.listStatus(s.getPath))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nOut = math.max(1, math.ceil(foldBytes.toDouble / targetFileBytes).toInt)
    val folded = spark.read.parquet(rootPath)
      .filter(col("batch").isin(foldIds: _*)).drop("batch")
    val combined = reagg.fold(folded)(f => f(folded))
    // range-partition + sort (not a global sort): each output file holds
    // a contiguous key range, so parquet row-group min/max stats prune
    // point lookups and similar rows compress together
    val out =
      if (sortCols.isEmpty) combined.repartition(nOut)
      else combined
        .repartitionByRange(nOut, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    val tag = graft.operators.Swap.newTag()
    val staging = graft.operators.Swap.Suffix.staging(root, tag)
    val retired = graft.operators.Swap.Suffix.retired(root, tag)
    out.write.parquet(new org.apache.hadoop.fs.Path(staging, "batch=-1").toString)
    // content parity before the point of no return: a fold must never
    // lose rows (footer reads, no cluster job; skipped when the fold
    // legitimately re-aggregates)
    if (reagg.isEmpty) {
      val before = graft.operators.Compact.footerRowsIn(
        spark, foldNames.map(new org.apache.hadoop.fs.Path(root, _)))
      val after = graft.operators.Compact.footerRowsIn(
        spark, Seq(new org.apache.hadoop.fs.Path(staging, "batch=-1")))
      if (before != after) {
        fs.delete(staging, true)
        throw new IllegalStateException(
          s"fold row mismatch for $rootPath: $before -> $after (store untouched)")
      }
    }
    graft.operators.Swap.commitDirs(fs, root, staging, retired, foldNames.toSeq)
  }
}
