package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.FoundNode
import graft.sources.History

/** Structured Streaming ingestion for the findings history table — the
  * streaming extension SURVEY §2.9 sketches (the reference is batch-only;
  * its policyOverwrite reducer IS an incremental keyed state update, so
  * mapGroupsWithState expresses it natively).
  *
  * Shapes:
  *  - [[appendToHistory]]: findings stream → append-only parquet history
  *    (the S11 "addFoundNode" sink re-expressed as a table append);
  *  - [[latestPerNode]]: incremental policyOverwrite — keyed state holds
  *    each node's latest finding; update-mode output re-emits a node only
  *    when its latest finding changes;
  *  - [[findingCounts]]: event-time windowed counts with a watermark
  *    (late findings beyond the watermark are dropped — the streaming
  *    refinement of the interval predicate P1).
  */
object StreamingIngest {

  /** Latest finding per node, maintained incrementally. Emits (subject,
    * epoch_ms, finding_seq) rows whenever a node's latest advances. */
  case class NodeLatest(subject: String, epochMs: Long, findingSeq: Long)

  def latestPerNode(findings: Dataset[FoundNode]): Dataset[NodeLatest] = {
    val spark = findings.sparkSession
    import spark.implicits._
    findings
      .groupByKey(_.subjectNode)
      .mapGroupsWithState[NodeLatest, NodeLatest](
        GroupStateTimeout.NoTimeout) {
        (subject: String, batch: Iterator[FoundNode], state: GroupState[NodeLatest]) =>
          def newer(a: NodeLatest, b: NodeLatest): NodeLatest =
            if (b.epochMs > a.epochMs ||
              (b.epochMs == a.epochMs && b.findingSeq > a.findingSeq)) b else a
          val incoming = batch.map(f => NodeLatest(subject, f.epochMs, f.findingSeq))
            .reduceOption(newer)
          val current = state.getOption
          val best = (current ++ incoming).reduceOption(newer)
          best.foreach(state.update)
          best.getOrElse(NodeLatest(subject, Long.MinValue, 0L))
      }
  }

  /** Incrementally-unified snapshot links: the A1 default unifier as
    * per-pair keyed state. Each pair's state holds its current winning
    * sample; a batch emits a link row only when the winner CHANGES
    * (including a change to "no link" when a newer unused observation
    * wins — emitted with link_state = unused so downstream sinks can
    * retract). flatMapGroupsWithState because a pair may emit nothing
    * for a batch. */
  case class PairState(subject: String, target: String, linkState: String,
      epochMs: Long, sampleSeq: Long)

  def unifiedLinkUpdates(findings: Dataset[FoundNode]): Dataset[PairState] = {
    val spark = findings.sparkSession
    import spark.implicits._
    val samples = findings.flatMap { f =>
      f.neighborLinks.zipWithIndex.map { case (l, i) =>
        PairState(f.subjectNode, l.targetNode, l.linkState, f.epochMs,
          f.findingSeq * 1000000 + i)
      }
    }
    def newer(a: PairState, b: PairState): PairState =
      if (b.epochMs > a.epochMs ||
        (b.epochMs == a.epochMs && b.sampleSeq > a.sampleSeq)) b else a
    samples
      .groupByKey(s => {
        val lo = if (s.subject <= s.target) s.subject else s.target
        val hi = if (s.subject <= s.target) s.target else s.subject
        (lo, hi)
      })
      .flatMapGroupsWithState[PairState, PairState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (_, batch: Iterator[PairState], state: GroupState[PairState]) =>
          val incoming = batch.reduceOption(newer)
          val best = (state.getOption ++ incoming).reduceOption(newer)
          (best, state.getOption) match {
            case (Some(b), Some(prev)) if b == prev => Iterator.empty
            case (Some(b), _) => state.update(b); Iterator.single(b)
            case _ => Iterator.empty
          }
      }
  }

  /** Event-time windowed finding counts per node with watermarking. */
  def findingCounts(findings: Dataset[FoundNode], windowDur: String,
      watermark: String): DataFrame = {
    findings.toDF()
      .withColumn("event_time", timestamp_millis(col("epochMs")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDur),
        col("subjectNode").as("subject"))
      .agg(count(lit(1)).as("n_findings"),
        max(col("epochMs")).as("latest_ms"))
  }

  /** Enforce a takedown manifest on a live document stream: the
    * streaming half of [[graft.dedup.Dedup.applyTakedown]] (delegates —
    * one enforcement semantics for both lanes). Structured Streaming
    * re-evaluates the static side per micro-batch, so appending new
    * rows to a parquet-backed manifest takes effect on the NEXT batch
    * without restarting the query — the compliance property a takedown
    * lane needs. */
  def applyTakedownStream(docs: DataFrame, manifest: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    graft.dedup.Dedup.applyTakedown(docs, manifest, idCol)

  /** Streaming exact dedup for document ingestion: drop re-observed
    * content (by normalized-token fingerprint) within the watermark
    * horizon. `dropDuplicatesWithinWatermark` keys state on the content
    * hash and EXPIRES it past the watermark — bounded state, unlike a
    * bare dropDuplicates whose key set grows forever. The streaming twin
    * of Dedup.exact. Input columns: doc_id, text, epoch_ms. */
  def dedupDocStream(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash", graft.text.TextOps.fingerprint(col("text")))
      .withColumn("event_time", timestamp_millis(col("epoch_ms")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming sessionization — the q31 gap-split as an incremental
    * query: native `session_window` keeps one state row per OPEN
    * session per key, merges/extends it as events arrive across
    * micro-batches, and (append mode) emits the finished session once
    * the watermark passes its end (last event + gap) — so state is
    * bounded by the number of concurrently-open sessions, never the
    * event history. Boundary note vs the batch q31: a gap of EXACTLY
    * `gap` starts a new session here (window ends are exclusive);
    * the batch window-lag formulation keeps it (strict >). Input
    * columns: `keyCol`, `epoch_ms`. Output: key, session_start/end_ms
    * (observed event extent), n_events. */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes",
      keyCol: String = "user_id"): DataFrame =
    events
      .withColumn("event_time", timestamp_millis(col("epoch_ms")))
      .withWatermark("event_time", watermark)
      .groupBy(col(keyCol), session_window(col("event_time"), gap))
      .agg(min(col("epoch_ms")).as("session_start_ms"),
        max(col("epoch_ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"))
      .select(col(keyCol), col("session_start_ms"),
        col("session_end_ms"), col("n_events"))

  /** Streaming training-data ingest — the q121 daily-ingest chain as a
    * continuous pipeline, in the SAME stage order as the batch gate so
    * the two paths agree on which docs survive: watermarked exact dedup
    * on the RAW text ([[dedupDocStream]]'s state, bounded by the
    * watermark) → optional benchmark decontamination (drop docs sharing
    * any word n-gram with `benchGrams` — an eval set is small, so its
    * distinct grams travel as a literal array, keeping the stage
    * stateless and append-mode-safe) → PII redaction
    * ([[graft.text.Pii.redact]]) → integer quality gate
    * ([[graft.text.QualityModel.keepColumn]], applied to the redacted
    * text, as in q121). Input columns: doc_id, text, epoch_ms; output
    * adds score and content_hash/event_time from the dedup stage. */
  def ingestDocStream(docs: DataFrame, weights: Map[String, Long],
      bias: Long = 0L, thresholdPpm: Long = 0L,
      watermark: String = "10 minutes",
      benchGrams: Seq[String] = Nil, benchN: Int = 3): DataFrame = {
    val deduped = dedupDocStream(docs, watermark)
    val decontaminated =
      if (benchGrams.isEmpty) deduped
      else {
        val toks = graft.text.TextOps.tokens(col("text"))
        // codegen'd all-shingles (r16); the size ≥ benchN guard keeps
        // the short-doc edge (< benchN tokens → no grams) identical to
        // the sequence-HOF form it replaces
        val grams = when(size(toks) >= benchN,
          graft.functions.TextExpressions.allWordShingles(toks, benchN))
          .otherwise(array().cast("array<string>"))
        deduped.filter(!exists(grams,
          g => array_contains(lit(benchGrams.toArray), g)))
      }
    decontaminated
      .withColumn("text", graft.text.Pii.redact(col("text")))
      .withColumn("score", graft.text.QualityModel.scoreColumn(
        col("text"), weights, bias))
      .filter(graft.text.QualityModel.keepColumn(
        col("text"), weights, bias, thresholdPpm))
  }

  /** Stream-stream DIO⋈DAO combine: the J3 per-node two-layer merge as a
    * windowed stream-stream inner join — each side watermarked, the join
    * condition bounding |dio_time − dao_time| ≤ `tolerance` so Spark can
    * expire join state (an unbounded-time stream-stream join would hold
    * both streams forever). Emits one row per (node, dio, dao)
    * co-observation. Input columns on both sides: subject, epoch_ms,
    * finding_seq. */
  def combineStreams(dio: DataFrame, dao: DataFrame,
      watermark: String = "10 minutes",
      tolerance: String = "5 minutes"): DataFrame = {
    val l = dio.select(col("subject"),
        timestamp_millis(col("epoch_ms")).as("dio_time"),
        col("finding_seq").as("dio_seq"))
      .withWatermark("dio_time", watermark)
    val r = dao.select(col("subject").as("dao_subject"),
        timestamp_millis(col("epoch_ms")).as("dao_time"),
        col("finding_seq").as("dao_seq"))
      .withWatermark("dao_time", watermark)
    l.join(r,
      col("subject") === col("dao_subject") &&
        col("dao_time") >= col("dio_time") - expr(s"INTERVAL $tolerance") &&
        col("dao_time") <= col("dio_time") + expr(s"INTERVAL $tolerance"))
      .select(col("subject"), col("dio_time"), col("dio_seq"),
        col("dao_time"), col("dao_seq"))
  }

  /** Canonical input row for [[asOfJoinStream]]: both sides union into
    * this shape (`isLeft` tags the probe side). Wider payloads ride by
    * `id` — join the output back to the source streams/tables.
    * `event_time` mirrors `ts` as a timestamp: the watermark must be
    * declared on a column that reaches the stateful operator, so it
    * rides along (the state function itself only reads `ts`). */
  case class AsOfIn(key: String, ts: Long, isLeft: Boolean, id: Long,
      value: Double, event_time: java.sql.Timestamp)

  object AsOfIn {
    def apply(key: String, ts: Long, isLeft: Boolean, id: Long,
        value: Double): AsOfIn =
      AsOfIn(key, ts, isLeft, id, value, new java.sql.Timestamp(ts))
  }

  /** One matched probe row: the left event plus the latest right event
    * at-or-before it (None when no admissible right exists). */
  case class AsOfOut(key: String, leftId: Long, leftTs: Long,
      rightId: Option[Long], rightTs: Option[Long],
      rightValue: Option[Double])

  /** STREAM-STREAM AS-OF join — the streaming twin of
    * `TemporalJoins.asOfJoin`, which no built-in stream join expresses
    * (stream-stream joins need a bounded time tolerance; as-of wants
    * "latest right ≤ t, however old"). Per-key state buffers:
    *
    *  - pending LEFT rows until the watermark passes their event time —
    *    only then can no earlier-or-equal right still arrive, so the
    *    match is final (event-time-correct regardless of arrival order
    *    across micro-batches);
    *  - RIGHT rows pruned to the newest one at-or-below the watermark
    *    plus everything after it — exactly the set a future left can
    *    still match. State stays bounded as the watermark advances.
    *
    * Flushing uses an EventTimeTimeout set to the oldest pending left,
    * so buffered probes emit even when their key receives no further
    * traffic. Ties on right event time resolve to the greatest id.
    * Callers must `withWatermark("event_time", ...)` — see
    * [[asOfInput]]. Output mode: append.
    *
    * BEHAVIOR CHANGE (round 6): right-only state now EXPIRES once the
    * watermark is `rightRetentionMs` (default 1 day of event time) past
    * a key's newest right — previously it was held forever, a slow
    * state leak across short-lived keys. A probe arriving later than
    * the horizon after its key's last right now emits None where it
    * used to match; pass `rightRetentionMs = Long.MaxValue` to restore
    * the old retain-forever semantics where that lateness is real. */
  def asOfJoinStream(tagged: Dataset[AsOfIn],
      rightRetentionMs: Long = 86400000L): Dataset[AsOfOut] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged
      .groupByKey(_.key)
      .flatMapGroupsWithState[(List[(Long, Long)], List[(Long, Long, Double)]), AsOfOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, batch, state) =>
          var (pending, rights) = state.getOption.getOrElse((Nil, Nil))
          batch.foreach { e =>
            if (e.isLeft) pending = (e.ts, e.id) :: pending
            else rights = (e.ts, e.id, e.value) :: rights
          }
          val wm = state.getCurrentWatermarkMs()
          // sort rights by (ts, id): last admissible = deterministic winner
          val rSorted = rights.distinct.sortBy(r => (r._1, r._2))
          val (ripe, still) = pending.distinct.partition(_._1 <= wm)
          val out = ripe.sortBy(identity).map { case (t, id) =>
            val m = rSorted.takeWhile(_._1 <= t).lastOption
            AsOfOut(key, id, t, m.map(_._2), m.map(_._1), m.map(_._3))
          }
          // prune: a future probe has ts > wm, so of the rights with
          // ts <= wm only the newest can ever win again
          val (below, above) = rSorted.partition(_._1 <= wm)
          val kept = below.takeRight(1) ::: above
          // right-only state expires once the watermark is more than
          // `rightRetentionMs` past the newest retained right: without
          // an expiry, a key that saw rights but never another probe
          // would hold its newest right forever (slow state leak across
          // many short-lived keys). A probe arriving later than the
          // retention horizon after the last right finds no match.
          // subtraction form so rightRetentionMs = Long.MaxValue
          // (retain-forever) cannot overflow the comparison
          val rightsExpired = still.isEmpty && kept.nonEmpty &&
            wm - kept.map(_._1).max > rightRetentionMs
          if (still.isEmpty && (kept.isEmpty || rightsExpired)) state.remove()
          else {
            state.update((still, kept))
            val wake =
              if (still.nonEmpty) still.map(_._1).min
              else { // expiry sweep (kept nonEmpty here, else removed)
                val newest = kept.map(_._1).max
                val h = newest + rightRetentionMs
                if (h < newest) Long.MaxValue - 1 else h // overflow-safe
              }
            state.setTimeoutTimestamp(math.max(wake, wm + 1))
          }
          out.iterator
      }
  }

  /** Tag + watermark helper for [[asOfJoinStream]]: unions a probe-side
    * and a match-side stream (columns: key, ts, id [, value]) into the
    * canonical watermarked input. */
  def asOfInput(lefts: DataFrame, rights: DataFrame,
      watermark: String = "10 minutes"): Dataset[AsOfIn] = {
    val spark = lefts.sparkSession
    import spark.implicits._
    val l = lefts.select(col("key"), col("ts").cast("long"), lit(true).as("isLeft"),
      col("id").cast("long"), lit(0.0d).as("value"))
    val r = rights.select(col("key"), col("ts").cast("long"), lit(false).as("isLeft"),
      col("id").cast("long"), col("value").cast("double"))
    l.unionByName(r)
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermark)
      .as[AsOfIn]
  }

  /** Continuously-MATERIALIZED snapshot input: each micro-batch folds
    * its findings into a compact latest-per-finding-per-node parquet
    * table (PolicyOverwrite applied incrementally), so snapshot queries
    * read one row per node instead of replaying the whole history. The
    * table is swapped atomically per batch (staging dir + rename, same
    * discipline as History.compact) — readers never see a half-written
    * view. The batch work is one unionByName + latest-per-key hash
    * aggregation over (existing ∪ new), both map-side partial. */
  def materializeLatest(findings: Dataset[FoundNode], tableDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.model.Findings.toCanonical(findings)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        foldLatest(batch, tableDir)
      }
      .start()

  /** Folds `batch` into the latest-finding-per-node table at `dir`
    * (Overwrite retention over existing ∪ batch) and swaps it in. */
  private def foldLatest(batch: DataFrame, dir: String): Unit = {
    val spark = batch.sparkSession
    val cur = new org.apache.hadoop.fs.Path(dir)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: a driver death between rename(cur, old) and
    // rename(staging, cur) leaves only the .old dir — without this
    // restore the next batch would read EMPTY existing state and
    // silently rebuild the view from one batch (the checkpoint
    // already marks earlier batches committed).
    recoverSwap(fs, dir)
    val existing =
      if (fs.exists(cur)) History.readParquet(spark, Seq(dir))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        batch.schema)
    // the staging write reads the old files before any rename
    stagedSwap(graft.operators.Weave.retainFindings(
      existing.unionByName(batch, allowMissingColumns = true),
      graft.operators.PolicyOverwrite), dir)
  }

  /** Swap-dir discipline shared by the materialized views: recover a
    * table stranded between the two renames of a previous crash, then
    * atomically-ish swap the staged dir in. Single-writer per dir. */
  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    val cur = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    if (!fs.exists(cur) && fs.exists(old)) { fs.rename(old, cur); () }
  }

  private def stagedSwap(df: DataFrame, dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    val staging = new org.apache.hadoop.fs.Path(dir + ".staging")
    df.write.mode("overwrite").parquet(staging.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(cur)) fs.rename(cur, old)
    fs.rename(staging, cur)
    fs.delete(old, true)
    ()
  }

  /** Continuously-materialized SNAPSHOT GRAPH: each micro-batch folds
    * its findings into the compact retained state (PolicyOverwrite
    * applied incrementally — one row per node, like
    * [[materializeLatest]]) and re-weaves the full snapshot from THAT
    * state, swapping `dir/retained`, `dir/nodes` and `dir/links`
    * atomically-ish per batch. Readers always see a complete,
    * consistent-per-table snapshot without replaying history; the
    * re-weave cost is bounded by the NODE count, not the findings
    * history. Unification (incl. negation) uses the given
    * [[graft.operators.LinkUnifier]]. */
  def materializeSnapshot(findings: Dataset[FoundNode], dir: String,
      checkpointDir: String,
      unifier: graft.operators.LinkUnifier = new graft.operators.StdUnifier())
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.model.Findings.toCanonical(findings)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val retainedDir = s"$dir/retained"
        foldLatest(batch, retainedDir)
        // the snapshot is re-woven from the freshly-swapped stable files
        val stable = graft.operators.Weave.snapshot(
          History.readParquet(spark, Seq(retainedDir)),
          graft.operators.PolicyAppend /* already retained */, unifier)
        stagedSwap(stable.nodes, s"$dir/nodes")
        stagedSwap(stable.links, s"$dir/links")
        ()
      }
      .start()

  /** Append the findings stream to the parquet history table (S11 sink:
    * get-or-make vertex upserts become a plain append; the nodes view is
    * derived). Writes per micro-batch THROUGH
    * [[graft.sources.History.append]] (foreachBatch), so the streaming
    * and batch writers share one day-partitioned layout: interval reads
    * partition-prune both, and [[graft.sources.History.compact]] with
    * `beforeDay` consolidates CLOSED days while this sink keeps
    * appending to the open one (HistoryLifecycleSpec).
    *
    * Deliberately NOT the built-in parquet streaming sink: that sink's
    * `_spark_metadata` log makes every batch read of the dir
    * metadata-log-only — batch appends and compaction rewrites become
    * INVISIBLE to queries (the lifecycle spec caught exactly this).
    * Writes are EXACTLY-ONCE per epoch: each micro-batch commits via
    * [[graft.sources.History.appendBatch]]'s batch-id manifest, so a
    * crash-replayed epoch (same batchId, same rows) is skipped or
    * redone exactly, never doubled — which is what PolicyAppend
    * (Query.hs:82-101: every finding contributes, no retention dedup
    * at read) requires; PolicyOverwrite/KeepN would also dedup
    * replays at read, but no longer need to. */
  def appendToHistory(findings: Dataset[FoundNode], tableDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.model.Findings.toCanonical(findings)
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
          batchId: Long) =>
        graft.sources.History.appendBatch(batch, tableDir, batchId)
      }
      .start()

  /** Canonical input row for [[debounceStream]] (see [[debounceInput]]). */
  case class DebounceIn(key: String, ts: Long, id: Long,
      event_time: java.sql.Timestamp)
  object DebounceIn {
    def apply(key: String, ts: Long, id: Long): DebounceIn =
      DebounceIn(key, ts, id, new java.sql.Timestamp(ts))
  }
  /** One surviving (first-of-burst) event. */
  case class DebounceOut(key: String, id: Long, ts: Long)

  /** STREAMING DEBOUNCE — the watermark-correct twin of
    * `Behavior.debounce` (q99): per key, emit only the first event of
    * each chained-gap burst, in EVENT-TIME order regardless of arrival
    * order. An event at t is only decidable once no earlier event can
    * still arrive, so pending events buffer until the watermark passes
    * them, then replay through the gap rule against the last RAW
    * event time (suppressed events still extend their burst, exactly
    * like the batch operator). State is bounded: pending shrinks with
    * the watermark, and the whole key's state drops once idle longer
    * than the gap (any future event is then a new burst by
    * construction). EventTimeTimeout flushes quiet keys. Replay parity
    * with the batch operator is spec-checked. */
  def debounceStream(events: Dataset[DebounceIn],
      gapMs: Long = 300000L): Dataset[DebounceOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[(Option[Long], List[(Long, Long)]), DebounceOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, batch, state) =>
          var (lastRaw, pending) =
            state.getOption.getOrElse((Option.empty[Long], Nil))
          batch.foreach(e => pending = (e.ts, e.id) :: pending)
          val wm = state.getCurrentWatermarkMs()
          val (ripe, still) = pending.distinct.partition(_._1 <= wm)
          val out = List.newBuilder[DebounceOut]
          ripe.sortBy(identity).foreach { case (t, id) =>
            if (lastRaw.forall(t - _ > gapMs)) out += DebounceOut(key, id, t)
            lastRaw = Some(t) // raw chain: suppressed events extend the burst
          }
          if (still.isEmpty && lastRaw.forall(lr => wm - lr > gapMs))
            state.remove()
          else {
            state.update((lastRaw, still))
            state.setTimeoutTimestamp(math.max(
              still.map(_._1).minOption.getOrElse(wm + 1), wm + 1))
          }
          out.result().iterator
      }
  }

  /** Watermark helper for [[debounceStream]]: input columns
    * (key, ts, id) → canonical watermarked dataset. */
  def debounceInput(events: DataFrame,
      watermark: String = "10 minutes"): Dataset[DebounceIn] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("key"), col("ts").cast("long"), col("id").cast("long"))
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermark)
      .as[DebounceIn]
  }
}
