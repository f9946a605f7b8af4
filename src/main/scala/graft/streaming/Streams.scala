package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.functions.{ClusterIndex, CorenessIndex, Curation, Dedup, GraphIndex,
  HealthProfile, Ivf, LinkageIndex, MinhashIndex, Retrieval, Selection, Semdedup,
  SimJoinIndex, SimhashIndex, SketchProfile, TextAnalysis}
import graft.operators.Versioned

/** Structured-Streaming re-expression of the reference's unbounded
  * `pipeline.FromChannel` source (/root/reference/pipeline/
  * pipeline.go:131): the channel becomes a streaming Dataset, the
  * consumer goroutines become a streaming query, and back-pressure /
  * rate limiting is the engine's micro-batch planner instead of a
  * semaphore.
  *
  * At cluster scale the same transforms run over Kafka/files by
  * swapping the source (`spark.readStream.format(...)`): state is
  * bounded by watermark × keys and partitioned by key, so windowed
  * aggregation scales horizontally.
  */
object Streams {

  /** An in-process channel: `send` enqueues elements, `toDS` is the
    * unbounded streaming Dataset fed by them. The JVM analogue of
    * handing pippin a `chan T`. (Backed by MemoryStream — Spark's
    * in-memory streaming source; driver-side, test/dev scoped, like
    * the reference's in-process channel.)
    */
  final class Channel[T: Encoder](spark: SparkSession) {
    private val stream = MemoryStream[T](spark)
    private var closedFlag = false // guarded by `this`

    /** Enqueue elements; like a send on a closed Go channel, sending
      * after [[close]] is a programming error and throws. The flag
      * check and the enqueue happen under one lock shared with
      * [[close]] — a send racing close() either lands wholly before
      * it (elements visible to any later drain) or deterministically
      * throws; it can never slip elements in after close succeeded
      * (Go makes the same race a deterministic panic).
      */
    def send(ts: T*): Unit = synchronized {
      if (closedFlag) throw new IllegalStateException("send on closed channel")
      stream.addData(ts)
    }

    /** Marks end-of-stream (Go `close(ch)`): blocking aggregations on
      * a [[graft.pipeline.ChannelPipeline]] fed by this channel
      * complete once the already-sent elements are drained.
      */
    def close(): Unit = synchronized { closedFlag = true }
    def isClosed: Boolean = synchronized { closedFlag }

    def toDS: Dataset[T] = stream.toDS()
  }

  object Channel {
    def apply[T: Encoder](spark: SparkSession): Channel[T] = new Channel[T](spark)
  }

  /** Watermarked tumbling-window aggregation — the streaming form of
    * RelationalQueries.q_stream_window (same `window()` operator, so
    * stream and batch results agree; StreamingSpec asserts it).
    */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  windowLen: String, watermark: String,
                  valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), round(sum(valueCol), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
        col(keyCol), col("n"), col("total_value"))

  /** A typed event for stateful sessionization. */
  final case class SEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** An emitted session. */
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long,
                           total_value: Double)

  /** Internal open-session accumulator (public: Spark's state encoder
    * codegen must be able to construct it).
    */
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** All of a user's open sessions — multiple can coexist while the
    * watermark still admits late events between them.
    */
  final case class SessionsState(open: List[SessionState])

  /** Streaming sessionization with CUSTOM state —
    * `flatMapGroupsWithState` + event-time timeout: each user carries
    * one open-session state; when the watermark passes last-event +
    * gap, the session is emitted and the state cleared. State size is
    * O(active users), partitioned by user key — the horizontally
    * scalable shape for 100 TB streams. (Batch/SQL-expressible
    * sessionization should use `session_window` —
    * [[graft.operators.Sessionize]]; this path exists for semantics a
    * built-in window can't express: per-session custom accumulators,
    * early emission, side outputs.)
    */
  def sessionizeStream(events: Dataset[SEvent], gapSeconds: Long,
                       watermark: String = "10 minutes"): Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSeconds * 1000L

    // Merge an event into the open-session list: join every session
    // within `gap` of it (an event can bridge two sessions), else open
    // a new one. Sessions are emitted ONLY when the watermark passes
    // their end + gap — never eagerly — so any event the watermark
    // still admits can extend or bridge them (Append-mode output is
    // final, so eager emission would make late merges impossible).
    def merge(open: List[SessionState], t: Long, v: Double): List[SessionState] = {
      val (touching, rest) = open.partition(s => t >= s.start - gapMs && t <= s.last + gapMs)
      val joined = touching.foldLeft(SessionState(t, t, 1L, v)) { (acc, s) =>
        SessionState(math.min(acc.start, s.start), math.max(acc.last, s.last),
          acc.n + s.n, acc.total + s.total)
      }
      joined :: rest
    }

    def fn(userId: Long, evts: Iterator[SEvent],
           state: GroupState[SessionsState]): Iterator[Session] = {
      val wm = state.getCurrentWatermarkMs()
      var open = state.getOption.map(_.open).getOrElse(Nil)
      evts.toSeq.sortBy(_.ts.getTime).foreach { e =>
        open = merge(open, e.ts.getTime, e.value)
      }
      // expired = no admissible event can still touch the session
      val (expired, stillOpen) = open.partition(_.last + gapMs <= wm)
      val out = expired.sortBy(_.start).map(s =>
        Session(userId, new java.sql.Timestamp(s.start),
          new java.sql.Timestamp(s.last), s.n, s.total))
      if (stillOpen.isEmpty) state.remove()
      else {
        state.update(SessionsState(stillOpen))
        // wake when the earliest open session can expire (must be
        // strictly beyond the current watermark)
        val wake = stillOpen.map(_.last + gapMs).min
        state.setTimeoutTimestamp(math.max(wake, wm + 1))
      }
      out.iterator
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** A typed event for streaming SCD-2 change tracking. */
  final case class TEvent(user_id: Long, event_id: Long,
                          ts: java.sql.Timestamp, event_type: String)

  /** A CLOSED SCD-2 validity interval (the open current run stays in
    * state — append-mode output is final, so it can only emit once a
    * successor closes it).
    */
  final case class Scd2Row(user_id: Long, event_type: String,
                           valid_from_us: Long, valid_to_us: Long,
                           n_events: Long)

  /** Per-user SCD-2 state: events the watermark has not yet sealed
    * (processing must be event-time ordered, and an admissible
    * out-of-order arrival could land between them) plus the open run.
    * Public: Spark's state encoder codegen must construct it.
    */
  final case class Scd2State(pending: List[(Long, Long, String)],
                             curType: String, curFromUs: Long, curN: Long,
                             hasCur: Boolean)

  /** Streaming SCD Type-2 change tracking — the online face of
    * q_scd2 (SURVEY §2 row 135): per user, consecutive same-type
    * events collapse into validity intervals; an interval is emitted
    * the moment a different-type successor CLOSES it. Out-of-order
    * arrivals are handled the only way correct SCD-2 can be: events
    * buffer in state until the watermark seals them (nothing earlier
    * can still arrive), then fold in (ts, event_id) order — so the
    * emitted intervals equal the batch fold over the same events
    * (spec-pinned). State is O(open run + unsealed events) per user,
    * partitioned by the user key; arrivals with ts <= the current
    * watermark are dropped by Spark's late filter (the standard
    * streaming contract — 4.1's predicate is LessThanOrEqual).
    */
  def scd2Stream(events: Dataset[TEvent],
                 watermark: String = "10 minutes"): Dataset[Scd2Row] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._

    def fn(userId: Long, evts: Iterator[TEvent],
           state: GroupState[Scd2State]): Iterator[Scd2Row] = {
      val wm = state.getCurrentWatermarkMs()
      val st = state.getOption.getOrElse(Scd2State(Nil, "", 0L, 0L, hasCur = false))
      // FULL micros (getTime truncates to ms — sub-ms events would
      // fold in event_id order instead of true event-time order and
      // diverge from the batch unix_micros fold)
      def us(t: java.sql.Timestamp): Long =
        math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      val buf = st.pending ++ evts.map(e => (us(e.ts), e.event_id, e.event_type))
      // seal everything at-or-before the watermark: Spark 4.1's
      // late-row filter is LessThanOrEqual(eventTime, watermark)
      // (WatermarkSupport.watermarkExpression), so any NEW arrival
      // with ts <= wm is dropped before reaching this function — no
      // admissible sibling of a sealed tie can ever appear, and
      // holding ties in `pending` would only delay their emission by
      // one extra watermark advance. The comparison must be at FULL
      // microsecond precision (the filter compares the µs-precision
      // event time against wm ms * 1000): an event at wm·1000+1..999 µs
      // is still admissible-sibling territory — a later arrival in
      // that same millisecond with a smaller (ts, event_id) would fold
      // AFTER an already-sealed ms-truncated tie and diverge from the
      // batch order. Sealing at `tsUs <= wm * 1000` makes the sealed
      // set exactly Spark's inadmissible set.
      val (ready, pending) = buf.partition(_._1 <= wm * 1000L)
      var curType = st.curType
      var curFrom = st.curFromUs
      var curN = st.curN
      var hasCur = st.hasCur
      val out = scala.collection.mutable.ListBuffer.empty[Scd2Row]
      ready.sortBy(t => (t._1, t._2)).foreach { case (tsUs, _, tpe) =>
        if (!hasCur) { curType = tpe; curFrom = tsUs; curN = 1L; hasCur = true }
        else if (tpe == curType) curN += 1L
        else {
          out += Scd2Row(userId, curType, curFrom, tsUs, curN)
          curType = tpe; curFrom = tsUs; curN = 1L
        }
      }
      if (pending.isEmpty && !hasCur) state.remove()
      else {
        state.update(Scd2State(pending, curType, curFrom, curN, hasCur))
        // unsealed events must be folded once the watermark passes
        // them even if the user goes quiet: the sealing watermark for
        // tsUs is the smallest wm' with tsUs <= wm'·1000, i.e.
        // ceil(tsUs / 1000) — a floor here would leave a sub-ms event
        // unsealed at its own timeout and cost one extra advance
        if (pending.nonEmpty)
          state.setTimeoutTimestamp(
            math.max(pending.map(t => math.floorDiv(t._1 + 999L, 1000L)).min, wm + 1))
      }
      out.iterator
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming exact dedup: drop rows whose key columns were already
    * seen, with state bounded by the watermark horizon
    * (`dropDuplicatesWithinWatermark` — duplicates are only tracked
    * while a duplicate could still legally arrive). The streaming
    * face of Dedup.exact for continuously ingested corpora.
    */
  def dedupStream(df: DataFrame, tsCol: String, watermark: String,
                  keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: each left row pairs with right rows
    * of the same key whose event time falls in
    * `[leftTs − lookbackSeconds, leftTs)` — the streaming face of the
    * batch q_range_join (purchase ← preceding clicks).
    *
    * Both sides carry watermarks and the join condition bounds right's
    * event time relative to left's, so Spark can expire join state:
    * right rows are dropped once the left watermark passes
    * `rightTs + lookbackSeconds`, left rows once right's watermark
    * passes leftTs. Without the time bound the state store would grow
    * forever — the condition is what makes this run indefinitely at
    * scale (reference: Structured Streaming's inner joins with
    * event-time range conditions). Append-mode only, like all
    * stream-stream inner joins.
    */
  def intervalJoin(left: DataFrame, leftTs: String, right: DataFrame,
                   rightTs: String, key: (String, String),
                   lookbackSeconds: Long, watermark: String): DataFrame =
    left.withWatermark(leftTs, watermark).join(
      right.withWatermark(rightTs, watermark),
      col(key._1) === col(key._2) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookbackSeconds SECONDS") &&
        col(rightTs) < col(leftTs))

  /** Native BOUNDED-STATE streaming dedup: first occurrence per key
    * wins, duplicates arriving within the watermark delay are
    * dropped, and the state store evicts each key once the watermark
    * passes it — state is O(keys per watermark window), NOT O(corpus).
    *
    * This is the complement of [[dedupIngest]]: the file-index path
    * is corpus-GLOBAL (a duplicate of something indexed last month
    * still drops) at the cost of a per-batch index probe; this path
    * is index-free and state-bounded, the right tool when duplicates
    * cluster in time — at-least-once upstream redelivery, double-fired
    * webhooks — and a re-arrival AFTER the window is legitimately new
    * (the semantics StreamingSpec pins). Built entirely on Spark's
    * dropDuplicatesWithinWatermark so the state lifecycle is the
    * engine's own, not custom code.
    */
  def dedupWithinWatermark(stream: DataFrame, keyCols: Seq[String],
                           tsCol: String, delay: String): DataFrame =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** The micro-batch runner under every index-backed `*Ingest` face
    * below: each face is only its batch body. The contract, stated
    * once for all of them:
    *
    *  - Loop: the query checkpoints at `checkpoint` and runs each
    *    micro-batch through `body` (foreachBatch); `ingest` returns
    *    once all input available at start is processed, and the
    *    caller stops the query.
    *  - Empty batches are skipped (one `LIMIT 1` job decides): no
    *    index is resolved or read, nothing is written.
    *  - Sink: [[Batch.emit]] OVERWRITES the batch's own `batch_id=N`
    *    partition (dynamic partition overwrite), with the batch id as
    *    a provenance column. foreachBatch is at-least-once; a crash
    *    between the write and the checkpoint commit replays the batch
    *    under the SAME id, and the overwrite rewrites that partition
    *    in place instead of appending a duplicate. Source-level
    *    REdelivery is a NEW batch id: a face that scores without
    *    deduping against an index emits value-identical rows into a
    *    second partition (scoring is deterministic for a given index
    *    version), so its consumers dedup on the row id at read.
    *  - Replay tag: [[Batch.tag]] ([[batchTag]]) names the (stream,
    *    batch) stably across restarts. Faces hand it to tagged index
    *    appends (a replay commits nothing twice) and to read-side
    *    exclusions (a replay never scores against its own append). It
    *    is lazy, so a face that never uses it never reads the
    *    checkpoint metadata.
    */
  private def ingest(stream: DataFrame, checkpoint: String)
                    (body: Batch => Unit): StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        if (!df.isEmpty) body(new Batch(df, id, checkpoint))
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** One non-empty micro-batch of an [[ingest]] face: its rows `df`,
    * its batch `id` and its session.
    */
  private final class Batch(val df: DataFrame, val id: Long, checkpoint: String) {
    val spark: SparkSession = df.sparkSession

    /** The replay tag (see [[ingest]]). */
    lazy val tag: String = batchTag(spark, checkpoint, id)

    /** Overwrite this batch's `batch_id=N` partition of `outPath`. */
    def emit(rows: DataFrame, outPath: String): Unit =
      rows.withColumn("batch_id", lit(id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outPath)
  }

  /** Delta tag for one (stream, micro-batch). The stream identity is
    * the CHECKPOINT'S OWN QUERY ID (the uuid Spark writes to
    * `<checkpoint>/metadata` at query start): stable across restarts
    * of the same checkpoint — a crash replay must match the tag its
    * previous incarnation wrote — but regenerated when a checkpoint
    * is deleted and recreated, so a reprocessing run's batch 0 never
    * aliases the old incarnation's batch-0 delta (path-derived tags
    * had exactly that bug: stale `_TAG_` files live in the index
    * forever while recreated checkpoints restart batch ids at 0).
    *
    * An unreadable/unparsable metadata file THROWS rather than
    * degrading to a path-derived tag: the fallback would silently
    * reintroduce exactly the cross-incarnation aliasing hazard the
    * query-id scheme exists to prevent, and inside foreachBatch the
    * running query's checkpoint metadata always exists (Spark writes
    * it at query start) — its absence means the checkpoint was
    * tampered with mid-run, which must fail the batch, not corrupt
    * the index.
    */
  private def batchTag(spark: SparkSession, checkpoint: String,
                       batchId: Long): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"streaming checkpoint metadata missing at $p — cannot derive a " +
          "replay-stable batch tag (a path-derived fallback would alias " +
          "deltas across checkpoint incarnations); the checkpoint dir " +
          "was deleted or corrupted while the query ran")
    val in = fs.open(p)
    val id =
      try {
        val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
          .map(_.group(1).replaceAll("[^A-Za-z0-9-]", ""))
          .filter(_.nonEmpty)
          .getOrElse(throw new IllegalStateException(
            s"streaming checkpoint metadata at $p has no query id " +
              s"(content: ${txt.take(200)}) — refusing a path-derived tag"))
      } finally in.close()
    s"${id}_b$batchId"
  }

  /** The tagged-delta skeleton of the faces whose sink rows derive
    * from the batch's own index delta (graph, cluster, coreness,
    * linkage, simjoin): `append` commits the batch's delta under
    * [[Batch.tag]], first-delivery-wins (already-indexed ids drop),
    * and returns its dir — None when it committed nothing; `derive`
    * turns a delta dir into the rows [[Batch.emit]] lands.
    *
    * The crash window between the delta commit and the sink write
    * heals by the tag: the replayed batch's append commits nothing,
    * so the skeleton re-locates the delta carrying ITS tag through
    * the family's `heal` lookup (its `deltaByTag`, compaction-proof
    * via [[graft.operators.TagHeal]]) and re-runs `derive` — whose
    * output must be content-identical from the same inputs (true for
    * a plain delta read and for the Cluster/CorenessIndex
    * updateFromDelta recomputation) — so the partition rewrite is
    * idempotent. A plain source redelivery carries a new tag, finds
    * nothing, and emits nothing; with no committed index there is
    * nothing to heal from, and the batch emits nothing.
    */
  private def taggedDeltaIngest(stream: DataFrame, indexPath: String,
                                heal: (SparkSession, String, String) => Option[String],
                                outPath: String, checkpoint: String)
                               (append: Batch => Option[String])
                               (derive: (SparkSession, String) => DataFrame)
                               : StreamingQuery =
    ingest(stream, checkpoint) { b =>
      def emit(deltaDir: String): Unit = b.emit(derive(b.spark, deltaDir), outPath)
      append(b) match {
        case Some(deltaDir) => emit(deltaDir)
        case None =>
          Versioned.resolve(b.spark, indexPath).foreach { vdir =>
            heal(b.spark, vdir, b.tag).foreach(emit)
          }
      }
    }

  /** Streaming incremental corpus ingest: every micro-batch keeps only
    * first occurrences (min `idCol` per `key`) that are NOT already in
    * the parquet-backed key index, appends the survivors to `outPath`
    * and their keys to `indexPath` — [[graft.functions.Dedup.incremental]]
    * as a continuously-running pipeline. The index is the only state
    * and it lives in files, not the state store: at 100 TB the
    * anti-join is a hash join against a bucketed key table.
    *
    * Runs on [[ingest]] (empty batches are skipped), but its sink is a
    * plain APPEND, not the `batch_id=N` overwrite, and the output and
    * the index are two separate appends. A replay after both landed
    * appends nothing (its keys are already indexed); a crash BETWEEN
    * the two writes replays a batch whose keys are not yet indexed,
    * so its survivors are appended to `outPath` again — duplicate
    * output rows, which consumers dedup on `idCol`.
    *
    * Only a MISSING index path reads as the empty index (before the
    * first append). An index that exists but cannot be read fails the
    * batch: read as empty, it would let every earlier key through
    * again.
    */
  def dedupIngest(stream: DataFrame, key: Column, idCol: String,
                  indexPath: String, outPath: String,
                  checkpoint: String): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      val keyed = b.df.withColumn("_key", key)
      val keys = keyed.select(col("_key"))
      val ip = new org.apache.hadoop.fs.Path(indexPath)
      val idx =
        if (ip.getFileSystem(b.spark.sessionState.newHadoopConf()).exists(ip))
          b.spark.read.schema(keys.schema).parquet(indexPath)
        else keys.limit(0)
      val keepIds = keyed
        .groupBy(col("_key"))
        .agg(min(col(idCol)).as("_keep"))
        .join(idx, Seq("_key"), "left_anti")
        .select(col("_keep"))
      val survivors = keyed
        .join(keepIds, keyed(idCol) === col("_keep"))
        .drop("_keep")
        .persist() // two writes below — evaluate the joins once
      try {
        survivors.drop("_key").write.mode("append").parquet(outPath)
        survivors.select(col("_key")).write.mode("append").parquet(indexPath)
      } finally { survivors.unpersist(); () }
    }

  /** Continuous ANN scoring: each micro-batch of embeddings is scored
    * against a PREBUILT IVF index ([[graft.functions.Ivf.writeIndex]])
    * and the top-k neighbors land under the batch's `batch_id=N`
    * partition of `outPath` ([[ingest]]) — the ingest-vs-index split
    * every production similarity pipeline has: the index builds
    * offline at corpus scale, the stream pays only nprobe/cells of it
    * per batch (partition pruning on the cell-partitioned index), and
    * [[graft.operators.Versioned]] lets an index rebuild land
    * mid-stream without breaking in-flight batches.
    */
  def annScoreIngest(stream: DataFrame, indexPath: String, outPath: String,
                     checkpoint: String, k: Int = 10,
                     nprobe: Int = 4): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      b.emit(Ivf.ivfTopKIndexed(b.spark, indexPath, b.df, k = k, nprobe = nprobe),
        outPath)
    }

  /** The full streaming corpus-curation loop over a persisted ANN
    * index: every micro-batch is (1) DEDUPED against the index —
    * id-level, deterministic first-delivery-wins, the anti-join inside
    * [[graft.functions.Ivf.appendToIndex]]; (2) APPENDED — survivors
    * land as an O(batch) delta inside the current index version; and
    * (3) SCORED — the batch's top-k neighbors against the just-grown
    * index go to `outPath` under the [[ingest]] sink.
    *
    * Crash/replay semantics: a replayed batch appends nothing (its ids
    * are already indexed — self-healing at-least-once) and rescores
    * against whatever the index holds by then, which may include later
    * batches — scores are at-least-as-current as the original attempt,
    * never lost. The index stays single-writer ([[graft.operators
    * .Versioned]] `_LOCK`): one ingest stream per index, and pause it
    * around [[graft.functions.Ivf.compactIndex]] maintenance.
    */
  def indexGrowIngest(stream: DataFrame, indexPath: String, outPath: String,
                      checkpoint: String, k: Int = 10, nprobe: Int = 4,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      Ivf.appendToIndex(b.df, indexPath, idCol, vecCol)
      b.emit(Ivf.ivfTopKIndexed(b.spark, indexPath, b.df, k = k, nprobe = nprobe,
        idCol = idCol, vecCol = vecCol), outPath)
    }

  /** Streaming decontamination: each micro-batch of documents is
    * scored for k-gram overlap against a PERSISTED benchmark gram
    * index ([[graft.functions.Curation.writeDecontamIndex]] — the
    * distinct 64-bit gram hashes of the eval suites, under a
    * [[graft.operators.Versioned]] root so a benchmark refresh lands
    * atomically mid-stream) and the per-doc overlap rows go to
    * `outPath` — the release-gate scan run continuously at ingest
    * time instead of once before a release. The index is resolved
    * per batch, so a new benchmark version applies from the next
    * micro-batch on.
    *
    * Scale shape: identical to the batch operator — the gram index is
    * eval-suite-sized (MBs) and broadcast, the batch side reduces to
    * 8-byte hashes in its scan stage, nothing about the corpus is
    * kept in the state store. Exactly-once to the sink is the
    * [[ingest]] contract: a checkpoint replay rewrites its own
    * partition against the then-current index (at-least-as-current
    * as the lost attempt); a source-level redelivery lands in a new
    * partition, so consumers of an at-least-once-fed `outPath` dedup
    * on the doc id at read (`dropDuplicates(idCol)`).
    */
  def decontamIngest(stream: DataFrame, gramIndexPath: String, outPath: String,
                     checkpoint: String, idCol: String = "doc_id",
                     textCol: String = "text", k: Int = 5): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      val vdir = Versioned.committed(b.spark, gramIndexPath,
        "benchmark gram index (Curation.writeDecontamIndex)")
      b.emit(Curation.decontamOverlapGrams(b.df,
        Curation.readDecontamIndex(b.spark, vdir), idCol, textCol, k), outPath)
    }

  /** Streaming span-level dedup: each micro-batch of documents is
    * scored against a PERSISTED span-hash index
    * ([[graft.functions.Dedup.writeSpanIndex]]) — per-doc
    * (id, n_spans, n_dup, dup_frac) where a span is duplicated iff it
    * is already in the index or held by ≥2 docs within the batch —
    * and the index then grows by the batch's NEW span hashes as an
    * O(batch) `Versioned.commitDelta` append (never a rebuild). The
    * span-granularity sibling of the exact-dedup ingest loop: ingest
    * scores against history, history grows by the batch.
    *
    * One pass per micro-batch: the index is read ONCE, as one scan
    * ([[graft.functions.Dedup.readSpanIndex]]), by the persisted span
    * probe ([[graft.functions.Dedup.spanProbe]]); the scores and the
    * append (the probe's spans with no index match) both derive from
    * it, so the append never re-reads the index.
    *
    * Exactly-once: output goes through the [[ingest]] sink. The probe
    * reads the PRE-append view (this batch's own tagged delta
    * excluded), so a checkpoint replay re-scores identically, and the
    * append commits only if no live delta carries this batch's tag —
    * checked under the writer lock
    * ([[graft.functions.Dedup.commitFreshHashes]]) — so nothing is
    * appended twice. Source-level REdelivery of a document (new
    * batch_id) scores it against an index that already holds its
    * spans → dup_frac 1.0, which is exactly the keep-first verdict
    * incremental dedup gives re-ingested content.
    */
  def spanDedupIngest(stream: DataFrame, spanIndexPath: String, outPath: String,
                      checkpoint: String, idCol: String = "doc_id",
                      textCol: String = "text", k: Int = 8): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      val vdir = Versioned.committed(b.spark, spanIndexPath,
        "span index (Dedup.writeSpanIndex)")
      // scoring reads the PRE-APPEND view: the batch's own delta
      // (tagged below) is excluded, so a checkpoint replay that
      // crashed between the append and the checkpoint commit
      // re-scores identically instead of matching its own spans
      // (which would overwrite the partition with dup_frac = 1.0).
      // The probe is persisted: the scorer and the index append both
      // consume it, so the index is scanned once per batch
      val probe = Dedup.spanProbe(Dedup.spanRows(b.df, idCol, textCol, k),
          Dedup.readSpanIndex(b.spark, vdir, excludeTag = Some(b.tag)))
        .persist(StorageLevel.MEMORY_ONLY)
      try {
        b.emit(Dedup.spanScores(probe, idCol), outPath)
        // O(batch) index growth, guarded by the batch's own tag
        val fresh = Dedup.unmatchedSpans(probe)
        if (!fresh.isEmpty)
          Dedup.commitFreshHashes(b.spark, spanIndexPath, vdir, fresh, Some(b.tag))
      } finally { probe.unpersist(); () }
    }

  /** Streaming curation funnel — the online face of q_curate_e2e:
    * each micro-batch of documents runs quality scoring → language
    * gate → exact dedup against a persisted seen-hash index → span
    * dup-frac trim against the persisted span index → optional LM
    * perplexity gate, then grows both indexes by O(batch). Kept docs
    * land under `outPath/batch_id=N`; per-batch funnel-stage counts
    * (the streaming form of the batch query's Observe tripwires) land
    * as one row under `statsPath/batch_id=N` (both through the
    * [[ingest]] sink).
    *
    * LM gate (`lmModelPath`): documents are scored against a FROZEN
    * reference unigram LM ([[graft.functions.Curation.writeLmModel]])
    * — the CCNet discipline, and the only replay-stable choice: the
    * model VERSION is pinned once at stream start, so a checkpoint
    * replay re-scores every batch against exactly the model it
    * originally saw even if an operator committed a newer model
    * meanwhile (restart the stream to adopt one). Unlike the batch
    * funnel (whose LM trains on the same kept corpus it scores, so
    * every token is in-vocabulary), a frozen reference model can meet
    * out-of-vocabulary tokens: they are excluded from the mean (the
    * model has no estimate for them), and a document with NO in-vocab
    * tokens fails the gate — zero evidence of natural text is the
    * tail bucket, and silently passing it would let adversarial
    * all-novel junk through the one stage built to catch it. Kept
    * rows carry `avg_nll`; stats gain `lm_kept` (= `trimmed` when no
    * model is configured, and `avg_nll` is then null).
    *
    * SCHEMA UPGRADE NOTE (round 15 added `avg_nll` to outPath and
    * `lm_kept` to statsPath): a stream upgraded IN PLACE leaves
    * pre-upgrade `batch_id=N` partitions without the new columns.
    * Parquet readers that sample one footer for the schema can then
    * silently miss them (or fail) depending on which partition they
    * sample — read such mixed directories with
    * `spark.read.option("mergeSchema", true)` (pre-upgrade rows
    * surface the new columns as null), or start the upgraded stream
    * on fresh out/stats paths. New streams are unaffected.
    *
    * Index discipline ([[graft.functions.Dedup.writeHashIndex]] ×2 —
    * bootstrap both with an empty frame or a corpus build, exact keys
    * 16-byte binary md5, span keys long xxhash64):
    * the exact index grows with QUALITY-PASSING hashes (what the
    * batch funnel's dedup stage sees), the span index with KEPT
    * (post-dedup, pre-trim) docs' spans (what the batch funnel's span
    * df counts). Value-level exactly-once: a re-delivered document's
    * hash is already indexed, so it re-emits NOTHING under the new
    * batch_id — consumers union kept rows across partitions without
    * dedup.
    *
    * One pass per micro-batch. Reads are one scan: each index is read
    * ONCE, as a single typed parquet scan of base + live deltas
    * ([[graft.functions.Dedup.readHashIndex]]), which launches no job
    * and keeps one scan leaf whatever the delta count. Appends are
    * derived from the scoring joins: the exact append is the kept
    * rows' hashes (quality-passing, first in batch, absent from the
    * index), the span append is the probe's spans with no index
    * match — neither re-reads an index. Funnel counts come from two
    * aggregates: scored/filtered over the persisted scored frame, and
    * kept/trimmed/lm_kept over the persisted pre-gate frame (every
    * kept doc with its span score and LM score), whose gated rows are
    * then written once.
    *
    * Replay safety is the own-tag guard under the lock: both reads
    * exclude this batch's own tagged deltas, so a replay after zero,
    * one, or both appends recomputes the identical kept set, stats
    * and append sets, and overwrites its partitions value-identically;
    * each append commits only if no live delta of its index carries
    * this batch's tag, a check evaluated under the index's writer
    * lock ([[graft.functions.Dedup.commitFreshHashes]]), so whichever
    * append is still missing lands exactly once.
    */
  def curateIngest(stream: DataFrame, exactIndexPath: String,
                   spanIndexPath: String, outPath: String, statsPath: String,
                   checkpoint: String, idCol: String = "doc_id",
                   textCol: String = "text", minWords: Int = 10,
                   maxDupFrac: Double = 0.5, spanK: Int = 8,
                   lmModelPath: Option[String] = None,
                   maxAvgNll: Double = Curation.CurateNllMax)
      : StreamingQuery = {
    require(minWords >= spanK,
      s"minWords ($minWords) must be ≥ spanK ($spanK): every doc past the " +
        "quality gate must produce at least one full span")
    // pin the LM VERSION once, at stream start (see the scaladoc)
    val lmVersionDir = lmModelPath.map(p => Versioned.committed(
      stream.sparkSession, p, "LM model (Curation.writeLmModel)"))
    ingest(stream, checkpoint) { b =>
      val spark = b.spark
      def vdir(p: String) =
        Versioned.committed(spark, p, "hash index (Dedup.writeHashIndex)")
      val (exactV, spanV) = (vdir(exactIndexPath), vdir(spanIndexPath))
      // both reads exclude this batch's own (tagged) deltas, so a
      // checkpoint replay AFTER either append recomputes the same
      // kept set and stats as the original run — the output
      // overwrite is then value-identical and the missing second
      // append (if the crash fell between the two) finally lands
      val tag = Some(b.tag)
      val memory = StorageLevel.MEMORY_ONLY
      // 128-bit md5 text keys — the batch funnel's (and
      // Dedup.exact's) width: a PERMANENT drop decision at corpus
      // scale cannot ride a 64-bit key's birthday bound
      val scored = b.df
        .select(col(idCol), col(textCol),
          TextAnalysis.nWords(col(textCol)).as("n_words"),
          TextAnalysis.langIdScored(col(textCol)).as("lang_guess"),
          unhex(md5(col(textCol).cast("binary"))).as("h"))
        .persist(memory)
      try {
        val passes = col("n_words") >= minWords && col("lang_guess") =!= "unk"
        val sc = scored.agg(count(lit(1)), count(when(passes, 1))).head()
        val (nScored, nFiltered) = (sc.getLong(0), sc.getLong(1))
        val filtered = scored.filter(passes)
        // exact dedup: first-id-wins within the batch, then drop
        // anything some earlier batch already holds (index side is
        // unbounded → merge, never a planner broadcast)
        val firsts = filtered.groupBy("h").agg(min(col(idCol)).as("_keep"))
        val seen = Dedup.readHashIndex(spark, exactV, excludeTag = tag,
          schema = Some(Dedup.Md5IndexSchema))
        // keyed by id INTO the cache: the span rows, the span-score and
        // NLL joins and the per-doc aggregates read this layout, so no
        // exchange above the cache re-keys the kept docs by id
        val kept = filtered
          .join(firsts, Seq("h")).filter(col(idCol) === col("_keep"))
          .join(seen.hint("merge"), Seq("h"), "left_anti")
          .drop("_keep")
          .repartition(spark.sparkContext.defaultParallelism, col(idCol))
          .persist(memory)
        try {
          // the span probe (persisted) feeds both the trim scores
          // and the span index append
          val probe = Dedup.spanProbe(Dedup.spanRows(kept, idCol, textCol, spanK),
              Dedup.readSpanIndex(spark, spanV, excludeTag = tag))
            .persist(memory)
          // every kept doc, with its span score (a doc with no full
          // span scores null and is not trimmed in)
          val scoredKept = kept
            .join(Dedup.spanScores(probe, idCol)
              .select(col(idCol), col("dup_frac")).hint("merge"), Seq(idCol), "left")
          val trimPass = coalesce(col("dup_frac") <= maxDupFrac, lit(false))
          // optional LM gate against the PINNED frozen model (see
          // scaladoc): per-doc mean NLL over in-vocab tokens,
          // r6-rounded like the batch funnel; OOV-only docs score
          // null and fail the gate
          val (withNll, lmPass) = lmVersionDir match {
            case None =>
              (scoredKept.withColumn("avg_nll", lit(null).cast("double")), lit(true))
            case Some(vd) =>
              val model = Curation.readLmModel(spark, vd)
              val nll = kept
                .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("t"))
                .join(broadcast(model), "t")
                .groupBy(idCol)
                .agg(graft.functions.EngineNeutral.roundHalfUp(avg("nll"), 6)
                  .as("avg_nll"))
              (scoredKept.join(nll.hint("merge"), Seq(idCol), "left"),
                col("avg_nll").isNotNull && col("avg_nll") <= maxAvgNll)
          }
          // the pre-gate frame (persisted): one aggregate counts
          // kept, trimmed and LM-kept rows, then the gated rows are
          // written once from it
          val preGate = withNll
            .select(col(idCol), col("lang_guess"), col("n_words"),
              col("dup_frac"), col("avg_nll"), trimPass.as("_trim"),
              (trimPass && lmPass).as("_pass"))
            .persist(memory)
          try {
            val gc = preGate.agg(count(lit(1)), count(when(col("_trim"), 1)),
              count(when(col("_pass"), 1))).head()
            val (nKept, nTrimmed, nLmKept) = (gc.getLong(0), gc.getLong(1), gc.getLong(2))
            b.emit(preGate.filter(col("_pass")).drop("_trim", "_pass"), outPath)
            import spark.implicits._
            b.emit(Seq((nScored, nFiltered, nKept, nTrimmed, nLmKept))
              .toDF("scored", "filtered", "kept", "trimmed", "lm_kept"), statsPath)
            // O(batch) index growth, funnel-stage-matched (see
            // doc) and derived from the scoring joins: kept.h is
            // the quality-passing hashes the exact index lacks,
            // the unmatched probe spans are the kept docs' spans
            // the span index lacks; each commits at most once
            // per batch tag
            if (nKept > 0)
              Dedup.commitFreshHashes(spark, exactIndexPath, exactV,
                kept.select("h"), tag)
            val freshSpans = Dedup.unmatchedSpans(probe)
            if (!freshSpans.isEmpty)
              Dedup.commitFreshHashes(spark, spanIndexPath, spanV, freshSpans, tag)
          } finally { preGate.unpersist(); probe.unpersist(); () }
        } finally kept.unpersist()
      } finally scored.unpersist()
      ()
    }
  }

  /** Streaming semantic dedup: each micro-batch of vectors is judged
    * against the PERSISTED SemDeDup index
    * ([[graft.functions.Semdedup.writeIndex]] — trained centroids +
    * the full member set under a [[graft.operators.Versioned]] root),
    * then the batch's vectors grow the member set by O(batch) — the
    * online form of q_semdedup, structurally [[spanDedupIngest]] on
    * the embedding side. Per-batch verdicts (id, cluster, dropped) go
    * to `outPath` through the [[ingest]] sink; index growth is the
    * first-delivery-wins anti-join append, so a checkpoint replay
    * re-scores against the same members it saw (already-appended ids
    * never match themselves) and commits an empty delta — verdicts
    * are replay-stable and the index holds one row per vector id.
    */
  def semdedupIngest(stream: DataFrame, indexPath: String, outPath: String,
                     checkpoint: String, tau: Double,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      val vdir = Versioned.committed(b.spark, indexPath,
        "semdedup index (Semdedup.writeIndex)")
      val centroids = Semdedup.readCentroidsFrom(b.spark, vdir)
      val members = Semdedup.readMembersFrom(b.spark, vdir)
      b.emit(Semdedup.dedupIncrement(b.df, members, tau, centroids, idCol, vecCol),
        outPath)
      Semdedup.appendIndex(b.df, indexPath, idCol, vecCol)
    }

  /** Streaming BM25 retrieval: each micro-batch of QUERY documents
    * retrieves its top-k corpus hits from a PERSISTED lexical index
    * ([[graft.functions.Retrieval.writeLexicalIndex]] — tf/df/stats
    * under a [[graft.operators.Versioned]] root, so a corpus rebuild
    * lands atomically mid-stream and applies from the next
    * micro-batch) — the online face of q_bm25, same shape as
    * [[annScoreIngest]] on the embedding side. Per-batch results go
    * to `outPath` through the [[ingest]] sink (scoring is
    * deterministic for a given index version, so consumers dedup
    * redeliveries on the query id at read).
    */
  def bm25QueryIngest(stream: DataFrame, indexPath: String, outPath: String,
                      checkpoint: String, idCol: String = "doc_id",
                      textCol: String = "text", topK: Int = 5): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      val vdir = Versioned.committed(b.spark, indexPath,
        "lexical index (Retrieval.writeLexicalIndex)")
      b.emit(Retrieval.bm25TopKIndexed(b.spark, vdir, b.df, idCol, textCol, topK),
        outPath)
    }

  /** Streaming importance scoring: each micro-batch of CANDIDATE
    * documents is scored against a PERSISTED selection model
    * ([[graft.functions.Selection.writeImportanceModel]] — per-token
    * log-ratio table + unseen-token defaults under a
    * [[graft.operators.Versioned]] root) — the online face of
    * q_importance, and the deployment shape of DSIR-style data
    * selection: train the model once on curated target + raw pools,
    * score every incoming crawl batch as it arrives. Out-of-
    * vocabulary tokens (in NEITHER training pool) take the model's
    * `lr_unseen` scalar. A model retrain lands atomically mid-stream
    * and applies from the next micro-batch (per-batch resolve).
    * Per-batch results go to `outPath` through the [[ingest]] sink
    * (scoring is deterministic for a given model version, so
    * consumers dedup redeliveries on the doc id at read).
    */
  def importanceIngest(stream: DataFrame, modelPath: String, outPath: String,
                       checkpoint: String, idCol: String = "doc_id",
                       textCol: String = "text"): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      val vdir = Versioned.committed(b.spark, modelPath,
        "importance model (Selection.writeImportanceModel)")
      b.emit(Selection.scoreImportanceIndexed(b.spark, vdir, b.df, idCol, textCol),
        outPath)
    }

  /** Streaming growth of the persisted near-dup GRAPH index
    * ([[graft.functions.GraphIndex]]): each document micro-batch
    * appends O(batch + touched) postings/df/edge deltas — exact under
    * corpus-global df-band transitions, see the GraphIndex doc — and
    * the batch's RE-JUDGED edge set (every pair the batch could have
    * changed: created, updated, or now-absent support between OLD
    * docs included) lands at `outPath` through the [[ingest]] sink.
    *
    * Replay-safe by construction ([[taggedDeltaIngest]]): appendIndex
    * drops already-indexed doc ids (first delivery wins), so a
    * checkpoint replay or source redelivery commits NO delta; the
    * replay re-emits its own tagged delta's edges — the folded edge
    * set equals a batch rebuild over everything delivered, which
    * GraphIndexSpec pins through a channel-driven run.
    */
  def graphIngest(stream: DataFrame, indexPath: String, outPath: String,
                  checkpoint: String, idCol: String = "doc_id",
                  textCol: String = "text"): StreamingQuery =
    taggedDeltaIngest(stream, indexPath, GraphIndex.deltaByTag, outPath, checkpoint)(
        b => GraphIndex.appendIndex(b.df, idCol, textCol, indexPath, Some(b.tag))) {
      (spark, deltaDir) => spark.read.parquet(s"$deltaDir/edges")
    }

  /** Streaming growth of graph index AND the derived cluster
    * labeling ([[graft.functions.ClusterIndex]]): each document
    * micro-batch appends its graph delta, then re-labels exactly the
    * touched components, and the batch's revised (id, label) rows
    * land at `outPath` through the [[ingest]] sink — so near-dup
    * cluster membership stays a lookup while the corpus streams in.
    *
    * Replay discipline ([[taggedDeltaIngest]]): the graph append is
    * first-delivery-wins, so a plain redelivery commits nothing and
    * emits nothing. The crash window between the graph commit and
    * the cluster update heals by the batch tag: the replayed batch
    * re-locates ITS graph delta and re-runs the cluster update —
    * updateFromDelta recomputes the same labels from the same inputs,
    * so the duplicate cluster delta is content-identical and
    * last-writer-wins folding is unchanged.
    */
  def clusterIngest(stream: DataFrame, graphPath: String, clusterPath: String,
                    outPath: String, checkpoint: String,
                    idCol: String = "doc_id",
                    textCol: String = "text"): StreamingQuery =
    taggedDeltaIngest(stream, graphPath, GraphIndex.deltaByTag, outPath, checkpoint)(
        b => GraphIndex.appendIndex(b.df, idCol, textCol, graphPath, Some(b.tag))) {
      (spark, graphDelta) =>
        val cd = ClusterIndex.updateFromDelta(spark, graphPath, clusterPath, graphDelta)
        spark.read.parquet(s"$cd/labels")
    }

  /** Streaming growth of the graph index AND the derived CORENESS
    * labeling ([[graft.functions.CorenessIndex]]): each document
    * micro-batch appends its graph delta, then re-peels exactly the
    * touched components (coreness is component-local — the
    * [[graft.functions.ClusterIndex]] closure argument carries over),
    * and the batch's revised (id, label, coreness) rows land at
    * `outPath` through the [[ingest]] sink — the density-governance
    * number stays a label lookup while the corpus streams in, never
    * a per-run corpus-scale fixpoint.
    *
    * Replay discipline (the clusterIngest convention exactly): the
    * graph append is first-delivery-wins, so a plain redelivery
    * commits nothing and emits nothing; the crash window between the
    * graph commit and the coreness update heals by the batch tag —
    * the replayed batch re-locates ITS graph delta and re-runs the
    * update, whose output is content-identical from the same inputs,
    * so last-writer-wins folding is unchanged.
    */
  def corenessIngest(stream: DataFrame, graphPath: String,
                     corenessPath: String, outPath: String,
                     checkpoint: String, idCol: String = "doc_id",
                     textCol: String = "text"): StreamingQuery =
    taggedDeltaIngest(stream, graphPath, GraphIndex.deltaByTag, outPath, checkpoint)(
        b => GraphIndex.appendIndex(b.df, idCol, textCol, graphPath, Some(b.tag))) {
      (spark, graphDelta) =>
        val cd = CorenessIndex.updateFromDelta(spark, graphPath, corenessPath, graphDelta)
        spark.read.parquet(s"$cd/labels")
    }

  /** Streaming near-dup screening through the persisted MinHash
    * signature index ([[graft.functions.MinhashIndex]], round 18):
    * each document micro-batch is signed once, probed against the
    * CURRENT band table (O(batch + matched buckets) — corpus text
    * never re-scanned), its (id_a = indexed doc, id_b = batch doc,
    * est_jaccard ≥ minEst) matches land at `outPath` through the
    * [[ingest]] sink, and the batch's signatures then append as one
    * tagged delta so FUTURE batches dedup against it.
    *
    * Replay safety: scoring excludes the batch's own tagged delta
    * (the [[curateIngest]]/readHashIndex convention), so a crash
    * between append and checkpoint commit re-scores the replay
    * identically — never against the batch's own signatures — and
    * the idempotent append (known ids anti-joined) refuses the
    * double delta while the partition overwrite rewrites the same
    * sink rows in place: exactly-once EFFECT on index and sink.
    */
  def minhashIngest(stream: DataFrame, indexPath: String, outPath: String,
                    checkpoint: String, idCol: String = "doc_id",
                    textCol: String = "text",
                    minEstJaccard: Double = 0.5): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      val vdir = Versioned.committed(b.spark, indexPath,
        "minhash index (MinhashIndex.writeIndex)")
      b.emit(MinhashIndex.candidates(b.spark, vdir, b.df, idCol, textCol,
        minEstJaccard, excludeTag = Some(b.tag)), outPath)
      MinhashIndex.appendIndex(b.spark, indexPath, vdir, b.df, idCol, textCol,
        Some(b.tag))
    }

  /** Streaming near-dup screening through the persisted SimHash index
    * ([[graft.functions.SimhashIndex]], round 18) — the
    * [[minhashIngest]] loop with the pigeonhole-band sketch: each
    * document micro-batch is hashed once, probed against the CURRENT
    * band table (hamming ≤ MaxHamming matches, corpus text never
    * re-scanned), matches land through the [[ingest]] sink, and the
    * batch's simhashes append as one tagged delta so FUTURE batches
    * dedup against it. Same replay discipline: scoring excludes the
    * batch's own tagged delta; a redelivered doc self-matches at
    * hamming 0 — the "already indexed" signal.
    */
  def simhashIngest(stream: DataFrame, indexPath: String, outPath: String,
                    checkpoint: String, idCol: String = "doc_id",
                    textCol: String = "text"): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      val vdir = Versioned.committed(b.spark, indexPath,
        "simhash index (SimhashIndex.writeIndex)")
      b.emit(SimhashIndex.candidates(b.spark, vdir, b.df, idCol, textCol,
        excludeTag = Some(b.tag)), outPath)
      SimhashIndex.appendIndex(b.spark, indexPath, vdir, b.df, idCol, textCol,
        Some(b.tag))
    }

  /** Streaming growth of the persisted record-linkage index
    * ([[graft.functions.LinkageIndex]]): each micro-batch of records
    * appends in O(batch + touched buckets) — the batch's
    * deletion-neighborhood keys probe only the buckets they touch,
    * only pairs with a fresh side verify — and the batch's NEW
    * verified (id_a, id_b, dist) pairs land at `outPath` through the
    * [[ingest]] sink. A production linkage pipeline is incremental by
    * nature: matches surface as records arrive, and
    * [[graft.functions.LinkageIndex.readPairs]] stays the
    * always-current serve.
    *
    * Replay discipline (the graphIngest convention,
    * [[taggedDeltaIngest]]): the append is first-delivery-wins
    * (already-indexed ids drop), so a plain redelivery commits
    * nothing and emits nothing; the crash window between the delta
    * commit and the sink write heals by the batch tag — the replayed
    * batch re-locates ITS OWN delta (compaction-proof via
    * [[graft.operators.TagHeal]]) and rewrites its partition
    * idempotently.
    */
  def linkageIngest(stream: DataFrame, indexPath: String, outPath: String,
                    checkpoint: String, idCol: String = "id",
                    nameCol: String = "name",
                    blockCols: Seq[String] = Seq("block")): StreamingQuery =
    taggedDeltaIngest(stream, indexPath, LinkageIndex.deltaByTag, outPath, checkpoint)(
        b => LinkageIndex.appendIndex(b.df, idCol, nameCol, blockCols, indexPath,
          Some(b.tag))) {
      (spark, deltaDir) => spark.read.parquet(s"$deltaDir/pairs")
    }

  /** Streaming growth of the persisted similarity-join index
    * ([[graft.functions.SimJoinIndex]]): each document micro-batch
    * appends in O(batch + touched postings) — the batch's prefixes
    * (ranked under the STORED Ω) probe only the postings they touch —
    * and the batch's NEW verified (id_a, id_b, jaccard) pairs land at
    * `outPath` through the [[ingest]] sink. Same replay discipline as
    * [[linkageIngest]]: first-delivery-wins append, tag-healed crash
    * window, plain redeliveries emit nothing.
    */
  def simjoinIngest(stream: DataFrame, indexPath: String, outPath: String,
                    checkpoint: String, idCol: String = "doc_id",
                    textCol: String = "text"): StreamingQuery =
    taggedDeltaIngest(stream, indexPath, SimJoinIndex.deltaByTag, outPath, checkpoint)(
        b => SimJoinIndex.appendIndex(b.df, idCol, textCol, indexPath, Some(b.tag))) {
      (spark, deltaDir) => spark.read.parquet(s"$deltaDir/pairs")
    }

  /** Streaming growth of the persisted sketch PROFILE
    * ([[graft.functions.SketchProfile]]): each document micro-batch
    * appends its per-source sketch partial (KBs), and the CURRENT
    * folded estimates land at `outPath` through the [[ingest]] sink —
    * a continuously-updated corpus monitor that never re-reads old
    * data.
    *
    * Sketch merges are NOT idempotent, so replay safety rides the
    * batch tag (query-id + batch-id): a redelivered batch's append is
    * refused, and the estimates are re-emitted idempotently from the
    * already-committed state — exactly-once EFFECT on both the index
    * and the sink.
    */
  def profileIngest(stream: DataFrame, indexPath: String, outPath: String,
                    checkpoint: String, idCol: String = "doc_id",
                    textCol: String = "text",
                    srcCol: String = "source"): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      SketchProfile.appendBatch(b.df, idCol, textCol, srcCol, indexPath, Some(b.tag))
      val vdir = Versioned.committed(b.spark, indexPath,
        "sketch profile (SketchProfile.writeIndex)")
      b.emit(SketchProfile.readEstimates(b.spark, vdir), outPath)
    }

  /** Streaming growth of the persisted HEALTH profile
    * ([[graft.functions.HealthProfile]]): each document micro-batch
    * appends its (source × distinct-lengths)-bounded count partial,
    * and the CURRENT exact KS drift report lands at `outPath` through
    * the [[ingest]] sink — continuous distribution-drift monitoring
    * that never re-reads old data.
    *
    * Count merges are NOT idempotent, so replay safety rides the
    * batch tag (query-id + batch-id), exactly the [[profileIngest]]
    * discipline: a redelivered batch's append is refused and the
    * report re-emits idempotently from the committed state.
    */
  def healthIngest(stream: DataFrame, indexPath: String, outPath: String,
                   checkpoint: String, srcCol: String = "source",
                   lenCol: String = "n_chars"): StreamingQuery =
    ingest(stream, checkpoint) { b =>
      HealthProfile.appendBatch(b.df, srcCol, lenCol, indexPath, Some(b.tag))
      val vdir = Versioned.committed(b.spark, indexPath,
        "health profile (HealthProfile.writeIndex)")
      b.emit(HealthProfile.readKs(b.spark, vdir), outPath)
    }

  /** Durable sink: append the stream to a parquet directory with a
    * checkpoint (exactly-once file sink). The production counterpart
    * of [[runToMemory]] — same query, swap the sink.
    */
  def runToParquet(df: DataFrame, path: String, checkpoint: String): StreamingQuery = {
    val q = df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q
  }

  /** Runs a streaming DataFrame into an in-memory table and blocks
    * until all currently-available input is processed — the
    * synchronous-aggregation face of a streaming pipeline.
    */
  def runToMemory(df: DataFrame, name: String,
                  outputMode: String = "complete"): StreamingQuery = {
    // default micro-batch trigger (not AvailableNow, which would stop
    // the query and ignore elements sent afterwards)
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q
  }
}
