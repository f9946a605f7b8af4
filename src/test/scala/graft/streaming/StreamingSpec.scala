package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

case class Evt(ts: Timestamp, event_type: String, value: Double)
case class PEvt(pts: Timestamp, puser: Long, order_id: Long)
case class CEvt(cts: Timestamp, cuser: Long, v: Double)
case class IngestDoc(id: Long, text: String)

/** Channel source (reference pipeline.FromChannel) + watermarked
  * windowed aggregation, and stream/batch agreement for the same
  * window() operator used in q_stream_window.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def evts = Seq(
    Evt(Timestamp.valueOf("2024-01-01 00:05:00"), "click", 1.0),
    Evt(Timestamp.valueOf("2024-01-01 00:15:00"), "click", 2.0),
    Evt(Timestamp.valueOf("2024-01-01 01:05:00"), "click", 4.0),
    Evt(Timestamp.valueOf("2024-01-01 00:20:00"), "view", 8.0))

  test("channel feeds an unbounded stream; windowed agg matches batch") {
    val ch = Streams.Channel[Evt](spark)
    ch.send(evts: _*)
    val agg = Streams.windowedAgg(ch.toDS.toDF(), "ts", "event_type", "1 hour", "10 minutes")
    val q = Streams.runToMemory(agg, "stream_out")
    try {
      val streamed = spark.table("stream_out")
        .as[(String, String, Long, Double)].collect().toSet
      val batch = Streams
        .windowedAgg(evts.toDF(), "ts", "event_type", "1 hour", "10 minutes")
        .as[(String, String, Long, Double)].collect().toSet
      assert(streamed == batch)
      assert(streamed == Set(
        ("2024-01-01 00:00", "click", 2L, 3.0),
        ("2024-01-01 01:00", "click", 1L, 4.0),
        ("2024-01-01 00:00", "view", 1L, 8.0)))
    } finally q.stop()
  }

  test("dedupWithinWatermark drops in-window duplicates and expires state") {
    val ch = Streams.Channel[Evt](spark)
    val dd = Streams.dedupWithinWatermark(
      ch.toDS.toDF(), Seq("event_type"), "ts", "30 minutes")
    val q = Streams.runToMemory(dd, "ddw_out", outputMode = "append")
    try {
      // three same-key deliveries inside one window: first wins
      ch.send(
        Evt(Timestamp.valueOf("2024-01-01 00:05:00"), "click", 1.0),
        Evt(Timestamp.valueOf("2024-01-01 00:06:00"), "click", 2.0))
      q.processAllAvailable()
      ch.send(Evt(Timestamp.valueOf("2024-01-01 00:07:00"), "click", 3.0))
      q.processAllAvailable()
      assert(spark.table("ddw_out").as[Evt].collect().map(_.value).toSeq
        == Seq(1.0))
      // advance the watermark far past the key's expiry, then redeliver:
      // the state evicted, so the late same-key event is NEW again —
      // the bounded-state semantics that distinguish this face from
      // the corpus-global index path (two sends: the watermark used by
      // batch N is computed from batch N-1)
      ch.send(Evt(Timestamp.valueOf("2024-01-01 06:00:00"), "view", 4.0))
      q.processAllAvailable()
      // watermark is now ~05:30 (06:00 − 30 min); the click state
      // (expiry 00:35) is long evicted. The redelivery must itself be
      // AHEAD of the watermark — a behind-watermark row is dropped as
      // late input before dedup even sees it
      ch.send(Evt(Timestamp.valueOf("2024-01-01 07:00:00"), "click", 5.0))
      q.processAllAvailable()
      val vals = spark.table("ddw_out").as[Evt].collect()
        .filter(_.event_type == "click").map(_.value).toSet
      assert(vals == Set(1.0, 5.0),
        s"expected the post-expiry redelivery to emit anew: $vals")
    } finally q.stop()
  }

  test("curation columns run unchanged on a stream (batch/stream unification)") {
    // the text-analysis/curation operators are pure column
    // expressions, so the SAME code path filters a streaming corpus —
    // quality gate + language gate + PII scrub applied to a channel
    val ch = Streams.Channel[(Long, String)](spark)
    ch.send(
      1L -> "the quick brown fox jumps over the lazy dog in the yard",
      2L -> "el y los", // too short, fails the word-count gate
      3L -> "reach me at a@b.co or 555-123-4567 about the the the offer")
    val curated = ch.toDS.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextAnalysis.redactPii(col("text")).as("clean"),
        graft.functions.TextAnalysis.nWords(col("text")).as("n_words"),
        graft.functions.TextAnalysis.langIdScored(col("text")).as("lang"))
      .filter(col("n_words") >= 5 && col("lang") =!= "unk")
    val q = Streams.runToMemory(curated, "curated_stream", outputMode = "append")
    try {
      val rows = spark.table("curated_stream")
        .as[(Long, String, Int, String)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(1L, 3L))
      assert(rows(1)._2.contains("<EMAIL>") && rows(1)._2.contains("<PHONE>"))
      assert(rows.forall(_._4 == "en"))
    } finally q.stop()
  }

  test("custom-state sessionization emits sessions after watermark passes the gap") {
    import Streams.{SEvent, Session}
    val ch = Streams.Channel[SEvent](spark)
    val sessions = Streams.sessionizeStream(ch.toDS, gapSeconds = 1800, watermark = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then 2h silence
      ch.send(
        SEvent(1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        SEvent(1L, Timestamp.valueOf("2024-01-01 00:10:00"), 2.0))
      q.processAllAvailable()
      // advance the watermark far past user 1's session + gap
      ch.send(SEvent(99L, Timestamp.valueOf("2024-01-01 05:00:00"), 0.0))
      q.processAllAvailable()
      ch.send(SEvent(99L, Timestamp.valueOf("2024-01-01 05:01:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_out").as[Session].collect().filter(_.user_id == 1L)
      assert(got.length == 1)
      assert(got.head.n_events == 2L)
      assert(got.head.total_value == 3.0)
      assert(got.head.session_start == Timestamp.valueOf("2024-01-01 00:00:00"))
      assert(got.head.session_end == Timestamp.valueOf("2024-01-01 00:10:00"))
    } finally q.stop()
  }

  test("scd2Stream: out-of-order events fold into batch-identical closed intervals") {
    import Streams.{Scd2Row, TEvent}
    def ev(id: Long, t: String, tpe: String) =
      TEvent(5L, id, Timestamp.valueOf(t), tpe)
    // true order: A(00:00) A(00:10) B(00:20) B(00:30) A(00:40) —
    // runs A[00:00,00:20)×2, B[00:20,00:40)×2, A[00:40,…) open
    val ch = Streams.Channel[TEvent](spark)
    val q = Streams.scd2Stream(ch.toDS, watermark = "10 minutes")
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      // batch 1 delivers OUT OF ORDER (the 00:20 B arrives before the
      // 00:10 A); watermark still admits both, so the state buffers
      // them until sealed
      ch.send(ev(1, "2024-01-01 00:00:00", "A"),
        ev(3, "2024-01-01 00:20:00", "B"),
        ev(2, "2024-01-01 00:10:00", "A"))
      q.processAllAvailable()
      ch.send(ev(4, "2024-01-01 00:30:00", "B"),
        ev(5, "2024-01-01 00:40:00", "A"))
      // user 6: events 800 µs apart; the LATER one (D) carries the
      // SMALLER event_id, so ms-truncated time + id tiebreak would
      // invert them
      ch.send(
        TEvent(6L, 11, Timestamp.valueOf("2024-01-01 01:00:00.0009"), "D"),
        TEvent(6L, 12, Timestamp.valueOf("2024-01-01 01:00:00.0001"), "C"))
      q.processAllAvailable()
      // advance the watermark far past every real event (two sends:
      // the watermark used by batch N is computed from batch N-1)
      ch.send(TEvent(99L, 100, Timestamp.valueOf("2024-01-02 00:00:00"), "Z"))
      q.processAllAvailable()
      ch.send(TEvent(99L, 101, Timestamp.valueOf("2024-01-02 00:01:00"), "Z"))
      q.processAllAvailable()
      val got = spark.table("scd2_out").as[Scd2Row].collect()
        .filter(_.user_id == 5L)
        .map(r => (r.event_type, r.valid_from_us, r.valid_to_us, r.n_events)).toSet
      def us(t: String) = Timestamp.valueOf(t).getTime * 1000L
      assert(got == Set(
        ("A", us("2024-01-01 00:00:00"), us("2024-01-01 00:20:00"), 2L),
        ("B", us("2024-01-01 00:20:00"), us("2024-01-01 00:40:00"), 2L)),
        s"closed intervals diverge from the event-time fold: $got")
      // the open A run must NOT be emitted (append output is final)
      assert(!got.exists(_._2 == us("2024-01-01 00:40:00")))
      // SUB-MILLISECOND ordering: two events 800 MICROS apart, the
      // later type delivered with the SMALLER event_id — only true
      // micros ordering (not ms-truncated ts + event_id tiebreak)
      // folds them C-then-D
      val got6 = spark.table("scd2_out").as[Scd2Row].collect()
        .filter(_.user_id == 6L)
        .map(r => (r.event_type, r.valid_from_us, r.valid_to_us, r.n_events)).toSet
      assert(got6 == Set(
        ("C", us("2024-01-01 01:00:00") + 100L, us("2024-01-01 01:00:00") + 900L, 1L)),
        s"sub-ms events folded out of event-time order: $got6")
    } finally q.stop()
  }

  test("scd2Stream: an arrival AT the watermark millisecond is dropped as late") {
    import Streams.{Scd2Row, TEvent}
    // Spark 4.1's late-row filter is LessThanOrEqual(eventTime,
    // watermark) (verified against WatermarkSupport.watermark-
    // Expression in spark-sql 4.1.2): a NEW arrival at exactly the
    // watermark millisecond is inadmissible. So once user 7's
    // A(id=2) at 00:00:00 is sealed at wm == 00:00:00, the
    // same-timestamp B(id=1) sent afterwards must be silently
    // dropped — the fold is deterministic on the admissible events
    // alone, and the `<= wm` seal cannot be raced by a tie.
    val ch = Streams.Channel[TEvent](spark)
    val q = Streams.scd2Stream(ch.toDS, watermark = "10 minutes")
      .writeStream.format("memory").queryName("scd2_tie_out")
      .outputMode("append").start()
    try {
      def us(t: String) = Timestamp.valueOf(t).getTime * 1000L
      // batch 1: the A run opener + a driver putting the watermark
      // at exactly 00:00:00 (00:10:00 − 10 min)
      ch.send(TEvent(7L, 2, Timestamp.valueOf("2024-01-01 00:00:00"), "A"),
        TEvent(99L, 100, Timestamp.valueOf("2024-01-01 00:10:00"), "Z"))
      q.processAllAvailable()
      // batch 2: same-user traffic runs the fold fn at wm == 00:00:00
      // without advancing the watermark (00:01 − 10 min < 00:00);
      // the <= seal folds A(id=2) into the open run here
      ch.send(TEvent(7L, 9, Timestamp.valueOf("2024-01-01 00:01:00"), "A"))
      q.processAllAvailable()
      // batch 3: a tie AT the watermark ms — different type, smaller
      // id. Spark's <= late filter drops it before the state fn.
      ch.send(TEvent(7L, 1, Timestamp.valueOf("2024-01-01 00:00:00"), "B"))
      q.processAllAvailable()
      ch.send(TEvent(7L, 10, Timestamp.valueOf("2024-01-01 00:02:00"), "C"))
      q.processAllAvailable()
      ch.send(TEvent(99L, 101, Timestamp.valueOf("2024-01-02 00:00:00"), "Z"))
      q.processAllAvailable()
      ch.send(TEvent(99L, 102, Timestamp.valueOf("2024-01-02 00:01:00"), "Z"))
      q.processAllAvailable()
      val got = spark.table("scd2_tie_out").as[Scd2Row].collect()
        .filter(_.user_id == 7L)
        .map(r => (r.event_type, r.valid_from_us, r.valid_to_us, r.n_events)).toSet
      // the dropped B never splits the A run: A spans both A events
      // and is closed by C; no interval starts or ends at B's would-be
      // position other than the A opener itself
      assert(got == Set(
        ("A", us("2024-01-01 00:00:00"), us("2024-01-01 00:02:00"), 2L)),
        s"late tie leaked into the fold: $got")
    } finally q.stop()
  }

  test("scd2Stream: a sub-ms event above the watermark stays unsealed until truly inadmissible") {
    import Streams.{Scd2Row, TEvent}
    // The watermark is ms-granular but event times carry micros, and
    // Spark's late filter compares FULL micros (eventTime_µs <=
    // wm·1000). An event at wm·1000+900 µs therefore still has an
    // admissible sibling at wm·1000+100 µs in the SAME millisecond —
    // an ms-truncated seal (tsUs/1000 <= wm) would seal the +900 event
    // first and fold the later-arriving +100 sibling AFTER it,
    // emitting an inverted interval. The seal must compare micros.
    val ch = Streams.Channel[TEvent](spark)
    val q = Streams.scd2Stream(ch.toDS, watermark = "10 minutes")
      .writeStream.format("memory").queryName("scd2_subms_out")
      .outputMode("append").start()
    try {
      def us(t: String) = Timestamp.valueOf(t).getTime * 1000L
      val base = us("2024-01-01 00:00:00")
      // batch 1: D at base+900 µs, plus a driver putting the watermark
      // at exactly 00:00:00.000 ms (00:10:00 − 10 min)
      ch.send(TEvent(8L, 11, Timestamp.valueOf("2024-01-01 00:00:00.0009"), "D"),
        TEvent(99L, 100, Timestamp.valueOf("2024-01-01 00:10:00"), "Z"))
      q.processAllAvailable()
      // batch 2: the EARLIER same-ms sibling C at base+100 µs — still
      // admissible (base+100 > wm·1000 = base). D must still be
      // pending here; a ms-truncated seal would already have opened
      // the D run and C would close it as [base+900, base+100).
      ch.send(TEvent(8L, 12, Timestamp.valueOf("2024-01-01 00:00:00.0001"), "C"))
      q.processAllAvailable()
      // advance the watermark far past both (two sends: the watermark
      // used by batch N is computed from batch N-1)
      ch.send(TEvent(99L, 101, Timestamp.valueOf("2024-01-02 00:00:00"), "Z"))
      q.processAllAvailable()
      ch.send(TEvent(99L, 102, Timestamp.valueOf("2024-01-02 00:01:00"), "Z"))
      q.processAllAvailable()
      val got = spark.table("scd2_subms_out").as[Scd2Row].collect()
        .filter(_.user_id == 8L)
        .map(r => (r.event_type, r.valid_from_us, r.valid_to_us, r.n_events)).toSet
      assert(got == Set(("C", base + 100L, base + 900L, 1L)),
        s"sub-ms watermark tie sealed too early (inverted interval?): $got")
    } finally q.stop()
  }

  test("streaming sessionization agrees with batch session_window") {
    import Streams.SEvent
    val evts = Seq(
      SEvent(7L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      SEvent(7L, Timestamp.valueOf("2024-01-01 00:20:00"), 2.0),
      SEvent(7L, Timestamp.valueOf("2024-01-01 03:00:00"), 4.0), // new session
      SEvent(8L, Timestamp.valueOf("2024-01-01 01:00:00"), 8.0))
    val batch = graft.operators.Sessionize
      .batch(evts.toDF(), "user_id", "ts", "value", "30 minutes")
      .as[(Long, String, String, Long, Double)].collect().toSet
    assert(batch == Set(
      (7L, "2024-01-01 00:00:00", "2024-01-01 00:20:00", 2L, 3.0),
      (7L, "2024-01-01 03:00:00", "2024-01-01 03:00:00", 1L, 4.0),
      (8L, "2024-01-01 01:00:00", "2024-01-01 01:00:00", 1L, 8.0)))

    val ch = Streams.Channel[SEvent](spark)
    val q = Streams.sessionizeStream(ch.toDS, 1800, "10 minutes")
      .writeStream.format("memory").queryName("sess_cmp").outputMode("append").start()
    try {
      ch.send(evts: _*)
      q.processAllAvailable()
      ch.send(SEvent(99L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      ch.send(SEvent(99L, Timestamp.valueOf("2024-01-02 00:01:00"), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sess_cmp").as[Streams.Session].collect()
        .filter(s => s.user_id == 7L || s.user_id == 8L)
        .map(s => (s.user_id,
          s.session_start.toString.stripSuffix(".0"),
          s.session_end.toString.stripSuffix(".0"),
          s.n_events, s.total_value)).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("consecutive late events merge into ONE session (no eager singletons)") {
    import Streams.{SEvent, Session}
    val ch = Streams.Channel[SEvent](spark)
    val q = Streams.sessionizeStream(ch.toDS, gapSeconds = 120, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_late").outputMode("append").start()
    try {
      // open a session [12:00, 12:01:30] for user 1 (within the 120s gap)
      ch.send(
        SEvent(1L, Timestamp.valueOf("2024-01-01 12:00:00"), 1.0),
        SEvent(1L, Timestamp.valueOf("2024-01-01 12:01:30"), 1.0))
      q.processAllAvailable()
      // two consecutive late events well before it, still in-watermark;
      // they must merge with EACH OTHER (one session), not become
      // eager singletons, and must stay separate from [12:00,12:01:30]
      // (11:56:30 + 120s < 12:00)
      ch.send(
        SEvent(1L, Timestamp.valueOf("2024-01-01 11:56:00"), 2.0),
        SEvent(1L, Timestamp.valueOf("2024-01-01 11:56:30"), 2.0))
      q.processAllAvailable()
      // advance watermark far past everything (two batches to flush)
      ch.send(SEvent(99L, Timestamp.valueOf("2024-01-01 15:00:00"), 0.0))
      q.processAllAvailable()
      ch.send(SEvent(99L, Timestamp.valueOf("2024-01-01 15:01:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_late").as[Session].collect()
        .filter(_.user_id == 1L).sortBy(_.session_start.getTime)
      assert(got.length == 2, got.mkString(";"))
      assert(got(0).n_events == 2L && got(0).total_value == 4.0)
      assert(got(0).session_end == Timestamp.valueOf("2024-01-01 11:56:30"))
      assert(got(1).n_events == 2L && got(1).total_value == 2.0)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    import Streams.SEvent
    val ch = Streams.Channel[SEvent](spark)
    val deduped = Streams.dedupStream(ch.toDS.toDF(), "ts", "10 minutes", Seq("user_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      ch.send(
        SEvent(1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        SEvent(1L, Timestamp.valueOf("2024-01-01 00:01:00"), 2.0), // dup key
        SEvent(2L, Timestamp.valueOf("2024-01-01 00:02:00"), 3.0))
      q.processAllAvailable()
      ch.send(SEvent(1L, Timestamp.valueOf("2024-01-01 00:03:00"), 4.0)) // dup key, later batch
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2) // users 1 and 2 once each
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    val purchases = Streams.Channel[PEvt](spark)
    val clicks = Streams.Channel[CEvt](spark)
    val p = Seq(
      PEvt(Timestamp.valueOf("2024-01-01 00:30:00"), 1L, 100L),
      PEvt(Timestamp.valueOf("2024-01-01 00:40:00"), 2L, 101L),
      PEvt(Timestamp.valueOf("2024-01-01 02:00:00"), 1L, 102L))
    val c = Seq(
      CEvt(Timestamp.valueOf("2024-01-01 00:10:00"), 1L, 1.0), // in 30m window of 100
      CEvt(Timestamp.valueOf("2024-01-01 00:29:00"), 1L, 2.0), // in window of 100
      CEvt(Timestamp.valueOf("2024-01-01 00:35:00"), 2L, 4.0), // in window of 101
      CEvt(Timestamp.valueOf("2024-01-01 00:30:00"), 1L, 8.0), // cts == pts: excluded
      CEvt(Timestamp.valueOf("2024-01-01 01:00:00"), 1L, 16.0)) // too early for 102
    purchases.send(p: _*)
    clicks.send(c: _*)
    val joined = Streams.intervalJoin(
      purchases.toDS.toDF(), "pts", clicks.toDS.toDF(), "cts",
      "puser" -> "cuser", lookbackSeconds = 1800, watermark = "10 minutes")
      .select($"order_id", $"cts", $"v")
    val q = Streams.runToMemory(joined, "ij_out", outputMode = "append")
    try {
      // advance both watermarks far past every event so all pairs emit
      purchases.send(PEvt(Timestamp.valueOf("2024-01-02 00:00:00"), 9L, 999L))
      clicks.send(CEvt(Timestamp.valueOf("2024-01-02 00:00:00"), 9L, 0.0))
      q.processAllAvailable()
      val streamed = spark.table("ij_out")
        .as[(Long, Timestamp, Double)].collect().toSet
      val batch = p.toDF().join(c.toDF(),
          $"puser" === $"cuser" &&
          $"cts" >= $"pts" - expr("INTERVAL 1800 SECONDS") && $"cts" < $"pts")
        .select($"order_id", $"cts", $"v")
        .as[(Long, Timestamp, Double)].collect().toSet
      assert(streamed == batch)
      assert(streamed.map(_._1) == Set(100L, 101L))
      assert(streamed.size == 3)
    } finally q.stop()
  }

  test("streaming ingest dedups across micro-batches via the parquet index") {
    val base = java.nio.file.Files.createTempDirectory("graft_ingest")
    val (idx, out, ckpt) = (s"$base/idx", s"$base/out", s"$base/ckpt")
    val ch = Streams.Channel[IngestDoc](spark)
    val q = Streams.dedupIngest(ch.toDS.toDF(),
      md5(col("text").cast("binary")), "id", idx, out, ckpt)
    try {
      // batch 1: in-batch duplicate (ids 1,2 share text) + unique
      ch.send(IngestDoc(1, "aa"), IngestDoc(2, "aa"), IngestDoc(3, "bb"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate (id 4 repeats "bb") + new
      ch.send(IngestDoc(4, "bb"), IngestDoc(5, "cc"))
      q.processAllAvailable()
      val kept = spark.read.parquet(out).as[(Long, String)].collect().toSet
      assert(kept == Set((1L, "aa"), (3L, "bb"), (5L, "cc")),
        s"expected batch-1 keep-firsts + batch-2 novelty, got $kept")
      // the index holds exactly the three distinct keys
      assert(spark.read.parquet(idx).distinct().count() == 3)
    } finally q.stop()
  }

  test("dedupIngest: an index that exists but cannot be read fails the batch") {
    // only a MISSING index reads as empty: read as empty, the clobbered
    // index below would let the cross-batch duplicate through again
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_bad")
    val (idx, out, ckpt) = (s"$base/idx", s"$base/out", s"$base/ckpt")
    val ch = Streams.Channel[IngestDoc](spark)
    val q = Streams.dedupIngest(ch.toDS.toDF(),
      md5(col("text").cast("binary")), "id", idx, out, ckpt)
    try {
      ch.send(IngestDoc(1, "aa"), IngestDoc(2, "bb"))
      q.processAllAvailable()
      assert(spark.read.parquet(idx).count() == 2)
      def clobber(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(clobber)
        else if (f.getName.endsWith(".parquet")) {
          val w = new java.io.FileOutputStream(f)
          try w.write("not a parquet file".getBytes) finally w.close()
        }
      clobber(new java.io.File(idx))
      ch.send(IngestDoc(3, "aa"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(spark.read.parquet(out).count() == 2, "the duplicate reached outPath")
    } finally q.stop()
  }

  test("parquet sink: exactly-once append with checkpoint, resumable") {
    import Streams.SEvent
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ch = Streams.Channel[SEvent](spark)
    ch.send(SEvent(1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
    val q = Streams.runToParquet(ch.toDS.toDF(), s"$dir/data", s"$dir/ckpt")
    try {
      assert(spark.read.parquet(s"$dir/data").count() == 1)
      ch.send(SEvent(2L, Timestamp.valueOf("2024-01-01 00:01:00"), 2.0))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/data").count() == 2)
    } finally q.stop()
  }

  test("sf0.01 events: streamed windowed agg matches batch frame (real table)") {
    // batch/stream unification on the REAL events table (10k rows, 5
    // event types, ~3.4k hourly windows), not synthetic rows: replay
    // the table through a channel in event-time order (so the
    // watermark never drops what batch would keep) across several
    // micro-batches, and the streamed frame must agree with the batch
    // frame — n exactly; sums to fp tolerance (incremental state
    // accumulates in a different order than the batch agg).
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
      .select($"ts", $"event_type", $"value")
    val batch = Streams
      .windowedAgg(ev, "ts", "event_type", "1 hour", "10 minutes")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val rows = ev.as[Evt].collect().sortBy(_.ts.getTime)
    val ch = Streams.Channel[Evt](spark)
    val agg = Streams.windowedAgg(ch.toDS.toDF(), "ts", "event_type", "1 hour", "10 minutes")
    val q = Streams.runToMemory(agg, "sf_win_out")
    try {
      rows.grouped(2500).foreach { chunk => ch.send(chunk.toSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("sf_win_out")
        .as[(String, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(streamed.keySet == batch.keySet,
        s"window keys diverge: ${(streamed.keySet diff batch.keySet).take(3)} / ${(batch.keySet diff streamed.keySet).take(3)}")
      streamed.foreach { case (k, (n, total)) =>
        assert(n == batch(k)._1, s"count diverges at $k")
        assert(math.abs(total - batch(k)._2) <= 0.011, s"sum diverges at $k: $total vs ${batch(k)._2}")
      }
    } finally q.stop()
  }

  test("sf0.01 events: streamed sessionization matches batch session_window (real table)") {
    import Streams.SEvent
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    def f(t: Timestamp) = fmt.format(t.toInstant)
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
      .select($"user_id", $"ts", $"value")
    val batch = graft.operators.Sessionize
      .batch(ev, "user_id", "ts", "value", "30 minutes")
      .as[(Long, String, String, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3) -> (r._4, r._5)).toMap
    val rows = ev.as[SEvent].collect().sortBy(_.ts.getTime)
    val ch = Streams.Channel[SEvent](spark)
    val q = Streams.sessionizeStream(ch.toDS, gapSeconds = 1800, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sf_sess_out").outputMode("append").start()
    try {
      rows.grouped(2500).foreach { chunk => ch.send(chunk.toSeq: _*); q.processAllAvailable() }
      // flush: two sentinel batches far past the last event + gap
      val last = rows.last.ts.getTime
      ch.send(SEvent(-1L, new Timestamp(last + 86400000L), 0.0))
      q.processAllAvailable()
      ch.send(SEvent(-1L, new Timestamp(last + 86400000L + 60000L), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sf_sess_out").as[Streams.Session].collect()
        .filter(_.user_id >= 0)
        .map(s => (s.user_id, f(s.session_start), f(s.session_end)) ->
          (s.n_events, s.total_value)).toMap
      assert(streamed.keySet == batch.keySet,
        s"session keys diverge: ${(streamed.keySet diff batch.keySet).take(3)} / ${(batch.keySet diff streamed.keySet).take(3)}")
      streamed.foreach { case (k, (n, total)) =>
        assert(n == batch(k)._1, s"n_events diverges at $k")
        // batch rounds to 2; the state fold does not — allow the
        // rounding quantum plus fp-order noise
        assert(math.abs(total - batch(k)._2) <= 0.011, s"total diverges at $k")
      }
    } finally q.stop()
  }

  test("stream-static broadcast join enriches a channel against a dim table") {
    // the enrichment pattern: an unbounded stream joins a bounded
    // dimension loaded once — Spark plans a broadcast hash join per
    // micro-batch, no state store involved (unlike stream-stream
    // joins), so it runs indefinitely with zero state growth.
    val nation = graft.Tables.nation(spark, "/root/testdata/sf0.01")
      .select($"n_nationkey", $"n_name")
    val ch = Streams.Channel[(Long, Double)](spark)
    val enriched = ch.toDS.toDF("cust_nation", "amount")
      .join(broadcast(nation), $"cust_nation" === $"n_nationkey")
      .select($"n_name", $"amount")
    val q = Streams.runToMemory(enriched, "enrich_out", outputMode = "append")
    try {
      ch.send(0L -> 10.0, 1L -> 20.0, 0L -> 5.0, 999L -> 1.0) // 999: no dim row
      q.processAllAvailable()
      val rows = spark.table("enrich_out").as[(String, Double)].collect()
      assert(rows.length == 3, "unmatched keys must drop (inner join)")
      assert(rows.filter(_._2 == 10.0).head._1.nonEmpty)
      val batch = Seq(0L -> 10.0, 1L -> 20.0, 0L -> 5.0, 999L -> 1.0)
        .toDF("cust_nation", "amount")
        .join(nation, $"cust_nation" === $"n_nationkey")
        .select($"n_name", $"amount").as[(String, Double)].collect()
      assert(rows.sortBy(r => (r._1, r._2)).toSeq == batch.sortBy(r => (r._1, r._2)).toSeq)
    } finally q.stop()
  }

  test("observed metrics surface per micro-batch through progress events") {
    val ch = Streams.Channel[(Long, Double)](spark)
    val instrumented = graft.operators.Observe.onStream(
      ch.toDS.toDF("id", "v"), "ingest_metrics",
      count(lit(1)).as("n"), sum($"v").as("total"))
    val q = Streams.runToMemory(instrumented, "obs_stream_out", outputMode = "append")
    try {
      ch.send(1L -> 2.0, 2L -> 3.0)
      q.processAllAvailable()
      ch.send(3L -> 5.0)
      q.processAllAvailable()
      val ms = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("ingest_metrics")))
      assert(ms.map(_.getAs[Long]("n")).sum == 3, s"per-batch counts: $ms")
      assert(math.abs(ms.map(_.getAs[Double]("total")).sum - 10.0) < 1e-9)
    } finally q.stop()
  }

  test("incremental sends are visible after reprocessing") {
    val ch = Streams.Channel[Evt](spark)
    ch.send(evts.head)
    val agg = Streams.windowedAgg(ch.toDS.toDF(), "ts", "event_type", "1 hour", "10 minutes")
    val q = Streams.runToMemory(agg, "stream_inc")
    try {
      assert(spark.table("stream_inc").count() == 1)
      ch.send(evts(2)) // second window
      q.processAllAvailable()
      assert(spark.table("stream_inc").count() == 2)
    } finally q.stop()
  }

  test("streamed ANN scoring against the persisted IVF index matches batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_ingest").toString
    val emb = graft.functions.AnnTestData.clustered(spark, n = 800)
    val cents = graft.functions.Ivf.trainCentroids(emb, "vec_id", "embedding", k = 16)
    graft.functions.Ivf.writeIndex(emb, s"$dir/index", cents)
    val queryRows = emb.filter(col("vec_id") < 8)
      .as[(Long, Array[Float])].collect()
    val ch = Streams.Channel[(Long, Array[Float])](spark)
    ch.send(queryRows.take(4): _*)
    val q = Streams.annScoreIngest(
      ch.toDS.toDF("vec_id", "embedding"), s"$dir/index", s"$dir/out",
      s"$dir/ckpt", k = 5, nprobe = 4)
    try {
      ch.send(queryRows.drop(4): _*) // a second micro-batch
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rank", "neighbor_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
      val streamed = key(spark.read.parquet(s"$dir/out"))
      val batch = key(graft.functions.Ivf.ivfTopKIndexed(
        spark, s"$dir/index", emb.filter(col("vec_id") < 8), k = 5, nprobe = 4))
      assert(streamed == batch,
        s"streamed scoring diverged: ${streamed.size} vs ${batch.size} rows")
    } finally q.stop()
  }

  test("decontamIngest: batches scored against a persisted gram index equal the batch scan, replay-safe") {
    // streaming face of Curation.decontamOverlap: benchmark grams are
    // indexed ONCE (Versioned), then three micro-batches of corpus
    // docs — one RE-DELIVERED, at-least-once style — stream through
    // the same probe; the union of outputs must equal the one-shot
    // batch scan over the same corpus
    val dir = java.nio.file.Files.createTempDirectory("graft_decontam").toString
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text", "source")
    val bench = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    graft.functions.Curation.writeDecontamIndex(bench, "doc_id", "text", 5, s"$dir/index")
    val rows = corpus.select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val third = rows.length / 3
    val (b1, rest) = rows.splitAt(third)
    val (b2, b3) = rest.splitAt(third)
    val ch = Streams.Channel[(Long, String)](spark)
    ch.send(b1: _*)
    val q = Streams.decontamIngest(ch.toDS.toDF("doc_id", "text"),
      s"$dir/index", s"$dir/out", s"$dir/ckpt", k = 5)
    try {
      ch.send(b2: _*); q.processAllAvailable()
      ch.send(b2: _*) // crash/replay stand-in: same rows delivered again
      q.processAllAvailable()
      ch.send(b3: _*); q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "n_grams", "n_hit", "overlap_frac")
        .as[(Long, Long, Long, Double)].collect()
      val streamed = key(spark.read.parquet(s"$dir/out"))
      // scoring is idempotent: the re-delivered docs produce the SAME
      // rows, so the set equals the batch scan exactly
      val batch = key(graft.functions.Curation.decontamOverlap(
        corpus, bench, "doc_id", "text", 5))
      assert(streamed.toSet == batch.toSet,
        s"streamed decontam diverged: ${streamed.length} rows vs batch ${batch.length}")
      assert(batch.length == rows.length)
      // source-level redelivery lands under a NEW batch_id, so outPath
      // legitimately holds b2's rows twice, in two batch_id partitions
      // — rows are idempotent-by-value and consumers dedup on doc_id
      // at read (see decontamIngest's scaladoc). Assert the DISTINCT
      // doc count (the set compare above alone would mask a dedup
      // regression that dropped or fabricated docs) and that the
      // duplicates really are there (the at-least-once case occurred).
      val out = spark.read.parquet(s"$dir/out")
      assert(out.select("doc_id").distinct().count() == rows.length)
      assert(out.count() == rows.length + b2.length,
        "redelivered batch must appear under its own batch_id partition")
      // the scan must demonstrate actual leakage, not all-zero rows
      assert(streamed.count(_._3 > 0) >= 1)
    } finally q.stop()
  }

  test("decontamIngest: restart from checkpoint replays the SAME batch_id through the overwrite") {
    // the exactly-once mechanism decontamIngest actually relies on is
    // dynamic-partition overwrite on an IDENTICAL batch_id — which a
    // channel re-send can NEVER exercise (re-sent rows form a NEW
    // batch). Simulate the crash window deterministically with a
    // replayable FILE source: process one batch, stop, delete the
    // checkpoint's commit marker (= crashed after the sink write,
    // before the commit), restart on the same checkpoint — Spark
    // re-runs the batch with the same batch_id, and the overwrite
    // must leave ZERO duplicate rows.
    val dir = java.nio.file.Files.createTempDirectory("graft_decontam_rs").toString
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text", "source")
    val bench = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    graft.functions.Curation.writeDecontamIndex(bench, "doc_id", "text", 5, s"$dir/index")
    corpus.select("doc_id", "text").coalesce(1).write.parquet(s"$dir/in")
    val n = corpus.count()
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(s"$dir/in")
    val q1 = Streams.decontamIngest(stream(), s"$dir/index", s"$dir/out",
      s"$dir/ckpt", k = 5)
    q1.stop()
    assert(spark.read.parquet(s"$dir/out").count() == n)
    // crash stand-in: drop the newest commit marker; the offset log
    // still pins the batch's file list, so restart re-runs it. The
    // sidecar Hadoop .crc must go too — a stale checksum makes the
    // rewrite look like a concurrent writer to HDFSMetadataLog
    val commitDir = new java.io.File(s"$dir/ckpt/commits")
    val commits = commitDir.listFiles().filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty)
    val newest = commits.maxBy(_.getName.toInt)
    new java.io.File(commitDir, s".${newest.getName}.crc").delete()
    assert(newest.delete())
    val q2 = Streams.decontamIngest(stream(), s"$dir/index", s"$dir/out",
      s"$dir/ckpt", k = 5)
    q2.stop()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == n,
      s"same-batch_id replay appended instead of overwriting: ${out.count()} rows vs $n")
    assert(out.select("doc_id").distinct().count() == n)
  }

  test("spanDedupIngest: scores against history, grows the index O(batch), redelivery scores 1.0") {
    // streaming face of span-level dedup: base corpus indexed once,
    // the rest streamed in two micro-batches. Invariants:
    //  (1) index parity — final index = distinct span hashes of ALL docs;
    //  (2) FINAL-batch docs match the batch q_span_dup_frac exactly
    //      (every cross-doc span they share is with an earlier-or-same-
    //      batch doc, all visible to the incremental scorer);
    //  (3) earlier-batch docs are ≤ batch (spans shared only with
    //      LATER docs are invisible at scoring time — the documented
    //      incremental semantics);
    //  (4) a redelivered batch grows the index by NOTHING and its docs
    //      score dup_frac 1.0 (their spans are history now — the
    //      keep-first verdict for re-ingested content).
    val dir = java.nio.file.Files.createTempDirectory("graft_spaningest").toString
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val cut = ids(ids.length / 2)
    graft.functions.Dedup.writeSpanIndex(
      docs.filter(col("doc_id") <= cut), "doc_id", "text", 8, s"$dir/index")
    val rows = docs.filter(col("doc_id") > cut)
      .as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val ch = Streams.Channel[(Long, String)](spark)
    ch.send(b1: _*)
    val q = Streams.spanDedupIngest(ch.toDS.toDF("doc_id", "text"),
      s"$dir/index", s"$dir/out", s"$dir/ckpt", k = 8)
    try {
      ch.send(b2: _*); q.processAllAvailable()
      val vdir = graft.operators.Versioned.resolve(spark, s"$dir/index").get
      val idxH = graft.functions.Dedup.readSpanIndex(spark, vdir)
        .select("h").distinct().as[Long].collect().toSet
      val allH = graft.functions.Dedup.spanRows(docs, "doc_id", "text", 8)
        .select("h").distinct().as[Long].collect().toSet
      assert(idxH == allH, s"index parity broke: ${idxH.size} vs ${allH.size} hashes")
      val full = graft.SparkEntry.queries("q_span_dup_frac")(spark, sf)
        .select("doc_id", "n_dup").as[(Long, Long)].collect().toMap
      val streamed = spark.read.parquet(s"$dir/out")
        .select("doc_id", "n_dup").as[(Long, Long)].collect().toMap
      val lastBatch = b2.map(_._1).toSet
      streamed.foreach { case (id, nd) =>
        if (lastBatch(id))
          assert(nd == full(id), s"final-batch doc $id: streamed $nd != batch ${full(id)}")
        else
          assert(nd <= full(id), s"earlier doc $id: streamed $nd > batch ${full(id)}")
      }
      // some doc must demonstrate actual cross-batch duplication
      assert(streamed.exists(_._2 > 0), "no duplicated span ever flagged")
      val deltasBefore = graft.operators.Versioned.listDeltas(spark, vdir).size
      ch.send(b2: _*) // at-least-once redelivery, new batch_id
      q.processAllAvailable()
      assert(graft.operators.Versioned.listDeltas(spark, vdir).size == deltasBefore,
        "redelivered batch must not grow the index")
      val replayed = spark.read.parquet(s"$dir/out")
        .groupBy("doc_id").agg(max("batch_id").as("bid"),
          max("dup_frac").as("df_max"))
        .filter(col("bid") >= 2)
      assert(replayed.count() == b2.count(r => tokenCount(r._2) >= 8),
        "replayed partition missing redelivered docs")
      assert(replayed.filter(col("df_max") < 1.0).count() == 0,
        "re-ingested docs must score dup_frac 1.0 — their spans are history")
    } finally q.stop()
  }

  private def tokenCount(text: String): Int =
    text.split(" ").count(_.nonEmpty)

  test("indexGrowIngest: dedup → append → score across micro-batches with a replay") {
    // the full streaming curation loop: the index grows by three
    // micro-batches (one of them RE-DELIVERED, at-least-once style)
    // and must end up identical to a batch-built index over the same
    // corpus with the same quantizer
    val dir = java.nio.file.Files.createTempDirectory("graft_grow").toString
    val emb = graft.functions.AnnTestData.clustered(spark, n = 1200)
    val base = emb.filter(col("vec_id") < 600)
    val cents = graft.functions.Ivf.trainCentroids(base, "vec_id", "embedding", k = 16)
    graft.functions.Ivf.writeIndex(base, s"$dir/index", cents)
    val rows = emb.filter(col("vec_id") >= 600)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val (b1, rest) = rows.splitAt(200)
    val (b2, b3) = rest.splitAt(200)
    val ch = Streams.Channel[(Long, Array[Float])](spark)
    ch.send(b1: _*)
    val q = Streams.indexGrowIngest(
      ch.toDS.toDF("vec_id", "embedding"), s"$dir/index", s"$dir/out",
      s"$dir/ckpt", k = 5, nprobe = 4)
    try {
      ch.send(b2: _*); q.processAllAvailable()
      ch.send(b2: _*) // crash/replay stand-in: the same rows delivered again
      q.processAllAvailable()
      ch.send(b3: _*); q.processAllAvailable()
      // the replayed delivery appended nothing: 600 base + 600 streamed
      val vdir = graft.operators.Versioned.resolve(spark, s"$dir/index").get
      val cellRows = spark.read.parquet(s"$vdir/cells").count() +
        graft.operators.Versioned.listDeltas(spark, vdir)
          .map(d => spark.read.parquet(s"$d/cells").count()).sum
      assert(cellRows == 1200)
      // grown index ≡ batch-built index over the same corpus+quantizer
      val queries = emb.filter(col("vec_id") < 8)
      def pairs(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rank", "neighbor_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
      val full = java.nio.file.Files.createTempDirectory("graft_grow_full").toString
      graft.functions.Ivf.writeIndex(emb, full, cents)
      assert(pairs(graft.functions.Ivf.ivfTopKIndexed(
        spark, s"$dir/index", queries, k = 5, nprobe = 4)) ==
        pairs(graft.functions.Ivf.ivfTopKIndexed(spark, full, queries, k = 5, nprobe = 4)))
      // every streamed row got scored (3 logical batches, k each)
      val scored = spark.read.parquet(s"$dir/out")
        .select("query_id").distinct().count()
      assert(scored == 600)
    } finally q.stop()
  }

  test("bm25QueryIngest: streamed retrieval against the persisted lexical index equals batch") {
    // online face of q_bm25: the corpus statistics are indexed ONCE
    // (Versioned tf/df/stats), then query docs stream through in two
    // micro-batches (one redelivered, at-least-once style); results
    // are deterministic per index version, so the union equals the
    // one-shot batch retrieval over the same query set
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25s").toString
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
    val corpus = docs.filter(col("source") =!= "src0")
    val queries = docs.filter(col("source") === "src0")
    graft.functions.Retrieval.writeLexicalIndex(corpus, "doc_id", "text", s"$dir/index")
    val qRows = queries.select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = qRows.splitAt(qRows.length / 2)
    val ch = Streams.Channel[(Long, String)](spark)
    ch.send(b1: _*)
    val q = Streams.bm25QueryIngest(ch.toDS.toDF("doc_id", "text"),
      s"$dir/index", s"$dir/out", s"$dir/ckpt", topK = 5)
    try {
      ch.send(b1: _*) // redelivery: same rows, new batch — idempotent by value
      q.processAllAvailable()
      ch.send(b2: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "rank", "doc_id", "score")
        .as[(Long, Int, Long, Double)].collect().toSet
      val streamed = rows(spark.read.parquet(s"$dir/out"))
      val batch = rows(graft.functions.Retrieval.bm25TopK(
        corpus, queries, "doc_id", "text", topK = 5))
      assert(streamed == batch,
        s"streamed bm25 diverged: ${streamed.size} vs batch ${batch.size}")
      // every query doc that produced batch hits is present
      assert(spark.read.parquet(s"$dir/out").select("query_id").distinct().count() ==
        batch.map(_._1).size.toLong)
    } finally q.stop()
  }

  test("importanceIngest: batches scored against the persisted model equal batch scoring") {
    // deployment shape of DSIR selection: model trained ONCE on the
    // sf corpus (src0 = target), candidate docs stream through in two
    // micro-batches with one redelivery; scoring is deterministic per
    // model version so the distinct union equals one-shot batch
    // scoring — and a doc of tokens in NEITHER pool takes lr_unseen
    val dir = java.nio.file.Files.createTempDirectory("graft_imps").toString
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
    graft.functions.Selection.writeImportanceModel(
      docs, "doc_id", "text", col("source") === "src0", s"$dir/model")
    val vdir = graft.operators.Versioned.resolve(spark, s"$dir/model").get
    val cand = docs.filter(col("source") =!= "src0" && col("doc_id") < 100)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val oov = (90000L, "qqxyzzy frobnitz blorp") // tokens in neither pool
    val (b1, b2) = cand.splitAt(cand.length / 2)
    val ch = Streams.Channel[(Long, String)](spark)
    ch.send(b1: _*)
    val q = Streams.importanceIngest(ch.toDS.toDF("doc_id", "text"),
      s"$dir/model", s"$dir/out", s"$dir/ckpt")
    try {
      ch.send(b1: _*) // redelivery: value-identical rows under a new batch_id
      q.processAllAvailable()
      ch.send(b2 :+ oov: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "n_tokens", "avg_logratio")
        .as[(Long, Long, Double)].collect().toSet
      val streamed = rows(spark.read.parquet(s"$dir/out"))
      val batchDf = spark.createDataFrame(
        spark.sparkContext.parallelize((cand :+ oov).map(t => org.apache.spark.sql.Row(t._1, t._2))),
        new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string"))
      val batch = rows(graft.functions.Selection.scoreImportanceIndexed(
        spark, vdir, batchDf, "doc_id", "text"))
      assert(streamed == batch,
        s"streamed importance diverged: ${streamed.size} vs batch ${batch.size}")
      // the OOV doc scored on the unseen branch: every token took
      // lr_unseen, so its mean IS lr_unseen (r6-rounded)
      val lrUnseen = spark.read.parquet(s"$vdir/defaults")
        .select("lr_unseen").as[Double].head()
      val got = streamed.find(_._1 == 90000L).get
      assert(got._2 == 3L)
      assert(got._3 == math.floor(lrUnseen * 1e6 + 0.5) / 1e6)
    } finally q.stop()
  }

  test("minhashIngest: near-dup screening through the persisted signature index, replay-aware") {
    // the incremental crawl loop (round 18): even docs are the indexed
    // corpus, odd docs stream in two micro-batches plus one
    // at-least-once REDELIVERY; every (even, odd) match the oracled
    // self-join finds must come through the sink, and the redelivered
    // batch — whose docs were appended on first delivery — must score
    // against its own indexed signatures as exact self-matches (the
    // "this doc is already in the corpus" signal), est 1.0
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_ingest").toString
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
    val vdir0 = graft.functions.MinhashIndex.writeIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", s"$dir/index")
    val odd = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = odd.splitAt(odd.length / 2)
    // reference probe BEFORE the stream grows the index: appends land
    // as deltas under this same version dir, so a later read of vdir0
    // would see the odd docs already indexed (self-matches)
    val want = graft.functions.MinhashIndex.candidates(spark, vdir0,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val ch = Streams.Channel[(Long, String)](spark)
    ch.send(b1: _*)
    val q = Streams.minhashIngest(ch.toDS.toDF("doc_id", "text"),
      s"$dir/index", s"$dir/out", s"$dir/ckpt")
    try {
      ch.send(b2: _*); q.processAllAvailable()
      ch.send(b1: _*) // redelivery as a NEW batch id
      q.processAllAvailable()
      val sink = spark.read.parquet(s"$dir/out")
        .select("id_a", "id_b", "est_jaccard", "batch_id")
        .as[(Long, Long, Double, Long)].collect()
      // even-left subset == the one-shot bipartite probe (odd-side
      // appends can only ADD odd-left pairs, never change even-left)
      val evenLeft = sink.filter(_._1 % 2 == 0).map(t => (t._1, t._2, t._3)).toSet
      assert(evenLeft == want,
        s"streamed even-side matches diverged: extra=${evenLeft -- want}, " +
          s"missing=${want -- evenLeft}")
      // the replay batch (highest batch_id) self-matches every doc
      val lastBatch = sink.map(_._4).max
      val selfs = sink.filter(r => r._4 == lastBatch && r._1 == r._2)
      assert(selfs.map(_._1).toSet == b1.map(_._1).toSet,
        "redelivered docs must self-match through the index")
      assert(selfs.forall(_._3 == 1.0))
      // the index ended up with every doc's signature exactly once
      val vdir = graft.operators.Versioned.resolve(spark, s"$dir/index").get
      val n = graft.functions.MinhashIndex.readSigs(spark, vdir).count()
      assert(n == docs.count(), s"index holds $n sigs, corpus ${docs.count()}")
    } finally q.stop()
  }

  test("simhashIngest: hamming screening through the persisted simhash index, replay-aware") {
    // the minhashIngest loop with the pigeonhole sketch (round 18):
    // even docs indexed, odd docs stream in two micro-batches plus an
    // at-least-once redelivery; the even-left sink subset must equal
    // the one-shot bipartite probe, and redelivered docs — appended on
    // first delivery — must self-match through the index at hamming 0
    val dir = java.nio.file.Files.createTempDirectory("graft_sh_ingest").toString
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
    graft.functions.SimhashIndex.writeIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", s"$dir/index")
    val vdir0 = graft.operators.Versioned.resolve(spark, s"$dir/index").get
    val odd = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = odd.splitAt(odd.length / 2)
    val want = graft.functions.SimhashIndex.candidates(spark, vdir0,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    val ch = Streams.Channel[(Long, String)](spark)
    ch.send(b1: _*)
    val q = Streams.simhashIngest(ch.toDS.toDF("doc_id", "text"),
      s"$dir/index", s"$dir/out", s"$dir/ckpt")
    try {
      ch.send(b2: _*); q.processAllAvailable()
      ch.send(b1: _*) // redelivery as a NEW batch id
      q.processAllAvailable()
      val sink = spark.read.parquet(s"$dir/out")
        .select("id_a", "id_b", "hamming", "batch_id")
        .as[(Long, Long, Int, Long)].collect()
      val evenLeft = sink.filter(_._1 % 2 == 0).map(t => (t._1, t._2, t._3)).toSet
      assert(evenLeft == want,
        s"streamed even-side matches diverged: extra=${evenLeft -- want}, " +
          s"missing=${want -- evenLeft}")
      val lastBatch = sink.map(_._4).max
      val selfs = sink.filter(r => r._4 == lastBatch && r._1 == r._2)
      assert(selfs.map(_._1).toSet == b1.map(_._1).toSet,
        "redelivered docs must self-match through the index")
      assert(selfs.forall(_._3 == 0), "self-match hamming must be 0")
      val vdir = graft.operators.Versioned.resolve(spark, s"$dir/index").get
      val n = graft.functions.SimhashIndex.readSims(spark, vdir).count()
      assert(n == docs.count(), s"index holds $n simhashes, corpus ${docs.count()}")
    } finally q.stop()
  }
}
