package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}
import java.sql.Timestamp

/** Ring 2 streaming (SURVEY.md §2.9/§5): the SAME transforms that the
  * graded batch twins use, run through MemoryStream + memory sink, must
  * produce identical results on complete data; plus watermark late-data
  * behavior and an arbitrary-state funnel, which have no batch twin. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
  event_type: String, value: Double)

/** Funnel state: first signup / first valid click / first valid purchase
  * as epoch-µs. */
case class FState(s: Option[Long], c: Option[Long], p: Option[Long])

/** A document row for the streaming incremental-dedup twin. */
case class Doc(doc_id: Long, text: String)

/** An event row carrying props, for the streaming heavy-hitters twin
  * (the shared Ev sample drops props). */
case class EvJ(event_id: Long, ts: Timestamp, props: String)

/** Spark 4 transformWithState processor: per-user running (count, max)
  * kept in a ValueState — the modern arbitrary-state API (StatefulProcessor
  * + typed state handles + RocksDB store), successor to
  * flatMapGroupsWithState. */
class RunningAggProcessor
  extends StatefulProcessor[Long, Ev, (Long, Long, Double)] {
  @transient private var st: ValueState[(Long, Double)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Double)]("agg",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[Ev],
      tv: TimerValues): Iterator[(Long, Long, Double)] = {
    val prev = if (st.exists()) st.get() else (0L, Double.MinValue)
    var cnt = prev._1
    var mx = prev._2
    rows.foreach { e => cnt += 1; if (e.value > mx) mx = e.value }
    st.update((cnt, mx))
    Iterator.single((key, cnt, mx))
  }
}

/** Spark 4 transformWithState SESSIONIZER — the full arbitrary-state
  * surface in one processor: a ListState buffers the open window's
  * (ts_ms, event_type) pairs, a MapState carries the user's LIFETIME
  * per-type counts across session closes (state that survives list
  * clears), and an EVENT-TIME TIMER at last-event + gap + 1 closes
  * sessions when the watermark passes (the expiry path a production
  * sessionizer runs on). Gap rule mirrors the graded batch twin
  * (Windows.sessionizeEvents): split only when the gap EXCEEDS 30 min
  * (an event exactly `gap` later merges), hence close only when
  * wm > end + gap. Output per closed session: (user, start_ms,
  * end_ms, n_events, lifetime_session_idx, lifetime type counts
  * rendered sorted). */
class SessionizerProcessor(gapMs: Long)
  extends StatefulProcessor[Long, Ev, (Long, Long, Long, Long, Long, String)] {
  @transient private var buf: ListState[(Long, String)] = _
  @transient private var life: MapState[String, Long] = _
  @transient private var nSess: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[(Long, String)]("buf",
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING), TTLConfig.NONE)
    life = getHandle.getMapState[String, Long]("life",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    nSess = getHandle.getValueState[Long]("n_sess",
      Encoders.scalaLong, TTLConfig.NONE)
  }
  private def rearm(): Unit = {
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    if (buf.exists()) {
      val end = buf.get().map(_._1).max
      getHandle.registerTimer(end + gapMs + 1)
    }
  }
  override def handleInputRows(key: Long, rows: Iterator[Ev],
      tv: TimerValues): Iterator[(Long, Long, Long, Long, Long, String)] = {
    rows.foreach(e => buf.appendValue((e.ts.getTime, e.event_type)))
    rearm()
    Iterator.empty
  }
  override def handleExpiredTimer(key: Long, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long, Long, String)] = {
    val wm = tv.getCurrentWatermarkInMs
    val all = buf.get().toSeq.sortBy(identity)
    // gap-split the buffer into sessions (strict >, the batch rule)
    val sessions = all.foldLeft(Vector.empty[Vector[(Long, String)]]) {
      case (acc, ev) =>
        if (acc.nonEmpty && ev._1 - acc.last.last._1 <= gapMs)
          acc.init :+ (acc.last :+ ev)
        else acc :+ Vector(ev)
    }
    // close only sessions no future event (ts >= wm) can still merge
    val (closed, open) = sessions.partition(s => s.last._1 + gapMs < wm)
    val out = closed.map { s =>
      s.foreach { case (_, t) =>
        life.updateValue(t,
          (if (life.containsKey(t)) life.getValue(t) else 0L) + 1L) }
      val idx = (if (nSess.exists()) nSess.get() else 0L) + 1L
      nSess.update(idx)
      val rendered = life.iterator().toSeq.sortBy(_._1)
        .map { case (t, n) => s"$t:$n" }.mkString(",")
      (key, s.head._1, s.last._1, s.size.toLong, idx, rendered)
    }
    buf.clear()
    open.flatten.foreach(buf.appendValue)
    rearm()
    out.iterator
  }
}

class StreamingSpec extends AnyFunSuite {
  /** A fresh directory under java.io.tmpdir, deleted after `body`. */
  private def withTempDir(prefix: String)(body: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    try body(d.toString) finally org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
  }

  private def spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def eventsSample(): Seq[Ev] = {
    Tables.events(spark, dir).orderBy("ts", "event_id")
      .collect().map(r => Ev(r.getAs[Long]("event_id"),
        r.getAs[Timestamp]("ts"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"))).toSeq
  }

  /** Run `transform` over the sample through a MemoryStream in complete
    * mode and return the sink contents. */
  private def throughStream(name: String, data: Seq[Ev],
    transform: DataFrame => DataFrame): DataFrame = {
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val mem = MemoryStream[Ev]
    // feed in two batches to exercise incremental state
    val (a, b) = data.splitAt(data.size / 2)
    val q = transform(mem.toDF()).writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      sp.table(name).cache()
    } finally q.stop()
  }

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"stream/batch mismatch: only-stream=${a.exceptAll(b).count()} " +
        s"only-batch=${b.exceptAll(a).count()}")
  }

  test("distinct-user window: streaming sketch within 5% of the exact twin") {
    val data = eventsSample()
    val approx = throughStream("t_distinct_sketch", data,
      operators.Pipeline31.streamDistinctSketch)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        r.getLong(2)).toMap
    val exact = SparkEntry.queries("q_stream_distinct_window")(spark, dir)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        r.getLong(2)).toMap
    assert(approx.keySet == exact.keySet) // same windows materialize
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n) <= math.max(1L, (0.05 * n).toLong),
        s"window $k: sketch $a vs exact $n")
    }
  }

  test("tumbling window: stream == batch on complete data") {
    val data = eventsSample()
    val batch = streaming.StreamOps.tumbling(Tables.events(spark, dir))
    assertSame(throughStream("t_tumbling", data, streaming.StreamOps.tumbling), batch)
  }

  test("drift monitor: stream == batch on complete data") {
    val data = eventsSample()
    val batch = streaming.StreamOps.drift(Tables.events(spark, dir))
    assertSame(throughStream("t_drift", data, streaming.StreamOps.drift),
      batch)
  }

  test("sliding window: stream == batch on complete data") {
    val data = eventsSample()
    val batch = streaming.StreamOps.sliding(Tables.events(spark, dir))
    assertSame(throughStream("t_sliding", data, streaming.StreamOps.sliding), batch)
  }

  test("session window: stream == batch on complete data") {
    val data = eventsSample()
    val batch = streaming.StreamOps.session(Tables.events(spark, dir))
    assertSame(throughStream("t_session", data, streaming.StreamOps.session), batch)
  }

  test("dedup: stream == batch on complete data") {
    val data = eventsSample()
    val batch = streaming.StreamOps.dedup(Tables.events(spark, dir))
    assertSame(throughStream("t_dedup", data, streaming.StreamOps.dedup), batch)
  }

  test("latest-state upsert compaction: stream == batch on complete data") {
    // the CDC materialized-view twin: max_by over the unique
    // (ts, event_id) ordinal merges across micro-batches, so feeding
    // the log in two batches must land exactly on the batch compaction
    val data = eventsSample()
    val batch = streaming.StreamOps.upsertLatest(Tables.events(spark, dir))
    assertSame(
      throughStream("t_upsert", data, streaming.StreamOps.upsertLatest),
      batch)
  }

  test("freq-sketch heavy hitters: stream == batch on complete data") {
    // the sketch agg's state MERGES across micro-batches (the
    // TypedImperativeAggregate contract); in the exact regime the
    // merged counts are order-independent, so two feeding batches must
    // land exactly on the batch twin.
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val data = Tables.events(spark, dir).orderBy("ts", "event_id")
      .collect().map(r => EvJ(r.getAs[Long]("event_id"),
        r.getAs[Timestamp]("ts"), r.getAs[String]("props"))).toSeq
    val mem = MemoryStream[EvJ]
    val (a, b) = data.splitAt(data.size / 2)
    val q = streaming.StreamOps.freqTopk(mem.toDF()).writeStream
      .format("memory").queryName("t_freq_topk")
      .outputMode(OutputMode.Complete()).start()
    val streamed = try {
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      sp.table("t_freq_topk").cache()
    } finally q.stop()
    assertSame(streamed,
      streaming.StreamOps.freqTopk(Tables.events(spark, dir)))
  }

  test("stream-stream interval join == batch attribution pairs") {
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val data = eventsSample()
    val clicksMem = MemoryStream[Ev]
    val purchMem = MemoryStream[Ev]
    def clicks(df: DataFrame): DataFrame = df
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    def purchases(df: DataFrame): DataFrame = df
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    def joined(c: DataFrame, p: DataFrame): DataFrame =
      c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("click_ts"), col("p_ts"), col("p_value"))
    val q = joined(
        clicks(clicksMem.toDF()).withWatermark("click_ts", "1 hour"),
        purchases(purchMem.toDF()).withWatermark("p_ts", "1 hour"))
      .writeStream.format("memory").queryName("t_ssjoin")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = data.splitAt(data.size / 2)
      clicksMem.addData(a); purchMem.addData(a); q.processAllAvailable()
      clicksMem.addData(b); purchMem.addData(b); q.processAllAvailable()
      val batchEv = Tables.events(spark, dir)
      assertSame(sp.table("t_ssjoin").cache(),
        joined(clicks(batchEv), purchases(batchEv)))
    } finally q.stop()
  }

  test("stream-stream FULL OUTER join: both sides' null rows only at expiry") {
    // the left-outer semantics PLUS the purchase side (r14, VERDICT
    // r13 #5): an unmatched PURCHASE (organic conversion, no click
    // preceded it) must also surface exactly once with a null click,
    // only when the watermark closes its window; late rows behind the
    // watermark resurrect nothing on either side. Complete-data
    // behavior is the graded batch twin (q_stream_full_outer,
    // oracle-checked with NULLS-pinned order).
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val clicksMem = MemoryStream[Ev]
    val purchMem = MemoryStream[Ev]
    def ts(min: Int) = Timestamp.valueOf(
      f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    def click(id: Long, u: Long, min: Int) = Ev(id, ts(min), u, "click", 0.0)
    def purchase(id: Long, u: Long, min: Int) =
      Ev(id, ts(min), u, "purchase", 1.0)
    val q = streaming.StreamOps.fullOuterAttribution(
        streaming.StreamOps.loClicks(clicksMem.toDF())
          .withWatermark("click_ts", "10 minutes"),
        streaming.StreamOps.loPurchases(purchMem.toDF())
          .withWatermark("purchase_ts", "10 minutes"))
      .writeStream.format("memory").queryName("t_fojoin")
      .outputMode(OutputMode.Append()).start()
    try {
      // u1 matches; u2's click never will; u5's purchase has no click
      clicksMem.addData(click(1, 1, 0), click(2, 2, 5))
      purchMem.addData(purchase(10, 1, 10), purchase(14, 5, 7))
      q.processAllAvailable()
      val early = sp.table("t_fojoin").collect()
      assert(!early.exists(r => !r.isNullAt(r.fieldIndex("click_id"))
          && r.getAs[Long]("click_id") == 2L),
        "no click-null row while its window is open")
      assert(!early.exists(r => !r.isNullAt(r.fieldIndex("purchase_id"))
          && r.getAs[Long]("purchase_id") == 14L),
        "no purchase-null row while its window is open")
      // advance both watermarks far past every open window
      clicksMem.addData(click(3, 3, 120))
      purchMem.addData(purchase(11, 3, 121))
      q.processAllAvailable()
      clicksMem.addData(click(4, 4, 125))
      purchMem.addData(purchase(12, 4, 126))
      q.processAllAvailable()
      val late = sp.table("t_fojoin").collect()
      val u2 = late.filter(r => !r.isNullAt(r.fieldIndex("click_id"))
        && r.getAs[Long]("click_id") == 2L)
      assert(u2.length == 1, s"expected one u2 row, got ${u2.length}")
      assert(u2.head.isNullAt(u2.head.fieldIndex("purchase_id")))
      assert(!u2.head.getAs[Boolean]("matched"))
      val u5 = late.filter(r => !r.isNullAt(r.fieldIndex("purchase_id"))
        && r.getAs[Long]("purchase_id") == 14L)
      assert(u5.length == 1, s"expected one u5 row, got ${u5.length}")
      assert(u5.head.isNullAt(u5.head.fieldIndex("click_id")))
      assert(!u5.head.getAs[Boolean]("matched"))
      assert(u5.head.getAs[Long]("user_id") == 5L,
        "user_id coalesces from the purchase side")
      // late rows behind the watermark change nothing on either side
      purchMem.addData(purchase(13, 2, 6))
      clicksMem.addData(click(5, 5, 6))
      q.processAllAvailable()
      val fin = sp.table("t_fojoin").collect()
      assert(fin.count(r => !r.isNullAt(r.fieldIndex("click_id"))
        && r.getAs[Long]("click_id") == 2L) == 1)
      assert(fin.count(r => !r.isNullAt(r.fieldIndex("purchase_id"))
        && r.getAs[Long]("purchase_id") == 14L) == 1)
      // the matched pair carries the exact event-time latency
      val u1 = fin.filter(r => !r.isNullAt(r.fieldIndex("click_id"))
        && r.getAs[Long]("click_id") == 1L)
      assert(u1.length == 1 &&
        u1.head.getAs[Long]("latency_us") == 600000000L)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: null row only at watermark expiry") {
    // the semantics users get wrong (VERDICT r12 #6): an unmatched
    // click's null-purchase row must NOT appear while a match could
    // still arrive, must appear EXACTLY ONCE when the watermark
    // passes click_ts + 30 min, and a late matching purchase behind
    // the watermark cannot resurrect it. Crafted batches; the
    // complete-data behavior is the graded batch twin
    // (q_stream_left_outer, oracle-checked).
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val clicksMem = MemoryStream[Ev]
    val purchMem = MemoryStream[Ev]
    def ts(min: Int) = Timestamp.valueOf(
      f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    def click(id: Long, u: Long, min: Int) = Ev(id, ts(min), u, "click", 0.0)
    def purchase(id: Long, u: Long, min: Int) =
      Ev(id, ts(min), u, "purchase", 1.0)
    val q = streaming.StreamOps.leftOuterAttribution(
        streaming.StreamOps.loClicks(clicksMem.toDF())
          .withWatermark("click_ts", "10 minutes"),
        streaming.StreamOps.loPurchases(purchMem.toDF())
          .withWatermark("purchase_ts", "10 minutes"))
      .writeStream.format("memory").queryName("t_lojoin")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: u1's click matches within the window; u2's never will
      clicksMem.addData(click(1, 1, 0), click(2, 2, 5))
      purchMem.addData(purchase(10, 1, 10))
      q.processAllAvailable()
      val early = sp.table("t_lojoin").collect()
      assert(!early.exists(_.getAs[Long]("click_id") == 2L),
        "no null row while the join window is still open")
      // advance BOTH watermarks far past u2's click + 30 min (two
      // batches: eviction lands on the trigger after the watermark
      // commit)
      clicksMem.addData(click(3, 3, 120))
      purchMem.addData(purchase(11, 3, 121))
      q.processAllAvailable()
      clicksMem.addData(click(4, 4, 125))
      purchMem.addData(purchase(12, 4, 126))
      q.processAllAvailable()
      val late = sp.table("t_lojoin").collect()
      val u2 = late.filter(_.getAs[Long]("click_id") == 2L)
      assert(u2.length == 1, s"expected exactly one u2 row, got ${u2.length}")
      assert(u2.head.isNullAt(u2.head.fieldIndex("purchase_id")))
      assert(!u2.head.getAs[Boolean]("matched"))
      // a LATE matching purchase behind the watermark is dropped
      purchMem.addData(purchase(13, 2, 6))
      q.processAllAvailable()
      val fin = sp.table("t_lojoin").collect()
      assert(fin.count(_.getAs[Long]("click_id") == 2L) == 1)
      // the matched pair carries the exact event-time latency
      val u1 = fin.filter(_.getAs[Long]("click_id") == 1L)
      assert(u1.length == 1 &&
        u1.head.getAs[Long]("latency_us") == 600000000L)
    } finally q.stop()
  }

  test("streaming incremental dedup (stream-static band join) == batch newVsCorpus") {
    // the ingestion form of q_dedup_incremental: NEW documents arrive
    // as a stream, sign THEMSELVES statelessly (Dedup.rowMinhashSig —
    // a per-row projection, since a stream row can't groupBy itself),
    // band-join the STORED corpus signatures (stream-static equi-join,
    // stateless), compute exact slot agreement from the two signature
    // arrays, and emit candidate pairs. Must equal the batch
    // newVsCorpus on the same split.
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val docs = Tables.documents(spark, dir)
    val newDocs = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val corpusSigs = api.Dedup.minhashSignatures(
      api.Text.shingles(corpus, "doc_id", "text", 3), "doc_id",
      operators.TextOps.permTable)
    val corpusBands = corpusSigs
      .select(col("doc_id").as("corpus_id"), col("perm"), col("minh")).cache()
    val corpusWide = corpusBands.groupBy("corpus_id")
      .agg(expr("transform(array_sort(collect_list(struct(perm, minh))), " +
        "p -> p.minh)").as("csig")).cache()
    def pipeline(df: DataFrame): DataFrame = df
      .withColumn("l", split(lower(col("text")), " "))
      .where(size(col("l")) >= 3)
      .withColumn("sh", api.Dedup.shingleArray("l", 3))
      .withColumn("sig", api.Dedup.rowMinhashSig("sh", operators.TextOps.permTable))
      .select(col("doc_id").as("new_id"), col("sig"),
        posexplode(col("sig")).as(Seq("perm", "minh")))
      .join(corpusBands, Seq("perm", "minh")) // stream-static, stateless
      .join(corpusWide, "corpus_id")          // stream-static, stateless
      .withColumn("matches", expr(
        "aggregate(zip_with(sig, csig, (x, y) -> IF(x = y, 1L, 0L)), " +
          "0L, (a, x) -> a + x)"))
      .where(col("matches") >= 8)
      .select("new_id", "corpus_id", "matches")
      .dropDuplicates("new_id", "corpus_id") // collapse multi-band hits
    val data = newDocs.select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[Doc]
    val q = pipeline(mem.toDF()).writeStream.format("memory")
      .queryName("t_incdedup").outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = data.splitAt(data.size / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val batch = api.Dedup.newVsCorpus(
        api.Dedup.minhashSignatures(
          api.Text.shingles(newDocs, "doc_id", "text", 3), "doc_id",
          operators.TextOps.permTable),
        corpusSigs, "doc_id", minMatches = 8)
      assert(sp.table("t_incdedup").count() > 0,
        "fixture must contain cross-split near-dups")
      assertSame(sp.table("t_incdedup").cache(), batch)
    } finally {
      q.stop()
      corpusBands.unpersist(); corpusWide.unpersist()
    }
  }

  test("streaming incremental CHUNK dedup (stream-static anti-join) == batch") {
    // the arrival-time form of q_dedup_chunk_incremental: new docs
    // chunk-hash themselves (Dedup.chunkSplit — a stateless projection,
    // no groupBy/window) and anti-join the stored corpus chunk-hash
    // frame; the surviving (doc, chunk) rows from a two-batch stream
    // must equal the batch anti-join on the same split.
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val docs = Tables.documents(spark, dir)
    val newDocs = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    val corpusChunks = api.Dedup.chunkSplit(
        docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", 32)
      .select("chunk_md5").distinct().cache()
    def pipeline(df: DataFrame): DataFrame =
      api.Dedup.chunkSplit(df, "doc_id", "text", 32)
        .join(corpusChunks, Seq("chunk_md5"), "left_anti")
        .select("doc_id", "chunk_idx", "chunk_md5")
    val data = newDocs.select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[Doc]
    val q = pipeline(mem.toDF()).writeStream.format("memory")
      .queryName("t_chunkdedup").outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = data.splitAt(data.size / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val batch = pipeline(newDocs)
      assert(sp.table("t_chunkdedup").count() > 0,
        "new docs must contribute at least one unseen chunk")
      assertSame(sp.table("t_chunkdedup").cache(), batch)
    } finally {
      q.stop()
      corpusChunks.unpersist()
    }
  }

  test("streaming perplexity scoring (stream-static LM join) == batch") {
    // quality filtering at INGEST: the bigram LM (c12/c1/V) is trained
    // offline on the stored corpus; arriving docs extract their own
    // transitions statelessly (per-row HOF, no window), join the
    // static count frames, and aggregate their own nll in Complete
    // mode. Must equal batch Text.perplexityScore on the same docs.
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val docs = Tables.documents(spark, dir)
    val tok = api.Text.tokens(docs, "doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("ord")
    val c12 = tok.withColumn("w2", lead(col("token"), 1).over(w))
      .where(col("w2").isNotNull)
      .select(col("token").as("w1"), col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")).cache()
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1")).cache()
    val vocabV = tok.agg(countDistinct(col("token")).as("v")).cache()
    def pipeline(df: DataFrame): DataFrame = df
      .withColumn("l", expr("filter(split(lower(text), ' '), x -> x <> '')"))
      .where(size(col("l")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(l) - 1), " +
          "i -> struct(l[i-1] AS w1, l[i] AS w2))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("ord"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))
      .join(c12, Seq("w1", "w2"))          // stream-static, stateless
      .join(c1, Seq("w1"))                 // stream-static, stateless
      .crossJoin(broadcast(vocabV))
      .withColumn("lp",
        log((col("c12") + 1).cast("double") / (col("c1") + col("v"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_transitions"),
        expr("aggregate(array_sort(collect_list(struct(ord, lp))), " +
          "cast(0 as double), (a, x) -> a + x.lp)").as("s"))
      .select(col("doc_id"), col("n_transitions"),
        round(-col("s") / col("n_transitions"), 6).as("nll"))
    val data = docs.select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[Doc]
    val q = pipeline(mem.toDF()).writeStream.format("memory")
      .queryName("t_ppl").outputMode(OutputMode.Complete()).start()
    try {
      val (a, b) = data.splitAt(data.size / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val batch = api.Text.perplexityScore(docs, "doc_id", "text")
      assertSame(sp.table("t_ppl").cache(), batch)
    } finally {
      q.stop()
      c12.unpersist(); c1.unpersist(); vocabV.unpersist()
    }
  }

  test("watermark drops events later than 10 minutes behind max ts") {
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val mem = MemoryStream[Ev]
    val agg = mem.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
    val q = agg.writeStream.format("memory").queryName("t_wm")
      .outputMode(OutputMode.Append()).start()
    def ev(id: Long, t: String) =
      Ev(id, Timestamp.valueOf(t), 1L, "click", 1.0)
    try {
      mem.addData(Seq(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:20:00")))
      q.processAllAvailable()
      // advance watermark far past hour 10 (max ts 13:00 => wm 12:50)
      mem.addData(Seq(ev(3, "2024-01-01 13:00:00")))
      q.processAllAvailable()
      // late event for hour 10 — behind the watermark, must be dropped
      mem.addData(Seq(ev(4, "2024-01-01 10:40:00")))
      q.processAllAvailable()
      // close remaining windows so everything emits
      mem.addData(Seq(ev(5, "2024-01-01 15:00:00")))
      q.processAllAvailable()
      val hour10 = sp.table("t_wm")
        .where(col("ws") === Timestamp.valueOf("2024-01-01 10:00:00"))
        .agg(sum("cnt")).collect()(0).getLong(0)
      assert(hour10 == 2, s"late event leaked into closed window: cnt=$hour10")
    } finally q.stop()
  }

  test("file sink + checkpoint: restart resumes exactly-once, batch-read equals batch twin") {
    // the production sink shape (memory sink is test-only): append a
    // windowed agg to parquet with a checkpoint, STOP the query
    // mid-stream, start a NEW query on the same checkpoint, feed the
    // rest — the checkpoint must dedupe re-delivery so the parquet
    // directory batch-reads exactly to the batch twin over closed
    // windows.
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    withTempDir("graft_fsink") { tmp =>
      val (outDir, ckDir) = (s"$tmp/out", s"$tmp/ck")
      val data = eventsSample()
      val (a, b) = data.splitAt(data.size / 2)
      val mem = MemoryStream[Ev]
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
      def start() = agg(mem.toDF()).writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .outputMode(OutputMode.Append()).start()
      val q1 = start()
      try { mem.addData(a); q1.processAllAvailable() } finally q1.stop()
      val q2 = start()
      try { mem.addData(b); q2.processAllAvailable() } finally q2.stop()
      // append mode only emits windows the watermark has closed; compute
      // the closed set from the fed data and compare against the batch twin
      val maxTs = data.map(_.ts.getTime).max
      val closed = col("ws") < new Timestamp(
        (maxTs - 60 * 1000) / 3600000 * 3600000)
      val streamed = sp.read.parquet(outDir).where(closed)
      val batch = agg(Tables.events(spark, dir)).where(closed)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "file-sink restart diverged from batch twin on closed windows")
    }
  }

  test("transformWithState (Spark 4 StatefulProcessor) == batch per-user agg") {
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(providerKey)
    // transformWithState requires the RocksDB state store provider
    sp.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val data = eventsSample()
    val mem = MemoryStream[Ev]
    val q = mem.toDS().groupByKey(_.user_id)
      .transformWithState(new RunningAggProcessor, TimeMode.None(),
        OutputMode.Update())
      .toDF("user_id", "cnt", "mx")
      .writeStream.format("memory").queryName("t_tws")
      .outputMode(OutputMode.Update()).start()
    try {
      val (a, b) = data.splitAt(data.size / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable() // state must carry across batches
      val streamed = sp.table("t_tws")
        .groupBy("user_id").agg(max("cnt").as("cnt"), max("mx").as("mx"))
      val batch = Tables.events(spark, dir).groupBy("user_id")
        .agg(count(lit(1)).as("bcnt"), max("value").as("bmx"))
      val bad = streamed.join(batch, "user_id")
        .where(col("cnt") =!= col("bcnt") || !(col("mx") <=> col("bmx")))
        .count()
      assert(bad == 0, "transformWithState diverges from batch aggregate")
      assert(streamed.count() == batch.count())
    } finally {
      q.stop()
      prev match {
        case Some(v) => sp.conf.set(providerKey, v)
        case None => sp.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState sessionizer: ListState+MapState+event-time " +
      "timers == batch gap sessions") {
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(providerKey)
    sp.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val gapMs = 30L * 60 * 1000
    val data = eventsSample()
    val maxTs = data.map(_.ts.getTime).max
    val mem = MemoryStream[Ev]
    val q = mem.toDS().withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new SessionizerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Update())
      .toDF("user_id", "start_ms", "end_ms", "n_events", "sess_idx",
        "life_types")
      .writeStream.format("memory").queryName("t_sessionizer")
      .outputMode(OutputMode.Update()).start()
    try {
      val (a, b) = data.splitAt(data.size / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past
      // every real session's close point, the second gives the armed
      // timers a micro-batch to fire in
      mem.addData(Ev(-1L, new Timestamp(maxTs + 20 * gapMs), -1L, "x", 0.0))
      q.processAllAvailable()
      mem.addData(Ev(-2L, new Timestamp(maxTs + 21 * gapMs), -1L, "x", 0.0))
      q.processAllAvailable()
      val streamed = sp.table("t_sessionizer").where(col("user_id") >= 0)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getString(5)))
        .sortBy(x => (x._1, x._2))
      // Scala re-derivation of the same gap sessions + lifetime counts
      val expected = data.groupBy(_.user_id).toSeq.flatMap { case (u, evs) =>
        val sorted = evs.map(e => (e.ts.getTime, e.event_type))
          .sortBy(identity)
        val sessions = sorted.foldLeft(Vector.empty[Vector[(Long, String)]]) {
          case (acc, ev) =>
            if (acc.nonEmpty && ev._1 - acc.last.last._1 <= gapMs)
              acc.init :+ (acc.last :+ ev)
            else acc :+ Vector(ev)
        }
        val life = collection.mutable.Map.empty[String, Long]
        sessions.zipWithIndex.map { case (s, i) =>
          s.foreach { case (_, t) => life(t) = life.getOrElse(t, 0L) + 1 }
          val rendered = life.toSeq.sortBy(_._1)
            .map { case (t, n) => s"$t:$n" }.mkString(",")
          (u, s.head._1, s.last._1, s.size.toLong, (i + 1).toLong, rendered)
        }
      }.sortBy(x => (x._1, x._2))
      assert(streamed.length == expected.length,
        s"${streamed.length} streamed sessions vs ${expected.length} derived")
      assert(streamed.toSeq == expected.toSeq)
      // the fixture actually exercises multi-session users and >1 type
      assert(expected.exists(_._5 > 1L), "fixture has a multi-session user")
      assert(expected.exists(_._6.contains(",")), "lifetime map has >1 type")
    } finally {
      q.stop()
      prev match {
        case Some(v) => sp.conf.set(providerKey, v)
        case None => sp.conf.unset(providerKey)
      }
    }
  }

  test("stateful funnel via flatMapGroupsWithState == batch funnel") {
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val data = eventsSample()
    val mem = MemoryStream[Ev]

    def us(t: Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000
    val fn = (uid: Long, it: Iterator[Ev], st: GroupState[FState]) => {
      val st0 = st.getOption.getOrElse(FState(None, None, None))
      var (s, c, p) = (st0.s, st0.c, st0.p)
      it.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
        val t = us(e.ts)
        e.event_type match {
          case "signup" if s.isEmpty || t < s.get => s = Some(t)
          case "click" if s.exists(_ <= t) && (c.isEmpty || t < c.get) => c = Some(t)
          case "purchase" if c.exists(_ <= t) && (p.isEmpty || t < p.get) => p = Some(t)
          case _ =>
        }
      }
      st.update(FState(s, c, p))
      Iterator((uid, s, c, p))
    }
    val q = mem.toDS().groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fn)
      .toDF("user_id", "s", "c", "p")
      .writeStream.format("memory").queryName("t_funnel")
      .outputMode(OutputMode.Update()).start()
    try {
      data.grouped(math.max(1, data.size / 3)).foreach { chunk =>
        mem.addData(chunk); q.processAllAvailable()
      }
      // final state per user: with a ts-ordered feed each slot is set at
      // most once (min over emissions == final value; nulls ignored)
      val streamed = sp.table("t_funnel")
        .groupBy("user_id").agg(min("s").as("s"), min("c").as("c"), min("p").as("p"))
      val batch = streaming.StreamOps.funnel(Tables.events(spark, dir))
        .select(col("user_id"), unix_micros(col("signup_ts")).as("bs"),
          unix_micros(col("click_ts")).as("bc"),
          unix_micros(col("purchase_ts")).as("bp"))
      val joined = streamed.join(batch, "user_id")
      val bad = joined.where(
        !(col("s") <=> col("bs")) || !(col("c") <=> col("bc")) ||
          !(col("p") <=> col("bp"))).count()
      assert(bad == 0, "stateful funnel diverges from batch twin")
    } finally q.stop()
  }

  test("foreachBatch idempotent sink: a replayed micro-batch writes " +
      "once (exactly-once by idempotence — VERDICT r10 #8)") {
    // The operational half of a streaming helper: foreachBatch gives
    // at-least-once delivery, so the sink must key its write on
    // batchId and overwrite — a re-fed batch (failure before the
    // commit log advanced) then lands byte-identical instead of
    // duplicating. The sink here writes each batch's per-type counts
    // to out/batch_id=<id> with overwrite mode.
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    withTempDir("graft-febatch") { out =>
      val data = eventsSample().take(200)
      def idempotentSink(df: DataFrame, batchId: Long): Unit =
        df.groupBy("event_type").agg(count(lit(1)).as("n"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      val mem = MemoryStream[Ev]
      val q = mem.toDF().writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch(idempotentSink _)
        .start()
      try { mem.addData(data); q.processAllAvailable() } finally q.stop()
      val batchDirs = new java.io.File(out)
        .listFiles().filter(_.getName.startsWith("batch_id=")).map(_.getName)
      assert(batchDirs.toSeq == Seq("batch_id=0"), batchDirs.mkString(","))
      val first = spark.read.parquet(s"$out/batch_id=0")
        .collect().map(_.toString).sorted.toSeq
      // REPLAY batch 0 — the same rows, the same batchId, as the
      // restarted query would re-feed them
      idempotentSink(data.toDF(), 0L)
      val replayed = spark.read.parquet(s"$out/batch_id=0")
        .collect().map(_.toString).sorted.toSeq
      assert(replayed == first, "replay must be byte-identical, not append")
      // and the total output across the sink is still exactly one batch
      assert(new java.io.File(out).listFiles()
        .count(_.getName.startsWith("batch_id=")) == 1)
    }
  }

  test("trigger modes: AvailableNow drains existing input then " +
      "self-terminates; ProcessingTime keeps the query live") {
    import org.apache.spark.sql.streaming.Trigger
    val sp = spark
    import sp.implicits._
    withTempDir("graft-trigger-in") { in =>
      val sample = eventsSample()
      sample.toDF().coalesce(1).write.mode("overwrite").parquet(in)
      val expected = sample.groupBy(_.event_type)
        .map { case (t, es) => (t, es.size.toLong) }.toMap
      def counts(table: String): Map[String, Long] =
        sp.table(table).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      val src = sp.readStream.schema(Tables.events(spark, dir).schema)
        .parquet(in)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      // AvailableNow: batch-like operation of a streaming pipeline —
      // process everything that exists, then stop without an external
      // stop() signal (the backfill/cron half of a streaming helper)
      val qa = src.writeStream.format("memory").queryName("t_avnow")
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow()).start()
      assert(qa.awaitTermination(120000),
        "AvailableNow query must terminate on its own")
      assert(counts("t_avnow") == expected)
      // ProcessingTime: the continuous mode — same result, but the query
      // stays active until stopped
      val qp = src.writeStream.format("memory").queryName("t_proctime")
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.ProcessingTime(0L)).start()
      try {
        qp.processAllAvailable()
        assert(qp.isActive, "ProcessingTime query must stay live")
        assert(counts("t_proctime") == expected)
      } finally qp.stop()
    }
  }

  test("chained stateful aggregation (two stacked window aggs, append) == batch twin on closed windows") {
    val sp = spark
    import sp.implicits._
    implicit val sql = sp.sqlContext
    val data = eventsSample()
    val mem = MemoryStream[Ev]
    val q = streaming.StreamOps
      .chainedAgg(mem.toDF().withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("t_chained")
      .outputMode(OutputMode.Append()).start()
    try {
      val (a, b) = data.splitAt(data.size / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      // nudge batch: chained stateful ops can finalize the SECOND
      // agg's state one microbatch after the first's emission — feed
      // one more event inside the still-open last hour (closed
      // windows unaffected) so the downstream agg flushes
      mem.addData(Seq(data.maxBy(_.ts.getTime)))
      q.processAllAvailable()
      val maxTs = data.map(_.ts.getTime).max
      val closed = col("window_start") < new Timestamp(
        (maxTs - 60 * 1000) / 3600000 * 3600000)
      val streamed = sp.table("t_chained").where(closed)
      val batch = streaming.StreamOps
        .chainedAgg(Tables.events(spark, dir)).where(closed)
      assert(streamed.count() > 0, "no closed windows emitted")
      assertSame(streamed, batch)
    } finally q.stop()
  }
}
