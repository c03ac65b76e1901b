package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class EventStreamSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("windowed counts over a real stream (file source -> memory sink)") { withWorkDir("events-stream") { dir =>
    // stage the driver's events table as a streaming source directory
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(dir)

    val q = EventStream.streamFromParquetDir(spark, dir)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_counts")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("win_counts")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val batch = EventStream.windowedCounts(
        spark.read.parquet(dir))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    // stream (complete mode, no late data) == batch result
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() > 0)
  }}

  test("sessionizer state is O(1): one hot user with 1M events streams through") {
    // events 10s apart with a 1000s gap every 100k events -> 10 sessions;
    // the round-1 sessionizer buffered + sorted the full history per user
    val n = 1000000
    val events = spark.range(n).select(
      col("id").as("event_id"),
      (col("id") * 10 + floor(col("id") / 100000) * 1000).cast("timestamp").as("ts"),
      lit(42L).as("user_id"), lit("e").as("event_type"), lit(1.0).as("value")
    ).as[EventStream.Event]
    val sessions = EventStream.sessionize(events, gapSeconds = 60)
      .collect().sortBy(_.start_ts.getTime)
    assert(sessions.length == 10)
    assert(sessions.forall(_.n_events == 100000))
    assert(sessions.map(_.total_value).sum == n.toDouble)
  }

  test("streaming sessionizer (bounded state, event-time timeout) matches batch") { withWorkDir("sess-stream") { dir =>
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir).as[EventStream.Event]
    val q = EventStream.sessionizeStreaming(src, gapSeconds = 300)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("sessions_stream")
    val batch = EventStream.sessionize(
      spark.read.parquet(dir).as[EventStream.Event], gapSeconds = 300).toDF()
    // append mode only emits CLOSED sessions: every streamed session must
    // be a batch session, and most batch sessions close within the data
    assert(streamed.exceptAll(batch).isEmpty)
    assert(streamed.count() > 0)
  }}

  test("streaming as-of enrichment matches the batch asofJoin on ordered arrival") { withWorkDir("asof-stream") { dir =>
    val base = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    base.write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir).as[EventStream.Event]
    val q = EventStream.asofEnrichStreaming(src,
        isLeft = _.event_type == "purchase", isRight = _.event_type == "view")
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_stream")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    val streamed = spark.table("asof_stream")
      .select("event_id", "user_id", "matched_event_id", "matched_ts")
    val batchEv = spark.read.parquet(dir)
    val batch = graft.ops.AsOf.asofJoin(
        batchEv.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        batchEv.where(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id")),
        Seq("user_id"), "ts", "event_id")
      .select("event_id", "user_id", "matched_event_id", "matched_ts")
    assert(streamed.count() ==
      batchEv.where(col("event_type") === "purchase").count())
    val extra = streamed.exceptAll(batch).collect()
    val missing = batch.exceptAll(streamed).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"stream-only=${extra.take(5).mkString(";")} batch-only=${missing.take(5).mkString(";")}")
  }}

  test("as-of enrichment across micro-batches: state carries forward, never leaks the future") { withWorkDir("asof-mb") { dir =>
    // one file per micro-batch (maxFilesPerTrigger=1), mtimes forced so
    // the file source processes them in order — the single-batch parity
    // test never exercises cross-batch state at all
    def write(name: String, rows: Seq[(Long, Long, Long, String)], mtime: Long): Unit = {
      val p = s"$dir/$name"
      rows.map { case (id, sec, user, tpe) => (id, ts(sec), user, tpe, 0.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(p)
      new java.io.File(p).listFiles().foreach(_.setLastModified(mtime))
    }
    // batch 1: the only right event (user 7, ts=100)
    write("b1", Seq((1L, 100L, 7L, "view")), 1000000L)
    // batch 2: a late left (ts=95 — OLDER than the state: must NOT match)
    // and an in-order left (ts=105: matches the batch-1 state)
    write("b2", Seq((2L, 95L, 7L, "purchase"), (3L, 105L, 7L, "purchase")), 2000000L)
    val src = spark.readStream.schema(spark.read.parquet(s"$dir/b1").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*").as[EventStream.Event]
    val q = EventStream.asofEnrichStreaming(src,
        isLeft = _.event_type == "purchase", isRight = _.event_type == "view")
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_mb")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "expected >= 2 micro-batches")
    val rows = spark.table("asof_mb").collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong)).toMap
    assert(rows(2L).isEmpty, "late left must not be matched to a FUTURE right")
    assert(rows(3L).contains(1L), "in-order left must match state from the prior batch")
  }}

  test("streaming interval pairs match the batch RangeJoin on the events table") { withWorkDir("ivl-stream") { dir =>
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(dir)
    val widthUs = 1800L * 1000000L
    val src = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir).as[EventStream.Event]
    val q = EventStream.intervalPairsStreaming(src, widthUs)
      .writeStream.outputMode("append")
      .format("memory").queryName("ivl_stream")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    val streamed = spark.table("ivl_stream")
      .select("user_id", "id_a", "id_b", "gap_us")
    val batch = graft.ops.RangeJoin.withinInterval(
        spark.read.parquet(dir), Seq("user_id"), "ts", "event_id", widthUs)
      .select("user_id", "id_a", "id_b", "gap_us")
    val extra = streamed.exceptAll(batch).collect()
    val missing = batch.exceptAll(streamed).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"stream-only=${extra.take(5).mkString(";")} batch-only=${missing.take(5).mkString(";")}")
    assert(streamed.count() > 0)
  }}

  test("interval pairs across micro-batches: in-horizon partners pair, each pair once") { withWorkDir("ivl-mb") { dir =>
    def write(name: String, rows: Seq[(Long, Long, Long)], mtime: Long): Unit = {
      val p = s"$dir/$name"
      rows.map { case (id, sec, user) => (id, ts(sec), user, "e", 0.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(p)
      new java.io.File(p).listFiles().foreach(_.setLastModified(mtime))
    }
    // width 100s. batch 1: events at 10000 and 10050 (pair within batch);
    // batch 2: event at 10120 (pairs with 10050 across batches, not with
    // 10000) plus a second user's lone event. Times sit well above epoch
    // 0: a row AT the initial watermark (ts = 0) is dropped by the
    // stateful operator's late filter — the epoch-0 corner, not state
    write("b1", Seq((1L, 10000L, 7L), (2L, 10050L, 7L)), 1000000L)
    write("b2", Seq((3L, 10120L, 7L), (9L, 10060L, 8L)), 2000000L)
    val src = spark.readStream.schema(spark.read.parquet(s"$dir/b1").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*").as[EventStream.Event]
    val q = EventStream.intervalPairsStreaming(src, widthUs = 100L * 1000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ivl_mb")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "expected >= 2 micro-batches")
    val got = spark.table("ivl_mb").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("gap_us")))
      .toSeq.sorted
    assert(got == Seq((1L, 2L, 50000000L), (2L, 3L, 70000000L)),
      s"expected the in-batch and cross-batch pairs exactly once: $got")
  }}

  test("interval pairs maxBuffer guard: hot key caps its buffer, oldest partners dropped") { withWorkDir("ivl-cap") { dir =>
    // 12 same-user events 1s apart, width 100s (all-pairs = 66), buffer
    // capped at 4: the reference fold keeps the 4 most recent events
    val events = (0 until 12).map(i => (i.toLong, ts(10000L + i), 7L, "e", 0.0))
    events.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir).as[EventStream.Event]
    val q = EventStream.intervalPairsStreaming(src, widthUs = 100L * 1000000L,
        maxBuffer = 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("ivl_cap")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query did not finish in time")
    val got = spark.table("ivl_cap").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // reference: sorted fold with a 4-deep buffer evicting the oldest
    val expected = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = scala.collection.mutable.Set.empty[(Long, Long)]
      (0L until 12L).foreach { id =>
        buf.foreach(p => out += ((math.min(p, id), math.max(p, id))))
        buf += id
        if (buf.length > 4) buf.remove(0)
      }
      out.toSet
    }
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
    assert(got.size < 66, "the cap must drop oldest-partner pairs")
    // and every emitted pair is a true batch pair (subset, never invention)
    val batch = graft.ops.RangeJoin.withinInterval(
        spark.read.parquet(dir), Seq("user_id"), "ts", "event_id", 100L * 1000000L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got.subsetOf(batch))
  }}

  test("interval pairs survive width > idle TTL with a null-ts-only batch (timeout clamp)") { withWorkDir("ivl-clamp") { dir =>
    // round-4 advice: with widthUs >= idleTtlSeconds*1e6, a batch that
    // delivers ONLY null-ts rows for a key computes its timeout horizon
    // from stale retained events (as low as watermark - width), so the
    // raw timeout lands AT or BEFORE the watermark and Spark kills the
    // query with IllegalArgumentException. The clamp keeps it strictly
    // above. Three batches: (1) user 7's events set its state, (2) user
    // 8 advances the watermark far past user 7's horizon + TTL, (3) a
    // null-ts row for user 7 forces the stale-horizon timeout update.
    def write(name: String, rows: Seq[(Long, java.sql.Timestamp, Long)], mtime: Long): Unit = {
      val p = s"$dir/$name"
      rows.map { case (id, t, user) => (id, t, user, "e", 0.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(p)
      new java.io.File(p).listFiles().foreach(_.setLastModified(mtime))
    }
    write("b1", Seq((1L, ts(10000L), 7L), (2L, ts(10001L), 7L)), 1000000L)
    write("b2", Seq((8L, ts(10090L), 8L)), 2000000L)
    write("b3", Seq((9L, null, 7L)), 3000000L)
    val src = spark.readStream.schema(spark.read.parquet(s"$dir/b1").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*").as[EventStream.Event]
    // width 100s > TTL 10s; watermark delay 0 so it tracks max event time
    val q = EventStream.intervalPairsStreaming(src, widthUs = 100L * 1000000L,
        watermark = "0 seconds", idleTtlSeconds = 10L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ivl_clamp")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "query died — the timeout clamp regressed")
    assert(q.exception.isEmpty, s"query failed: ${q.exception}")
    val got = spark.table("ivl_clamp").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == Set((1L, 2L)), s"only the b1 pair is in width: $got")
  }}

  test("streaming dedup keeps first occurrence per key; state bounded by watermark") { withWorkDir("dedup-stream") { dir =>
    val base = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("event_type"))
    base.unionAll(base).write.mode("overwrite").parquet(dir) // every event duplicated
    val src = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = EventStream.dedupByKey(src, "event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("dedup_stream")
    assert(streamed.count() == base.count())
    assert(streamed.groupBy("event_id").count().where(col("count") > 1).isEmpty)
    // batch path: same operator degenerates to distinct-by-key
    assert(EventStream.dedupByKey(spark.read.parquet(dir), "event_id").count() == base.count())
  }}

  test("sessionizer: gap splits sessions; totals preserved") {
    val events = Seq(
      EventStream.Event(1, ts(0), 7L, "a", 1.0),
      EventStream.Event(2, ts(10), 7L, "a", 2.0),
      EventStream.Event(3, ts(1000), 7L, "b", 3.0), // gap > 60 -> new session
      EventStream.Event(4, ts(1010), 7L, "b", 4.0),
      EventStream.Event(5, ts(5), 8L, "a", 5.0)
    ).toDS()
    val sessions = EventStream.sessionize(events, gapSeconds = 60).collect()
    assert(sessions.count(_.user_id == 7L) == 2)
    assert(sessions.count(_.user_id == 8L) == 1)
    val u7 = sessions.filter(_.user_id == 7L).sortBy(_.start_ts.getTime)
    assert(u7(0).n_events == 2 && u7(0).total_value == 3.0)
    assert(u7(1).n_events == 2 && u7(1).total_value == 7.0)
  }
}
