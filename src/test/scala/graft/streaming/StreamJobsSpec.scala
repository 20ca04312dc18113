package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class StreamJobsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("sym", StringType),
    StructField("v", DoubleType)))

  private def mk(s: String) = Timestamp.valueOf(s)

  test("two-hop streaming candles equal batch candles") {
    val wd = scratchDir("twohop")
    val input = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-01-01 10:05:00"), "A", 9.0),
      (3L, mk("2024-01-01 10:14:59"), "A", 7.0),
      (4L, mk("2024-01-01 10:20:00"), "A", 3.0),
      (5L, mk("2024-01-01 10:01:00"), "B", 2.0)).toDF("id", "ts", "sym", "v")

    val streamed = StreamJobs
      .runTwoHopCandles(spark, input, schema, "ts", "id", "sym", "v", wd)
      .orderBy("sym", "start_window")
      .collect()
    val batch = Candles
      .candles(input, "ts", "id", "sym", "v")
      .orderBy("sym", "start_window")
      .collect()
    assert(streamed.toSeq == batch.toSeq)
    // candle math: A's 10:00 window opens at v=5 (earliest), closes at v=7
    val a0 = streamed(0)
    assert(a0.getAs[Double]("open") == 5.0 && a0.getAs[Double]("close") == 7.0)
    assert(a0.getAs[Double]("high") == 9.0 && a0.getAs[Double]("low") == 5.0)
  }

  test("RocksDB state store runs the windowed agg to identical results") {
    val input = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-01-01 10:05:00"), "A", 9.0),
      (3L, mk("2024-01-01 10:14:59"), "A", 7.0),
      (4L, mk("2024-01-01 10:20:00"), "A", 3.0),
      (5L, mk("2024-01-01 10:01:00"), "B", 2.0)).toDF("id", "ts", "sym", "v")
    val rocks = StreamJobs
      .runTwoHopCandles(
        spark, input, schema, "ts", "id", "sym", "v", scratchDir("rocks"),
        stateStoreProvider = Some(
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .orderBy("sym", "start_window")
      .collect()
    val default = StreamJobs
      .runTwoHopCandles(spark, input, schema, "ts", "id", "sym", "v", scratchDir("hdfsb"))
      .orderBy("sym", "start_window")
      .collect()
    assert(rocks.toSeq == default.toSeq)
    assert(rocks.nonEmpty)
    // the provider override must not leak into the session after the run
    assert(spark.conf
      .get("spark.sql.streaming.stateStore.providerClass")
      .contains("HDFSBackedStateStoreProvider"))
  }

  test("state store provider conf is genuinely applied (bogus provider fails the query)") {
    val input = Seq((1L, mk("2024-01-01 10:00:10"), "A", 5.0)).toDF("id", "ts", "sym", "v")
    intercept[Exception] {
      StreamJobs.runTwoHopCandles(
        spark, input, schema, "ts", "id", "sym", "v", scratchDir("bogus"),
        stateStoreProvider = Some("com.example.NoSuchProvider"))
    }
  }

  test("rate-bounded ingest drains staged waves in multiple checkpointed micro-batches") {
    val wd = scratchDir("rated")
    def wave(ids: Range) =
      ids.map(i => (i.toLong, mk(f"2024-01-01 10:${i % 60}%02d:00"), "A", i.toDouble)).toSeq
        .toDF("id", "ts", "sym", "v")
    // three separately staged waves -> at least 3 stage files
    StreamJobs.stageEnvelope(wave(0 until 5).coalesce(1), Seq("sym", "id"), s"$wd/stage")
    StreamJobs.stageEnvelope(wave(5 until 10).coalesce(1), Seq("sym", "id"), s"$wd/stage")
    StreamJobs.stageEnvelope(wave(10 until 15).coalesce(1), Seq("sym", "id"), s"$wd/stage")

    val bronze = StreamJobs.runIngest(spark, schema, "ts", wd, maxFilesPerTrigger = Some(1))
    assert(spark.read.parquet(bronze).count() == 15)

    // one offsets entry per committed micro-batch: bounded batches, not one gulp
    val offsets = new java.io.File(s"$wd/checkpoint-ingest/offsets").list()
    assert(offsets != null && offsets.count(!_.startsWith(".")) >= 3, offsets.mkString(","))

    // restart with more data staged: resumes from the checkpoint, appends only the new wave
    StreamJobs.stageEnvelope(wave(15 until 20).coalesce(1), Seq("sym", "id"), s"$wd/stage")
    StreamJobs.runIngest(spark, schema, "ts", wd, maxFilesPerTrigger = Some(1))
    val ids = spark.read.parquet(bronze).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 20L), s"got ${ids.length} rows")
  }

  test("ingest hop runs identically through the file and memory EnvelopeSource impls") {
    val input = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-01-01 10:05:00"), "B", 9.0),
      (3L, mk("2024-01-01 10:14:59"), "A", 7.0)).toDF("id", "ts", "sym", "v")

    // file impl (the default seam binding)
    val wdF = scratchDir("seam-file")
    StreamJobs.stageEnvelope(input, Seq("sym", "id"), s"$wdF/stage")
    val bronzeF = StreamJobs.runIngest(spark, schema, "ts", wdF)

    // memory impl through the same decode+stamp+sink path
    val wdM = scratchDir("seam-mem")
    val mem = new StreamJobs.MemoryEnvelopeSource(spark)
    mem.add(input, Seq("sym", "id"))
    val bronzeM = StreamJobs.runIngest(spark, schema, "ts", wdM, source = Some(mem))

    val cols = Seq("id", "ts", "sym", "v", "event_year", "event_month", "event_day")
    val f = spark.read.parquet(bronzeF).select(cols.map(col): _*).orderBy("id").collect().toSeq
    val m = spark.read.parquet(bronzeM).select(cols.map(col): _*).orderBy("id").collect().toSeq
    assert(f == m && f.length == 3, s"file=${f.length} mem=${m.length}")
  }

  test("arrival-order candles equal deterministic candles on ordered single-partition input") {
    val input = Seq(
      (1L, mk("2024-01-01 10:00:10"), "A", 5.0),
      (2L, mk("2024-01-01 10:05:00"), "A", 9.0),
      (3L, mk("2024-01-01 10:14:59"), "A", 7.0)).toDF("id", "ts", "sym", "v").coalesce(1)
    val det = Candles.candles(input, "ts", "id", "sym", "v")
      .select("sym", "start_window", "open", "close").collect().toSeq
    val arr = Candles.candlesArrivalOrder(input, "ts", "sym", "v")
      .select("sym", "start_window", "open", "close").collect().toSeq
    // with event-time-ordered single-partition arrival, first/last picks
    // coincide with the deterministic event-time picks (the reference's
    // Kafka-per-key-ordering assumption made explicit)
    assert(det == arr)
  }

  test("append mode + watermark drops rows later than the watermark") {
    val wd = scratchDir("late")
    val stage = s"$wd/stage"
    val batch1 = Seq(
      (1L, mk("2024-01-01 10:00:00"), "A", 5.0),
      (2L, mk("2024-01-01 11:00:00"), "A", 9.0)).toDF("id", "ts", "sym", "v")
    StreamJobs.stageEnvelope(batch1, Seq("sym", "id"), stage)
    val bronze = StreamJobs.runIngest(spark, schema, "ts", wd)
    val bronzeSchema = spark.read.parquet(bronze).schema

    // the 10:00 row arrives again (duplicate id, different value) AFTER the
    // watermark has advanced to 10:59 — it must be silently dropped, so the
    // 10:00 window still aggregates only the original row
    var pushedLate = false
    val pushSentinel = () => {
      if (!pushedLate) {
        pushedLate = true
        val late = Seq((3L, mk("2024-01-01 10:00:30"), "A", 1000.0)).toDF("id", "ts", "sym", "v")
        StreamJobs.stageEnvelope(late, Seq("sym", "id"), stage)
        StreamJobs.runIngest(spark, schema, "ts", wd)
      }
      val sentinel = Seq((99L, mk("2024-03-01 00:00:00"), "__sentinel__", 0.0)).toDF("id", "ts", "sym", "v")
      StreamJobs.stageEnvelope(sentinel, Seq("sym", "id"), stage)
      StreamJobs.runIngest(spark, schema, "ts", wd)
      ()
    }

    val out = StreamJobs.runStatefulAgg(
      spark, bronze, bronzeSchema, "ts", wd, pushSentinel,
      stream => Candles.candles(stream, "ts", "id", "sym", "v"), "sym")
    // run pushSentinel twice via two processAllAvailable passes: late row then sentinel
    val w1000 = out.filter(col("start_window") === mk("2024-01-01 10:00:00")).collect()
    assert(w1000.length == 1)
    assert(w1000(0).getAs[Double]("high") == 5.0, "late row must not land in the finalized window")
    assert(w1000(0).getAs[Long]("n_rows") == 1L)
  }

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Purchases with one, two, none and an out-of-range signup. */
  private val events = Seq(
    (1L, mk("2024-01-01 10:00:00"), 1L, "signup", 1.0),
    (2L, mk("2024-01-01 11:00:00"), 1L, "purchase", 20.0),
    (3L, mk("2024-01-02 12:00:00"), 1L, "purchase", 30.0),
    (4L, mk("2024-01-01 10:30:00"), 2L, "purchase", 40.0),
    (5L, mk("2024-01-01 09:00:00"), 3L, "signup", 1.0),
    (6L, mk("2024-01-01 09:30:00"), 3L, "signup", 1.0),
    (7L, mk("2024-01-01 10:00:00"), 3L, "purchase", 50.0),
    (8L, mk("2024-01-01 10:05:00"), 3L, "click", 2.0))
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  private def stageEvents(tag: String): (String, String) = {
    val wd = scratchDir(tag)
    events.write.parquet(s"$wd/src")
    (wd, s"$wd/src")
  }

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(_.toString)

  private val purchase = col("event_type") === "purchase"
  private val signup = col("event_type") === "signup"
  private val within24h = (_: org.apache.spark.sql.DataFrame, _: org.apache.spark.sql.DataFrame) =>
    col("l.ts") >= col("r.ts") && col("l.ts") <= col("r.ts") + expr("INTERVAL 24 HOURS")
  private val pairs = (joined: org.apache.spark.sql.DataFrame) => joined.select(
    col("l.event_id").as("purchase_id"), col("r.event_id").as("signup_id"),
    col("l.user_id").as("user_id"))

  private def batchJoin(joinType: String): Seq[org.apache.spark.sql.Row] = {
    val l = events.filter(purchase).alias("l")
    val r = events.filter(signup).alias("r")
    sorted(pairs(l.join(r, col("l.user_id") === col("r.user_id") && within24h(l, r), joinType)))
  }

  test("stream-stream inner join equals the batch range join") {
    val (wd, src) = stageEvents("ssjoin")
    val out = StreamJobs.runStreamStreamJoin(
      spark, src, eventSchema, "ts", purchase, signup, "user_id", within24h, pairs, wd)
    val expected = batchJoin("inner")
    assert(sorted(out) == expected)
    assert(expected.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 1L), (7L, 5L), (7L, 6L)))
  }

  test("stream-stream left outer join emits NULL-padded purchases (sentinels staged upfront)") {
    val (wd, src) = stageEvents("ssouter")
    val far = mk("2024-03-01 00:00:00")
    Seq((-1L, far, -1L, "purchase", 0.0), (-2L, far, -1L, "signup", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(src)
    val out = StreamJobs.runStreamStreamJoinOuter(
      spark, src, eventSchema, "ts", purchase, signup, "user_id", within24h, pairs,
      col("user_id") === -1L, wd)
    val got = sorted(out)
    assert(got == batchJoin("left_outer"))
    // purchase 4 (no signup) and purchase 3 (signup out of range) emit unmatched
    val unmatched = got.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    assert(unmatched == Set(3L, 4L), s"got $got")
  }

  test("stream-static join equals the batch join against the same dimension") {
    val (wd, src) = stageEvents("sstatic")
    val dim = Seq(("signup", 1), ("purchase", 2)).toDF("event_type", "code")
    val project = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("event_id"), col("event_type"), col("code"))
    val out = StreamJobs.runStreamStaticJoin(
      spark, src, eventSchema, dim, Seq("event_type"), project, wd)
    assert(sorted(out) == sorted(project(events.join(dim, Seq("event_type"), "left"))))
    assert(out.filter(col("code").isNull).count() == 1) // the click has no code
  }

  test("stateless streaming transform equals the batch transform") {
    val (wd, src) = stageEvents("stateless")
    val transform = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("value") >= 2.0).select(col("event_id"), (col("value") * 2).as("v2"))
    val out = StreamJobs.runStatelessTransform(spark, src, eventSchema, transform, wd)
    assert(sorted(out) == sorted(transform(events)))
    assert(out.count() == 5)
  }

  test("foreachBatch transform equals the batch transform; an empty source yields its empty schema") {
    val (wd, src) = stageEvents("febt")
    val dim = Seq(("signup", 1), ("purchase", 2)).toDF("event_type", "code")
    val transform = (df: org.apache.spark.sql.DataFrame) =>
      df.join(dim, Seq("event_type"), "left").select(col("event_id"), col("code"))
    val out = StreamJobs.runForeachBatchTransform(spark, src, eventSchema, transform, wd)
    assert(sorted(out) == sorted(transform(events)))

    val emptyWd = scratchDir("febt-empty")
    val emptySrc = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(emptyWd, "src")).toString
    val empty = StreamJobs.runForeachBatchTransform(spark, emptySrc, eventSchema, transform, emptyWd)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("event_id", "code"))
  }

  /** Two time-ordered waves: same-millisecond events whose sub-millisecond
    * order disagrees with their id order (after a first event, since the
    * first two EWMA steps commute), and one user spanning both.
    */
  private val wave1 = Seq(
    (10L, mk("2024-01-01 09:59:00"), 1L, "click", 1.0),
    (11L, Timestamp.valueOf("2024-01-01 10:00:00.000900"), 1L, "click", 4.0),
    (12L, Timestamp.valueOf("2024-01-01 10:00:00.000100"), 1L, "signup", 8.0),
    (13L, mk("2024-01-01 10:00:30"), 2L, "signup", 1.0),
    (14L, mk("2024-01-01 10:05:00"), 1L, "click", 2.0))
    .toDF("event_id", "ts", "user_id", "event_type", "value")
  private val wave2 = Seq(
    (21L, mk("2024-01-02 09:00:00"), 1L, "purchase", 6.0),
    (22L, mk("2024-01-02 09:00:00"), 2L, "click", 3.0),
    (23L, mk("2024-01-02 09:10:00"), 2L, "purchase", 5.0))
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  /** Drain both waves through one checkpoint and keep each user's last
    * emission (the largest `nCol`).
    */
  private def twoWaves(tag: String, nCol: String)(
      run: (String, String, String) => Unit): Map[Long, org.apache.spark.sql.Row] = {
    val wd = scratchDir(tag)
    val (src, checkpoint, out) = (s"$wd/src", s"$wd/checkpoint", s"$wd/out")
    wave1.write.mode("append").parquet(src)
    run(src, checkpoint, out)
    wave2.write.mode("append").parquet(src)
    run(src, checkpoint, out)
    spark.read.parquet(out).collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rs) => u -> rs.maxBy(_.getAs[Long](nCol)) }
  }

  /** The batch run: every event of both waves per user, in
    * (ts, event_id) order.
    */
  private def batchOrder: Map[Long, Seq[(Timestamp, Long, String, Double)]] =
    wave1.union(wave2).collect().toSeq
      .map(r => (r.getLong(2), (r.getTimestamp(1), r.getLong(0), r.getString(3), r.getDouble(4))))
      .groupBy(_._1)
      .map { case (u, evs) =>
        u -> evs.map(_._2).sortBy(e => (e._1.getTime, e._1.getNanos, e._2))
      }

  test("streaming EWMA across two waves on one checkpoint equals the batch fold") {
    val got = twoWaves("sewma", "n_events") { (src, checkpoint, out) =>
      StreamJobs.runStreamingEwma(spark, src, eventSchema, checkpoint, out)
    }
    val expected = batchOrder.map { case (u, evs) =>
      var ewma = evs.head._4
      evs.tail.foreach(e => ewma = 0.5 * e._4 + 0.5 * ewma)
      u -> (evs.size.toLong, ewma)
    }
    assert(got.map { case (u, r) => u -> (r.getAs[Long]("n_events"), r.getAs[Double]("ewma")) }
      == expected)
    // user 1 folds signup (8.0) before click (4.0): sub-millisecond order wins over id order
    assert(expected(1L) == ((5L, 0.5 * 6 + 0.5 * (0.5 * 2 + 0.5 * (0.5 * 4 + 0.5 * (0.5 * 8 + 0.5 * 1))))))
  }

  test("streaming funnel across two waves on one checkpoint equals the batch stage chain") {
    val got = twoWaves("sfunnel", "n") { (src, checkpoint, out) =>
      StreamJobs.runStreamingFunnel(spark, src, eventSchema, checkpoint, out)
    }
    val sent = 4102444800L
    val expected = batchOrder.map { case (u, evs) =>
      var (sg, ck, pu) = (sent, sent, sent)
      evs.foreach { case (ts, _, kind, _) =>
        val t = ts.getTime / 1000L
        if (kind == "signup" && sg == sent) sg = t
        else if (kind == "click" && sg < sent && ck == sent && t > sg) ck = t
        else if (kind == "purchase" && ck < sent && pu == sent && t > ck) pu = t
      }
      u -> (evs.size.toLong, sg, ck, pu)
    }
    assert(got.map { case (u, r) =>
      u -> (r.getAs[Long]("n"), r.getAs[Long]("s"), r.getAs[Long]("c"), r.getAs[Long]("p"))
    } == expected)
    // user 1: click 10 precedes the signup and click 11 lands in its
    // second, so only click 14 advances the chain
    val day1 = mk("2024-01-01 10:00:00").getTime / 1000L
    assert(expected(1L) == ((5L, day1, day1 + 5 * 60L, day1 + 23 * 3600L)))
    assert(expected(2L)._4 < sent) // user 2 converts in wave 2
  }

  test("every memory-sink runner restores the session confs it overrides") {
    val keys = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.stateStore.providerClass")
    def confs = keys.map(k => k -> spark.conf.get(k))
    val (wd, src) = stageEvents("confs")
    val keyed = s"$wd/keyed"
    Seq(("A", mk("2024-01-01 10:00:00"), 9.0)).toDF("k", "ts", "v").write.parquet(keyed)
    val input = Seq((1L, mk("2024-01-01 10:00:10"), "A", 5.0)).toDF("id", "ts", "sym", "v")
    val id = (df: org.apache.spark.sql.DataFrame) => df
    val runners: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "static join" -> (() => StreamJobs.runStreamStaticJoin(
        spark, src, eventSchema, Seq(("signup", 1)).toDF("event_type", "code"),
        Seq("event_type"), id, s"$wd/a")),
      "stateless" -> (() => StreamJobs.runStatelessTransform(spark, src, eventSchema, id, s"$wd/b")),
      "stateful agg" -> (() => StreamJobs.runTwoHopCandles(
        spark, input, schema, "ts", "id", "sym", "v", s"$wd/c",
        stateStoreProvider = Some(
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))),
      "stream-stream join" -> (() => StreamJobs.runStreamStreamJoin(
        spark, src, eventSchema, "ts", purchase, signup, "user_id", within24h, pairs, s"$wd/d")),
      "stream-stream outer join" -> (() => StreamJobs.runStreamStreamJoinOuter(
        spark, src, eventSchema, "ts", purchase, signup, "user_id", within24h, pairs,
        col("user_id") === -1L, s"$wd/e")),
      "flatMapGroupsWithState" -> (() => StreamJobs.runRunningMaxWithState(spark, keyed, s"$wd/f")),
      "transformWithState" -> (() =>
        StreamJobs.runRunningMaxTransformWithState(spark, keyed, s"$wd/g")),
      "dedup" -> (() => StreamJobs.runStreamingDedup(
        spark, src, eventSchema, "ts", Seq("event_id"), s"$wd/h")))
    // a non-default noDataMicroBatches value, so restoring it is observable
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try runners.foreach { case (name, run) =>
      val before = confs
      assert(run().count() >= 0)
      assert(confs == before, s"$name leaked a conf override")
    } finally spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
  }

  test("kafka envelope source wires through to provider resolution (jar-free pin)") {
    // No kafka connector ships in this environment, so the seam cannot
    // execute — but its failure mode pins the wiring: load() must reach
    // DataSource provider lookup and fail on the MISSING JAR, not earlier
    // (a typo'd option name, a bad select, or API rot would surface as a
    // different error). On a cluster with spark-sql-kafka-0-10 the same
    // call resolves and yields the (key, value) envelope contract.
    val src = StreamJobs.KafkaEnvelopeSource("broker:9092", "ohlcv", Some(150L))
    val e = intercept[Exception] { src.load(spark) }
    val msg = Option(e.getMessage).getOrElse("") + e.getClass.getName
    assert(msg.toLowerCase.contains("kafka"),
      s"expected a missing-kafka-provider failure, got: ${e.getClass.getName}: $msg")
    assert(
      msg.contains("Failed to find") || msg.contains("DATA_SOURCE_NOT_FOUND") ||
        msg.toLowerCase.contains("provider"),
      s"failure should be provider lookup, got: ${e.getClass.getName}: $msg")
  }
}
