package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Structured Streaming jobs reproducing the reference's two-hop stream
  * topology (SURVEY §2.9): a checkpointed ingest hop (Kafka→bronze,
  * /root/reference/src/bronze/ohlcv_1m.py) and a stateful
  * watermark+window aggregation hop (bronze→silver,
  * /root/reference/src/silver/ohlcv_agg.py), decoupled through the
  * table directory exactly like the reference's two separate Spark
  * applications.
  *
  * With no Kafka jar in the environment (SURVEY §7.1), the replayable
  * source is Spark's file stream source over a staging directory with
  * the same (key, value) JSON envelope; its offsets-by-file log gives
  * the same at-least-once replay contract, and the file sink's
  * `_spark_metadata` commit log makes the micro-batch append
  * effectively-once — the reference's Kafka+Iceberg guarantees.
  *
  * Every runner starts and drains its query through [[drain]], the one
  * place that owns the query lifecycle (checkpoint, scoped conf, start,
  * wait, graceful stop).
  */
object StreamJobs {

  /** Timestamps inside the JSON envelope carry full microseconds —
    * Spark's to_json default truncates to millis, which would break
    * event-time ordering fidelity through the ingest hop.
    */
  val envelopeTsFormat: Map[String, String] =
    Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  private val envelopeSchema = StructType(
    Seq(StructField("key", StringType), StructField("value", StringType)))

  /** Pluggable replayable source for the ingest hop (SURVEY §7.1): the
    * production impl is Kafka (`format("kafka")` yields the same
    * (key, value) envelope columns; a cluster with the kafka jar slots a
    * one-line impl in here — reference
    * /root/reference/src/bronze/_bronze_utils.py:31-38). This
    * environment ships no kafka jar, so the provided impls are the
    * file stream (offsets-by-file replay log — the durable stand-in)
    * and an in-memory stream (tests). The contract: a STREAMING
    * DataFrame with columns (key string, value string) whose source is
    * replayable from checkpointed offsets.
    */
  trait EnvelopeSource {
    def load(spark: SparkSession): DataFrame
  }

  /** How [[drain]] waits for its query. */
  private[graft] sealed trait Wait

  /** `Trigger.AvailableNow`, awaited until the query terminates. */
  private[graft] case object AvailableNow extends Wait

  /** `processAllAvailable` `n` times, running `between` before every
    * pass after the first.
    */
  private[graft] final case class Passes(n: Int = 1, between: () => Unit = () => ()) extends Wait

  /** Start `stream` with the sink `sink` configures, checkpointed at
    * `checkpoint`, wait for it as `waitFor` says, and stop it.
    *
    * `conf` is set on the session only around `.start()` (which pins it
    * into the query) and then restored, so overrides never leak to later
    * caller code — and runners without overrides run their foreachBatch
    * MERGEs and appends under the unmodified session conf.
    *
    * A JVM shutdown (SIGTERM/ctrl-C) while waiting stops the query
    * cleanly, so the checkpoint commits and the next run resumes where
    * this one left off — the reference wraps awaitTermination in a
    * KeyboardInterrupt handler that stops the query (the reference's
    * src/bronze/_bronze_utils.py:78-84).
    */
  private[graft] def drain(
      spark: SparkSession,
      stream: DataFrame,
      checkpoint: String,
      conf: Seq[(String, String)] = Nil,
      waitFor: Wait = Passes())(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val writer = sink(stream.writeStream.option("checkpointLocation", checkpoint))
    val prev = conf.map { case (k, _) => k -> spark.conf.get(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val q =
      try (if (waitFor == AvailableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
      finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
    val hook = new Thread(() => if (q.isActive) q.stop())
    Runtime.getRuntime.addShutdownHook(hook)
    try waitFor match {
      case AvailableNow => q.awaitTermination()
      case Passes(n, between) =>
        q.processAllAvailable()
        (2 to n).foreach { _ => between(); q.processAllAvailable() }
    } finally {
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () } // already shutting down
      q.stop()
    }
  }

  /** State-store count is pinned per query at first start from the
    * session's shuffle-partition conf. Unlike batch shuffles it should
    * be sized to stateful-key cardinality, not core count: every
    * micro-batch pays per-store commit overhead, and 200 default stores
    * is pure overhead for a handful of keys.
    */
  private def shufflePartitions(n: Int) = "spark.sql.shuffle.partitions" -> n.toString

  /** Sentinel-driven flushes emit final windows in a NO-DATA micro-batch
    * (the watermark advances after the sentinel batch commits). That
    * batch only runs when noDataMicroBatches is enabled — pin it, don't
    * assume the session default survived caller config.
    */
  private val noDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled" -> "true"

  private def stateStore(provider: String) =
    "spark.sql.streaming.stateStore.providerClass" -> provider

  private val rocksDb =
    stateStore("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** [[drain]] into a fresh memory-sink table and return it. Checkpoint
    * and table are fresh per call: resuming offsets from an earlier
    * call's checkpoint would silently omit already-processed rows.
    */
  private def memorySink(
      spark: SparkSession,
      out: DataFrame,
      workDir: String,
      tag: String,
      conf: Seq[(String, String)] = Seq(shufflePartitions(8), noDataBatches),
      waitFor: Wait = Passes()): DataFrame = {
    val queryName = s"${tag}_${UUID.randomUUID().toString.replace("-", "")}"
    drain(spark, out, checkpoint(workDir, tag), conf, waitFor)(
      _.outputMode("append").format("memory").queryName(queryName))
    spark.table(queryName)
  }

  /** File-stream envelope source over a staging directory; its
    * offsets-by-file log gives Kafka's at-least-once replay contract.
    */
  final case class FileEnvelopeSource(
      stageDir: String,
      maxFilesPerTrigger: Option[Int] = None) extends EnvelopeSource {
    override def load(spark: SparkSession): DataFrame = {
      val reader = spark.readStream.schema(envelopeSchema)
      // bounded micro-batches — the file-source analog of the reference's
      // rate-limited Kafka cadence (~150 rows per 5 s trigger);
      // AvailableNow then drains in several checkpointed batches
      maxFilesPerTrigger
        .map(n => reader.option("maxFilesPerTrigger", n))
        .getOrElse(reader)
        .parquet(stageDir)
    }
  }

  /** Kafka envelope source — the production binding (reference
    * topology: /root/reference/src/bronze/_bronze_utils.py:31-38).
    * Resolves `format("kafka")` by name, so this compiles without the
    * connector and runs on any cluster with `spark-sql-kafka-0-10` on
    * the classpath (this environment ships no kafka jar, so it is
    * compile-checked only — the file impl is the tested stand-in with
    * the same replay contract). `startingOffsets=earliest` mirrors the
    * reference's from-beginning bootstrap; offsets are tracked by the
    * query checkpoint thereafter.
    */
  final case class KafkaEnvelopeSource(
      bootstrapServers: String,
      topic: String,
      maxOffsetsPerTrigger: Option[Long] = None) extends EnvelopeSource {
    override def load(spark: SparkSession): DataFrame = {
      val reader = spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
      maxOffsetsPerTrigger
        .map(n => reader.option("maxOffsetsPerTrigger", n.toString))
        .getOrElse(reader)
        .load()
        .select(
          col("key").cast(StringType).as("key"),
          col("value").cast(StringType).as("value"))
    }
  }

  /** In-memory envelope source (tests / notebooks): push batches with
    * [[add]]; supports `Trigger.AvailableNow` like the file source.
    */
  final class MemoryEnvelopeSource(spark: SparkSession) extends EnvelopeSource {
    private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    /** Stage rows as the same (key, value-json) envelope the file
      * producer writes ([[stageEnvelope]]).
      */
    def add(input: DataFrame, keyCols: Seq[String]): Unit = {
      val rows = input
        .select(
          concat_ws("_", keyCols.map(col): _*).as("key"),
          to_json(struct(input.columns.map(col): _*), envelopeTsFormat).as("value"))
        .as[(String, String)]
        .collect()
      stream.addData(rows.toIndexedSeq)
    }
    override def load(spark: SparkSession): DataFrame =
      stream.toDF().toDF("key", "value")
  }

  private def dir(base: String, name: String): String = {
    val p = Paths.get(base, name)
    Files.createDirectories(p)
    p.toString
  }

  /** A fresh checkpoint dir for one run of a `tag` query. */
  private def checkpoint(workDir: String, tag: String): String =
    dir(workDir, s"checkpoint-$tag-${UUID.randomUUID()}")

  /** Append a batch of rows to the staging directory as the
    * (key, value-json) envelope — the test-harness stand-in for the
    * reference's rate-limited Kafka producer (K8,
    * /root/reference/src/producer/ohlcv_producer.py:42-61).
    */
  def stageEnvelope(input: DataFrame, keyCols: Seq[String], stageDir: String): Unit =
    input
      .select(
        concat_ws("_", keyCols.map(col): _*).as("key"),
        to_json(struct(input.columns.map(col): _*), envelopeTsFormat).as("value"))
      .write
      .mode("append")
      .parquet(stageDir)

  /** Hop 1 — streaming ingest (S3+P1+P2+P5+K2): stream the envelope
    * staging dir, decode JSON against the declared schema, stamp
    * date-part columns, and append to a parquet bronze table through a
    * checkpointed streaming file sink. `Trigger.AvailableNow` drains
    * everything currently staged and terminates; calling it again after
    * more data is staged processes only the new files (same checkpoint),
    * which is exactly the micro-batch replay contract.
    */
  def runIngest(
      spark: SparkSession,
      payloadSchema: StructType,
      tsCol: String,
      workDir: String,
      partitioned: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None,
      source: Option[EnvelopeSource] = None): String = {
    val stage = dir(workDir, "stage")
    val bronze = dir(workDir, "bronze")

    val envelope = source
      .getOrElse(FileEnvelopeSource(stage, maxFilesPerTrigger))
      .load(spark)
    val decoded = envelope
      .select(from_json(col("value").cast(StringType), payloadSchema, envelopeTsFormat).as("data"))
      .select(col("data.*"))
    val withParts = graft.operators.Ops.datePartCols(decoded, tsCol)

    drain(spark, withParts, dir(workDir, "checkpoint-ingest"), waitFor = AvailableNow) { w =>
      val writer = w.outputMode("append").format("parquet").option("path", bronze)
      if (partitioned) writer.partitionBy("event_year", "event_month", "event_day") else writer
    }
    bronze
  }

  /** Stream-static join: enrich a stream against a static (batch)
    * dimension — stateless, no watermark needed; the static side is
    * broadcast per micro-batch, so the stream never shuffles. The
    * lakehouse pattern for dimension enrichment on the ingest path.
    */
  def runStreamStaticJoin(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: StructType,
      staticDim: DataFrame,
      joinCols: Seq[String],
      project: DataFrame => DataFrame,
      workDir: String): DataFrame = {
    val stream = spark.readStream.schema(sourceSchema).parquet(sourceDir)
    memorySink(spark, project(stream.join(broadcast(staticDim), joinCols, "left")), workDir, "sstatic")
  }

  /** foreachBatch transform sink: apply an arbitrary BATCH transform —
    * window functions, as-of joins, anything a streaming plan cannot
    * host — to each micro-batch and append the result to a parquet
    * sink. The standard late-arriving-dimension enrichment shape: per
    * micro-batch the transform shuffles the BATCH (never the stream's
    * history) against its (static or slowly-changing) right side, so
    * state is zero and cost scales with batch size. A transform that is
    * per-row independent of batching (as-of against a static dim is:
    * each left row's match depends only on that row and the dim)
    * converges to the batch run of the same transform — which is what
    * the shared oracle checks.
    */
  def runForeachBatchTransform(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: StructType,
      transform: DataFrame => DataFrame,
      workDir: String): DataFrame = {
    val out = dir(workDir, s"febt-out-${UUID.randomUUID()}")
    val stream = spark.readStream.schema(sourceSchema).parquet(sourceDir)
    // foreachBatch is AT-LEAST-ONCE: a micro-batch that fails after a
    // partial write is re-delivered on restart, and a plain append sink
    // would duplicate its rows. Each batch therefore lands in its own
    // batchId-named subdir — overwrite replaces a partial earlier
    // attempt, and a batch whose _SUCCESS marker already exists is a
    // committed replay and is skipped (the same idempotence the memory-
    // sink runners get from the sink itself).
    drain(spark, stream, checkpoint(workDir, "febt"))(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val dest = new java.io.File(out, s"b$batchId")
        if (!new java.io.File(dest, "_SUCCESS").exists()) {
          transform(batch).write.mode("overwrite").parquet(dest.toString)
        }
    })
    // empty source → foreachBatch never fired → no committed batch dirs
    // and schema inference would throw; derive the result schema by
    // applying the transform to an empty batch instead (the sibling
    // memory-sink runners return empty tables the same way). Reading the
    // committed leaf dirs as explicit roots keeps the batch dir name out
    // of the schema (no partition-column inference).
    val batchDirs = Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && new java.io.File(f, "_SUCCESS").exists())
    if (batchDirs.nonEmpty) spark.read.parquet(batchDirs.map(_.toString): _*)
    else transform(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sourceSchema)).limit(0)
  }

  /** Stateless streaming transform: stream the source, apply a pure
    * row-level `transform` (filters/projections/scoring — anything
    * shuffle-free), collect through a memory sink. The streaming analog
    * of a curation map stage: because the transform is stateless, the
    * result is exactly the batch run of the same transform, which is
    * what the oracle checks. At scale this is the shape of an
    * ingest-time quality gate — per-micro-batch, no state store, no
    * watermark, back-pressure from the source's trigger bounds.
    */
  def runStatelessTransform(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: StructType,
      transform: DataFrame => DataFrame,
      workDir: String): DataFrame = {
    val stream = spark.readStream.schema(sourceSchema).parquet(sourceDir)
    memorySink(spark, transform(stream), workDir, "stateless")
  }

  /** Hop 2 — generic runner for watermarked stateful aggregations in
    * append mode (S4+A1+P12+K3; [[Candles.candles]] is the reference's
    * aggregation, ohlcv_agg.py:20,47), driven to a deterministic
    * fixpoint: stream the table dir, apply `agg` to the watermarked
    * stream, collect through a memory sink, and filter the sentinel's
    * own key back out.
    *
    * Append mode emits only watermark-finalized windows and withholds
    * trailing windows forever once data is exhausted, so a far-future
    * sentinel row must pass through the SAME ingest hop (visible in the
    * bronze commit log) for the watermark to pass every real window.
    * It is staged upfront by [[runTwoHopStateful]]; `pushSentinel` runs
    * between the two drain passes for callers that stage it (or late
    * rows) later. The sentinel's own never-finalized window is filtered
    * from the result.
    *
    * A RocksDB (or any custom) `stateStoreProvider` is pinned into the
    * query's checkpoint at first start: at real state cardinality the
    * default in-heap HDFSBackedStateStore is the executor-OOM ceiling.
    */
  def runStatefulAgg(
      spark: SparkSession,
      bronzeDir: String,
      bronzeSchema: StructType,
      tsCol: String,
      workDir: String,
      pushSentinel: () => Unit,
      agg: DataFrame => DataFrame,
      sentinelFilterCol: String,
      watermarkDelay: String = "1 minutes",
      sentinelKey: String = "__sentinel__",
      statePartitions: Int = 8,
      stateStoreProvider: Option[String] = None): DataFrame = {
    val stream = spark.readStream.schema(bronzeSchema).parquet(bronzeDir)
    // The flush batch is a no-data micro-batch that runs AFTER the last
    // data batch commits its watermark. The second pass observes it even
    // if the first returned before the flush ran.
    val out = memorySink(
      spark, agg(stream.withWatermark(tsCol, watermarkDelay)), workDir, "agg",
      Seq(shufflePartitions(statePartitions), noDataBatches) ++ stateStoreProvider.map(stateStore),
      Passes(2, pushSentinel))
    // null-safe inequality: `=!=` is null-killing, so a NULL group key
    // would silently vanish from the result while the batch oracle
    // keeps the null-key group — only the literal sentinel row drops
    out.filter(!(col(sentinelFilterCol) <=> lit(sentinelKey)))
  }

  /** Stream-stream inner join with event-time bounds: two streams over
    * the same bronze dir (filtered to different event classes) joined on
    * key with a time-range predicate. Watermarks on BOTH sides bound the
    * join state (Spark evicts buffered rows once the watermark passes
    * the range), which is what makes an unbounded stream-stream join
    * feasible at all. Inner-join matches emit as soon as both sides
    * arrive, so draining the source yields the complete (batch-equal)
    * result — no sentinel needed.
    */
  def runStreamStreamJoin(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsCol: String,
      leftFilter: org.apache.spark.sql.Column,
      rightFilter: org.apache.spark.sql.Column,
      keyCol: String,
      rangeCondition: (DataFrame, DataFrame) => org.apache.spark.sql.Column,
      project: DataFrame => DataFrame,
      workDir: String,
      watermarkDelay: String = "1 minutes"): DataFrame =
    streamStreamJoin(
      spark, sourceDir, schema, tsCol, leftFilter, rightFilter, keyCol,
      rangeCondition, project, workDir, watermarkDelay, "inner")

  /** Stream-stream LEFT OUTER join: like [[runStreamStreamJoin]] but
    * unmatched left rows must also emit — which can only happen once
    * the watermark proves no future right row can match. The caller
    * stages far-future sentinel rows (passing BOTH side filters, so
    * both per-stream watermarks advance) with the real data: both
    * watermarks derive from the first batch's max event time, so the
    * NULL-padded rows emit in a later batch, which the second drain pass
    * observes. Sentinel-keyed output is filtered back out via
    * `sentinelPred`.
    */
  def runStreamStreamJoinOuter(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsCol: String,
      leftFilter: org.apache.spark.sql.Column,
      rightFilter: org.apache.spark.sql.Column,
      keyCol: String,
      rangeCondition: (DataFrame, DataFrame) => org.apache.spark.sql.Column,
      project: DataFrame => DataFrame,
      sentinelPred: org.apache.spark.sql.Column,
      workDir: String,
      watermarkDelay: String = "1 minutes"): DataFrame =
    streamStreamJoin(
      spark, sourceDir, schema, tsCol, leftFilter, rightFilter, keyCol,
      rangeCondition, project, workDir, watermarkDelay, "left_outer").filter(!sentinelPred)

  /** The stream-stream join both public shapes share; the outer join
    * drains twice so the watermark-released NULL-padded rows emit.
    */
  private def streamStreamJoin(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsCol: String,
      leftFilter: org.apache.spark.sql.Column,
      rightFilter: org.apache.spark.sql.Column,
      keyCol: String,
      rangeCondition: (DataFrame, DataFrame) => org.apache.spark.sql.Column,
      project: DataFrame => DataFrame,
      workDir: String,
      watermarkDelay: String,
      joinType: String): DataFrame = {
    def side(f: org.apache.spark.sql.Column, alias: String): DataFrame =
      spark.readStream
        .schema(schema)
        .parquet(sourceDir)
        .filter(f)
        .withWatermark(tsCol, watermarkDelay)
        .alias(alias)

    val l = side(leftFilter, "l")
    val r = side(rightFilter, "r")
    // project while the l/r qualifiers are still resolvable — the memory
    // sink flattens the join output into positional duplicate columns
    val joined = project(
      l.join(r, col(s"l.$keyCol") === col(s"r.$keyCol") && rangeCondition(l, r), joinType))
    val inner = joinType == "inner"
    memorySink(spark, joined, workDir, if (inner) "ssjoin" else "ssouter",
      waitFor = Passes(if (inner) 1 else 2))
  }

  /** Typed row for the custom-state demo pipeline. */
  final case class KeyedValue(k: String, ts: java.sql.Timestamp, v: Double)

  /** Read schema for [[KeyedValue]] source dirs — shared by both
    * custom-state runners so the shape can't drift between them.
    */
  private val keyedValueSchema = StructType(Seq(
    StructField("k", StringType),
    StructField("ts", org.apache.spark.sql.types.TimestampType),
    StructField("v", org.apache.spark.sql.types.DoubleType)))

  /** Output of [[runRunningMaxWithState]]: the running maximum per key,
    * one emission per key per micro-batch that touched it.
    */
  final case class RunningMax(k: String, running_max: Double, updates: Long)

  /** The running-max fold both custom-state runners share, so their
    * outputs cannot drift apart. Kept off the StreamJobs object: a state
    * function that calls a StreamJobs method captures the object, which
    * is not serializable.
    */
  object RunningMax {
    private[streaming] def zero(k: String): RunningMax = RunningMax(k, Double.MinValue, 0L)

    /** One micro-batch's update: fold in the batch max, count the batch. */
    private[streaming] def step(prev: RunningMax, rows: Seq[KeyedValue]): RunningMax =
      RunningMax(
        prev.k,
        math.max(prev.running_max, rows.map(_.v).foldLeft(Double.MinValue)(math.max)),
        prev.updates + 1)
  }

  /** The one `transformWithState` processor: per key and micro-batch,
    * sort the rows by event time (then `order`'s id), fold them with
    * `step` into one `ValueState` seeded from `zero`, and emit the new
    * state.
    */
  private final class FoldProcessor[K, V, S](
      stateName: String,
      enc: Encoder[S],
      zero: K => S,
      order: V => (java.sql.Timestamp, Long),
      step: (S, Seq[V]) => S) extends StatefulProcessor[K, V, S] {
    @transient private var state: ValueState[S] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S](stateName, enc, TTLConfig.NONE)
    override def handleInputRows(key: K, rows: Iterator[V], timerValues: TimerValues): Iterator[S] = {
      // FULL-precision time order: getTime truncates to milliseconds,
      // but the batch oracles sort struct(ts, …) at microsecond
      // precision (Testdata events carry micros) — same-millisecond
      // events must fold in the same order or order-sensitive state
      // (EWMA) diverges from the batch hash. getNanos carries the
      // full sub-second fraction, so (getTime, getNanos, id) is total
      // and consistent with Spark's timestamp ordering.
      val sorted = rows.toVector.sortBy { r =>
        val (ts, id) = order(r)
        (ts.getTime, ts.getNanos.toLong, id)
      }
      val next = step(Option(state.get()).getOrElse(zero(key)), sorted)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** Custom keyed state via `flatMapGroupsWithState` (the API for
    * semantics the built-in window aggregations can't express —
    * SURVEY §2.9 notes the reference never needs it; provided as
    * engine surface): per key, carry the running maximum and an update
    * counter across micro-batches, emitting the refreshed state each
    * time the key appears. State lives in the state store and survives
    * restarts through the checkpoint.
    */
  def runRunningMaxWithState(
      spark: SparkSession,
      sourceDir: String,
      workDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    def update(
        key: String,
        rows: Iterator[KeyedValue],
        state: GroupState[RunningMax]): Iterator[RunningMax] = {
      val next = RunningMax.step(state.getOption.getOrElse(RunningMax.zero(key)), rows.toSeq)
      state.update(next)
      Iterator.single(next)
    }
    val stream = spark.readStream
      .schema(keyedValueSchema)
      .parquet(sourceDir)
      .as[KeyedValue]
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
    memorySink(spark, stream.toDF(), workDir, "fmgws", Seq(shufflePartitions(8)))
  }

  /** [[runRunningMaxWithState]]'s semantics on Spark 4's
    * `transformWithState` arbitrary-state API — the successor to
    * `flatMapGroupsWithState`: explicit named state variables on a
    * [[org.apache.spark.sql.streaming.StatefulProcessorHandle]] (here
    * one `ValueState[RunningMax]`), per-variable TTL, timers, and
    * independent state evolution. The API requires the RocksDB state
    * store provider, which is also the right store for state at scale
    * — pinned for the query's lifetime by [[drain]]'s scoped conf.
    * StreamingStateSpec pins output parity with the
    * flatMapGroupsWithState form.
    */
  def runRunningMaxTransformWithState(
      spark: SparkSession,
      sourceDir: String,
      workDir: String): DataFrame = {
    import spark.implicits._
    val stream = spark.readStream
      .schema(keyedValueSchema)
      .parquet(sourceDir)
      .as[KeyedValue]
      .groupByKey(_.k)
      .transformWithState(
        new FoldProcessor[String, KeyedValue, RunningMax](
          "runningMax", Encoders.product[RunningMax], RunningMax.zero, r => (r.ts, 0L),
          RunningMax.step),
        TimeMode.None(), OutputMode.Append())
    memorySink(spark, stream.toDF(), workDir, "tws", Seq(shufflePartitions(8), rocksDb))
  }

  final case class EwmaEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long, value: Double)
  final case class EwmaState(user_id: Long, n_events: Long, ewma: Double)

  /** Streaming per-user EWMA (α = 0.5) on `transformWithState` — the
    * ORDER-SENSITIVE stateful feature the running-max example dodges:
    * a fold's result depends on event order, so correctness needs (a)
    * event-time-sorted processing WITHIN each micro-batch (the iterator
    * is sorted before folding; Spark guarantees no cross-row order) and
    * (b) time-ordered arrival ACROSS batches, which the caller provides
    * by staging event-time-ordered waves and running this job to drain
    * AFTER each wave against the SAME checkpoint (the dedup-ingest
    * contract — run boundaries order the waves, so no reliance on file
    * mtime ordering). The incremental fold over wave concatenation then
    * executes the IDENTICAL IEEE operation sequence as the batch fold
    * over the whole sorted stream — so the streaming result
    * hash-matches the batch `q_ewma_decay` oracle, not just
    * approximates it.
    *
    * Each batch APPENDS the updated running state per touched user;
    * the caller unions the runs' outputs and keeps the last emission
    * per user (max `n_events` — strictly increasing, so the pick is
    * deterministic).
    */
  def runStreamingEwma(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      checkpoint: String,
      outDir: String): Unit = {
    import spark.implicits._
    val events = spark.readStream.schema(schema).parquet(sourceDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[EwmaEvent]
    foldWaves(spark, events.groupByKey(_.user_id), checkpoint, outDir,
      new FoldProcessor[Long, EwmaEvent, EwmaState](
        "ewma", Encoders.product[EwmaState], EwmaState(_, 0L, 0.0), e => (e.ts, e.event_id),
        (prev, rows) => rows.foldLeft(prev) { (acc, e) =>
          val ewma = if (acc.n_events == 0L) e.value else 0.5d * e.value + 0.5d * acc.ewma
          EwmaState(acc.user_id, acc.n_events + 1, ewma)
        }))
  }

  final case class FunnelEvent(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String)
  final case class FunnelState(user_id: Long, n: Long, s: Long, c: Long, p: Long)

  /** Streaming conversion FUNNEL (signup → click → purchase) on
    * `transformWithState` — the stage chain of
    * [[graft.queries.AnalyticsQueries.funnel]] held as per-user value
    * state across micro-batches, under the same ordering contract as
    * [[runStreamingEwma]] (in-batch event-time sort + waves drained
    * through one checkpoint). Stage times compare SECOND-truncated, the
    * batch fold's granularity, so sub-second arrival order inside one
    * second can never diverge from the batch result: with strict `>`
    * chaining, equal-second processing order is provably outcome-free.
    * Emits the running (n, s, c, p) per touched user each batch; the
    * caller keeps the max-n emission.
    */
  def runStreamingFunnel(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      checkpoint: String,
      outDir: String): Unit = {
    import spark.implicits._
    val sent = 4102444800L
    val events = spark.readStream.schema(schema).parquet(sourceDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .as[FunnelEvent]
    foldWaves(spark, events.groupByKey(_.user_id), checkpoint, outDir,
      new FoldProcessor[Long, FunnelEvent, FunnelState](
        "funnel", Encoders.product[FunnelState], FunnelState(_, 0L, sent, sent, sent),
        e => (e.ts, e.event_id),
        (prev, rows) => rows.foldLeft(prev) { (acc, e) =>
          val t = e.ts.getTime / 1000L // second truncation = the batch fold's unix_timestamp
          val upd = e.event_type match {
            case "signup" if acc.s == sent => acc.copy(s = t)
            case "click" if acc.s < sent && acc.c == sent && t > acc.s => acc.copy(c = t)
            case "purchase" if acc.c < sent && acc.p == sent && t > acc.c => acc.copy(p = t)
            case _ => acc
          }
          upd.copy(n = acc.n + 1)
        }))
  }

  /** The runner body EWMA and funnel share: run `processor` over the
    * per-user groups on the RocksDB store (which `transformWithState`
    * requires) and append each batch's emitted states to `outDir`.
    * foreachBatch, not a memory sink: the second wave's run RESUMES from
    * the caller's checkpoint, which the memory sink refuses to do.
    */
  private def foldWaves[V, S: Encoder](
      spark: SparkSession,
      events: org.apache.spark.sql.KeyValueGroupedDataset[Long, V],
      checkpoint: String,
      outDir: String,
      processor: FoldProcessor[Long, V, S]): Unit =
    drain(
      spark,
      events.transformWithState(processor, TimeMode.None(), OutputMode.Append()).toDF(),
      checkpoint,
      Seq(shufflePartitions(8), rocksDb))(
      _.outputMode("append").foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir)
      })

  /** Streaming exact dedup (training-data pipeline on a stream): drop
    * duplicate keys arriving within the watermark horizon —
    * `dropDuplicatesWithinWatermark` keys state by `keyCols` and evicts
    * it once the watermark passes, so state stays bounded (the
    * unbounded-state trap of plain dropDuplicates on streams). Returns
    * the deduplicated rows collected through a memory sink.
    */
  def runStreamingDedup(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsCol: String,
      keyCols: Seq[String],
      workDir: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val stream = spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
    memorySink(spark, stream, workDir, "dedup")
  }

  /** Streaming corpus ingest with dedup against the lake: each
    * micro-batch fingerprints its documents
    * ([[graft.ext.TextAnalysis.fingerprintMd5]]) and LEFT-ANTI-joins
    * the corpus table's fingerprint column before appending — the
    * arrival-order dedup gate of a continuously-fed training corpus.
    * First arrival wins; rows WITHIN one batch always pass (the
    * within-batch-passthrough semantics of
    * [[graft.ext.Dedup.dedupAgainstCorpus]], which this composes with).
    *
    * Scale shape: the anti-join probe reads ONLY the corpus `fp`
    * column (parquet column pruning); at 100 TB you'd maintain the
    * fingerprint index as its own compacted table — or front it with
    * the bloom pre-probe — but the per-batch cost shape is already
    * O(batch + index), never O(corpus²).
    *
    * SEMANTIC PIN — one source wave per micro-batch: within-batch
    * passthrough matches [[graft.ext.Dedup.dedupAgainstCorpus]] only if
    * each wave of files (everything present at one invocation) lands in
    * a SINGLE micro-batch. `maxFilesPerTrigger` is therefore pinned to
    * Int.MaxValue explicitly — an inherited or future-default file cap
    * would split a wave and silently drop wave-internal duplicates that
    * the arrival-order oracle keeps. Callers that want per-file batches
    * must use a different gate (keying on a wave id, not
    * corpus-at-batch-start).
    */
  def runStreamingDedupIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      textCol: String,
      table: graft.tables.LakeTable,
      workDir: String): Unit = {
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(sourceDir)
    drain(spark, stream, dir(workDir, "checkpoint-dedup-ingest"), waitFor = AvailableNow)(
      _.outputMode("append").foreachBatch { (batch: DataFrame, _: Long) =>
        val withFp = batch.withColumn(
          "fp", graft.ext.TextAnalysis.fingerprintMd5(col(textCol)))
        val fresh =
          if (table.exists)
            withFp.join(table.read().select(col("fp")), Seq("fp"), "left_anti")
          else withFp
        // persist across the emptiness probe + append: without it the
        // O(index) corpus anti-join and the batch fingerprinting run
        // TWICE per micro-batch (once for isEmpty, once inside append)
        fresh.persist()
        try { if (!fresh.isEmpty) table.append(fresh) }
        finally { fresh.unpersist(blocking = false) }
        ()
      })
  }

  /** Streaming append into a lake table with EXACTLY-ONCE table state
    * under crash-replay: `foreachBatch` commits each micro-batch through
    * [[graft.tables.LakeTable.append]] with an idempotent-writer
    * transaction `(writerId, batchId)` — the Delta
    * `txnAppId`/`txnVersion` protocol. `foreachBatch` alone is
    * AT-LEAST-ONCE: if the process dies after the table commit but
    * before the checkpoint records the batch as complete, restart
    * re-delivers the same batch under the same id — without the txn the
    * rows land twice; with it the manifest's writer watermark makes the
    * replay a no-op (checked both before the data write and under the
    * commit CAS). The reference's ingest gets this from the streaming
    * FILE sink's `_spark_metadata` log; this is the equivalent guarantee
    * for manifest-committed lake tables, where the file-sink log does
    * not apply.
    *
    * `writerId` must be stable across restarts and unique per
    * (stream, target) pair — the query checkpoint plays that role
    * upstream, so defaulting it to the checkpoint path is the natural
    * contract at scale (concurrent DIFFERENT streams into one table
    * keep independent watermarks).
    */
  def runStreamingTxnAppend(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      table: graft.tables.LakeTable,
      workDir: String,
      writerId: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val checkpoint = dir(workDir, "checkpoint-txn-append")
    val id = writerId.getOrElse(checkpoint)
    val reader = spark.readStream.schema(schema)
    val withCap = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    drain(spark, withCap.parquet(sourceDir), checkpoint, waitFor = AvailableNow)(
      _.outputMode("append").foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.append(batch, txn = Some((id, batchId)))
        ()
      })
  }

  /** Streaming upsert into a lakehouse table: each micro-batch is
    * SCD1-merged into the target through `foreachBatch` — the
    * stream-to-MERGE bridge Iceberg/Delta users rely on, expressed over
    * [[graft.tables.LakeTable]]. Idempotence note: replayed batches
    * re-merge the same rows, and SCD1 upsert is idempotent, so
    * at-least-once delivery still yields exactly-once table state.
    */
  def runStreamingUpsert(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      keyCols: Seq[String],
      table: graft.tables.LakeTable,
      workDir: String): Unit = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    drain(spark, stream, dir(workDir, "checkpoint-upsert"), waitFor = AvailableNow)(
      _.outputMode("append").foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) graft.tables.Merge.mergeScd1(table, batch, keyCols)
        ()
      })
  }

  /** The full two-hop pipeline on a batch input, end to end: stage →
    * ingest hop → bronze → windowed-agg hop → finalized candles.
    * Deterministic: equivalent to the batch [[Candles.candles]] over
    * `input` (the oracle), which is the whole point of the
    * watermark+append design.
    */
  def runTwoHopCandles(
      spark: SparkSession,
      input: DataFrame,
      payloadSchema: StructType,
      tsCol: String,
      idCol: String,
      keyCol: String,
      valueCol: String,
      workDir: String,
      windowDuration: String = "15 minutes",
      watermarkDelay: String = "1 minutes",
      stateStoreProvider: Option[String] = None): DataFrame =
    runTwoHopStateful(
      spark, input, payloadSchema, tsCol, idCol, keyCol, workDir,
      stream => Candles.candles(stream, tsCol, idCol, keyCol, valueCol, windowDuration),
      watermarkDelay, stateStoreProvider)

  /** Generic two-hop pipeline: stage → ingest hop → bronze → any
    * watermarked stateful aggregation, flushed to a fixpoint with a
    * sentinel pushed through the ingest hop. `keyCol` must be a string
    * column (the sentinel key lands there and is filtered back out).
    */
  def runTwoHopStateful(
      spark: SparkSession,
      input: DataFrame,
      payloadSchema: StructType,
      tsCol: String,
      idCol: String,
      keyCol: String,
      workDir: String,
      agg: DataFrame => DataFrame,
      watermarkDelay: String = "1 minutes",
      stateStoreProvider: Option[String] = None): DataFrame = {
    val stage = dir(workDir, "stage")
    val sentinelKey = "__sentinel__"

    // Stage the real rows AND the far-future sentinel before the single
    // ingest pass: the watermark is computed from the max event time of
    // the PREVIOUS micro-batch, so a sentinel present in batch 1 still
    // flushes every real window in batch 2 (processAllAvailable runs
    // both) — no second ingest hop per query. The sentinel needs
    // max(ts); ride it on the staging write job via observe — one pass
    // over the input, not a separate full-scan aggregation first (at
    // corpus scale the second scan is the dominant cost of this hop).
    val obs = new org.apache.spark.sql.Observation(s"stage-max-${UUID.randomUUID()}")
    stageEnvelope(input.observe(obs, max(col(tsCol)).as("maxTs")), Seq(keyCol, idCol), stage)
    val maxTs = scala.concurrent.Await
      .result(obs.future, scala.concurrent.duration.Duration(60, "seconds"))
      .getAs[java.sql.Timestamp]("maxTs")
    val sentinel = input
      .limit(1)
      .withColumn(tsCol, lit(maxTs) + expr("INTERVAL 30 DAYS"))
      .withColumn(keyCol, lit(sentinelKey))
    stageEnvelope(sentinel, Seq(keyCol, idCol), stage)
    val bronze = runIngest(spark, payloadSchema, tsCol, workDir)
    val bronzeSchema = spark.read.parquet(bronze).schema

    runStatefulAgg(
      spark, bronze, bronzeSchema, tsCol, workDir, () => (),
      agg, keyCol, watermarkDelay, sentinelKey,
      stateStoreProvider = stateStoreProvider)
  }
}
