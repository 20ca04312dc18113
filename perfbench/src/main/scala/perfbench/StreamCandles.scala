package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.streaming.{Candles, StreamJobs}

/** stream_candles: each operation is one round of the two-hop candle
  * stream (`StreamJobs.runTwoHopCandles`) over one trading day of
  * 1-minute OHLCV bars, from a fresh work directory: staging, the
  * ingest hop, the watermarked 15-minute candle hop, and reading the
  * result. A pass is one round per generated trading day.
  */
final class StreamCandles(in: String, work: String) extends Workload {
  private val days = Json.parseFile(s"$in/stream.json")("days").asInstanceOf[Seq[Map[String, Any]]]
  private val files = days.map(d => s"$in/${d("file")}")
  private val rowsPerDay = days.map(_("rows").asInstanceOf[Double].toLong)
  private var rounds = 0
  private var stored = Double.NaN
  private val expected = scala.collection.mutable.Map.empty[String, Seq[Row]]

  /** `Candles.candles` run as a batch over a day's bars, computed once. */
  private def batchCandles(spark: SparkSession, file: String): Seq[Row] =
    expected.getOrElseUpdate(file,
      Candles.candles(bars(spark, file), "ts", "id", "symbol", "close").collect().toSeq)

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("symbol", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType)))

  private def bars(spark: SparkSession, file: String): DataFrame =
    spark.read.option("header", "true").option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(schema).csv(file)

  private def round(spark: SparkSession, file: String, tracer: Option[Tracer], ctx: Ctx): (Seq[Row], String) = {
    val dir = s"$work/round$rounds"
    rounds += 1
    val out = Workload.child(tracer, ctx, "StreamJobs.runTwoHopCandles") {
      StreamJobs.runTwoHopCandles(spark, bars(spark, file), schema, "ts", "id", "symbol", "close", dir)
        .collect().toSeq
    }
    (out, dir)
  }

  /** Time to the first candles: the fresh session runs one round over a
    * small slice of one day.
    */
  def setup(spark: SparkSession): Unit =
    Workload.deleteDir(round(spark, s"$in/bars_setup.csv", None, Ctx(-1, -1))._2)

  // the three set-up rounds already run every code path of a round: a
  // full-size warm-up round did not make the next round faster. Only
  // the batch candles every round is checked against are computed here.
  def warmup(spark: SparkSession): Unit = files.foreach(f => batchCandles(spark, f))

  def pass(spark: SparkSession, tracer: Option[Tracer]): Seq[Op] =
    files.indices.map { i =>
      var dir: Option[String] = None
      val op = Workload.run(tracer, "round", (_: Seq[Row]) => rowsPerDay(i)) { ctx =>
        val (rows, d) = round(spark, files(i), tracer, ctx)
        dir = Some(d)
        rows
      }(streamed => check(spark, files(i), streamed))
      dir.foreach { d =>
        if (stored.isNaN) stored = Workload.dirBytes(d).toDouble / Workload.fileBytes(files(i))
        Workload.deleteDir(d)
      }
      op
    }

  /** Candles must equal the batch candle aggregation over the same bars. */
  private def check(spark: SparkSession, file: String, streamed: Seq[Row]): Option[String] = {
    val batch = batchCandles(spark, file)
    def key(r: Row) = (r.getString(0), r.getTimestamp(1).getTime)
    val got = streamed.map(r => key(r) -> r).toMap
    if (got.size != streamed.size || got.size != batch.size)
      return Some(s"${streamed.size} candles streamed vs ${batch.size} in batch")
    batch.collectFirst {
      case b if !got.get(key(b)).exists(s => same(s, b)) => s"candle ${key(b)} differs: ${got.get(key(b))} vs $b"
    }
  }

  // open/high/low/close are picked values and must match exactly; the
  // summed volume may differ in the last bits with summation order
  private def same(a: Row, b: Row): Boolean =
    a.getTimestamp(2) == b.getTimestamp(2) && (3 to 6).forall(i => a.getDouble(i) == b.getDouble(i)) &&
      math.abs(a.getDouble(7) - b.getDouble(7)) <= 1e-9 * math.max(1.0, math.abs(b.getDouble(7))) &&
      a.getLong(8) == b.getLong(8)

  def storedBytesPerInputByte: Double = stored

  def tableCounts(spark: SparkSession): Map[String, Double] = Map.empty
}
