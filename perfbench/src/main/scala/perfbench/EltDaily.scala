package perfbench

import java.sql.Timestamp

import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.BatchElt
import graft.pipeline.BatchElt.Lakehouse

/** elt_daily: each operation is one day of the reference batch DAG
  * (`BatchElt.runCompanyElt`) over that day's company and industry CSVs.
  * A pass is an episode: a lake bootstrapped with day 0, then days
  * 1..D, so the history every day rescans and rewrites grows within the
  * pass exactly as it does in production, and every pass does the same
  * work.
  */
final class EltDaily(in: String, work: String) extends Workload {
  private val meta = Json.parseFile(s"$in/elt.json")
  private val days = meta("days").asInstanceOf[Double].toInt
  private val clocks = meta("clocks").asInstanceOf[Seq[Any]].map(c => Timestamp.valueOf(c.toString))
  private val fresh = scala.collection.mutable.Queue.empty[String]
  private var lakes = 0
  private var lastLake: Option[String] = None
  private var stored = Double.NaN
  private var writtenPerOp = Double.NaN

  private def company(d: Int) = s"$in/company_d$d.csv"
  private def industry(d: Int) = s"$in/industry_d$d.csv"
  private def inputBytes(d: Int) = Workload.fileBytes(company(d)) + Workload.fileBytes(industry(d))
  private def inputRows(d: Int): Long = {
    def lines(p: String) = { val s = Source.fromFile(p); try s.getLines().size - 1L finally s.close() }
    lines(company(d)) + lines(industry(d))
  }
  private lazy val rowsPerDay = (0 to days).map(inputRows)

  private def bootstrap(spark: SparkSession): String = {
    val root = s"$work/lake$lakes"
    lakes += 1
    BatchElt.runCompanyElt(Lakehouse(spark, root), company(0), industry(0), clocks(0), "day-0")
    root
  }

  def setup(spark: SparkSession): Unit = fresh.enqueue(bootstrap(spark))

  // the bootstraps leave the SCD2/SCD1 merges and the incremental gold
  // path cold: run day 1 on one bootstrapped lake, then throw it away
  def warmup(spark: SparkSession): Unit = {
    val root = if (fresh.nonEmpty) fresh.dequeue() else bootstrap(spark)
    BatchElt.runCompanyElt(Lakehouse(spark, root), company(1), industry(1), clocks(1), "day-1")
    Workload.deleteDir(root)
  }

  private def runDay(lake: Lakehouse, d: Int, tracer: Option[Tracer], ctx: Ctx): Unit =
    tracer match {
      case None =>
        BatchElt.runCompanyElt(lake, company(d), industry(d), clocks(d), s"day-$d")
      case Some(_) =>
        // the same five tasks in runDag order, one span each
        def task(name: String)(body: => Unit): Unit = Workload.child(tracer, ctx, s"pipeline.$name")(body)
        task("raw_company")(BatchElt.loadBronzeCsv(lake, company(d), "raw_company", clocks(d), s"day-$d"))
        task("raw_industry")(BatchElt.loadBronzeCsv(lake, industry(d), "raw_industry", clocks(d), s"day-$d"))
        task("processed_company")(BatchElt.processCompany(lake, clocks(d)))
        task("processed_industry")(BatchElt.processIndustry(lake))
        task("dim_company")(BatchElt.buildDimCompany(lake))
    }

  def pass(spark: SparkSession, tracer: Option[Tracer]): Seq[Op] = {
    val root = if (fresh.nonEmpty) fresh.dequeue() else bootstrap(spark)
    lastLake.foreach(Workload.deleteDir)
    lastLake = Some(root)
    val lake = Lakehouse(spark, root)
    val before = Workload.dirBytes(root)
    val ops = (1 to days).map { d =>
      Workload.run(tracer, "day", (_: Unit) => rowsPerDay(d))(ctx => runDay(lake, d, tracer, ctx))(
        _ => None)
    }
    val after = Workload.dirBytes(root)
    writtenPerOp = (after - before).toDouble / days
    if (stored.isNaN) stored = after.toDouble / (0 to days).map(inputBytes).sum
    // the episode's answer is its final table state: a wrong state fails
    // every day of the episode
    val problem =
      if (ops.exists(!_.ok)) None
      else try check(spark, lake) catch {
        case scala.util.control.NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    problem.fold(ops)(err => ops.map(o => Workload.failed(o.kind, s"wrong answer: $err")))
  }

  private def expected(name: String): Seq[String] = {
    val s = Source.fromFile(s"$in/$name")
    try s.getLines().drop(1).map(_.split(",", -1).mkString("|")).toSeq.sorted
    finally s.close()
  }

  private def fmt(c: String) = date_format(col(c), "yyyy-MM-dd HH:mm:ss").as(c)

  private def check(spark: SparkSession, lake: Lakehouse): Option[String] = {
    val silverRows = lake.table("silver", "processed_company").read()
      .select(col("symbol"), col("company_name"), col("icb_code_1"), col("icb_code_2"),
        col("icb_code_3"), col("icb_code_4"), col("issued_shares"), fmt("start_timestamp"),
        fmt("end_timestamp"), col("is_current"))
      .collect().toSeq
    val silver = Workload.rendered(silverRows)
    // one open version per symbol, versions back to back in time
    val intervals = silverRows.groupBy(_.getString(0)).collectFirst {
      case (sym, vs) if {
            val sorted = vs.sortBy(_.getString(7))
            sorted.count(_.getInt(9) == 1) != 1 || sorted.last.getInt(9) != 1 ||
            sorted.sliding(2).exists {
              case Seq(a, b) => a.getString(8) != b.getString(7)
              case _ => false
            }
          } => s"symbol $sym has a broken version chain"
    }
    val gold = Workload.rendered(lake.table("gold", "dim_company").read()
      .select(col("symbol"), col("company_name"), col("issued_shares"), col("icb_name_1"),
        col("icb_name_2"), col("icb_name_3"), col("icb_name_4"), fmt("ingest_timestamp"))
      .collect().toSeq)
    // bronze holds exactly the CSV rows of every day, tagged with its batch
    val csvCols = Seq("symbol", "organ_name", "icb_code1", "icb_code2", "icb_code3",
      "icb_code4", "issue_share")
    val loaded = (0 to days).map { d =>
      spark.read.option("header", "true").option("inferSchema", "false").csv(company(d))
        .withColumn("batch_id", lit(s"day-$d"))
    }.reduce(_ union _)
    val bronze = lake.table("bronze", "raw_company").read().select((csvCols :+ "batch_id").map(col): _*)
    val bronzeDiff = bronze.exceptAll(loaded).count() + loaded.exceptAll(bronze).count()
    intervals
      .orElse(Workload.diff("silver", silver, expected("expected_silver.csv")))
      .orElse(Workload.diff("gold", gold, expected("expected_gold.csv")))
      .orElse(if (bronzeDiff == 0) None else Some(s"bronze differs from the CSV rows by $bronzeDiff rows"))
  }

  def storedBytesPerInputByte: Double = stored

  def tableCounts(spark: SparkSession): Map[String, Double] =
    lastLake.map { root =>
      Tables.counts(spark, Seq("bronze/raw_company", "bronze/raw_industry", "silver/processed_company",
        "silver/processed_industry", "gold/dim_company").map(t => s"$root/$t")) +
        ("tables.bytes_written_per_op" -> writtenPerOp)
    }.getOrElse(Map.empty)
}
