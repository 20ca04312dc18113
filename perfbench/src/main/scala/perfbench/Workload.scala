package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark operation: its timed seconds, or the reason it failed.
  * A failed operation (a throw or a wrong answer) never yields a time.
  */
final case class Op(kind: String, seconds: Double, cpuSeconds: Double, rows: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** A closed-loop workload: one client issuing operations back to back.
  * A pass is a fixed sequence of operations; the run repeats passes
  * until its time is up.
  */
trait Workload {
  /** Builds the state the timed loop starts from. Called several times
    * per run, each time on a fresh session.
    */
  def setup(spark: SparkSession): Unit

  /** Untimed work so JIT, codegen and lazy engine state are warm, where
    * the set-ups leave part of the timed path cold.
    */
  def warmup(spark: SparkSession): Unit

  /** Runs one pass. With a tracer, every public call gets a span. */
  def pass(spark: SparkSession, tracer: Option[Tracer]): Seq[Op]

  /** Bytes the engine keeps on disk per input byte, after the first pass. */
  def storedBytesPerInputByte: Double

  /** Table-layer counts read after the run. */
  def tableCounts(spark: SparkSession): Map[String, Double]
}

/** The operation a call belongs to and the span it runs under. */
final case class Ctx(op: Int, span: Int)

object Workload {
  private var nextOp = 0

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Times `body` as one operation, in wall seconds and in CPU seconds of
    * the whole process; with a tracer, also as its root span.
    */
  def timed[T](tracer: Option[Tracer], kind: String)(body: Ctx => T): (T, Double, Double) = {
    val op = nextOp
    nextOp += 1
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val out = tracer match {
      case Some(t) => t.span(op, -1, kind)(id => body(Ctx(op, id)))
      case None => body(Ctx(op, -1))
    }
    (out, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
  }

  /** A child span of the operation's root span. */
  def child[T](tracer: Option[Tracer], ctx: Ctx, name: String)(body: => T): T =
    tracer match {
      case Some(t) => t.span(ctx.op, ctx.span, name)(_ => body)
      case None => body
    }

  /** Runs one operation and its untimed output check. */
  def run[T](tracer: Option[Tracer], kind: String, rows: T => Long)(body: Ctx => T)(
      check: T => Option[String]): Op =
    try {
      val (out, s, cpu) = timed(tracer, kind)(body)
      check(out) match {
        case None => Op(kind, s, cpu, rows(out), None)
        case Some(err) => failed(kind, s"wrong answer: $err")
      }
    } catch {
      case scala.util.control.NonFatal(e) => failed(kind, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  def failed(kind: String, error: String): Op = Op(kind, Double.NaN, Double.NaN, 0L, Some(error))

  def dirBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteDir(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((q: Path) => Files.deleteIfExists(q))
      finally s.close()
    }
  }

  def fileBytes(path: String): Long = new File(path).length()

  /** Rows rendered as sorted strings, for order-insensitive comparison. */
  def rendered(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.map(v => if (v == null) "" else v.toString).mkString("|")).sorted

  /** First difference between two sorted row renderings, if any. */
  def diff(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else {
      val extra = got.diff(want).take(2)
      val missing = want.diff(got).take(2)
      Some(s"$what: ${got.size} rows vs ${want.size} expected; " +
        s"unexpected ${extra.mkString("[", "; ", "]")} missing ${missing.mkString("[", "; ", "]")}")
    }
}
