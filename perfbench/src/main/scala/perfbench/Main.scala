package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{Bench, Sessions}

/** Runs one workload for a fixed time and writes its raw measurements.
  *
  * {{{
  *   Main --workload <name> --inputs <dir> --work <dir> --seconds <n>
  *        --trace <0|1> --out <file> [--spans <file>]
  * }}}
  *
  * Set-up runs three times, each from a fresh session, and each is
  * timed. One untimed warm-up follows. Passes then repeat until the time
  * is up; a pass that would end more than half a pass late is not
  * started. With tracing on, passes alternate untraced and traced (at
  * least one of each), so the tracing overhead is measured in the same
  * run; spans of traced passes go to the spans file.
  */
object Main {
  private val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val inputs = opts("inputs")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val start = System.nanoTime()
    def log(msg: String): Unit =
      System.err.println(f"perfbench: ${(System.nanoTime() - start) / 1e9}%.1f s: $msg")

    val wl: Workload = workload match {
      case "elt_daily" => new EltDaily(inputs, work)
      case "stream_candles" => new StreamCandles(inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val loadStart = Bench.loadavg()
    var spark: SparkSession = null
    val setupS = (0 until SetupRepeats).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(cores = cores, appName = s"perfbench-$workload")
      wl.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }

    // host-contention probe: a fixed small scan, timed by graft.Bench
    val probeDir = s"$work/probe"
    spark.range(1, 6).selectExpr("CAST(id AS INT) AS r_regionkey", "concat('region', id) AS r_name")
      .write.mode("overwrite").parquet(s"$probeDir/region.parquet")
    val calStart = Bench.calibrate(spark, probeDir)
    log(s"set-up done: ${setupS.mkString(", ")}")
    wl.warmup(spark)
    log("warm-up done")

    val tracer = new Tracer(spark)
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Seq[Op])]
    var calMid = Double.NaN
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minPasses = if (trace) 2 else 1
    var lastPassS = 0.0
    // start another pass only if it would end at most half a pass late
    while (passes.size < minPasses || elapsed + lastPassS / 2 < seconds) {
      val traced = trace && passes.size % 2 == 1
      if (traced) tracer.attach() else tracer.detach()
      val p0 = elapsed
      passes += traced -> wl.pass(spark, if (traced) Some(tracer) else None)
      lastPassS = elapsed - p0
      log(s"pass ${passes.size} done: ${passes.last._2.map(o => f"${o.seconds}%.2f/${o.cpuSeconds}%.2f").mkString(" ")}")
      if (calMid.isNaN && elapsed >= seconds / 2) calMid = Bench.calibrate(spark, probeDir)
    }
    tracer.detach()
    val measuredS = elapsed
    if (calMid.isNaN) calMid = Bench.calibrate(spark, probeDir)
    val calEnd = Bench.calibrate(spark, probeDir)
    val tables = wl.tableCounts(spark)
    val loadEnd = Bench.loadavg()

    opts.get("spans").foreach { path =>
      val spans = tracer.recorded.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "counters_start" -> s.countersStart, "counters_end" -> s.countersEnd, "attrs" -> s.attrs)
      }
      write(path, Json.render(spans))
    }
    val result = Map(
      "workload" -> workload,
      "cores" -> cores,
      "setup_s" -> setupS,
      "measured_s" -> measuredS,
      "passes" -> passes.map { case (traced, ops) =>
        Map("traced" -> traced, "ops" -> ops.map { o =>
          Map("kind" -> o.kind, "s" -> o.seconds, "cpu_s" -> o.cpuSeconds, "rows" -> o.rows,
            "error" -> o.error)
        })
      },
      "stored_bytes_per_input_byte" -> wl.storedBytesPerInputByte,
      "tables" -> tables,
      "peak_rss_mb" -> peakRssMb(),
      "sentinel" -> Map(
        "nproc" -> cores,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadEnd,
        "calibrate_s" -> Seq(calStart, calMid, calEnd)))
    write(opts("out"), Json.render(result))
    spark.stop()
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
  }

  private def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }
}
