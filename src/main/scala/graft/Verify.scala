package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for local iteration (same contract
    // as Bench; the driver never sets it, so driver runs dump everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // jsonStr escapes every control char: a tab or CR in an oracle query
    // would otherwise make the file unreadable to a strict JSON parser
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jsonStr(k)}: ${Bench.jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
