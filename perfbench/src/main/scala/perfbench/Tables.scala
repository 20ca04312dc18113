package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tables.LakeTable

/** Table-layer counts, read through the tables' own metadata surfaces. */
object Tables {
  def counts(spark: SparkSession, roots: Seq[String]): Map[String, Double] = {
    val tables = roots.map(LakeTable(spark, _)).filter(_.exists)
    val files = tables.map(_.files())
    Map(
      "tables.versions" -> tables.map(_.snapshots().count()).sum.toDouble,
      "tables.data_files" -> files.map(_.count()).sum.toDouble,
      "tables.data_bytes" -> files.map(_.agg(sum("size_bytes")).head().getLong(0)).sum.toDouble,
      "tables.manifest_bytes" -> tables.map { t =>
        Files.size(Paths.get(t.root, "_graft_log", f"v${t.latestVersion().get}%020d.json"))
      }.sum.toDouble)
  }
}
