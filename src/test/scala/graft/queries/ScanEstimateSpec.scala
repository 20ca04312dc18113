package graft.queries

import org.apache.hadoop.fs.RawLocalFileSystem

import graft.SparkSpec

/** The local filesystem under a non-`file` scheme: stands in for s3a://
  * or hdfs:// inputs, which java.nio cannot resolve.
  */
class SchemeLocalFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

class ScanEstimateSpec extends SparkSpec {
  import spark.implicits._

  private def writeInput(tag: String): String = {
    val dir = s"${scratchDir(tag)}/in put" // a space: inputFiles URI-encodes it
    (1 to 1000).map(i => (i.toLong, s"doc $i")).toDF("id", "text")
      .coalesce(2).write.parquet(dir)
    dir
  }

  test("scan estimate sizes files through Hadoop, so a non-file scheme no longer crashes") {
    val dir = writeInput("scheme")
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[SchemeLocalFileSystem].getName)
    spark.sparkContext.hadoopConfiguration.setBoolean("fs.graftfs.impl.disable.cache", true)
    val viaScheme = spark.read.parquet(s"graftfs://$dir")
    assert(viaScheme.inputFiles.forall(_.startsWith("graftfs:")), viaScheme.inputFiles.mkString)
    val local = spark.read.parquet(dir)
    val estimate = ExtQueries.scanPartitionEstimate(spark, viaScheme)
    assert(estimate == ExtQueries.scanPartitionEstimate(spark, local))
    assert(estimate >= 1L && estimate < spark.sparkContext.defaultParallelism)
  }

  test("scan estimate falls back to never-widen when a file cannot be sized") {
    val dir = writeInput("gone")
    val df = spark.read.parquet(dir)
    df.inputFiles.foreach(f => new java.io.File(new java.net.URI(f)).delete())
    assert(ExtQueries.scanPartitionEstimate(spark, df) == spark.sparkContext.defaultParallelism)
  }
}
