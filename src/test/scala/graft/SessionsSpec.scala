package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.plans.{GraftMergeIntoCommand, MergeSqlTargets}
import graft.tables.LakeTable

/** The session factory's contract, read off a factory session
  * ([[SparkSpec]] builds its session with `Sessions.local(cores = 4)`).
  */
class SessionsSpec extends SparkSpec {
  import spark.implicits._

  test("factory session: shuffle partitions = cores, UTC, Spark's AQE defaults") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("extensions are installed once, at build time: extraOptimizations stays empty") {
    assert(spark.experimental.extraOptimizations.isEmpty)
    // the injected rule and functions are live without any second install
    val dir = scratchDir("sessions-dot")
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b").write.mode("overwrite").parquet(dir)
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val out = spark.read.parquet(dir).select(hofDot.as("dot"))
    assert(out.queryExecution.optimizedPlan.toString.toLowerCase.contains("arraydot"))
    assert(out.head().getDouble(0) == 11.0)
    val viaSql = spark.sql("SELECT graft_array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
    assert(viaSql.head().getDouble(0) == 11.0)
  }

  test("MERGE INTO on a registered lake table parses to the graft MERGE command") {
    val t = LakeTable(spark, scratchDir("sessions-merge"))
    t.append(Seq((1, "a")).toDF("k", "v"))
    MergeSqlTargets.register(spark, "t_sessions_merge", t.root)
    Seq((1, "b")).toDF("k", "v").createOrReplaceTempView("s_sessions_merge")
    val plan = spark.sessionState.sqlParser.parsePlan(
      """MERGE INTO t_sessions_merge t USING s_sessions_merge s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(plan.isInstanceOf[GraftMergeIntoCommand], plan.getClass.getName)
  }

  test("no SparkSession is built outside Sessions.scala") {
    // assembled so that this file does not match itself
    val builder = java.util.regex.Pattern.compile("Spark" + "Session\\s*\\.\\s*builder")
    val factory = Paths.get("src/main/scala/graft/Sessions.scala")
    val roots = Seq(Paths.get("src/main"), Paths.get("src/test"))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not under ${Paths.get("").toAbsolutePath}"))
    val offenders = roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(p => p.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filter(p => p != factory && builder.matcher(Files.readString(p)).find())
    assert(offenders.isEmpty, s"build sessions through graft.Sessions.local: $offenders")
  }
}
