package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins [[ParquetMeta]]: the footer-read schema is exactly the schema
  * Spark infers, the footer row count is exactly `count()` on both sides
  * of the file-count cutover, naming a table starts no Spark job, and a
  * missing path still fails with Spark's own error. */
class ParquetMetaSpec extends AnyFunSuite {

  private lazy val spark = Sessions.build("local[4]", 4)

  private val fixtureDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    Paths.get(sys.props("user.dir"), "perfbench", "fixture", "sf0.01").toString)

  private def tables(dir: String): Seq[String] =
    scala.util.Using.resource(Files.list(Paths.get(dir)))(_.iterator().asScala.toSeq)
      .map(_.toString).filter(_.endsWith(".parquet")).sorted

  /** Job groups of the jobs started by `body`. The listener bus delivers
    * in order, so once a marker job run after `body` has been seen, every
    * job `body` started has been seen too. */
  private def jobsOf(body: => Unit): Int = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("under-test", "ParquetMetaSpec")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("marker", "ParquetMetaSpec")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("marker"), "marker job never reached the listener")
      groups.asScala.count(_ == "under-test")
    } finally sc.removeSparkListener(listener)
  }

  test("schema and row count match Spark's inference and count() on every fixture table") {
    for (dir <- fixtureDirs; t <- tables(dir)) {
      assert(ParquetMeta.read(spark, t).schema === spark.read.parquet(t).schema, t)
      assert(ParquetMeta.rows(spark, t) === spark.read.parquet(t).count(), t)
    }
  }

  test("year-partitioned and multi-file directories: same schema, same rows") {
    val base = spark.range(0, 5000)
      .select(col("id"), (col("id") * 0.5).as("v"),
        expr("date_add(date '2018-01-01', cast(id % 2000 as int))").as("date"),
        expr("cast(id as decimal(18, 2))").as("amount"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"))
    val scenes = Scratch.fresh("pmeta_scenes")
    base.withColumn("yr", year(col("date"))).repartition(3)
      .write.mode("overwrite").partitionBy("yr").parquet(scenes)
    val multi = Scratch.fresh("pmeta_multi")
    base.repartition(6).write.mode("overwrite").parquet(multi)
    for (p <- Seq(scenes, multi)) {
      val df = ParquetMeta.read(spark, p)
      assert(df.schema === spark.read.parquet(p).schema, p)
      assert(ParquetMeta.rows(spark, p) === 5000L, p)
      assert(df.count() === 5000L, p)
    }
    assert(ParquetMeta.read(spark, scenes).filter(col("yr") === 2019).count() ===
      spark.read.parquet(scenes).filter(col("yr") === 2019).count())
  }

  test("row count: footers up to the discovery threshold, count() above it") {
    val p = Scratch.fresh("pmeta_cutover")
    spark.range(0, 1000).repartition(6).write.mode("overwrite").parquet(p)
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    var n = 0L
    assert(jobsOf { n = ParquetMeta.rows(spark, p) } === 0)
    assert(n === 1000L)
    spark.conf.set(key, "2")
    try {
      assert(jobsOf { n = ParquetMeta.rows(spark, p) } > 0)
      assert(n === 1000L)
    } finally spark.conf.unset(key)
  }

  test("naming a table and sizing from its row count start no Spark job") {
    val dir = "/root/testdata/sf0.01"
    assert(jobsOf { spark.read.parquet(s"$dir/events.parquet") } > 0,
      "control: Spark's schema inference should start a job")
    var rows = 0L
    assert(jobsOf {
      T(spark, dir, "events")
      rows = ParquetMeta.rows(spark, s"$dir/events.parquet")
    } === 0)
    assert(rows === spark.read.parquet(s"$dir/events.parquet").count())
  }

  test("a missing path fails with Spark's own AnalysisException") {
    val missing = Scratch.fresh("pmeta_missing") + "/nope.parquet"
    intercept[AnalysisException](ParquetMeta.read(spark, missing))
    intercept[AnalysisException](T(spark, missing, "events"))
    intercept[AnalysisException](ParquetMeta.rows(spark, missing))
  }
}
