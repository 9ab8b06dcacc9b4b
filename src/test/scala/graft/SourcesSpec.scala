package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.artifacts.Persisted
import graft.sources.Sources

/** Parquet reads in main take their schema from one footer read on the
  * driver (`Sources.parquet`), so registering tables and loading a
  * persisted artifact run no Spark job, and the schema is the one Spark's
  * own inference would give. */
class SourcesSpec extends SparkSpecBase {

  private val lake = "/root/testdata/sf0.001"

  private def assertSameSchema(path: String): StructType = {
    val inferred = spark.read.parquet(path).schema
    assert(Sources.parquet(spark, path).schema === inferred, path)
    inferred
  }

  test("registerAll on a fresh session runs no Spark job") {
    val fresh = spark.newSession()
    assert(PlanLedger.jobs(fresh)(Sources.registerAll(fresh, lake)) === 0)
    Sources.tableNames.foreach(t => assert(fresh.catalog.tableExists(t), t))
  }

  test("Persisted.load of a two-frame artifact runs no Spark job") {
    val dir = tmpDir("persisted-jobs")
    Persisted.save(dir, "pair", Map("n" -> 2))(
      "ids" -> spark.range(5).toDF("id"),
      "words" -> spark.range(3).select(col("id").cast("string").as("w")))
    val loaded = PlanLedger.jobs(spark)(Persisted.load(spark, dir, "pair"))
    assert(loaded === 0)
    val back = Persisted.load(spark, dir, "pair")
    assert(back.frame("ids").count() === 5 && back.frame("words").count() === 3)
  }

  test("schema parity: every sf0.001 table") {
    Sources.tableNames.foreach(t => assertSameSchema(s"$lake/$t.parquet"))
  }

  test("schema parity: _SUCCESS and .crc files are skipped") {
    val dir = s"${tmpDir("crc")}/t.parquet"
    spark.range(10).select(col("id"), (col("id") * 2.5).as("x")).repartition(2)
      .write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertSameSchema(dir)
    assert(Sources.parquet(spark, dir).count() === 10)
  }

  test("schema parity: a k=v partitioned directory") {
    val dir = s"${tmpDir("kv")}/t.parquet"
    spark.range(12).select(col("id"), (col("id") % 3).as("k")).write.partitionBy("k")
      .parquet(dir)
    val inferred = assertSameSchema(dir)
    assert(inferred.fieldNames.toSeq === Seq("id", "k"))
    def sumK(df: org.apache.spark.sql.DataFrame) = df.agg(sum("k")).head().getLong(0)
    assert(sumK(Sources.parquet(spark, dir)) === sumK(spark.read.parquet(dir)))
  }

  test("schema parity: a 0-row table written by Spark") {
    val dir = s"${tmpDir("empty")}/region.parquet"
    Sources.table(spark, lake, "region").limit(0).write.parquet(dir)
    assertSameSchema(dir)
    assert(Sources.parquet(spark, dir).count() === 0)
  }

  test("schema parity: a TIMESTAMP_NTZ column") {
    val s = spark
    import s.implicits._
    val dir = s"${tmpDir("ntz")}/events.parquet"
    Seq((1L, "2024-03-01 10:15:30.123456"), (2L, "2024-03-02 00:59:59.999999"))
      .toDF("event_id", "ts_str")
      .select(col("event_id"), to_timestamp(col("ts_str")).cast(TimestampNTZType).as("ts"))
      .write.parquet(dir)
    assert(assertSameSchema(dir)("ts").dataType === TimestampNTZType)
  }

  test("schema parity under mergeSchema=true: two files with different columns") {
    val dir = s"${tmpDir("merge")}/t.parquet"
    spark.range(2).select(col("id"), lit("a").as("a")).coalesce(1).write.parquet(dir)
    spark.range(2).select(col("id"), lit(1.5).as("b")).coalesce(1).write.mode("append")
      .parquet(dir)
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try assert(assertSameSchema(dir).fieldNames.toSet === Set("id", "a", "b"))
    finally spark.conf.unset(key)
  }

  test("a table directory with no data file fails loudly, not as a missing table") {
    val dir = tmpDir("no-data")
    Files.createDirectories(Paths.get(s"$dir/region.parquet"))
    Files.createFile(Paths.get(s"$dir/region.parquet/_SUCCESS"))
    val e = intercept[AnalysisException](Sources.table(spark, dir, "region"))
    assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"), e.getMessage)
    intercept[AnalysisException](Sources.registerAll(spark, dir))
  }
}
