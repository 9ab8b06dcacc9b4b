package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.artifacts.ArtifactStore
import graft.sources.Sources

/** Scale-up harness: times the shipped plan catalog over a lake whose
  * fact tables are the source's, replicated `factor`×. Linear-ish growth
  * is the evidence that the plans that ship scale; quadratic blowup flags
  * a plan bug before a cluster sees it. Every timed op is a catalog entry.
  *
  * `runMain graft.tools.Stress [factor] [opSubstring] [steady]` over
  * sf0.1 prints one JSON line `{"op","factor","rows","sec","mode"}` per
  * catalog name, then one `build:<kind>` line per [[BuildTimer]] kind.
  * `opSubstring` keeps the names containing it; a trailing `$` anchors
  * it to one exact name. Committed curves live in `stress_history/`.
  */
object Stress {
  /** Fact table → the id columns a replica offsets, and the offset, so
    * cardinalities really grow. Other tables are dimensions, copied once. */
  private val facts: Map[String, (Seq[String], Long)] = Map(
    "lineitem" -> (Seq("l_orderkey"), 100000000L),
    "orders" -> (Seq("o_orderkey"), 100000000L),
    "events" -> (Seq("event_id", "user_id"), 100000000L),
    "documents" -> (Seq("doc_id"), 10000000L),
    "embeddings" -> (Seq("vec_id"), 10000000L))

  /** The timed plan per catalog name: the production plan where the
    * oracle form runs an in-query exact twin, as in [[graft.Bench]]. */
  def catalog: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ SparkEntry.productionQueries

  /** Replica `i` of one fact table. Replicas get perturbed CONTENT, not
    * just shifted ids: byte-identical text or embeddings across replicas
    * would make near-dup pair counts (and so the dedup and ANN runtimes)
    * grow quadratically in `factor` by construction, masking the
    * linear-plan signal this harness measures. Replica 0 is the source. */
  private def replica(base: DataFrame, idCols: Seq[String], offset: Long, i: Int): DataFrame =
    if (i == 0) base
    else {
      var df = idCols.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(i * offset)))
      if (df.columns.contains("text"))
        // Suffix every 3rd token: each word 3-gram then holds one suffixed
        // token, so no 3-gram shingle is shared with the source or with
        // another replica (suffixes differ) and cross-replica jaccard is 0.
        // A sparser suffix is not enough: every 5th token leaves 2 in 5
        // shingles shared, jaccard ≈ 0.25, above p05's 0.2 threshold.
        df = df.withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "),
            (wd, j) => when(pmod(j, lit(3)) === lit(i % 3), concat(wd, lit(s"_r$i")))
              .otherwise(wd))))
      if (df.columns.contains("n_chars"))
        df = df.withColumn("n_chars", length(col("text")).cast("long"))
      if (df.columns.contains("embedding"))
        // Circular shift by the replica index: preserves the norm but fully
        // decorrelates a replica from its base vector (additive jitter left
        // same-base pairs at cosine ≈ 0.93). Shift i must stay in [1, 63]
        // and distinct per replica — hence the factor bound.
        df = df.withColumn("embedding", concat(
          slice(col("embedding"), i + 1, 64 - i), slice(col("embedding"), 1, i)))
      df
    }

  /** Run `body` over a temporary lake holding every table of `srcDir`,
    * the fact tables replicated `factor`×. The lake and the artifacts
    * built over it are gone when `body` returns or throws. */
  def withLake[T](spark: SparkSession, srcDir: String, factor: Int)(body: String => T): T = {
    require(factor >= 1 && factor <= 64, s"factor must be in [1, 64], got $factor")
    val lake = Files.createTempDirectory("graft-stress-lake")
    try {
      Sources.tableNames.foreach { t =>
        facts.get(t) match {
          case Some((idCols, offset)) =>
            val base = Sources.table(spark, srcDir, t)
            (0 until factor).map(replica(base, idCols, offset, _)).reduce(_ union _)
              .write.parquet(s"$lake/$t.parquet")
          case None =>
            org.apache.commons.io.FileUtils.copyToDirectory(
              new java.io.File(s"$srcDir/$t.parquet"), lake.toFile)
        }
      }
      body(lake.toString)
    } finally {
      ArtifactStore.invalidate(spark, lake.toString)
      org.apache.commons.io.FileUtils.deleteQuietly(lake.toFile)
    }
  }

  /** Time every selected catalog plan once into the noop sink over the
    * `factor`× lake and hand each JSON line to `emit`. `sec` excludes the
    * artifact builds that fire inside the write; they print after the
    * loop as `build:<kind>` lines. `steady` runs each plan once untimed
    * first. Returns the names whose plan failed. */
  def run(spark: SparkSession, srcDir: String, factor: Int, opFilter: Option[String],
          steady: Boolean)(emit: String => Unit): Seq[String] = withLake(spark, srcDir, factor) { lake =>
    def want(name: String): Boolean = opFilter.forall { f =>
      if (f.endsWith("$")) name == f.dropRight(1) else name.contains(f)
    }
    // Only same-mode rows form a scaling curve: a sweep times each plan in a
    // JVM hot from every plan before it, an isolated run in a cold-ish one.
    val mode = if (steady) "steady" else if (opFilter.isDefined) "isolated" else "sweep"
    def line(op: String, rows: Long, sec: Double): Unit =
      emit(s"""{"op":"$op","factor":$factor,"rows":$rows,"sec":${f"$sec%.2f"},"mode":"$mode"}""")
    def write(plan: DataFrame): Long = {
      val rows = Observation()
      plan.observe(rows, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      rows.get("n").asInstanceOf[Long]
    }
    // A filtered run would otherwise charge its first plan the cold-JVM
    // costs (codegen, JIT, parquet footers) that a sweep's first plans
    // absorb.
    if (opFilter.isDefined)
      Sources.table(spark, lake, "lineitem").groupBy(col("l_returnflag")).count().collect()
    BuildTimer.reset()
    val failed = catalog.toSeq.sortBy(_._1).filter(e => want(e._1)).flatMap { case (name, plan) =>
      try {
        if (steady) write(plan(spark, lake))
        val built = BuildTimer.totalSeconds
        val t0 = System.nanoTime()
        val rows = write(plan(spark, lake))
        line(name, rows, (System.nanoTime() - t0) / 1e9 - (BuildTimer.totalSeconds - built))
        None
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[stress] $name FAILED: $e")
          Some(name)
      }
    }
    BuildTimer.perArtifactSeconds.foreach { case (kind, sec) => line(s"build:$kind", 0L, sec) }
    failed
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"
    val failed =
      try run(spark, dir, args.headOption.map(_.toInt).getOrElse(4), args.lift(1),
        args.lift(2).contains("steady"))(println)
      finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
