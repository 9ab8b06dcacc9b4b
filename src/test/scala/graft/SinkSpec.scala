package graft

import java.io.IOException
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.annotation.nowarn
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{broadcast, col, desc}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sink.{FileContract, ForkFreeLocalFileSystem, ForkFreeRawLocalFileSystem, PartitionedParquetSink,
  WriteResult, WriteStats}

class SinkSpec extends SparkSpecBase {
  private val date = LocalDate.of(2026, 8, 3) // unpadded month AND day digits

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val root = new java.io.File(dir)
    if (!root.exists()) Seq.empty
    else walk(root).filter(_.getName.endsWith(".parquet"))
  }

  test("date path uses unpadded month and day (reference %-m/%-d)") {
    val sink = new PartitionedParquetSink(spark, "file:///out")
    assert(sink.datePath("dumps/people", date) ==
      "dumps/people/year_created=2026/month_created=8/day_created=3")
  }

  test("chunk-file contract: 1000 rows @ chunksize 13 -> 77 files (Exact)") {
    val root = tmpDir("sink-chunks")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Exact)
    val df = spark.range(0, 1000).toDF("n")
    assert(sink.write(df, "series", Some(13), date) == WriteResult.Written)
    val files = parquetFiles(s"$root/series")
    assert(files.size == 77, s"expected 77 files, got ${files.size}")
    assert(files.forall(_.getName.contains(".gz.")), "gzip codec expected")
  }

  test("chunksize 0 -> exactly one file") {
    val root = tmpDir("sink-onefile")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Exact)
    sink.write(spark.range(0, 1000).toDF("n"), "series0", None, date)
    assert(parquetFiles(s"$root/series0").size == 1)
  }

  test("append mode: re-running the same day adds files") {
    val root = tmpDir("sink-append")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Exact)
    val df = spark.range(0, 10).toDF("n")
    sink.write(df, "app", None, date)
    sink.write(df, "app", None, date)
    assert(parquetFiles(s"$root/app").size == 2)
  }

  test("empty result writes a folder marker, no parquet") {
    val root = tmpDir("sink-empty")
    val sink = new PartitionedParquetSink(spark, s"file://$root")
    val empty = spark.range(0, 10).toDF("n").filter("n < 0")
    assert(sink.write(empty, "none", Some(1000), date) == WriteResult.EmptyMarker)
    val target = new java.io.File(
      s"$root/none/year_created=2026/month_created=8/day_created=3")
    assert(target.isDirectory)
    assert(parquetFiles(s"$root/none").isEmpty)
  }

  test("delete wipes the dump target for retry redo") {
    val root = tmpDir("sink-del")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Exact)
    sink.write(spark.range(0, 10).toDF("n"), "wipe", None, date)
    assert(parquetFiles(s"$root/wipe").nonEmpty)
    sink.delete("wipe", date)
    assert(parquetFiles(s"$root/wipe").isEmpty)
  }

  test("scalable contract keeps input partitioning but bounds rows per file") {
    val root = tmpDir("sink-scalable")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Scalable)
    sink.write(spark.range(0, 1000).repartition(4).toDF("n"), "par", Some(100), date)
    val files = parquetFiles(s"$root/par")
    // 4 partitions of ~250 rows, each split into ceil(250/100)=3 files.
    assert(files.size >= 10 && files.size <= 12, s"got ${files.size}")
  }

  // ---- Scalable: one SQL execution per write, spread only when it is free ----

  /** A single-split parquet input of `rows` rows (one file, one row group). */
  private def singleSplit(rows: Long): DataFrame = {
    val dir = tmpDir("sink-input")
    spark.range(0, rows).toDF("n").coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.rdd.getNumPartitions == 1)
    df
  }

  /** The query executions that finished while `body` ran, and the SQL
    * execution id (if any) of every Spark job it started. */
  private def executions(body: => Unit): (Seq[QueryExecution], Seq[Option[String]]) = {
    val seen = ArrayBuffer.empty[QueryExecution]
    val jobs = ArrayBuffer.empty[Option[String]]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized(seen += qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.synchronized(seen += qe)
    }
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      }
    }
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    spark.listenerManager.register(listener)
    sc.addSparkListener(jobListener)
    try {
      body
      TestListenerBus.drain(sc)
    } finally {
      spark.listenerManager.unregister(listener)
      sc.removeSparkListener(jobListener)
    }
    (seen.synchronized(seen.toSeq), jobs.synchronized(jobs.toSeq))
  }

  /** Exchanges in an executed plan, looking into AQE's final plan. */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec        => exchanges(s.plan)
    case e: Exchange              => 1 + e.children.map(exchanges).sum
    case other                    => other.children.map(exchanges).sum
  }

  private def rowCount(f: java.io.File): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(f.toURI), spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }

  /** Partition ids of the tasks that wrote these part files
    * (`part-<partition>-<job uuid>-c<file>.gz.parquet`). */
  private def writerTasks(files: Seq[java.io.File]): Set[String] =
    files.map(_.getName.split("-")(1)).toSet

  test("scalable: every write is one SQL execution (scan, aggregate, broadcast join, scalar subquery, empty)") {
    val scan = singleSplit(20000)
    scan.createOrReplaceTempView("sink_exec_scan")
    val inputs = Seq(
      "single-split scan" -> scan,
      "aggregate" -> scan.groupBy((col("n") % 10).as("k")).count(),
      "broadcast join" -> scan.join(broadcast(spark.range(0, 100).toDF("n")), "n"),
      "scalar subquery" -> spark.sql(
        "SELECT n FROM sink_exec_scan WHERE n > (SELECT avg(n) FROM sink_exec_scan)"),
      "empty" -> scan.filter("n < 0"))
    inputs.foreach { case (name, df) =>
      val root = tmpDir("sink-one-exec")
      val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Scalable)
      var result: WriteResult = null
      val (seen, jobs) = executions { result = sink.write(df, "one", Some(1000), date) }
      assert(seen.size == 1, s"$name: ${seen.size} SQL executions for one write")
      assert(jobs.nonEmpty && jobs.forall(_ == jobs.head) && jobs.head.isDefined,
        s"$name: jobs outside the write's SQL execution: $jobs")
      val expected = df.count()
      assert(result.stats.map(_.rows).contains(expected), s"$name: $result")
      assert(result == (if (expected == 0) WriteResult.EmptyMarker else WriteResult.Written))
    }
  }

  test("scalable: a single-split input is spread over defaultParallelism writer tasks") {
    val root = tmpDir("sink-spread")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Scalable)
    val result = sink.write(singleSplit(60000), "spread", Some(1000), date)
    val files = parquetFiles(s"$root/spread")
    assert(writerTasks(files).size == spark.sparkContext.defaultParallelism)
    val counts = files.map(rowCount)
    assert(counts.forall(_ <= 1000), counts)
    assert(counts.sum == 60000)
    assert(result.stats.contains(WriteStats(60000, files.size, files.map(_.length).sum)))
  }

  test("scalable: multi-split and already-shuffled inputs get no added exchange") {
    val parallelism = spark.sparkContext.defaultParallelism
    val inputs = Seq(
      ("multi-split", spark.range(0, 8000, 1, parallelism * 2).toDF("n"), 0, parallelism * 2),
      ("shuffled", spark.range(0, 8000).toDF("n").repartition(2), 1, 2))
    inputs.foreach { case (name, df, wantExchanges, wantTasks) =>
      val root = tmpDir("sink-noshuffle")
      val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Scalable)
      val (Seq(qe), _) = executions(sink.write(df, "keep", Some(1000), date))
      assert(exchanges(qe.executedPlan) == wantExchanges, s"$name:\n${qe.executedPlan}")
      assert(writerTasks(parquetFiles(s"$root/keep")).size == wantTasks, name)
    }
  }

  test("scalable: an ORDER BY ... LIMIT dump keeps its order across chunk files") {
    val root = tmpDir("sink-order")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Scalable)
    val top = singleSplit(5000).orderBy(desc("n")).limit(1000)
    sink.write(top, "top", Some(100), date)
    val files = parquetFiles(s"$root/top").sortBy(_.getName)
    assert(files.size == 10)
    val read = files.flatMap(f => spark.read.parquet(f.getPath).collect().map(_.getLong(0)))
    assert(read == (4999L to 4000L by -1))
  }

  test("scalable: an empty single-split input leaves only the folder marker") {
    val root = tmpDir("sink-empty-spread")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Scalable)
    val result = sink.write(singleSplit(1000).filter("n < 0"), "none", Some(1000), date)
    assert(result == WriteResult.EmptyMarker)
    assert(result.stats.contains(WriteStats(0, 0, 0)))
    val target = new java.io.File(s"$root/none/year_created=2026/month_created=8/day_created=3")
    assert(target.isDirectory && target.list().isEmpty)
    assert(new java.io.File(s"$root/.graft_staging").list().isEmpty)
  }

  test("scalable: a spread that leaves partition 0 without rows writes no 0-row part file") {
    val root = tmpDir("sink-no-empty-part")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Scalable)
    val result = sink.write(singleSplit(3), "three", Some(1000), date)
    val files = parquetFiles(s"$root/three")
    assert(files.map(rowCount) == Seq(1L, 1L, 1L), files.map(f => f.getName -> rowCount(f)))
    assert(result.stats.contains(WriteStats(3, 3, files.map(_.length).sum)), result)
  }

  test("a failed write leaves no staging directory behind") {
    val root = tmpDir("sink-failed")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Scalable)
    val boom = org.apache.spark.sql.functions.udf { (n: Long) =>
      if (n >= 0) throw new IllegalStateException("boom")
      n
    }
    intercept[Exception] {
      sink.write(spark.range(0, 10).toDF("n").select(boom(col("n")).as("n")), "failed", Some(5), date)
    }
    val staging = new java.io.File(s"$root/.graft_staging")
    assert(!staging.exists() || staging.list().isEmpty,
      s"a failed write left ${Option(staging.list()).map(_.toSeq)} in .graft_staging")
  }

  // ---- local roots: Hadoop's modes, set without a chmod subprocess ----

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Every directory and file strictly below `root`. */
  private def below(root: String): (Seq[java.nio.file.Path], Seq[java.nio.file.Path]) = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(_ != base).toSeq.partition(Files.isDirectory(_))
    finally walk.close()
  }

  private def localFs(root: String): ForkFreeLocalFileSystem =
    ForkFreeLocalFileSystem.get(new Path(s"file://$root"), spark.sparkContext.hadoopConfiguration)
      .asInstanceOf[ForkFreeLocalFileSystem]

  test("local roots: dump dirs, part and .crc files and the folder marker get a plain write's modes") {
    val plain = tmpDir("sink-modes-plain")
    spark.range(0, 10).toDF("n").write.parquet(s"file://$plain/out")
    val (plainDirs, plainFiles) = below(plain)
    val dirMode = plainDirs.map(mode).distinct
    val fileMode = plainFiles.map(mode).distinct
    assert(plainFiles.exists(_.getFileName.toString.endsWith(".crc")))
    // Hadoop's default fs.permissions.umask-mode, 022.
    assert(dirMode == Seq(octal("755")) && fileMode == Seq(octal("644")), (dirMode, fileMode))

    val root = tmpDir("sink-modes")
    val sink = new PartitionedParquetSink(spark, s"file://$root", FileContract.Scalable)
    assert(sink.write(spark.range(0, 1000).toDF("n"), "series", Some(13), date) == WriteResult.Written)
    assert(sink.write(spark.range(0, 10).toDF("n").filter("n < 0"), "none", Some(13), date)
      == WriteResult.EmptyMarker)

    val (dirs, files) = below(root)
    val names = files.map(_.getFileName.toString)
    assert(names.count(_.startsWith("part-")) >= 77)
    assert(names.count(_.endsWith(".parquet.crc")) == names.count(_.startsWith("part-")))
    val marker = Paths.get(root, "none/year_created=2026/month_created=8/day_created=3")
    assert(dirs.contains(marker) && marker.toFile.list().isEmpty)
    assert(dirs.count(_.getFileName.toString.startsWith("day_created=")) == 2)
    dirs.foreach(d => assert(mode(d) == dirMode.head, d))
    files.foreach(f => assert(mode(f) == fileMode.head, f))
  }

  @nowarn("cat=deprecation") // the per-class lookup; its replacement keys on the scheme alone
  private def rawStatistics: FileSystem.Statistics =
    FileSystem.getStatistics("file", classOf[ForkFreeRawLocalFileSystem])

  test("a local-root dump is written through the fork-free file system") {
    val root = tmpDir("sink-forkfree")
    // Hadoop keeps one statistics object per file system class.
    val stats = rawStatistics
    val before = stats.getBytesWritten
    new PartitionedParquetSink(spark, s"file://$root").write(spark.range(0, 100).toDF("n"), "s", Some(13), date)
    assert(stats.getBytesWritten > before)
  }

  test("the fork-free file system sets every mode 0000-0777, falls back for 01777, and throws on a missing path") {
    val root = tmpDir("sink-setmode")
    val fs = localFs(root)
    val file = Paths.get(root, "f")
    val dir = Paths.get(root, "d")
    Files.createFile(file)
    Files.createDirectory(dir)
    for (p <- Seq(file, dir); m <- 0 to octal("777")) {
      fs.setPermission(new Path(p.toUri), new FsPermission(m.toShort))
      assert(mode(p) == m, s"$p: set ${m.toOctalString}, read ${mode(p).toOctalString}")
    }
    fs.setPermission(new Path(dir.toUri), new FsPermission(octal("1777").toShort))
    assert(mode(dir) == octal("1777"))
    intercept[IOException](fs.setPermission(new Path(s"file://$root/missing"), FsPermission.getFileDefault))
  }

  test("only local paths get the fork-free file system keys") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = tmpDir("sink-keys")
    assert(ForkFreeLocalFileSystem.options(new Path(s"file://$root"), conf).nonEmpty)
    assert(ForkFreeLocalFileSystem.options(new Path(root), conf).nonEmpty) // the default FS is local
    assert(ForkFreeLocalFileSystem.options(new Path("s3a://bucket/dumps"), conf).isEmpty)
  }
}
