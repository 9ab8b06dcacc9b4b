package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory

import graft.sink.PartitionedParquetSink
import graft.sources.SqlTranslate

/** The floorist-equivalent pipeline orchestrator (`src/floorist/floorist.py:
  * 259-292`): load the floorplan, execute each dump sequentially, count
  * successes, log "Dumped X from total of Y" beside the summed dump
  * records ([[DumpTotals]]), and report non-zero iff any
  * dump failed. Dumps stay sequential on the driver (matching the
  * reference's observable interleaving, A7) while Spark parallelizes
  * *within* each dump across partitions — strictly dominating the
  * reference's single thread.
  *
  * Snapshot consistency (the rest of A7): `runQuery` is injected, so a
  * Postgres deployment composes the one-snapshot-per-dump guarantee by
  * wrapping each dump in [[graft.sources.SnapshotJdbcSource
  * .withPinnedSnapshot]] and reading via `readPinned` — every partition
  * and every retried task then sees the anchor's exported snapshot, which
  * the reference's single cursor cannot offer past one connection.
  *
  * Every dump record and the closing totals record go to `record` (the
  * executor's log by default).
  */
class Floorista(spark: SparkSession, config: EngineConfig,
                record: String => Unit = DumpExecutor.logRecord) {

  private val log = LoggerFactory.getLogger(classOf[Floorista])

  /** Runs every dump in the floorplan. @return process exit code (0/1). */
  def run(): Int = {
    EngineConfig.hadoopS3aSettings(config).foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }
    val sink = new PartitionedParquetSink(spark, config.bucketUrl, config.fileContract)
    // Reference parity (A11): S3Client.verify() raises inside
    // Floorist.__init__ (`floorist.py:81-92,263-265`), so a misconfigured
    // or unreachable output root aborts BEFORE any dump runs — never a
    // trail of per-dump failures after partial writes.
    if (!sink.verify()) {
      log.error(s"Output root ${config.bucketUrl} is not reachable; " +
        "aborting before any dump")
      return 1
    }
    log.info("Successfully connected to the output root")

    // Parquet-lake mode: floorplan SQL queries the registered tables the
    // same way reference floorplans query Postgres tables. The table
    // directory gets the output root's rule: one that does not exist or
    // cannot be listed aborts before any dump, instead of registering
    // nothing and failing every table dump on its own.
    config.tableDir.foreach { dir =>
      if (!listable(dir)) {
        log.error(s"Table directory $dir does not exist or cannot be listed; " +
          "aborting before any dump")
        return 1
      }
      graft.sources.Sources.registerAll(spark, dir)
    }

    // Two source modes, reference-faithful in both:
    //  - JDBC mode (config.jdbc set — the reference's ONLY mode): each
    //    floorplan query runs verbatim ON Postgres, every attempt inside a
    //    freshly pinned exported snapshot (A7), via the real Spark JDBC
    //    scan. No SqlTranslate: the SQL dialect is the server's.
    //  - Parquet-lake mode: floorplan SQL is translated to Spark SQL and
    //    runs on the registered views.
    val runQuery: String => DataFrame = sql => spark.sql(SqlTranslate.translate(sql))
    val executor = config.jdbc match {
      case Some(j) =>
        new DumpExecutor(sink, runQuery,
          attemptScope = graft.sources.SnapshotJdbcSource.dumpAttemptScope(spark, j),
          record = record)
      case None => new DumpExecutor(sink, runQuery, record = record)
    }

    val rows = FloorplanParser.parseFile(config.floorplanFile)
    var dumped = 0
    rows.zipWithIndex.foreach { case (raw, i) =>
      if (executor.execute(raw, i + 1)) dumped += 1
    }
    log.info(s"Dumped $dumped from total of ${rows.size}")
    record(executor.totals.json)
    if (dumped != rows.size) 1 else 0
  }

  private def listable(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getFileStatus(p).isDirectory && { fs.listStatus(p); true }
    } catch { case scala.util.control.NonFatal(_) => false }
  }
}

/** CLI entry point with floorist's exit-code contract (exit 1 on any failed
  * dump, `floorist.py:290-292`). */
object Floorista {
  def main(args: Array[String]): Unit = {
    val config = EngineConfig.fromEnv()
    val builder = SparkSession.builder()
      .appName("graft-floorista")
      .config("spark.sql.session.timeZone", "UTC")
    // Under spark-submit the master comes in via spark.master; standalone
    // invocations (tests, cron container) fall back to all local cores.
    if (!sys.props.contains("spark.master") && !sys.env.contains("SPARK_MASTER"))
      builder.master("local[*]")
    sys.env.get("SPARK_MASTER").foreach(builder.master)
    val spark = builder.getOrCreate()
    // LOGLEVEL analogue of the reference's `_configure_loglevel`
    // (`floorist.py:295-297`).
    config.logLevel.foreach(spark.sparkContext.setLogLevel)
    val code = new Floorista(spark, config).run()
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
