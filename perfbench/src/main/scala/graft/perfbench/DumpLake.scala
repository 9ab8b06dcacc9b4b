package graft.perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{DumpExecutor, FloorplanParser, FloorplanRow}
import graft.sink.{PartitionedParquetSink, WriteResult}
import graft.sources.{SqlTranslate, Sources}

/** One floorplan row of a dump workload. `failFirst` makes the first attempt
  * fail after its write with a retryable error, so the retry path (wipe and
  * redo) runs. */
final case class DumpSpec(name: String, query: String, chunksize: Option[Int],
                          failFirst: Boolean = false,
                          partitioning: Option[(String, Long, Long, Int)] = None)

/** A sink that records spans around the public write and delete calls. */
final class TracedSink(spark: SparkSession, rootUrl: String, tracer: Tracer)
    extends PartitionedParquetSink(spark, rootUrl) {
  override def write(df: DataFrame, prefix: String, rowsPerFile: Option[Int],
                     date: LocalDate): WriteResult =
    tracer.span("sink.write", "sink")(super.write(df, prefix, rowsPerFile, date))
  override def delete(prefix: String, date: LocalDate): Unit =
    tracer.span("sink.delete", "sink")(super.delete(prefix, date))
}

/** Floorplan → DumpExecutor → PartitionedParquetSink, shared by the lake and
  * the Postgres dump workloads. Output goes to a local root; the dump date
  * is fixed with a one-digit month and day, so an unpadded path is checked. */
abstract class DumpWorkload(cfg: Config) extends Workload {
  val date: LocalDate = LocalDate.of(2024, 3, 5)
  val outDir = new File(cfg.work, "dump-out")
  val rootUrl: String = outDir.toURI.toString
  protected def specs: Seq[DumpSpec]
  /** Rows each spec must leave behind, known once the sources are set up. */
  protected def expectedRows(spark: SparkSession, spec: DumpSpec): Long
  /** The query runner for one attempt (lake mode: translate, then Spark SQL). */
  protected def attemptScope(spark: SparkSession, tracer: Tracer): DumpExecutor.AttemptScope
  /** Runs the spec's query into the noop sink, for the untimed scan measurement. */
  protected def scan(spark: SparkSession, spec: DumpSpec): Unit
  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  protected val detail = mutable.Map.empty[String, Double]
  def setupDetail: Map[String, Double] = detail.toMap

  private lazy val ordered: Seq[DumpSpec] = new scala.util.Random(cfg.seed).shuffle(specs)
  private lazy val byPrefix = ordered.map(s => prefix(s) -> s).toMap
  private val expected = mutable.Map.empty[String, Long]
  private var attempts = 0
  private var sleeps = 0
  private var backoff = 0.0
  private var parseS = 0.0

  def prefix(s: DumpSpec): String = s"bench/${s.name}"

  /** The floorplan as a user writes it: a YAML list of prefix/query/chunksize. */
  lazy val floorplanYaml: String = ordered.map { s =>
    val q = s.query.replace("'", "''")
    val cs = s.chunksize.map(c => s"\n  chunksize: $c").getOrElse("")
    val part = s.partitioning.map { case (c, lo, hi, n) =>
      s"\n  partition_column: $c\n  partition_lower: $lo\n  partition_upper: $hi\n  partitions: $n"
    }.getOrElse("")
    s"- prefix: ${prefix(s)}\n  query: '$q'$cs$part"
  }.mkString("", "\n", "\n")

  def pass(spark: SparkSession, tracer: Tracer): Seq[Op] = {
    val t0 = Clock.now()
    val raws = tracer.span("core.parse", "core")(FloorplanParser.parseString(floorplanYaml))
    parseS = Clock.now() - t0
    val firstAttempt = mutable.Set.empty[String]
    val scope = attemptScope(spark, tracer)
    val injecting: DumpExecutor.AttemptScope = (row, body) =>
      tracer.span("core.attempt", "core") {
        attempts += 1
        val result = scope(row, body)
        if (byPrefix(row.prefix).failFirst && firstAttempt.add(row.prefix))
          throw new java.sql.SQLException(
            "could not serialize access due to concurrent update (SerializationFailure)")
        result
      }
    val exec = new DumpExecutor(new TracedSink(spark, rootUrl, tracer), _ => sys.error("unused"),
      sleeper = s => { sleeps += 1; backoff += s }, today = () => date,
      attemptScope = injecting)
    attempts = 0; sleeps = 0; backoff = 0.0
    raws.zipWithIndex.map { case (raw, i) =>
      val spec = byPrefix(raw("prefix").toString)
      tracer.op = i + 1
      Main.timeOp(spec.name, "dump", expected.getOrElse(spec.name, 0L)) {
        tracer.span("core.dump", "core")(exec.execute(raw, i + 1))
      }
    }
  }

  private var files = 0L
  private var bytes = 0L
  private var maxRows = 0L
  private var fills = Seq.empty[Double]

  def check(spark: SparkSession, ops: Seq[Op]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(outDir.toURI, conf)
    if (expected.isEmpty) ordered.foreach(s => expected(s.name) = expectedRows(spark, s))
    files = 0; bytes = 0; maxRows = 0; fills = Nil
    val wrong = ordered.filter { s =>
      val dir = new Path(new Path(rootUrl), s"${prefix(s)}/year_created=2024/month_created=3/day_created=5")
      if (!fs.exists(dir)) true
      else {
        val listed = fs.listStatus(dir).toSeq
        val parts = listed.filter(_.getPath.getName.startsWith("part-"))
        val counts = parts.map { p =>
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(p, conf))
          try r.getRecordCount finally r.close()
        }
        files += parts.size
        bytes += parts.map(_.getLen).sum
        if (counts.nonEmpty) maxRows = math.max(maxRows, counts.max)
        val want = expected(s.name)
        val rowsPerFile = FloorplanRow(prefix(s), s.query, s.chunksize).rowsPerFile
        rowsPerFile.foreach(c => if (parts.nonEmpty) fills :+= counts.sum.toDouble / parts.size / c)
        val shapeOk =
          if (want == 0) listed.isEmpty // only the folder marker remains
          else rowsPerFile match {
            case Some(c) => counts.forall(_ <= c)
            case None    => parts.size == 1
          }
        !(shapeOk && counts.sum == want)
      }
    }
    fs.delete(new Path(rootUrl), true)
    wrong.map(_.name)
  }

  def passNumbers: Map[String, Double] = Map("files_written" -> files.toDouble, "bytes" -> bytes.toDouble)

  def layerNumbers(spark: SparkSession, traced: Seq[Op]): Map[String, Double] = {
    // Scan cost of each dump's query on its own, outside the traced pass.
    val t0 = Clock.now()
    val scanned = ordered.map { s =>
      scan(spark, s)
      expected(s.name)
    }.sum
    val scanS = Clock.now() - t0
    Map(
      "core.parse_ms" -> parseS * 1e3,
      "core.attempts" -> attempts.toDouble,
      "core.retries" -> sleeps.toDouble,
      "core.backoff_s" -> backoff,
      "core.attempt_yield" -> traced.count(_.ok).toDouble / math.max(attempts, 1),
      "sources.scan_s" -> scanS,
      "sources.scan_rows_per_s" -> scanned / scanS,
      "sink.files" -> files.toDouble,
      "sink.mb" -> bytes / 1e6,
      "sink.max_rows_per_file" -> maxRows.toDouble,
      "sink.file_fill" -> (if (fills.isEmpty) 0.0 else fills.sum / fills.size))
  }
}

/** Lake mode: floorplan SQL runs on Spark over registered parquet tables. */
final class DumpLake(cfg: Config) extends DumpWorkload(cfg) {
  protected val specs: Seq[DumpSpec] = Seq(
    DumpSpec("lineitem_all", "SELECT * FROM lineitem", Some(1000)),
    // The reference's cross-join fixture, cut from 1M to 50k rows so that a
    // pass fits the run budget; it still writes 50 full files from one task.
    DumpSpec("cross_join_50k",
      "SELECT x, y FROM GENERATE_SERIES(0,49) x JOIN GENERATE_SERIES(0,999) y ON 1=1", None),
    DumpSpec("series_chunk13", "SELECT GENERATE_SERIES(0,999)", Some(13)),
    DumpSpec("distinct_in",
      """SELECT DISTINCT o."o_custkey", o."o_orderstatus" FROM orders o """ +
        """WHERE o."o_custkey" IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""",
      Some(1000)),
    DumpSpec("aggregate_single_file",
      "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_extendedprice) AS revenue " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus", Some(0)),
    DumpSpec("empty_result", "SELECT WHERE 1=0", Some(1000)),
    DumpSpec("retry_after_write",
      "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders " +
        "WHERE o_orderpriority = '1-URGENT'", Some(1000), failFirst = true))

  private def translated(spark: SparkSession, sql: String): DataFrame =
    spark.sql(SqlTranslate.translate(sql))

  def prepare(spark: SparkSession): Unit = {
    val t0 = Clock.now()
    Sources.registerAll(spark, cfg.data.getAbsolutePath)
    detail("sources.register_s") = Clock.now() - t0
  }

  protected def expectedRows(spark: SparkSession, spec: DumpSpec): Long =
    translated(spark, spec.query).count()

  protected def attemptScope(spark: SparkSession, tracer: Tracer): DumpExecutor.AttemptScope =
    (_, body) => body { sql =>
      val q = tracer.span("sources.translate", "sources")(SqlTranslate.translate(sql))
      tracer.span("sources.query", "sources")(spark.sql(q))
    }

  protected def scan(spark: SparkSession, spec: DumpSpec): Unit =
    noop(translated(spark, spec.query))

  def release(): Unit = ()
}
