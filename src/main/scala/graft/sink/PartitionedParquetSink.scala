package graft.sink

import java.time.LocalDate

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit, min, spark_partition_id}

import graft.plans.PreparedPlan

/** Date-partitioned gzip-parquet sink — the floorist output contract.
  *
  * Reference semantics reproduced
  * (`src/floorist/floorist.py:94-110,165-178`):
  *  - target path `<root>/<prefix>/year_created=Y/month_created=M/day_created=D`
  *    with **unpadded** month/day (`%-m`/`%-d`);
  *  - gzip parquet, append mode (re-runs the same day add files);
  *  - `chunksize` rows per output file — floorist writes one file per
  *    fetched chunk; we reproduce the exact file count with
  *    `spark.sql.files.maxRecordsPerFile` (77 files for 1000 rows @ 13,
  *    `tests/test_floorist.py:170-178`);
  *  - empty result → zero-byte "folder marker" so downstream consumers see
  *    the partition exists (`floorist.py:102-110`).
  *
  * Scale note ([[FileContract]]): `Exact` coalesces to one task to match the
  * reference's sequential chunk loop file-for-file — correct but single
  * threaded, like the reference. `Scalable` lets every task write its own
  * chunk files, still ≤ chunksize rows each — the 100 TB path, trading the
  * exact-count contract for parallelism. It keeps an input's partitioning,
  * except that an under-split input is spread across all cores first (see
  * `shape`). Default `Scalable`; tests pin `Exact`.
  */
sealed trait FileContract
object FileContract {
  /** Exactly ceil(rows/chunksize) files, like the reference's chunk loop. */
  case object Exact extends FileContract
  /** ≤ chunksize rows per file, file count = Σ per-partition ceil. An input
    * with fewer partitions than `defaultParallelism` is round-robin spread
    * to that many first, when reading its partition count runs nothing. */
  case object Scalable extends FileContract
}

/** What one write committed: the rows the query produced, counted while
  * the write ran, and the part files and bytes moved into the target. */
final case class WriteStats(rows: Long, files: Int, bytes: Long)

/** Outcome of one write. A result equals the outcome object of its kind,
  * [[WriteResult.Written]] or [[WriteResult.EmptyMarker]], whatever stats
  * it carries, so callers can compare and match on the outcome alone. */
sealed abstract class WriteResult(val isEmpty: Boolean) {
  /** `None` when the sink that produced the result did not measure it. */
  def stats: Option[WriteStats]
  override final def equals(o: Any): Boolean = o match {
    case r: WriteResult => r.isEmpty == isEmpty
    case _              => false
  }
  override final def hashCode: Int = isEmpty.##
}
object WriteResult {
  case object Written extends WriteResult(isEmpty = false) { def stats: Option[WriteStats] = None }
  case object EmptyMarker extends WriteResult(isEmpty = true) { def stats: Option[WriteStats] = None }

  /** A measured result: empty iff no rows were written. */
  def apply(stats: WriteStats): WriteResult = new Measured(stats)

  private final class Measured(s: WriteStats) extends WriteResult(s.rows == 0) {
    def stats: Option[WriteStats] = Some(s)
    override def toString: String = s"${if (isEmpty) EmptyMarker else Written}($s)"
  }
}

class PartitionedParquetSink(
    spark: SparkSession,
    rootUrl: String,
    contract: FileContract = FileContract.Scalable) {

  /** `<prefix>/year_created=2026/month_created=8/day_created=12` — month and
    * day deliberately unpadded (Java has no `%-m`; render via `toString`). */
  def datePath(prefix: String, date: LocalDate): String =
    s"$prefix/year_created=${date.getYear}" +
      s"/month_created=${date.getMonthValue}" +
      s"/day_created=${date.getDayOfMonth}"

  def targetUrl(prefix: String, date: LocalDate): String =
    s"${rootUrl.stripSuffix("/")}/${datePath(prefix, date)}"

  /** Local roots go through [[ForkFreeLocalFileSystem]], here and in the
    * write job (see `write`); other schemes get Hadoop's own file system. */
  private def fs(url: String): FileSystem =
    ForkFreeLocalFileSystem.get(new Path(url), spark.sparkContext.hadoopConfiguration)

  /** Write `df` under the dated target. Empty input → folder marker only.
    *
    * One SQL execution: the result is staged into a scratch directory, and
    * the staged files are then either renamed into the target (non-empty)
    * or replaced by the folder marker (empty). The row count that decides
    * between the two is an [[Observation]] on the written frame, taken by
    * the write's own tasks — an up-front `df.isEmpty` probe or a read-back
    * count would run the query or the staged files again (a different
    * snapshot on a live JDBC source, and extra jobs everywhere).
    *
    * Spark writes a file for partition 0 even when it holds no rows, so
    * the same observation takes the lowest partition id that saw a row:
    * when it is above 0, partition 0's file has no rows and stays out of
    * the target. A failed write leaves nothing in staging either. */
  def write(df: DataFrame, prefix: String, rowsPerFile: Option[Int],
            date: LocalDate = LocalDate.now()): WriteResult = {
    val target = targetUrl(prefix, date)
    val staging = s"${rootUrl.stripSuffix("/")}/.graft_staging/${java.util.UUID.randomUUID()}"
    // Observed on the shaped frame, so the counting node sits in the write
    // stage itself: result-stage accumulators are merged once per partition,
    // never again on a recomputed upstream stage.
    val counted = Observation()
    val writer = shape(df, rowsPerFile)
      .observe(counted, count(lit(1)).as("rows"), min(spark_partition_id()).as("first_part"))
      .write.mode("overwrite").option("compression", "gzip")
      .options(ForkFreeLocalFileSystem.options(new Path(staging), spark.sparkContext.hadoopConfiguration))
    val sized = rowsPerFile match {
      case Some(n) => writer.option("maxRecordsPerFile", n.toLong)
      case None    => writer
    }

    val f = fs(target)
    val stagingPath = new Path(staging)
    try {
      sized.parquet(staging)
      // The count arrives through the listener bus once the write has ended:
      // a bounded wait, so a dropped event fails the dump instead of hanging it.
      val observed = Await.result(counted.future, 2.minutes)
      if (observed.schema == null || !observed.schema.fieldNames.contains("rows"))
        throw new IllegalStateException(s"write to $staging finished without its row count")
      val rows = observed.getAs[Long]("rows")
      val emptyFirst = rows > 0 && observed.getAs[Int]("first_part") > 0
      val parts = f.listStatus(stagingPath).filter { s =>
        val name = s.getPath.getName
        name.startsWith("part-") && !(emptyFirst && name.startsWith("part-00000-"))
      }
      f.mkdirs(new Path(target))
      if (rows == 0) {
        WriteResult(WriteStats(0, 0, 0))
      } else {
        parts.foreach { p =>
          // Part names embed the job UUID, so appends never collide. A
          // false return (Hadoop reports some failures without throwing)
          // must fail the dump — the staging dir is deleted in the finally
          // block, so a silently skipped rename would commit a truncated
          // dump; throwing engages the executor's wipe-and-retry instead.
          val dest = new Path(target, p.getPath.getName)
          if (!f.rename(p.getPath, dest))
            throw new java.io.IOException(s"rename ${p.getPath} -> $dest failed")
        }
        WriteResult(WriteStats(rows, parts.length, parts.map(_.getLen).sum))
      }
    } finally {
      f.delete(stagingPath, true)
    }
  }

  /** The frame the writer runs on. A single file (chunksize 0) and the
    * `Exact` contract take one writer task. `Scalable` spreads an input
    * with fewer partitions than `defaultParallelism` across all cores, but
    * only when [[PreparedPlan.narrowPartitionCount]] can read its count:
    * without running anything, and from a plan whose output ordering a
    * round-robin spread would not scramble. */
  private def shape(df: DataFrame, rowsPerFile: Option[Int]): DataFrame =
    (rowsPerFile, contract) match {
      case (Some(_), FileContract.Scalable) =>
        val parallelism = spark.sparkContext.defaultParallelism
        if (PreparedPlan.narrowPartitionCount(df).exists(_ < parallelism))
          df.repartition(parallelism)
        else df
      case _ => df.coalesce(1)
    }

  /** Wipe a (possibly partial) dump target before a retry — the analogue of
    * `wr.s3.delete_objects(target)` (`floorist.py:209-213`). Failures
    * propagate: the caller must abort the dump, not retry (A9). */
  def delete(prefix: String, date: LocalDate): Unit = {
    val target = targetUrl(prefix, date)
    fs(target).delete(new Path(target), true)
  }

  /** Startup connectivity check, analogue of the reference's bucket listing
    * with its AccessDenied fallback (`floorist.py:81-92`): some bucket
    * policies deny a status probe on the root itself but allow LIST beneath
    * it — the reference retries `ls` with a trailing slash; the Hadoop
    * analogue is a `listStatus` (LIST with trailing-slash prefix) after a
    * denied `exists` probe. Any other failure (no such bucket, bad
    * credentials, unreachable endpoint) reports false and the run aborts
    * before any dump. */
  def verify(): Boolean = {
    val root = new Path(new java.net.URI(rootUrl).getPath match {
      case "" => "/"
      case p  => p
    })
    val f = fs(rootUrl)
    try f.exists(root)
    catch {
      case e: java.io.IOException if isAccessDenied(e) =>
        try { f.listStatus(root); true }
        catch { case scala.util.control.NonFatal(_) => false }
      case scala.util.control.NonFatal(_) => false
    }
  }

  private def isAccessDenied(e: Throwable): Boolean =
    e.isInstanceOf[org.apache.hadoop.security.AccessControlException] || {
      val m = Option(e.getMessage).getOrElse("")
      m.contains("AccessDenied") || m.contains("Access Denied") || m.contains("403")
    }
}
