package graft.core

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.slf4j.LoggerFactory

import graft.sink.{PartitionedParquetSink, WriteResult, WriteStats}

/** Executes one floorplan dump with the reference's retry semantics
  * (`src/floorist/floorist.py:180-256`):
  *
  *  - run query → write chunks; success commits the dump;
  *  - on a retryable error: sleep `5·2^attempt`s, wipe the partial target,
  *    re-run the whole dump (idempotence via wipe-and-redo,
  *    `tests/test_floorist_standalone.py:162-200`);
  *  - if the cleanup itself fails, abort the dump — no further retries
  *    (`floorist.py:209-213`, `tests/test_floorist_standalone.py:75-113`);
  *  - non-retryable errors fail immediately; the caller keeps running later
  *    dumps (error isolation, A10).
  *
  * `sleeper` is injectable so tests assert the 5s/10s backoff without
  * wall-clock waits.
  *
  * Every dump, whatever its outcome, ends in one [[DumpRecord]] handed to
  * `record` as a JSON line (logged by default); [[totals]] sums them for
  * the run's closing line.
  */
class DumpExecutor(
    sink: PartitionedParquetSink,
    runQuery: String => DataFrame,
    sleeper: Long => Unit = s => Thread.sleep(s * 1000),
    today: () => LocalDate = () => LocalDate.now(),
    /** Wraps each ATTEMPT (query + write) and supplies the query runner
      * for it. The default runs `runQuery` with no per-attempt state; the
      * JDBC deployment passes [[graft.sources.SnapshotJdbcSource
      * .dumpAttemptScope]], which pins a FRESH exported snapshot per
      * attempt (the reference opens a fresh transaction per attempt,
      * `floorist.py:148-152` + the retry loop at `:199-256`) and releases
      * the anchor after the write — inside the retry classifier's reach,
      * so pin-time connection errors retry like query-time ones. */
    attemptScope: DumpExecutor.AttemptScope = null,
    record: String => Unit = DumpExecutor.logRecord) {

  import DumpExecutor.log

  private val scope: DumpExecutor.AttemptScope =
    if (attemptScope != null) attemptScope else (_, body) => body(runQuery)

  /** Sums of every record this executor has emitted. */
  val totals = new DumpTotals

  /** @return true iff the dump succeeded. Never throws — any defect in one
    * floorplan row fails that dump only (reference error isolation, A10). */
  def execute(raw: Map[String, Any], dumpNo: Int): Boolean = {
    val row =
      try FloorplanParser.toRow(raw)
      catch {
        case scala.util.control.NonFatal(e) =>
          e match {
            case _: InvalidFloorplanRow =>
              log.error(s"[Dump #$dumpNo] Invalid floorplan row: ${e.getMessage}")
            case _ =>
              log.error(s"[Dump #$dumpNo] Unreadable floorplan row: $e")
          }
          return emit(DumpRecord.failed(dumpNo, raw.get("prefix").map(String.valueOf), e,
            attempts = 0, backoffSeconds = 0, ms = 0))
      }
    execute(row, dumpNo)
  }

  def execute(row: FloorplanRow, dumpNo: Int): Boolean = {
    val date = today()
    val started = System.nanoTime()
    def ms = (System.nanoTime() - started) / 1000000
    var attempt = 0
    var backoffSeconds = 0L
    def failed(e: Throwable) = emit(DumpRecord.failed(dumpNo, Some(row.prefix), e,
      attempt + 1, backoffSeconds, ms))
    while (true) {
      try {
        if (attempt > 0) {
          // Wipe partial output from the failed attempt before redoing.
          try sink.delete(row.prefix, date)
          catch {
            case scala.util.control.NonFatal(cleanupEx) =>
              log.error(s"[Dump #$dumpNo] Cleanup of partial output failed, " +
                s"aborting dump: $cleanupEx")
              return failed(cleanupEx)
          }
        }
        val result = scope(row, { run =>
          val df = run(row.query)
          sink.write(df, row.prefix, row.rowsPerFile, date)
        })
        if (result.isEmpty)
          log.info(s"[Dump #$dumpNo] Empty result, wrote folder marker for ${row.prefix}")
        else
          log.info(s"[Dump #$dumpNo] Written parquet to ${row.prefix}")
        return emit(DumpRecord(dumpNo, Some(row.prefix),
          if (result.isEmpty) DumpRecord.Empty else DumpRecord.Written,
          result.stats, attempt + 1, backoffSeconds, ms, error = None))
      } catch {
        // NonFatal only: an OutOfMemoryError/LinkageError means the JVM is
        // no longer trustworthy — converting it into a per-dump failure and
        // carrying on would keep writing from a corrupted process. The
        // reference's `except Exception` has the same fatal/non-fatal line.
        case scala.util.control.NonFatal(ex) =>
          RetryPolicy.evaluate(ex, attempt) match {
            case RetryPolicy.Failure =>
              log.error(s"[Dump #$dumpNo] Failed: $ex")
              return failed(ex)
            case RetryPolicy.Exhausted =>
              log.error(s"[Dump #$dumpNo] Retries exhausted after ${attempt + 1} attempts: $ex")
              return failed(ex)
            case RetryPolicy.Retry =>
              val backoff = RetryPolicy.backoffSeconds(attempt)
              log.warn(s"[Dump #$dumpNo] Retryable error (attempt ${attempt + 1}), " +
                s"sleeping ${backoff}s: $ex")
              sleeper(backoff)
              backoffSeconds += backoff
              attempt += 1
          }
      }
    }
    false // unreachable
  }

  /** Records the dump's outcome; true iff it succeeded. */
  private def emit(r: DumpRecord): Boolean = {
    totals.add(r)
    record(r.json)
    r.outcome != DumpRecord.Failed
  }
}

/** One dump's structured record. `stats` is `None` for a failed dump and
  * for a sink that does not measure its writes; its fields are then null
  * in the JSON line. `error` is the failure's exception class. */
final case class DumpRecord(dump: Int, prefix: Option[String], outcome: String,
                            stats: Option[WriteStats], attempts: Int,
                            backoffSeconds: Long, ms: Long, error: Option[String]) {
  def json: String = DumpRecord.json(
    "record" -> "dump", "dump" -> dump, "prefix" -> prefix, "outcome" -> outcome,
    "rows" -> stats.map(_.rows), "files" -> stats.map(_.files),
    "bytes" -> stats.map(_.bytes), "attempts" -> attempts,
    "backoff_s" -> backoffSeconds, "ms" -> ms, "error" -> error)
}

object DumpRecord {
  val Written = "written"
  val Empty = "empty"
  val Failed = "failed"

  def failed(dump: Int, prefix: Option[String], e: Throwable, attempts: Int,
             backoffSeconds: Long, ms: Long): DumpRecord =
    DumpRecord(dump, prefix, Failed, None, attempts, backoffSeconds, ms,
      Some(e.getClass.getName))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One JSON object, keys in the given order; `None` renders as null. */
  private[core] def json(fields: (String, Any)*): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach {
      case (k, o: Option[_]) => m.put(k, o.getOrElse(null))
      case (k, v)            => m.put(k, v)
    }
    mapper.writeValueAsString(m)
  }
}

/** Running sums over a run's dump records, for the closing totals line. */
final class DumpTotals {
  private var dumps, written, empty, failed, attempts = 0
  private var rows, files, bytes, backoffSeconds, ms = 0L

  def add(r: DumpRecord): Unit = {
    dumps += 1
    r.outcome match {
      case DumpRecord.Written => written += 1
      case DumpRecord.Empty   => empty += 1
      case _                  => failed += 1
    }
    r.stats.foreach { s => rows += s.rows; files += s.files; bytes += s.bytes }
    attempts += r.attempts
    backoffSeconds += r.backoffSeconds
    ms += r.ms
  }

  def json: String = DumpRecord.json(
    "record" -> "totals", "dumps" -> dumps, "written" -> written, "empty" -> empty,
    "failed" -> failed, "rows" -> rows, "files" -> files, "bytes" -> bytes,
    "attempts" -> attempts, "backoff_s" -> backoffSeconds, "ms" -> ms)
}

object DumpExecutor {
  private val log = LoggerFactory.getLogger(classOf[DumpExecutor])

  /** The default record destination: the executor's log, at INFO. */
  def logRecord(json: String): Unit = log.info(json)

  /** Runs one dump attempt: receives the dump's [[FloorplanRow]] (so a
    * deployment can honor per-dump options like the parallel-read
    * partitioning block) and the attempt body (query → write →
    * [[WriteResult]]), and must invoke the body exactly once with the
    * query runner to use for that attempt. Lets a deployment scope
    * per-attempt resources (a pinned snapshot's anchor connection)
    * around the body. */
  type AttemptScope =
    (FloorplanRow, (String => DataFrame) => WriteResult) => WriteResult
}
