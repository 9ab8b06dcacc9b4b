package graft

import java.time.LocalDate

import org.apache.spark.sql.DataFrame

import graft.core.{DumpExecutor, FloorplanRow}
import graft.sink.{FileContract, PartitionedParquetSink}

class DumpExecutorSpec extends SparkSpecBase {
  private val date = LocalDate.of(2026, 8, 3)

  private class RecordingSink(root: String)
      extends PartitionedParquetSink(spark, s"file://$root", FileContract.Exact) {
    var deletes = 0
    var failDelete = false
    override def delete(prefix: String, d: LocalDate): Unit = {
      deletes += 1
      if (failDelete) throw new RuntimeException("cleanup blew up")
      super.delete(prefix, d)
    }
  }

  private def executor(sink: PartitionedParquetSink, run: String => DataFrame,
                       sleeps: scala.collection.mutable.Buffer[Long]) =
    new DumpExecutor(sink, run, sleeper = sleeps.append(_), today = () => date)

  private val row = FloorplanRow("retry/out", "irrelevant", Some(0))

  test("retryable failure: backoff 5s,10s then success; partial output wiped") {
    val sink = new RecordingSink(tmpDir("exec-retry"))
    val sleeps = scala.collection.mutable.Buffer[Long]()
    var calls = 0
    val run: String => DataFrame = _ => {
      calls += 1
      if (calls <= 2) throw new RuntimeException("SerializationFailure: try again")
      spark.range(0, 5).toDF("n")
    }
    assert(executor(sink, run, sleeps).execute(row, 1))
    assert(calls == 3)
    assert(sleeps.toSeq == Seq(5L, 10L))
    assert(sink.deletes == 2) // wiped before each redo
  }

  test("retries exhausted after 3 attempts") {
    val sink = new RecordingSink(tmpDir("exec-exhaust"))
    val sleeps = scala.collection.mutable.Buffer[Long]()
    var calls = 0
    val run: String => DataFrame = _ => {
      calls += 1; throw new RuntimeException("conflict with recovery")
    }
    assert(!executor(sink, run, sleeps).execute(row, 1))
    assert(calls == 3)
    assert(sleeps.toSeq == Seq(5L, 10L))
  }

  test("non-retryable failure: single attempt, no sleeps") {
    val sink = new RecordingSink(tmpDir("exec-fatal"))
    val sleeps = scala.collection.mutable.Buffer[Long]()
    var calls = 0
    val run: String => DataFrame = _ => { calls += 1; throw new RuntimeException("syntax error") }
    assert(!executor(sink, run, sleeps).execute(row, 1))
    assert(calls == 1)
    assert(sleeps.isEmpty)
  }

  test("cleanup failure aborts the dump without further retries") {
    val sink = new RecordingSink(tmpDir("exec-cleanupfail"))
    sink.failDelete = true
    val sleeps = scala.collection.mutable.Buffer[Long]()
    var calls = 0
    val run: String => DataFrame = _ => {
      calls += 1; throw new RuntimeException("SerializationFailure")
    }
    assert(!executor(sink, run, sleeps).execute(row, 1))
    assert(calls == 1)      // failed once, then cleanup aborted the redo
    assert(sleeps.toSeq == Seq(5L))
  }

  test("invalid floorplan row fails the dump but does not throw") {
    val sink = new RecordingSink(tmpDir("exec-invalid"))
    val ex = executor(sink, _ => spark.range(1).toDF("n"),
      scala.collection.mutable.Buffer[Long]())
    assert(!ex.execute(Map[String, Any]("prefix" -> "p"), 1))
    assert(!ex.execute(Map[String, Any]("query" -> "SELECT 1"), 2))
    assert(ex.execute(Map[String, Any]("prefix" -> "p", "query" -> "SELECT 1"), 3))
  }

  test("dump records: written, empty, retried and failed dumps each emit one JSON line") {
    val sink = new RecordingSink(tmpDir("exec-records"))
    val lines = scala.collection.mutable.Buffer[String]()
    var retried = false
    val run: String => DataFrame = {
      case "written" => spark.range(0, 5).toDF("n")
      case "empty"   => spark.range(0, 5).toDF("n").filter("n < 0")
      case "retried" =>
        if (!retried) { retried = true; throw new RuntimeException("SerializationFailure") }
        spark.range(0, 7).toDF("n")
      case _ => throw new IllegalArgumentException("syntax error")
    }
    val ex = new DumpExecutor(sink, run, sleeper = _ => (), today = () => date,
      record = lines.append(_))
    Seq("written", "empty", "retried", "failed").zipWithIndex.foreach { case (q, i) =>
      ex.execute(FloorplanRow(s"rec/$q", q, Some(0)), i + 1)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val records = lines.toSeq.map(mapper.readTree)
    assert(records.size == 4)
    def fields(r: com.fasterxml.jackson.databind.JsonNode) = (
      r.get("prefix").asText, r.get("outcome").asText, r.get("rows"), r.get("files"),
      r.get("attempts").asInt, r.get("backoff_s").asLong, r.get("error"))
    val Seq(written, empty, again, failed) = records
    assert(records.forall(r => r.get("record").asText == "dump" && r.get("ms").asLong >= 0))
    assert(records.map(_.get("dump").asInt) == Seq(1, 2, 3, 4))

    val (p1, o1, rows1, files1, a1, b1, e1) = fields(written)
    assert((p1, o1, rows1.asLong, files1.asInt, a1, b1) == ("rec/written", "written", 5L, 1, 1, 0L))
    assert(written.get("bytes").asLong > 0 && e1.isNull)

    val (_, o2, rows2, files2, a2, _, e2) = fields(empty)
    assert((o2, rows2.asLong, files2.asInt, a2) == ("empty", 0L, 0, 1) && e2.isNull)

    val (_, o3, rows3, _, a3, b3, _) = fields(again)
    assert((o3, rows3.asLong, a3, b3) == ("written", 7L, 2, 5L))

    val (p4, o4, rows4, _, a4, b4, e4) = fields(failed)
    assert((p4, o4, a4, b4) == ("rec/failed", "failed", 1, 0L))
    assert(rows4.isNull && e4.asText == "java.lang.IllegalArgumentException")

    val totals = mapper.readTree(ex.totals.json)
    assert(totals.get("record").asText == "totals")
    assert(Seq("dumps", "written", "empty", "failed", "rows", "attempts", "backoff_s")
      .map(totals.get(_).asLong) == Seq(4L, 2L, 1L, 1L, 12L, 5L, 5L))
  }
}
