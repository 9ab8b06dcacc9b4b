package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.Sources
import graft.tools.Stress

/** The scale harness times the shipped catalog over a replicated lake:
  * the lake's shape, the row counts it reproduces, the printed line
  * format, and the guard that keeps hand-written ops out. */
class StressSpec extends SparkSpecBase {
  private val dir = "/root/testdata/sf0.001"
  private val factIds = Map("lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "events" -> "event_id", "documents" -> "doc_id", "embeddings" -> "vec_id")

  private def lakes(): Set[String] = {
    val tmp = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try tmp.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft-stress-lake")).toSet
    finally tmp.close()
  }

  test("factor 2 doubles every fact table with distinct ids; dimensions are copied untouched") {
    val before = lakes()
    var made = ""
    Stress.withLake(spark, dir, 2) { lake =>
      made = lake
      Sources.tableNames.foreach { t =>
        val s = Sources.table(spark, dir, t)
        val l = Sources.table(spark, lake, t)
        assert(l.schema == s.schema, t)
        factIds.get(t) match {
          case Some(id) =>
            assert(l.count() == 2 * s.count(), t)
            assert(l.select(id).distinct().count() == 2 * s.select(id).distinct().count(), t)
            assert(s.exceptAll(l).isEmpty, s"$t: replica 0 is not the source")
          case None =>
            assert(Files.readAllBytes(Paths.get(s"$lake/$t.parquet")) sameElements
              Files.readAllBytes(Paths.get(s"$dir/$t.parquet")), t)
        }
      }
      val docs = Sources.table(spark, lake, "documents")
      assert(docs.filter(col("n_chars") =!= length(col("text"))).isEmpty)
    }
    assert(made.nonEmpty && !Files.exists(Paths.get(made)))
    assert(lakes() == before)
  }

  test("at factor 1 each timed plan reproduces its row count over the source, in five-key lines") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("q11_lineitem_agg" -> None, "d03_ngram_jaccard" -> Some("build:dup_pairs_clusters"))
      .foreach { case (name, build) =>
        val lines = scala.collection.mutable.Buffer[String]()
        assert(Stress.run(spark, dir, 1, Some(name + "$"), steady = false)(lines += _).isEmpty)
        val recs = lines.toSeq.map(mapper.readTree)
        recs.foreach(r => assert(r.fieldNames.asScala.toSet ==
          Set("op", "factor", "rows", "sec", "mode"), r.toString))
        val (timed, builds) = recs.partition(_.get("op").asText == name)
        assert(timed.size == 1, lines)
        assert(timed.head.get("rows").asLong == Stress.catalog(name)(spark, dir).count())
        assert(timed.head.get("mode").asText == "isolated")
        assert(builds.forall(_.get("op").asText.startsWith("build:")), lines)
        build.foreach(b => assert(builds.exists(_.get("op").asText == b), lines))
      }
  }

  test("factors outside [1, 64] are rejected before a lake is made") {
    val before = lakes()
    Seq(0, 65).foreach { f =>
      intercept[IllegalArgumentException](Stress.withLake(spark, dir, f)(identity))
    }
    assert(lakes() == before)
  }

  test("Stress names no operator, multimodal or query symbol, so every op it times ships") {
    val text = new String(
      Files.readAllBytes(Paths.get("src/main/scala/graft/tools/Stress.scala")), UTF_8)
    val forbidden = """graft\s*\.\s*(operators|multimodal|queries)\b|import\s+graft\s*\.\s*\{""".r
    assert(forbidden.findFirstIn(text).isEmpty)
    assert(text.linesIterator.count(_.startsWith("package ")) == 1)
  }
}
