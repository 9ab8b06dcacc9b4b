package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.Sources
import graft.tools.BuildTimer

object QuerySuite {
  /** At least one plan per family (relational, dedup, similarity, text,
    * pipeline, multimodal), chosen so that most read a memoized artifact and
    * a cold run of them fits the run budget; the streaming twins are left to
    * the full catalog, since one of them alone costs half this pass. */
  val Sample: Seq[String] = Seq(
    "q10_join_agg", "d04_minhash_lsh", "s04_ann_ivf", "s07_mips_topk",
    "t17_quality_classifier", "p17_dsir_select", "p21_bloom_decontam", "m13_wav_energy")
}

/** The operator catalog: the production plans of `SparkEntry` (all of them,
  * or the named sample), each once per pass in the seeded order, executed
  * into the noop sink. */
final class QuerySuite(cfg: Config, sample: Option[Seq[String]]) extends Workload {
  private val dir = cfg.data.getAbsolutePath
  private val plans: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ SparkEntry.productionQueries
  private val selected: Seq[String] = sample.getOrElse(plans.keys.toSeq.sorted)
  private val ordered: Seq[String] = new scala.util.Random(cfg.seed).shuffle(selected)
  private val want: Map[String, (Long, String)] = Expected.load(cfg.expected)
  private val detail = mutable.Map.empty[String, Double]
  private var wrong: Option[Seq[String]] = None

  def setupDetail: Map[String, Double] = detail.toMap

  def prepare(spark: SparkSession): Unit = {
    val t0 = Clock.now()
    Sources.registerAll(spark, dir)
    detail("sources.register_s") = Clock.now() - t0
    BuildTimer.reset()
  }

  /** `q11_lineitem_agg` → `q`: the catalog's family letter. */
  private def family(name: String): String = name.take(1)

  def pass(spark: SparkSession, tracer: Tracer): Seq[Op] = {
    val ops = ordered.zipWithIndex.map { case (name, i) =>
      tracer.op = i + 1
      Main.timeOp(name, family(name), want.get(name).map(_._1).getOrElse(0L)) {
        val df = tracer.span("queries.construct", "queries")(plans(name)(spark, dir))
        tracer.span("queries.exec", "queries")(df.write.format("noop").mode("overwrite").save())
        true
      }
    }
    // Artifacts are memoized per session: all builds fire in its first pass.
    detail("artifacts.build_s") = BuildTimer.totalSeconds
    detail("artifacts.builds") = BuildTimer.perArtifactSeconds.size.toDouble
    detail("artifacts.max_build_s") = BuildTimer.perArtifactSeconds.map(_._2).foldLeft(0.0)(math.max)
    ops
  }

  /** On its first call (after the warm-up pass) runs every query once into
    * its correctness digest: row count and an order-insensitive hash,
    * compared with the values recorded beside the benchmark. Outputs depend
    * only on the code and the fixed inputs, so one check per run covers the
    * measured passes. */
  def check(spark: SparkSession, ops: Seq[Op]): Seq[String] = {
    if (wrong.isEmpty) {
      val got = selected.map(n => n -> digest(plans(n)(spark, dir))).toMap
      if (cfg.record) {
        val text = (want ++ got).toSeq.sortBy(_._1).map { case (n, (rows, d)) =>
          s"""  "$n": {"rows": $rows, "digest": "$d"}""" }.mkString("{\n", ",\n", "\n}\n")
        Files.write(cfg.expected.toPath, text.getBytes(StandardCharsets.UTF_8))
      }
      wrong = Some(got.collect { case (n, v) if !cfg.record && !want.get(n).contains(v) => n }.toSeq.sorted)
      if (wrong.get.nonEmpty) System.err.println(s"[perfbench] wrong output: ${wrong.get.mkString(", ")}")
    }
    wrong.get
  }

  def passNumbers: Map[String, Double] = Map.empty

  def layerNumbers(spark: SparkSession, traced: Seq[Op]): Map[String, Double] = Map.empty

  def release(): Unit = ()

  /** Doubles print with six significant digits, so that a different
    * summation order does not change the digest. */
  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.6g", c.cast(DoubleType))
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => format_string("%.6g", x.cast(DoubleType)))
    case _: MapType => c.cast(StringType)
    case _ => c
  }

  private def digest(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields
    val h =
      if (fields.isEmpty) lit(0L)
      else xxhash64(fields.map(f => canonical(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)
    val row = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s")).collect()(0)
    (row.getLong(0), Option(row.get(1)).map(_.toString).getOrElse("0"))
  }
}

/** The recorded `{"name": {"rows": n, "digest": "…"}}` file. */
object Expected {
  private val Entry = """"([^"]+)":\s*\{"rows":\s*(\d+),\s*"digest":\s*"([^"]*)"\}""".r

  def load(f: java.io.File): Map[String, (Long, String)] =
    if (!f.exists) Map.empty
    else Entry.findAllMatchIn(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
}
