package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.multimodal.Multimodal

/** Round 19 (optimization round 2) — plan-shape pins for the scale
  * guards: the render spread must fire on a single-split input (the
  * bench shape: every base table is one compact parquet split) and must
  * NOT add an exchange to — or collapse — an input that already carries
  * cluster parallelism (the 100 TB shape: a corpus scan arrives as
  * thousands of splits). */
class Round19Spec extends SparkSpecBase {
  import spark.implicits._

  private def docsDf = (0L until 64L).map(i => (i, s"doc $i body " * 4))
    .toDF("doc_id", "text")

  private def countShuffles(p: SparkPlan): Int = {
    var n = 0
    def walk(q: SparkPlan): Unit = {
      q.foreach {
        case _: ShuffleExchangeLike => n += 1
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case _ => ()
      }
    }
    walk(p)
    n
  }

  test("render spread fires on a single-split input (the bench shape)") {
    val one = docsDf.coalesce(1)
    assert(one.rdd.getNumPartitions == 1)
    val rendered = Multimodal.renderAviTable(one).toDF()
    val par = spark.sparkContext.defaultParallelism
    assert(rendered.rdd.getNumPartitions == par,
      s"a 1-split render input must spread to $par partitions")
    assert(countShuffles(rendered.queryExecution.executedPlan) == 1,
      "the spread is exactly one round-robin exchange")
  }

  test("render spread adds NO exchange to an already-parallel input") {
    val par = spark.sparkContext.defaultParallelism
    val wide = docsDf.repartition(par * 2)
    val rendered = Multimodal.renderAviTable(wide).toDF()
    // the only exchange in the plan is the test's own repartition — the
    // guard must not add a second one (and must not collapse the scan
    // from par*2 down to par)
    assert(countShuffles(rendered.queryExecution.executedPlan) == 1,
      "an already-parallel render input must pass through unshuffled")
    assert(rendered.rdd.getNumPartitions == par * 2,
      "the guard must keep the input's wider partitioning")
  }

  test("render spread result is partitioning-invariant (same rows either way)") {
    val par = spark.sparkContext.defaultParallelism
    val a = Multimodal.renderAviTable(docsDf.coalesce(1)).toDF()
      .select(col("doc_id"), md5(col("media")).as("h"), col("format"))
      .collect().map(_.toString).sorted
    val b = Multimodal.renderAviTable(docsDf.repartition(par * 2)).toDF()
      .select(col("doc_id"), md5(col("media")).as("h"), col("format"))
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  // ---- the m37 single-pass admission kernel --------------------------

  test("admissionFeaturesOf(wantFps=true) agrees with the gate AND the " +
    "per-modality fingerprint kernels on every admission-mix class") {
    val media = Multimodal.renderAdmissionMixTable(
      (0L until 20L).map(i => (i, s"mixed media doc $i payload " * 3))
        .toDF("doc_id", "text")).collect()
    assert(media.length == 20)
    media.foreach { r =>
      val fused = Multimodal.admissionFeaturesOf(r.media, wantFps = true)
      val gate = Multimodal.admissionFeaturesOf(r.media, wantFps = false)
      // the gate fields are bit-identical with and without fingerprints
      assert((fused.kind, fused.metaA, fused.metaB, fused.admit, fused.reason)
        === (gate.kind, gate.metaA, gate.metaB, gate.admit, gate.reason),
        s"doc ${r.doc_id} (${r.format})")
      if (r.format.startsWith("audio/")) {
        val (fp, e) = Multimodal.audioFingerprintOf(
          graft.multimodal.Codecs.decodeWav(r.media).samples, 16)
        assert(fused.audioFp == fp && fused.audioEnergies.get == e.toSeq,
          s"doc ${r.doc_id}: fused audio fp drifted from audioFingerprintOf")
      }
      if (r.format.startsWith("video/avi")) {
        val (n, fp) = Multimodal.videoFingerprintOf(r.media, stride = 2)
        assert(fused.videoNFrames == n && fused.videoFp.contains(fp),
          s"doc ${r.doc_id}: fused video fp drifted from videoFingerprintOf")
      }
      // rejection classes carry no fingerprints and the gate reason
      if (!fused.admit) {
        assert(fused.audioEnergies.isEmpty && fused.videoFp.isEmpty)
        assert(fused.reason.nonEmpty)
      }
    }
  }

  // ---- qualityReasons: the rowLocal admission-stage twin -------------

  test("qualityReasons never drifts from qualityFilter's reasons column") {
    val TA = graft.operators.TextAnalysis
    val samples = Seq(
      "short",                                   // too_short
      ("the a of and to is " * 10).trim,         // stopword-heavy, short-ish
      ("word " * 2500).trim,                     // too_long
      ("supercalifragilistic " * 40).trim,       // odd_token_len + low_stopword
      ("a b c d e f g h i j k l m n o p q r s t u v w x y z " * 3).trim,
      ("the quick brown fox jumps over the lazy dog and this is " * 5).trim)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val viaFilter = TA.qualityFilter(samples, "doc_id", "text")
      .select(col("doc_id"), col("reasons"), col("keep"))
    val viaExpr = samples.select(col("doc_id"),
      TA.qualityReasons(col("text")).as("reasons"),
      TA.qualityKeep(col("text")).as("keep"))
    assert(viaFilter.collect().map(_.toString).sorted
      .sameElements(viaExpr.collect().map(_.toString).sorted))
  }

  // ---- AdmissionPipeline stream-stage cost guard ----------------------

  test("a streaming stage whose decide re-reads its survivors is rejected " +
    "at construction (the 2^k guard)") {
    import java.sql.Timestamp
    import graft.streaming.AdmissionPipeline
    import graft.streaming.AdmissionPipeline.Stage
    val memStream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, String)](spark, 1)
    val streamDf = memStream.toDS().toDF("doc_id", "ts", "text")
    // the verdict stitch-back shape: decide reads df twice
    val selfJoining = Stage("verdictish", df =>
      df.join(df.select(col("doc_id"),
          (length(col("text")) >= 10).as("admit"),
          lit("").as("reason")), Seq("doc_id")))
    val e = intercept[IllegalArgumentException] {
      AdmissionPipeline.run(streamDf, Seq(selfJoining))
    }
    assert(e.getMessage.contains("exactly once"))
    // ...while the stream-legal shapes construct fine (and run: the
    // existing StreamingSpec pipeline test covers execution)
    val ok = AdmissionPipeline.run(streamDf, Seq(
      Stage.rowLocal("min_len", length(col("text")) >= 10,
        when(length(col("text")) >= 10, lit("")).otherwise(lit("too short")))))
    assert(ok.isStreaming)
  }
}
