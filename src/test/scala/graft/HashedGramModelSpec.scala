package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.functions.BucketWeightSum
import graft.operators.{Sampling, TextAnalysis}

/** The hashed-gram models (the p17 DSIR model and the t17 quality
  * classifier) hold their weights on the driver. Pinned here: the
  * driver-side fits equal the frame-built fits they replaced bit for bit,
  * a save → load cycle (including a directory the frame-form models
  * saved) keeps every bit, and the job budget — one SQL execution per
  * fit, none to build a probe over built artifacts. */
class HashedGramModelSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def documents: DataFrame = graft.sources.Sources.table(spark, sf, "documents")

  private def df(rows: Seq[(Long, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  /** The corpus the committed frame-form fixtures under
    * `src/test/resources/persisted-v1` were fitted on. */
  private val fixtureCorpus: Seq[(Long, String, String)] = {
    val seedVocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val rawVocab = Seq("omega", "psi", "chi", "phi", "upsilon", "tau", "alpha")
    def doc(v: Seq[String], salt: Int, len: Int): String =
      (0 until len).map(i => v((i * salt + i) % v.length)).mkString(" ")
    (0L until 20L).map(i => (i, doc(seedVocab, i.toInt, 8 + i.toInt % 5), "seed")) ++
      (100L until 130L).map(i => (i, doc(rawVocab, i.toInt, 6 + i.toInt % 7), "raw"))
  }

  /** Ids repeat within a label and across the two labels. */
  private val duplicateIds: Seq[(Long, String, String)] =
    fixtureCorpus.map { case (id, t, src) => (id % 7, t, src) }

  private def empty: DataFrame = df(Nil)

  private val Fixtures = "src/test/resources/persisted-v1"

  private def bits(w: Array[Double]): Seq[Long] = w.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def dsirTwin(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
                       buckets: Int): Array[Double] =
    BucketWeightSum.collectWeights(
      ReferenceTwins.dsirModelFrame(docs, "text", isTarget, buckets), "bucket", "w_bp", buckets)

  private def assertSame(a: TextAnalysis.QualityClassifier,
                         b: TextAnalysis.QualityClassifier): Unit = {
    assert(a.buckets === b.buckets)
    assert(bits(a.weights) === bits(b.weights))
    assert(java.lang.Double.doubleToRawLongBits(a.bias) ===
      java.lang.Double.doubleToRawLongBits(b.bias))
  }

  test("the driver-side DSIR fit equals the frame-built table bit for bit") {
    val cases = Seq(
      ("sf0.001 documents", documents, col("source") === "src0", 1024),
      ("empty corpus", empty, col("source") === "seed", 256),
      ("duplicate ids", df(duplicateIds), col("source") === "seed", 256),
      ("fixture corpus", df(fixtureCorpus), col("source") === "seed", 256))
    cases.foreach { case (name, docs, isTarget, buckets) =>
      val m = Sampling.dsirModelTable(docs, "text", isTarget, buckets)
      assert(m.buckets === buckets, name)
      assert(bits(m.weights) === bits(dsirTwin(docs, isTarget, buckets)), name)
    }
    assert(Sampling.dsirModelTable(empty, "text", col("source") === "seed", 256)
      .weights.forall(_ == 0.0), "an empty corpus is the no-information model")
  }

  test("the one-shuffle classifier fit equals the two-level-aggregate fit bit for bit") {
    val cases = Seq(
      ("sf0.001 documents", documents.select("doc_id", "text", "source"), "src0", 1024),
      ("empty corpus", empty, "seed", 256),
      ("duplicate ids", df(duplicateIds), "seed", 256),
      ("fixture corpus", df(fixtureCorpus), "seed", 256))
    cases.foreach { case (name, docs, seed, buckets) =>
      withClue(name) {
        assertSame(
          TextAnalysis.trainQualityClassifier(docs, "doc_id", "text",
            col("source") === seed, buckets),
          ReferenceTwins.trainQualityClassifierTwoLevel(docs, "doc_id", "text",
            col("source") === seed, buckets))
      }
    }
  }

  test("save → load keeps every bit, and a frame-form save loads to the same model") {
    val corpus = df(fixtureCorpus)
    val seed = col("source") === "seed"
    val dsir = Sampling.dsirModelTable(corpus, "text", seed, 256)
    val clf = TextAnalysis.trainQualityClassifier(corpus, "doc_id", "text", seed, 256)
    val (d1, d2) = (tmpDir("dsir-array"), tmpDir("qc-array"))
    dsir.save(d1)
    clf.save(d2)
    val dsirBack = Sampling.loadDsirModel(spark, d1)
    assert(dsirBack.buckets === 256)
    assert(bits(dsirBack.weights) === bits(dsir.weights))
    assertSame(TextAnalysis.loadQualityClassifier(spark, d2), clf)

    // Saved by the frame-form models: (bucket, w_bp) with a cached range
    // join behind it, and (bucket, w) from a literal-array lookup.
    val old = Sampling.loadDsirModel(spark, s"$Fixtures/dsir_model")
    assert(bits(old.weights) === bits(dsirTwin(corpus, seed, 256)))
    assert(bits(old.weights) === bits(dsir.weights))
    assertSame(TextAnalysis.loadQualityClassifier(spark, s"$Fixtures/quality_clf"), clf)
    assertSame(TextAnalysis.loadQualityClassifier(spark, s"$Fixtures/quality_clf"),
      ReferenceTwins.trainQualityClassifierTwoLevel(corpus, "doc_id", "text", seed, 256))
    // An empty corpus saved null weights; they read as the all-zero model.
    val emptyOld = Sampling.loadDsirModel(spark, s"$Fixtures/dsir_model_empty")
    assert(emptyOld.buckets === 64)
    assert(bits(emptyOld.weights) ===
      bits(Sampling.dsirModelTable(empty, "text", seed, 64).weights))
  }

  test("maxLocalFit below the document count still throws") {
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.trainQualityClassifier(df(fixtureCorpus), "doc_id", "text",
        col("source") === "seed", buckets = 256, maxLocalFit = fixtureCorpus.size - 1)
    }
    assert(e.getMessage.contains(s"exceeds ${fixtureCorpus.size - 1} docs — raise sampleMod"))
    // At exactly the document count the fit runs.
    TextAnalysis.trainQualityClassifier(df(fixtureCorpus), "doc_id", "text",
      col("source") === "seed", buckets = 256, maxLocalFit = fixtureCorpus.size)
  }

  private def shuffles(r: PlanLedger.Execution): Int =
    PlanLedger.allNodes(r.plan).count(_.isInstanceOf[ShuffleExchangeLike])

  test("execution budget: one execution per fit, none to build a probe") {
    val dsirRuns = PlanLedger.capture(spark) {
      Sampling.dsirModelTable(documents, "text", col("source") === "src0")
    }
    assert(dsirRuns.map(_.action) === Seq("collect"))
    assert(shuffles(dsirRuns.head) === 1)

    val clfRuns = PlanLedger.capture(spark) {
      TextAnalysis.trainQualityClassifier(documents, "doc_id", "text",
        col("source") === "src0")
    }
    assert(clfRuns.map(_.action) === Seq("collect"))
    assert(shuffles(clfRuns.head) <= 1,
      s"the fit shuffles more than once:\n${clfRuns.head.plan}")

    // Build the artifacts, then construct the plans again: the probes
    // bind the driver-side arrays, and p21's spread reads its partition
    // count from the prepared plan.
    val plans = SparkEntry.queries ++ SparkEntry.productionQueries
    val probes = Seq("p17_dsir_select", "t17_quality_classifier", "p21_bloom_decontam")
    probes.foreach(plans(_)(spark, sf))
    probes.foreach { name =>
      val runs = PlanLedger.capture(spark)(plans(name)(spark, sf))
      assert(runs.isEmpty, s"$name construction ran ${runs.map(_.action)}")
    }
  }
}
