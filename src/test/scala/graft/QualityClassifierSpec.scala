package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** t17 seed-vs-raw quality classifier: separability on planted
  * vocabulary, full determinism (no RNG anywhere), artifact round-trip,
  * the bounded-fit contract, and the scoring plan ledger.
  */
class QualityClassifierSpec extends SparkSpecBase {

  private def df(rows: Seq[(Long, String, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  private def corpus: Seq[(Long, String, String)] = {
    val seedVocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val rawVocab = Seq("omega", "psi", "chi", "phi", "upsilon", "tau")
    def doc(v: Seq[String], salt: Int): String =
      (0 until 12).map(i => v((i + salt) % v.length)).mkString(" ")
    (0L until 20L).map(i => (i, doc(seedVocab, i.toInt), "seed")) ++
      (100L until 120L).map(i => (i, doc(rawVocab, i.toInt), "raw"))
  }

  test("planted separable vocabularies separate at the 0.5 boundary") {
    val clf = TextAnalysis.trainQualityClassifier(
      df(corpus), "doc_id", "text", isSeed = col("source") === "seed",
      buckets = 256)
    val scores = TextAnalysis
      .scoreQualityClassifier(df(corpus), "doc_id", "text", clf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    corpus.foreach { case (id, _, src) =>
      if (src == "seed")
        assert(scores(id) > 0.5, s"seed doc $id scored ${scores(id)}")
      else
        assert(scores(id) < 0.5, s"raw doc $id scored ${scores(id)}")
    }
  }

  test("training and scoring are fully deterministic under repartitioning") {
    def weightsOf(d: org.apache.spark.sql.DataFrame): Seq[Double] =
      TextAnalysis.trainQualityClassifier(d, "doc_id", "text",
          col("source") === "seed", buckets = 256).weights.toSeq
    val base = df(corpus)
    assert(weightsOf(base) === weightsOf(base.repartition(13, col("text"))))
  }

  test("artifact save/load round-trips weights, bias, and bucket geometry") {
    val clf = TextAnalysis.trainQualityClassifier(
      df(corpus), "doc_id", "text", col("source") === "seed", buckets = 256)
    val d = tmpDir("qc-clf")
    clf.save(d)
    val loaded = TextAnalysis.loadQualityClassifier(spark, d)
    assert(loaded.buckets === 256)
    assert(loaded.bias === clf.bias)
    def run(c: TextAnalysis.QualityClassifier) = TextAnalysis
      .scoreQualityClassifier(df(corpus), "doc_id", "text", c)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1).toSeq
    assert(run(clf) === run(loaded))
  }

  test("an unbounded fit sample fails loudly instead of OOMing the driver") {
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.trainQualityClassifier(
        df(corpus), "doc_id", "text", col("source") === "seed",
        buckets = 256, maxLocalFit = 10)
    }
    assert(e.getMessage.contains("raise sampleMod"))
  }

  test("scoring plan: one row-local codegen span, ZERO shuffles") {
    // Round 12: broadcast-join scoring → the codegen'd BucketWeightSum
    // expression; the score plan must contain no join and no exchange.
    val docs = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "documents")
    val clf = TextAnalysis.trainQualityClassifier(
      docs, "doc_id", "text", col("source") === "src0", buckets = 1024)
    val out = TextAnalysis.scoreQualityClassifier(
      docs.filter(col("source") =!= "src0"), "doc_id", "text", clf)
    out.queryExecution.toRdd.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("bucket_weight_sum"), s"expression missing:\n$plan")
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"scoring must not join:\n$plan")
    assert(plan.contains("*(1)"), s"fell out of codegen:\n$plan")
  }

  test("docs with no grams are absent (the dsirScore contract)") {
    val rows = corpus :+ ((999L, "", "raw"))
    val clf = TextAnalysis.trainQualityClassifier(
      df(rows), "doc_id", "text", col("source") === "seed", buckets = 256)
    val ids = TextAnalysis
      .scoreQualityClassifier(df(rows), "doc_id", "text", clf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(999L))
    assert(ids.size === corpus.size)
  }
}
