package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SimilaritySearch, TextAnalysis => TA}
import graft.plans.GroupTopK
import graft.queries.{PipelineQueries, PipelineShared}

/** Round-5 hardening: the shared memoized components frame, the capped d03
  * production form, the offline MIPS index, and the GroupTopK collision /
  * multi-flush edge cases. */
class Round5Spec extends SparkSpecBase {
  import spark.implicits._

  /** Write a documents.parquet twin under a fresh dir; texts carry the
    * driver schema (doc_id, text, lang, source, n_chars). */
  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = tmpDir("r5docs")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---- memoized components frame (d03/d07/d09/d10/d11/d12) -------------

  test("dupPairsAndClusters: one build per (session, dir), invalidated across dirs") {
    // dirA has a planted near-dup pair; dirB has none. Same session.
    val dirA = writeDocs(Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"), // 7/9 shared trigrams vs doc 1
      (3L, "one two three four five six seven eight nine")))
    val dirB = writeDocs(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "uno dos tres cuatro cinco seis siete")))

    val (pairsA1, clustersA1) = PipelineShared.dupPairsAndClusters(spark, dirA)
    val (pairsA2, clustersA2) = PipelineShared.dupPairsAndClusters(spark, dirA)
    // Cache HIT: the identical materialized frames come back, not a rebuild.
    assert(pairsA1 eq pairsA2, "pairs frame must be memoized per (session, dir)")
    assert(clustersA1 eq clustersA2, "clusters frame must be memoized per (session, dir)")

    val (pairsB, clustersB) = PipelineShared.dupPairsAndClusters(spark, dirB)
    assert(!(pairsB eq pairsA1), "a different dir must build its own frame")

    // Explicit invalidation forces a rebuild on the next read.
    PipelineQueries.invalidateDupCache(spark, dirA)
    val (pairsA3, _) = PipelineShared.dupPairsAndClusters(spark, dirA)
    assert(!(pairsA3 eq pairsA1), "invalidate must drop the memoized frame")

    // And each dir's content is its own: A has the planted pair, B none.
    val aPairs = pairsA1.select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(aPairs == Set((1L, 2L)), s"dirA pair set: $aPairs")
    assert(pairsB.isEmpty, "dirB has no near-dups")
    assert(clustersA1.count() == 2 && clustersB.isEmpty)
  }

  test("the dedup family reports all read the ONE shared clustering") {
    val dir = writeDocs(Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),
      (3L, "p q r s t u v w x y"),
      (4L, "p q r s t u v w x z")))
    // d07 emits the components; d10 aggregates them; both must agree with
    // the memoized frame (same object underneath, so they cannot drift).
    val clusters = PipelineShared.dupPairsAndClusters(spark, dir)._2
    val d07 = PipelineQueries.queries("d07_dup_clusters")(spark, dir)
    assert(d07.exceptAll(clusters).isEmpty && clusters.exceptAll(d07).isEmpty)
    val d10 = PipelineQueries.queries("d10_dup_rate")(spark, dir)
      .select($"source", $"n_docs", $"n_dups").as[(String, Long, Long)].collect().toSeq
    assert(d10 == Seq(("t", 4L, 2L)), s"d10: $d10") // one non-keeper per cluster
  }

  // ---- capped d03 (skew-safe production form) ---------------------------

  test("ngramJaccardPairs cap truncates each bucket to its first N ids, exactly") {
    // 10 mutual near-dups in ONE length bucket; cap 4 must keep only pairs
    // among doc_ids 1..4 and equal the uncapped run restricted to them.
    val docs = (1L to 10L).map(i => (i, s"a b c d e f g h i j k$i"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length($"text").cast("long"))
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "n_chars",
      threshold = 0.2, lengthBucketWidth = 1000, maxBucketSize = Some(4))
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "n_chars",
      threshold = 0.2, lengthBucketWidth = 1000)
    val cappedSet = capped.select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val expected = uncapped.filter($"a_id" <= 4 && $"b_id" <= 4)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(cappedSet == expected, s"capped: $cappedSet vs expected: $expected")
    assert(cappedSet.size == 6 && uncapped.count() == 45,
      "cap must bound within-bucket pairs at C(cap,2)")
  }

  // ---- offline MIPS index ------------------------------------------------

  test("MipsIndex: build / save / load / memoize, probe path unchanged") {
    val emb = Seq(
      (0L, Seq(3.0f, 4.0f)),   // norm 5 — the max
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.0f, 2.0f)),
      (3L, Seq(2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val built = SimilaritySearch.buildMipsIndex(emb, "embedding")
    assert(math.abs(built.maxNorm - 5.0) < 1e-12, s"maxNorm: ${built.maxNorm}")

    val dir = tmpDir("r5mips")
    built.save(spark, dir)
    val loaded = SimilaritySearch.loadMipsIndex(spark, dir)
    assert(loaded == built, "save/load round trip must preserve the artifact")

    val m1 = SimilaritySearch.memoizedMipsIndex(emb, "embedding", "r5key")
    val m2 = SimilaritySearch.memoizedMipsIndex(emb, "embedding", "r5key")
    assert(m1 eq m2, "memoized index must be built once per (session, key)")

    // A prebuilt index and the self-computing path rank identically.
    val viaIndex = SimilaritySearch.annMipsTopK(emb, "vec_id", "embedding",
      isQuery = $"vec_id" === 0, k = 2, index = Some(built))
    val viaSelf = SimilaritySearch.annMipsTopK(emb, "vec_id", "embedding",
      isQuery = $"vec_id" === 0, k = 2)
    assert(viaIndex.exceptAll(viaSelf).isEmpty && viaSelf.exceptAll(viaIndex).isEmpty)
  }

  // ---- delta dedup (d13/d14) --------------------------------------------

  test("d13: a batch doc is dropped for corpus twins only, never batch-internal ones") {
    // ids ≡ 7 (mod 10) are the incoming batch. Doc 7 near-dups corpus doc
    // 1 → dropped. Docs 17/27 near-dup EACH OTHER but no corpus doc →
    // both survive (within-batch dedup is d01–d12's job; delta dedup must
    // not conflate the two).
    val dir = writeDocs(Seq(
      (1L, "a b c d e f g h i j"),   // corpus
      (2L, "one two three four five six seven"), // corpus
      (7L, "a b c d e f g h i k"),   // batch: corpus twin → dropped
      (17L, "p q r s t u v w x y"),  // batch: twin of 27 only → kept
      (27L, "p q r s t u v w x z"))) // batch: twin of 17 only → kept
    val out = PipelineQueries.queries("d13_delta_dedup")(spark, dir)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(17L, 27L), s"survivors: $out")
  }

  test("d14/MinHashIndex: build, probe, save/load — exact copies found at est 1.0") {
    import graft.functions.WordShingles
    def sh(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", WordShingles.wordShingles($"text", 3).as("sh"))
        .filter(size($"sh") > 0)
    val corpus = sh(Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text"))
    val batch = sh(Seq(
      (101L, "a b c d e f g h i j"),          // exact copy of corpus 1
      (102L, "totally different words here now"))
      .toDF("doc_id", "text"))

    val idx = Dedup.buildMinHashIndex(corpus, "doc_id", "sh")
    val pairs = Dedup.deltaNearDupsIndexed(batch, idx, "doc_id", "sh",
      threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // An exact copy shares every signature position: est_jaccard == 1.0;
    // the unrelated doc must not surface above threshold.
    assert(pairs == Set((101L, 1L, 1.0)), s"pairs: $pairs")

    // The offline cycle: save → load → identical probe result.
    val dir = tmpDir("r5mhidx")
    idx.save(dir)
    val loaded = Dedup.loadMinHashIndex(spark, dir, "doc_id")
    val viaLoaded = Dedup.deltaNearDupsIndexed(batch, loaded, "doc_id", "sh",
      threshold = 0.5).as[(Long, Long, Double)].collect().toSet
    assert(viaLoaded == pairs)
    idx.unpersist()
  }

  test("d14 recall: every exact-path corpus match is recovered by the index probe") {
    // The testdata's cross-slice near-dups all sit at jaccard ≥ 0.96,
    // where the 16-band/4-row scheme's collision probability is ≈ 1 and
    // the 64-hash estimate cannot fall below the 0.5 probe threshold —
    // so full recall is a deterministic expectation, not a flaky one.
    val dir = "/root/testdata/sf0.001"
    val all = graft.sources.Sources.table(spark, dir, "documents")
    val delta = all.filter(pmod($"doc_id", lit(10)) === 7)
    val corpus = all.filter(pmod($"doc_id", lit(10)) =!= 7)
    val exact = Dedup.deltaJaccardPairs(delta, corpus, "doc_id", "text",
        "n_chars", threshold = 0.9, lengthBucketWidth = Int.MaxValue)
      .select($"new_id", $"old_id").as[(Long, Long)].collect().toSet
    val approx = PipelineQueries.queries("d14_delta_minhash")(spark, dir)
      .select($"new_id", $"old_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata must contain planted cross-slice near-dups")
    val recalled = exact.intersect(approx)
    assert(recalled == exact,
      s"index probe missed exact pairs: ${exact -- approx}")
  }

  // ---- m04 frame overlap -------------------------------------------------

  test("m04 frameOverlap: boilerplate frames past the cap never generate pairs") {
    // Hash h1 in 2 media (a copy), h2 in 3 media (boilerplate past cap=2),
    // h3 unique. Only the h1 pair may surface; per-media duplicate frame
    // rows collapse before counting.
    val frames = Seq(
      (1L, "h1"), (2L, "h1"), (2L, "h1"),       // dup row within media 2
      (1L, "h2"), (2L, "h2"), (3L, "h2"),       // boilerplate: 3 > cap
      (3L, "h3"))
      .toDF("doc_id", "fmd5")
    val out = graft.multimodal.Multimodal
      .frameOverlap(frames, "doc_id", "fmd5", maxFrameDocs = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 1L)),
      s"expected only the capped-in h1 pair with n_shared=1: $out")
  }

  // ---- t13/t14 text-pipeline additions ----------------------------------

  test("t13 keyword salience: GroupTopK tail, no window, no global sort") {
    val q = PipelineQueries.queries("t13_keyword_salience")(
      spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert("GroupTopK".r.findAllIn(plan).size == 2,
      s"expected partial+final GroupTopK tail:\n$plan")
    assert(!plan.contains("Window"), s"window leaked into the rank tail:\n$plan")
    // Top-3 per doc, rank always 1..3, salience positive.
    val rows = q.select($"doc_id", $"rnk", $"salience_bp")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._2 >= 1 && r._2 <= 3 && r._3 > 0))
  }

  test("t14 LM likelihood: formulaic text scores above shuffled-vocab gibberish") {
    // Six docs sharing a formulaic bigram pattern vs one doc of the same
    // words in an order that appears nowhere else: the corpus-trained
    // bigram model must prefer the pattern it has seen.
    val rows = (1L to 6L).map(i => (i, "the cat sat on the mat again")) :+
      (7L, "mat the on sat again cat the")
    val df = rows.toDF("doc_id", "text")
    val out = TA.lmLikelihoodScore(df, "doc_id", "text")
      .select($"doc_id", $"lm_score_bp").as[(Long, Double)].collect().toMap
    assert(out(1L) > out(7L),
      s"formulaic ${out(1L)} must outscore gibberish ${out(7L)}")
  }

  // ---- GroupTopK edge cases ---------------------------------------------

  test("GroupTopK: a user column literally named __gtk_rnk is not corrupted") {
    val df = Seq((1L, 30.0, 77L), (1L, 10.0, 88L), (2L, 5.0, 99L))
      .toDF("g", "v", "__gtk_rnk")
    val out = GroupTopK.topK(df, Seq("g"), Seq($"v".desc), k = 1)
    assert(out.columns.toSeq == Seq("g", "v", "__gtk_rnk", "rnk"))
    val rows = out.as[(Long, Double, Long, Long)].collect().sorted.toSeq
    // User values pass through untouched; ranks land in `rnk`.
    assert(rows == Seq((1L, 30.0, 77L, 1L), (2L, 5.0, 99L, 1L)), s"rows: $rows")
  }

  test("GroupTopK: null group and sort keys rank exactly like the window") {
    // NULL group key = one group (like groupBy/window); NULL sort values
    // follow the SortOrder's null ordering (desc → nulls last by default).
    val df = spark.range(0, 10000).select(
      when($"id" % 97 === 0, lit(null)).otherwise($"id" % 50).as("g"),
      when($"id" % 13 === 0, lit(null)).otherwise(($"id" * 48271) % 1000).as("v"),
      $"id")
    val viaOp = GroupTopK.topK(df, Seq("g"), Seq($"v".desc, $"id"), k = 3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"v".desc, $"id")
    val viaWindow = df
      .withColumn("rnk", row_number().over(w).cast("long")).filter($"rnk" <= 3)
    assert(viaOp.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaOp).isEmpty,
      "null keys/values must rank identically to the window formulation")
    // And nulls-first explicitly, the non-default side.
    val viaOpNf = GroupTopK.topK(df, Seq("g"), Seq($"v".desc_nulls_first, $"id"), k = 2)
    val wNf = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"v".desc_nulls_first, $"id")
    val viaWindowNf = df
      .withColumn("rnk", row_number().over(wNf).cast("long")).filter($"rnk" <= 2)
    assert(viaOpNf.exceptAll(viaWindowNf).isEmpty && viaWindowNf.exceptAll(viaOpNf).isEmpty)
  }

  test("GroupTopK: ~1M keys per partition multi-flush under AQE, window-exact") {
    // 2 input partitions × 1M rows, ~1M distinct keys each — the default
    // 64k partial-key cap must flush ≥ 15× per partition without changing
    // a single row vs the window formulation. This is the operator's
    // bounded-memory proof: partial state never exceeds cap × k rows no
    // matter the key cardinality.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = spark.range(0, 2000000, 1, 2)
      .select(($"id" % 1000000).as("g"), ($"id" * 48271 % 99991).as("v"), $"id")
    val topk = GroupTopK.topK(df, Seq("g"), Seq($"v".desc, $"id"), k = 2)
    // Execute THIS dataframe's own plan (count()/write spawn a fresh
    // QueryExecution whose metrics we could not read back).
    val rows = topk.queryExecution.toRdd.count()
    assert(rows == 2000000) // every key has exactly 2 rows and k = 2
    // Recurse into AQE query stages: a QueryStageExec is a leaf to
    // TreeNode.collect, so the partial exec below the exchange is only
    // reachable through the stage's own `plan`.
    val partials = PlanLedger.allNodes(topk.queryExecution.executedPlan).collect {
      case g: graft.plans.GroupTopKExec if g.partial => g
    }
    assert(partials.nonEmpty,
      s"no partial GroupTopKExec in:\n${topk.queryExecution.executedPlan}")
    val flushes = partials.map(_.metrics("numFlushes").value).sum
    assert(flushes > 2, s"expected multi-flush (> 2 partitions), got $flushes")
    // Exactness under flushing: spot-check against the window on a slice
    // (full-window equality over 2M rows is covered at smaller scale).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"v".desc, $"id")
    val slice = df.filter($"g" < 1000)
    val viaWindow = slice
      .withColumn("rnk", row_number().over(w).cast("long")).filter($"rnk" <= 2)
    val viaOp = topk.filter($"g" < 1000)
    assert(viaOp.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaOp).isEmpty)
  }
}
