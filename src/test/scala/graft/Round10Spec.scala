package graft

import org.apache.spark.sql.functions._

import graft.PlanLedger.{allNodes, shuffleKeyNames}

/** Round 10: the targets-frame contract of targetMixture is self-enforcing
  * (absent groups and conflicting weights fail loudly, duplicates collapse),
  * and annTopK's auto branch uses the `<= 0` not-passed sentinel so explicit
  * arguments always survive.
  */
class Round10Spec extends SparkSpecBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def rootMessages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  test("targetMixture: a targeted group absent from the corpus fails loudly") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "b", 10L))
      .toDF("doc_id", "grp", "n_tokens")
    val targets = Seq(("a", 5000L), ("ghost", 5000L)).toDF("grp", "weight_bp")
    val e = intercept[Exception] {
      graft.operators.Sampling
        .targetMixture(df, "grp", "doc_id", "n_tokens", targets).collect()
    }
    assert(rootMessages(e).contains("absent from corpus"), rootMessages(e))
  }

  test("targetMixture: conflicting weights for one group fail loudly") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("doc_id", "grp", "n_tokens")
    val targets = Seq(("a", 5000L), ("a", 4000L), ("b", 5000L))
      .toDF("grp", "weight_bp")
    val e = intercept[Exception] {
      graft.operators.Sampling
        .targetMixture(df, "grp", "doc_id", "n_tokens", targets).collect()
    }
    assert(rootMessages(e).contains("conflicting weights"), rootMessages(e))
  }

  test("targetMixture: duplicate identical target rows collapse (no row multiplication)") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b", 10L))
      .toDF("doc_id", "grp", "n_tokens")
    val once = Seq(("a", 6000L), ("b", 4000L)).toDF("grp", "weight_bp")
    val dup = once.unionAll(once) // a caller-built frame with repeated rows
    val clean = graft.operators.Sampling
      .targetMixture(df, "grp", "doc_id", "n_tokens", once)
      .select("doc_id").as[Long].collect().sorted
    val dirty = graft.operators.Sampling
      .targetMixture(df, "grp", "doc_id", "n_tokens", dup)
      .select("doc_id").as[Long].collect().sorted
    assert(clean.sameElements(dirty))
    assert(clean.length === clean.distinct.length)
  }

  test("annTopK: explicit tables survives the auto-bits branch") {
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
    // At this corpus size autoLshParams lands on the (6, _) base point, so
    // bits=0 + tables=16 must equal the explicit (6, 16) call — the
    // argument must not be silently replaced by autoTables.
    val auto = graft.operators.SimilaritySearch
      .annTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = 3,
        bits = 0, tables = 16)
      .collect().map(_.toSeq).toSet
    val explicit = graft.operators.SimilaritySearch
      .annTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = 3,
        bits = 6, tables = 16)
      .collect().map(_.toSeq).toSet
    assert(auto === explicit)
  }

  // ---- d16: span-level ExactSubstr apply ----

  test("exactSubstrSpans: keep-first geometry — later copy cut, overlapping grams merge") {
    val s = spark
    import s.implicits._
    val run = (1 to 12).map(i => s"r$i").mkString(" ") // 12-token run: 3 10-grams
    val docs = Seq(
      (1L, s"$run ${(1 to 9).map(i => s"x$i").mkString(" ")}"),  // run at pos 1
      (2L, s"${(1 to 5).map(i => s"y$i").mkString(" ")} $run ${(1 to 6).map(i => s"z$i").mkString(" ")}")
    ).toDF("doc_id", "text")
    val spans = graft.operators.Dedup
      .exactSubstrSpans(docs, "doc_id", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Doc 1 owns every gram of the run (smallest (id, pos)); doc 2's three
    // overlapping cut grams [6,15],[7,16],[8,17] merge into ONE span.
    assert(spans.toSeq === Seq((2L, 6L, 12L)), spans.toSeq.toString)
  }

  test("exactSubstrApply: cleaned text drops exactly the cut span; within-doc repeats cut too") {
    val s = spark
    import s.implicits._
    val runA = (1 to 10).map(i => s"a$i").mkString(" ")
    val docs = Seq(
      // within-doc repeat: second copy of the 10-run is cut
      (5L, s"$runA m1 m2 m3 $runA"),
      (6L, (1 to 15).map(i => s"u$i").mkString(" ")) // untouched
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .exactSubstrApply(docs, "doc_id", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1)
    assert(got(0) === ((5L, 23L, 1L, 10L, s"$runA m1 m2 m3")), got(0).toString)
    assert(got(1) === ((6L, 15L, 0L, 0L, (1 to 15).map(i => s"u$i").mkString(" "))))
  }

  test("exactSubstrApply ground truth: the cleaned corpus has zero >=k-token cross-doc runs") {
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val cleaned = graft.operators.Dedup
      .exactSubstrApply(docs, "doc_id", "text", k = 10, maxGramDocs = 256)
      .select(col("doc_id"), col("clean_text").as("text"))
      .localCheckpoint()
    val remaining = graft.operators.Dedup
      .exactSubstrPairs(cleaned, "doc_id", "text", k = 10, maxGramDocs = 256)
    assert(remaining.isEmpty,
      s"cleaned corpus still shares runs: ${remaining.collect().mkString(", ")}")
  }

  test("d16 plan: gram/doc-keyed exchanges only, no nested-loop or cartesian stage") {
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    // Every execution the shipped call runs: the instance checkpoint and
    // the collect.
    val runs = PlanLedger.capture(spark) {
      graft.operators.Dedup
        .exactSubstrSpans(docs, "doc_id", "text", k = 10, maxGramDocs = 256)
        .collect()
    }
    PlanLedger.hashKeys(runs) // fails unless the capture saw a checkpoint and a keyed shuffle
    runs.foreach { run =>
      val nodes = allNodes(run.plan)
      assert(!nodes.exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"cut marking must be the gram equi-join, never all-pairs:\n" +
          s"${run.plan}")
      shuffleKeyNames(run.plan).foreach { names =>
        assert(names.forall(Set("g", "doc_id", "__island")),
          s"d16 shuffles gram-hash aggregates, the cut-mark join, and per-doc " +
            s"span merges only, got $names")
      }
    }
  }

  // ---- d17: index-probing delta ExactSubstr ----

  test("deltaExactSubstrPairs: batch-vs-corpus pairs, index-side cap blocks boilerplate") {
    val s = spark
    import s.implicits._
    val run = (1 to 12).map(i => s"r$i").mkString(" ")
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // in 3 corpus docs
    val corpus = Seq(
      (1L, s"$run ${(1 to 5).map(i => s"p$i").mkString(" ")} $boiler"),
      (2L, s"${(1 to 15).map(i => s"q$i").mkString(" ")} $boiler"),
      (3L, s"${(1 to 15).map(i => s"s$i").mkString(" ")} $boiler")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (101L, s"intro ${(1 to 4).map(i => s"m$i").mkString(" ")} $run"), // quotes doc 1
      (102L, s"${(1 to 12).map(i => s"n$i").mkString(" ")} $boiler")    // boilerplate only
    ).toDF("doc_id", "text")
    // Cap 2: the boilerplate gram lives in 3 corpus docs and is dropped
    // from the INDEX, so doc 102 (which shares only boilerplate) never
    // flags — the cap is structural, not a probe-time filter.
    val idx = graft.operators.Dedup
      .buildGramIndex(corpus, "doc_id", "text", k = 10, maxGramDocs = 2)
    try {
      val got = graft.operators.Dedup
        .deltaExactSubstrPairs(delta, idx, "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq === Seq((101L, 1L, 3L)), got.toSeq.toString)
    } finally idx.unpersist()
  }

  test("GramIndex: save/load round-trip probes identically; meta restores k and cap") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, (1 to 14).map(i => s"c$i").mkString(" ")),
      (2L, (1 to 14).map(i => s"d$i").mkString(" "))).toDF("doc_id", "text")
    val delta = Seq((101L, (1 to 12).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val idx = graft.operators.Dedup
      .buildGramIndex(corpus, "doc_id", "text", k = 10, maxGramDocs = 7)
    val dir = tmpDir("r10-gidx")
    try {
      idx.save(dir)
      val loaded = graft.operators.Dedup.loadGramIndex(spark, dir, "doc_id")
      assert(loaded.k === 10 && loaded.maxGramDocs === 7)
      val direct = graft.operators.Dedup
        .deltaExactSubstrPairs(delta, idx, "text")
        .collect().map(_.toSeq).toSet
      val viaDisk = graft.operators.Dedup
        .deltaExactSubstrPairs(delta, loaded, "text")
        .collect().map(_.toSeq).toSet
      assert(direct === viaDisk && direct.nonEmpty)
    } finally idx.unpersist()
  }

  test("GramIndex append/compact: cross-append cap drift is re-zeroed at compaction") {
    val s = spark
    import s.implicits._
    val boiler = (1 to 10).map(i => s"bb$i").mkString(" ")
    def doc(id: Long, seed: String) =
      (id, s"${(1 to 12).map(i => s"$seed$i").mkString(" ")} $boiler")
    // Build: boilerplate in 2 corpus docs (cap 3 — kept). Each append adds
    // 2 more docs carrying it; WITHIN each batch df=2 <= 3, so appends
    // cannot see the global drift — by design.
    val idx0 = graft.operators.Dedup.buildGramIndex(
      Seq(doc(1L, "k"), doc(2L, "l")).toDF("doc_id", "text"),
      "doc_id", "text", k = 10, maxGramDocs = 3)
    val idx1 = idx0.append(
      Seq(doc(3L, "m"), doc(4L, "n")).toDF("doc_id", "text"), "text")
    val probe = Seq((101L, s"x1 x2 $boiler")).toDF("doc_id", "text")
    val drifted = graft.operators.Dedup
      .deltaExactSubstrPairs(probe, idx1, "text")
      .collect().map(r => r.getLong(1)).sorted
    assert(drifted.toSeq === Seq(1L, 2L, 3L, 4L),
      s"between compactions the gram may exceed the global cap (bounded drift): $drifted")
    // Compact re-caps globally: df=4 > 3, the gram drops out of the index.
    val dir = tmpDir("r10-gidx-compact")
    val idx2 = idx1.compact(dir)
    try {
      val after = graft.operators.Dedup
        .deltaExactSubstrPairs(probe, idx2, "text").count()
      assert(after === 0L, "compaction must restore the global doc-frequency cap")
    } finally idx2.unpersist()
  }

  // ---- p16: the v3 composed build (target-mixture stage) ----

  test("p16 exchange ledger: the mixture swap adds no corpus shuffle") {
    val base = graft.sources.Sources.table(spark, sfDir, "documents")
    val clusters = graft.queries.PipelineShared.dupPairsAndClusters(spark, sfDir)._2
    val runs = PlanLedger.captureHintedBroadcasts(spark) {
      graft.queries.PipelineShared.corpusBuildV3FromSurvivors(
        graft.queries.PipelineShared.dedupSurvivorsWithSplit(base, clusters), budget = 3000L)
        .collect()
    }
    // p13's allowlist verbatim: the target-mixture solve replaces the
    // doc-count aggregate with a token-sum aggregate but keys the SAME
    // lang exchange, the closed form runs over |langs|-row frames, and
    // admission stays a broadcast join + content-hash filter. Above all:
    // the corpus still never shuffles on doc_id.
    val allowed = Set(Set("__h"), Set("lang"), Set("lang", "__sub"),
      Set("__bkt"), Set("gram"), Set("train_id", "gram"), Set("train_id"))
    PlanLedger.hashKeys(runs).foreach { case (names, run) =>
      assert(allowed.contains(names),
        s"unexpected corpus shuffle on $names in ${run.action}:\n${run.plan}")
      assert(names != Set("doc_id"), "corpus shuffled on doc_id")
    }
  }

  test("p16 mixture semantics: binding language admits ALL its tokens, others downsample toward parity") {
    // With the budget stage opened wide, the output IS the
    // mixture-admitted set: under uniform stated weights the binding
    // language (smallest decontaminated token total) must admit every one
    // of its documents (rate exactly 10000 — the closed form's invariant),
    // and every language's admitted token count is bounded by the binding
    // total modulo content-hash Bernoulli noise (deterministic for fixed
    // data, so the band below is a fixed fact of sf0.001, not a flake).
    val base = graft.sources.Sources.table(spark, sfDir, "documents")
    val clusters = graft.queries.PipelineShared.dupPairsAndClusters(spark, sfDir)._2
    val out = graft.queries.PipelineShared
      .corpusBuildV3FromSurvivors(
        graft.queries.PipelineShared.dedupSurvivorsWithSplit(base, clusters), budget = 1000000L)
      .filter(col("epoch_idx") === 1) // one row per admitted doc
      .groupBy(col("lang")).agg(sum(col("n_tokens")).cast("long").as("adm"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size >= 2, s"expected several languages, got $out")
    // Reconstruct the decontaminated per-lang totals the solve saw.
    val totals = {
      // totals = admitted/rate is circular; recompute via the v2 build's
      // pre-mix stage equivalent: quality+dedup+p03+p11 survivors.
      val withSplit = graft.queries.PipelineShared
        .dedupSurvivorsWithSplit(base, clusters)
      val cont = graft.operators.Sampling
        .exactContamination(withSplit, "doc_id", "text", "split")
        .select(col("train_id").as("doc_id")).distinct()
      val s3 = withSplit.join(broadcast(cont), Seq("doc_id"), "left_anti")
      val gramCont = graft.operators.Sampling.ngramContamination(
          s3.select(col("doc_id"), col("text"), col("split")),
          "doc_id", "text", "split", n = 13, spread = false)
        .select(col("train_id").as("doc_id"))
      s3.join(broadcast(gramCont), Seq("doc_id"), "left_anti")
        .groupBy(col("lang")).agg(sum(col("n_tokens")).cast("long").as("tot"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(totals.keySet == out.keySet, s"langs dropped: $totals vs $out")
    val binding = totals.minBy(_._2)._1
    assert(out(binding) == totals(binding),
      s"binding lang $binding must admit everything: ${out(binding)} of ${totals(binding)}")
    out.foreach { case (lang, adm) =>
      assert(adm <= totals(lang), s"$lang admitted more than it has")
      val ratio = adm.toDouble / totals(binding)
      assert(ratio > 0.4 && ratio < 1.7,
        s"$lang admitted ${adm} vs binding total ${totals(binding)} (ratio $ratio)")
    }
  }

  test("embeddingNearDups: a precomputed corpusCount matches the counted auto path") {
    val s = spark
    import s.implicits._
    val base = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val n = base.count()
    val counted = graft.operators.Dedup
      .embeddingNearDups(base, "vec_id", "v", 0.9)
      .collect().map(_.toSeq).toSet
    val precomputed = graft.operators.Dedup
      .embeddingNearDups(base, "vec_id", "v", 0.9, corpusCount = Some(n))
      .collect().map(_.toSeq).toSet
    assert(counted === precomputed)
  }

  test("PqAdcScore: hand-computed lookup sums; codegen agrees; ragged inputs truncate") {
    val s = spark
    import s.implicits._
    // m=2 subspaces, k=3 codes: lut laid out [sub*k + code].
    val lut = Array(0.1, 0.2, 0.3, 1.0, 2.0, 3.0)
    val rows = Seq(
      (Array(0, 0), 0.1 + 1.0),
      (Array(2, 1), 0.3 + 2.0),
      (Array(2, 2), 0.3 + 3.0),
      (Array(-1, 2), 3.0),      // out-of-range code contributes nothing
      (Array(0, 5), 0.1),       // code >= k contributes nothing
      (Array[Int](), 0.0))      // empty code word scores 0
    val got = rows.map(_._1).toDF("codes")
      .select(graft.functions.PqAdcScore.pqAdcScore(
        col("codes"), typedLit(lut.toSeq), 3).as("adc"))
      .collect().map(_.getDouble(0))
    rows.map(_._2).zip(got).foreach { case (want, g) =>
      assert(math.abs(want - g) < 1e-12, s"want $want got $g")
    }
  }

  test("PqEncode: hand-computed code words; codegen agrees; ties to lowest code; ragged truncates") {
    val s = spark
    import s.implicits._
    // m=2 subspaces, k=3 codes, subDim=2. Codebooks [sub][code][d]:
    val cbs = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(5.0, 5.0)),
      Array(Array(2.0, 2.0), Array(2.0, 2.0), Array(9.0, 9.0))) // codes 0,1 tie
    val rows = Seq(
      (Seq(0.1f, 0.1f, 2.0f, 2.0f), Seq(0, 0)),  // near (0,0) / exact tie → 0
      (Seq(1.2f, 0.9f, 8.5f, 9.4f), Seq(1, 2)),
      (Seq(4.0f, 4.9f, 2.1f, 1.9f), Seq(2, 0)),
      (Seq(0.9f, 1.1f), Seq(1, 0)))              // ragged: sub 1 sees no dims →
                                                 // all dists 0 → lowest code
    val got = rows.map(_._1).toDF("v")
      .select(graft.functions.PqEncode.pqEncode(col("v"), cbs, 2).as("codes"))
      .collect().map(_.getSeq[Int](0).toList)
    rows.map(_._2.toList).zip(got).foreach { case (want, g) =>
      assert(g === want, s"want $want got $g")
    }
    // Interpreted kernel agrees with the codegen'd column path.
    import org.apache.spark.sql.catalyst.util.ArrayData
    val flat = Array(0.0, 0.0, 1.0, 1.0, 5.0, 5.0, 2.0, 2.0, 2.0, 2.0, 9.0, 9.0)
    rows.foreach { case (v, want) =>
      val direct = graft.functions.PqEncode
        .compute(ArrayData.toArrayData(v.toArray), true, flat, 2, 3, 2)
        .toIntArray().toList
      assert(direct === want.toList)
    }
  }

  test("PQ: an exact planted twin is every query's top ADC hit; recall floors hold") {
    import graft.operators.SimilaritySearch
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    // Plant byte-identical twins of the 10 query vectors: identical input
    // -> identical subspace assignments -> the twin's ADC score equals the
    // query's self-reconstruction score, the maximum any candidate with
    // those codes can reach — top-1 regardless of how hard the corpus is.
    val twins = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val aug = emb.unionByName(twins)
    val idx = SimilaritySearch.buildPqIndex(aug, "vec_id", "embedding",
      m = 16, k = 256)
    val top1 = SimilaritySearch.pqTopK(idx,
        aug.filter(col("vec_id") < 10), "vec_id", "embedding", k = 1)
      .select(col("q_id"), col("n_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 10L).foreach { q =>
      assert(top1.get(q).contains(q + 100000L),
        s"query $q: planted twin not top-1, got ${top1.get(q)}")
    }
    idx.unpersist()
    // Recall floors on the raw (twin-free) corpus — these synthetic
    // near-uniform vectors are a hard case (tiny neighbor margins), so
    // the floors are regression guards, not headline recall: measured
    // brute-ADC 0.77 / IVF-PQ 0.63 at m=16, k=256.
    val exact = SimilaritySearch.bruteForceTopK(emb, "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3)
      .select(col("q_id"), col("n_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx2 = SimilaritySearch.buildPqIndex(emb, "vec_id", "embedding",
      m = 16, k = 256)
    val brute = SimilaritySearch.pqTopK(idx2,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3)
      .select(col("q_id"), col("n_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & brute).size >= (exact.size * 0.6).toInt,
      s"brute-ADC recall@3 below floor: ${(exact & brute).size}/${exact.size}")
    idx2.unpersist()
    val ivfpq = SimilaritySearch.ivfPqTopK(emb, "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3, nCells = 16, nProbe = 8,
        m = 16, kCodes = 256)
      .select(col("q_id"), col("n_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & ivfpq).size >= (exact.size * 0.45).toInt,
      s"IVF-PQ recall@3 below floor: ${(exact & ivfpq).size}/${exact.size}")
  }

  test("s10 plan: corpus rows only enter hash equi-joins; no raw cartesian stage") {
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val out = graft.operators.SimilaritySearch.ivfPqTopK(
      emb, "vec_id", "embedding", isQuery = col("vec_id") < 10,
      k = 3, nCells = 16, nProbe = 4, m = 8, kCodes = 64)
    out.queryExecution.toRdd.count()
    val nodes = allNodes(out.queryExecution.executedPlan)
    // The deliberate nested-loop joins here broadcast QUERY-bounded sides
    // (the m·k codebook table, the nCells centroid table, the per-query
    // LUTs); what must never appear is a non-broadcast cartesian — the
    // shape a corpus-side cross product would take.
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      s"IVF-PQ probe must never cross-product corpus rows:\n" +
        s"${out.queryExecution.executedPlan}")
    // Every exchange keys on the probe geometry: query id (LUT build +
    // top-k), candidate id (codes ⋈ cells), or cell (probe ⋈ candidates).
    shuffleKeyNames(out).foreach { names =>
      assert(names.forall(Set("q_id", "n_id", "cell")),
        s"IVF-PQ shuffles on q_id/n_id/cell only, got $names")
    }
  }

  test("PqIndex: save/load round-trip probes identically; codes are m ints") {
    import graft.operators.SimilaritySearch
    val emb = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val idx = SimilaritySearch.buildPqIndex(emb, "vec_id", "embedding",
      m = 8, k = 64)
    val queries = emb.filter(col("vec_id") < 5)
    val before = SimilaritySearch.pqTopK(idx, queries, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    val dir = tmpDir("pqidx")
    idx.save(dir)
    val loaded = SimilaritySearch.loadPqIndex(spark, dir, "vec_id")
    assert(loaded.m === 8 && loaded.k === 64 && loaded.subDim === 8)
    val after = SimilaritySearch.pqTopK(loaded, queries, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    assert(before === after, "loaded index must probe identically")
    // The compression claim: one code word = m ints, never floats.
    val codeLen = idx.codes.select(size(col("codes"))).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(codeLen === Seq(8))
    idx.unpersist()
  }

  test("deltaExactSubstrApply: corpus-quoting runs cut, batch-internal dups kept, short docs pass") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, (1 to 14).map(i => s"c$i").mkString(" ")),
      (2L, (1 to 10).map(i => s"d$i").mkString(" "))).toDF("doc_id", "text")
    val idx = Dedup.buildGramIndex(corpus, "doc_id", "text",
      k = 10, maxGramDocs = 256)
    val quote = (3 to 12).map(i => s"c$i").mkString(" ") // 10-run from doc 1
    val batchDup = (1 to 10).map(i => s"z$i").mkString(" ")
    val batch = Seq(
      (101L, s"intro $quote outro extra tokens here"), // cut the quoted run
      (102L, batchDup), (103L, batchDup),              // batch-internal dup: NOT cut
      (104L, "too short")                              // sub-k: pass through
    ).toDF("doc_id", "text")
    val got = Dedup.deltaExactSubstrApply(batch, idx, "text")
      .select($"doc_id", $"n_tokens", $"n_cut_spans", $"n_cut_tokens", $"clean_text")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(101L) === ((101L, 15L, 1L, 10L,
      "intro outro extra tokens here")),
      s"quoting doc must lose exactly the quoted run: ${got(101L)}")
    assert(got(102L)._5 === batchDup && got(103L)._5 === batchDup,
      "within-batch duplication is out of scope for the delta apply")
    assert(got(104L) === ((104L, 2L, 0L, 0L, "too short")))
    // The spans themselves: one maximal span covering positions 2..11.
    val spans = Dedup.deltaExactSubstrSpans(batch, idx, "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(spans === Set((101L, 2L, 10L)), s"spans: $spans")
    idx.unpersist()
  }

  test("LshVecIndex: delta probe = exact batch-vs-corpus pairs; save/load and append hold") {
    import graft.operators.Dedup
    val base = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val idx = Dedup.buildLshVecIndex(base, "vec_id", "v")
    val batch = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("v"),
          (x, i) => x * (lit(1.0) + lit(0.01) * ((i % 7) - lit(3)))).as("v"))
    val got = Dedup.deltaEmbeddingNearDups(batch, idx, threshold = 0.9)
      .select(col("new_id"), col("old_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Ground truth: the exact batch x corpus cosine join.
    val exact = batch.select(col("vec_id").as("new_id"), col("v").as("av"))
      .crossJoin(base.select(col("vec_id").as("old_id"), col("v").as("bv")))
      .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(
        col("av"), col("bv")))
      .filter(col("cos") > 0.9)
      .select(col("new_id"), col("old_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === exact, s"probe must equal the exact join")
    (0L until 10L).foreach { id =>
      assert(got.contains((id + 100000L, id)),
        s"planted near-dup $id not found against its original")
    }
    // save/load probes identically; meta restores the density.
    val dir = tmpDir("vecidx")
    idx.save(dir)
    val loaded = Dedup.loadLshVecIndex(spark, dir, "vec_id", "v")
    assert(loaded.bits === idx.bits && loaded.tables === idx.tables)
    val viaLoaded = Dedup.deltaEmbeddingNearDups(batch, loaded, 0.9)
      .select(col("new_id"), col("old_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLoaded === got)
    // append folds a batch in at the index's density: a later probe sees it.
    val fold = base.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .select((col("vec_id") + 500000L).as("vec_id"), col("v"))
    val appended = idx.append(fold)
    val probe2 = base.filter(col("vec_id") === 12)
      .select((col("vec_id") + 900000L).as("vec_id"), col("v"))
    val got2 = Dedup.deltaEmbeddingNearDups(probe2, appended, 0.99)
      .select(col("old_id")).collect().map(_.getLong(0)).toSet
    assert(got2.contains(12L) && got2.contains(500012L),
      s"probe after append must see both the corpus and the folded batch, got $got2")
    appended.unpersist()
  }

  test("d18 probe plan: bucket/id-keyed exchanges only, no nested-loop or cartesian") {
    import graft.operators.Dedup
    val base = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val idx = Dedup.buildLshVecIndex(base, "vec_id", "v")
    val batch = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("v"))
    val out = Dedup.deltaEmbeddingNearDups(batch, idx, threshold = 0.9)
    out.queryExecution.toRdd.count()
    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      s"the vector probe must be bucket equi-join + id verify joins, never " +
        s"all-pairs:\n${out.queryExecution.executedPlan}")
    shuffleKeyNames(out).foreach { names =>
      assert(names.forall(Set("t", "bucket", "new_id", "old_id")),
        s"d18 shuffles on (t, bucket) candidates and id-keyed verify/distinct " +
          s"only, got $names")
    }
    idx.unpersist()
  }

  test("d19 plan: gram/doc-keyed exchanges only, no nested-loop or cartesian") {
    import graft.operators.Dedup
    val docs = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val delta = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
    val idx = Dedup.buildGramIndex(corpus, "doc_id", "text",
      k = 10, maxGramDocs = 256)
    val out = Dedup.deltaExactSubstrApply(delta, idx, "text")
    out.queryExecution.toRdd.count()
    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      s"the apply probe must be the gram semi-join, never all-pairs:\n" +
        s"${out.queryExecution.executedPlan}")
    shuffleKeyNames(out).foreach { names =>
      assert(names.forall(Set("g", "doc_id", "__island")),
        s"d19 shuffles the gram membership probe, per-doc span merges, and " +
          s"the apply join only, got $names")
    }
    idx.unpersist()
  }

  test("DHash64: bit-exact under a strictly monotone byte remap; md5 is not") {
    val rnd = new scala.util.Random(10)
    // Payload over byte values 0..127; remap = 128 sorted distinct values
    // sampled from 0..255 — an arbitrary strictly monotone byte-value map
    // (the byte-level model of brightness/contrast/gamma re-encoding).
    val payload = Array.fill(80)(rnd.nextInt(128).toByte)
    val table = rnd.shuffle((0 to 255).toList).take(128).sorted.toArray
    val remapped = payload.map(b => table(b & 0xFF).toByte)
    assert(!(payload sameElements remapped))
    assert(graft.functions.DHash64.compute(payload) ===
      graft.functions.DHash64.compute(remapped),
      "dHash must survive a strictly monotone remap")
    val md5 = java.security.MessageDigest.getInstance("MD5")
    assert(!(md5.digest(payload) sameElements md5.digest(remapped)),
      "md5 must NOT survive it (that is the m04 gap m05 closes)")
    // Codegen path agrees with the interpreted compute().
    val s = spark
    import s.implicits._
    val viaDf = Seq(payload, remapped).toDF("b")
      .select(graft.functions.DHash64.dhash64(col("b")).as("h"))
      .collect().map(_.getLong(0))
    assert(viaDf(0) === graft.functions.DHash64.compute(payload))
    assert(viaDf(0) === viaDf(1))
    // Degenerate payloads: <2 bytes hash to 0; only the first 64 count.
    assert(graft.functions.DHash64.compute(Array[Byte](5)) === 0L)
    assert(graft.functions.DHash64.compute(Array.empty[Byte]) === 0L)
    val long1 = Array.fill(200)(rnd.nextInt(128).toByte)
    val long2 = long1.clone(); long2(150) = (long2(150) ^ 0x7f).toByte
    assert(graft.functions.DHash64.compute(long1) ===
      graft.functions.DHash64.compute(long2))
  }

  test("ByteEnergy: exact integer variance numerator; energy gate drops only dead frames") {
    val s = spark
    import s.implicits._
    // Hand-computed: [0, 255] -> 2*(0+255²) - 255² = 65025; constant -> 0;
    // empty -> 0; [10, 12] -> 2*(100+144) - 22² = 4.
    assert(graft.functions.ByteEnergy.compute(
      Array(0.toByte, 255.toByte)) === 65025L)
    assert(graft.functions.ByteEnergy.compute(Array.fill(64)(7.toByte)) === 0L)
    assert(graft.functions.ByteEnergy.compute(Array.empty[Byte]) === 0L)
    assert(graft.functions.ByteEnergy.compute(
      Array(10.toByte, 12.toByte)) === 4L)
    // Codegen path agrees with the interpreted compute().
    val payloads = Seq(Array(0.toByte, 255.toByte), Array.fill(8)(42.toByte))
    val viaDf = payloads.toDF("b")
      .select(graft.functions.ByteEnergy.byteEnergy(col("b")).as("e"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaDf === payloads.map(graft.functions.ByteEnergy.compute))
    // The gate: constant frames drop, low-contrast-but-alive frames with
    // variance exactly at the threshold keep (>= is inclusive).
    val alive = Array.tabulate(64)(i => (100 + (i % 2) * 4).toByte) // var = 4
    val dead = Array.fill(64)(100.toByte)
    val kept = graft.multimodal.Multimodal.frameEnergyFilter(
        Seq((1L, alive), (2L, dead)).toDF("doc_id", "frame"),
        minVariance = 4L)
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(kept === Seq(1L))
  }

  test("m05: dHash frames re-identify planted re-encodes that md5 misses") {
    import graft.multimodal.Multimodal
    val docs = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "documents")
    val media = Multimodal.asMediaTable(docs)
    val planted = Multimodal.reencodeStub(
      media.filter(col("doc_id") < 40), shift = 1, idOffset = 100000L)
    val frames = Multimodal.sampleFrames(
      media.unionByName(planted), frameBytes = 64, stride = 4).toDF()
    def plantedPairs(fp: org.apache.spark.sql.Column): Set[Long] =
      Multimodal.frameOverlap(
          frames.select(col("doc_id"), fp.as("fp")), "doc_id", "fp")
        .filter(col("b_id") === col("a_id") + 100000L)
        .collect().map(_.getLong(0)).toSet
    val viaMd5 = plantedPairs(md5(col("frame")))
    val viaDHash = plantedPairs(graft.functions.DHash64.dhash64(col("frame")))
    assert(viaMd5.isEmpty,
      s"byte-shifted re-encodes must defeat md5 fingerprints, found $viaMd5")
    // Every planted doc long enough to emit a frame (>=64 bytes) whose
    // fingerprints aren't all boilerplate-capped should match its original.
    assert(viaDHash.size >= 30,
      s"dHash should re-identify most of the 40 planted re-encodes, got ${viaDHash.size}")
  }

  test("d21 ingestExactSubstrClean: corpus quotes cut first, then within-batch keep-first") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val corpusRun = (1 to 12).map(i => s"c$i").mkString(" ")
    val corpus = Seq((1L, s"$corpusRun filler tail here"),
      (2L, (1 to 10).map(i => s"d$i").mkString(" "))).toDF("doc_id", "text")
    val idx = Dedup.buildGramIndex(corpus, "doc_id", "text",
      k = 10, maxGramDocs = 256)
    val freshRun = (1 to 11).map(i => s"f$i").mkString(" ")
    val quote = (2 to 11).map(i => s"c$i").mkString(" ")
    // 201 quotes the corpus; 202 and 203 share a fresh run (202 first);
    // 204 is clean; 205 quotes the corpus AND shares the fresh run.
    val batch = Seq(
      (201L, s"intro $quote outro w1 w2"),
      (202L, s"$freshRun alpha beta"),
      (203L, s"pre1 pre2 $freshRun"),
      (204L, (1 to 12).map(i => s"z$i").mkString(" ")),
      (205L, s"$quote mid $freshRun")).toDF("doc_id", "text")
    val got = Dedup.ingestExactSubstrClean(batch, idx, "text")
      .select($"doc_id", $"n_tokens", $"n_cut_corpus_tokens",
        $"n_cut_batch_tokens", $"clean_text")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(201L) === ((14L, 10L, 0L, "intro outro w1 w2")))
    // 202 is the batch's first copy of the fresh run — it keeps.
    assert(got(202L) === ((13L, 0L, 0L, s"$freshRun alpha beta")))
    // 203's copy is later (higher id) — the whole 11-token run is cut.
    assert(got(203L) === ((13L, 0L, 11L, "pre1 pre2")))
    assert(got(204L)._2 === 0L)
    assert(got(204L)._3 === 0L)
    // 205 loses the corpus quote in stage 1 AND its fresh-run copy in
    // stage 2 — both cut classes on one doc.
    assert(got(205L) === ((22L, 10L, 11L, "mid")))
    idx.unpersist()
  }

  test("d20 corpusDiff: each status class exact; one id-keyed join, digests only") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val old = Seq((1L, "same text"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val newer = Seq((1L, "same text"), (2L, "changed text"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = Dedup.corpusDiff(old, newer, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    val out = Dedup.corpusDiff(old, newer, "doc_id", "text")
    out.queryExecution.toRdd.count()
    val plan = out.queryExecution.executedPlan.toString
    val keyed = "Exchange hashpartitioning\\(([a-zA-Z_0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(keyed.subsetOf(Set("doc_id")),
      s"diff must shuffle on the id only, got $keyed:\n$plan")
    assert(!plan.toLowerCase.contains("nestedloop"),
      s"diff must be a hash/merge join:\n$plan")
  }
}
