package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SimilaritySearch}
import graft.queries.{MultimodalQueries, PipelineShared, SamplingQueries}

/** Scale-up stress harness: replicates the sf0.1 tables N× (with key
  * offsets, so cardinalities really grow) and times the operators whose
  * cost curves matter at 100 TB — the flagship aggregate, the star join,
  * MinHash-LSH dedup and LSH ANN. Linear-ish growth here is the evidence
  * that the plans (scan-side sketches, bucket equi-joins, partial
  * aggregation) scale; quadratic blowup would flag a plan bug before a
  * cluster ever sees it.
  *
  * `runMain graft.tools.Stress [factor] [opSubstring]` — prints one JSON
  * line per op; the optional second arg runs only ops whose name contains
  * it (the delta-probe ops build their index untimed when its build op is
  * filtered out).
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(4)
    val opFilter = args.lift(1)
    // Substring filter; a trailing '$' anchors to an exact op name (needed
    // for ops whose name is a prefix of another's, e.g. sparse_cosine vs
    // sparse_cosine_cand).
    def want(name: String): Boolean = opFilter.forall { f =>
      if (f.endsWith("$")) name == f.dropRight(1) else name.contains(f)
    }
    // The embedding decorrelation below circular-shifts the 64-dim vectors
    // by the replica index: shift i must stay in [1, 63] and distinct per
    // replica, or replicas re-correlate (i=64 is the identity shift) and
    // the near-dup counts go quadratic by construction.
    require(factor >= 1 && factor <= 64, s"factor must be in [1, 64], got $factor")
    val dir = "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Replicas get perturbed CONTENT, not just shifted ids: byte-identical
    // text/embeddings across replicas would make near-dup pair counts (and
    // so the dedup/ANN runtimes) grow quadratically in `factor` by
    // construction, masking the linear-plan signal this harness measures.
    def scaled(table: String, idCols: Seq[String], offset: Long): DataFrame = {
      val base = graft.sources.Sources.table(spark, dir, table)
      (0 until factor).map { i =>
        var df = idCols.foldLeft(base) { (d, c) => d.withColumn(c, col(c) + lit(i * offset)) }
        if (i > 0 && df.columns.contains("text"))
          // Suffix every 5th token: kills ~60% of 3-gram shingles between
          // replicas, pushing cross-replica jaccard far below threshold.
          df = df.withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "),
              (wd, j) => when(pmod(j, lit(5)) === lit(i % 5), concat(wd, lit(s"_r$i")))
                .otherwise(wd))))
        if (i > 0 && df.columns.contains("embedding"))
          // Circular shift by the replica index: preserves the norm but
          // fully decorrelates a replica from its base vector (additive
          // jitter was measured too weak — same-base cross-replica pairs
          // stayed at cosine ≈ 0.93, so near-dup counts grew quadratically
          // in `factor` by construction, masking the linear-plan signal).
          df = df.withColumn("embedding", concat(
            slice(col("embedding"), i + 1, 64 - i),
            slice(col("embedding"), 1, i)))
        df
      }.reduce(_ union _)
    }

    // Every emitted row carries its RUN MODE, because the two modes are
    // not comparable: a full sweep's readings are taken mid-session (JIT,
    // shuffle dirs, block manager all hot from ~78 prior ops), while a
    // filtered run measures a cold-ish JVM with only its own warmup. The
    // r12→r14 contamination_report confusion traced exactly to comparing a
    // mid-sweep 8× reading against an isolated 32× one — the artifact is
    // now self-describing: only same-mode pairs form a scaling curve.
    // Optional third arg "steady": run each selected op once UNTIMED
    // before the timed shot. A cold isolated run charges the op its own
    // Catalyst planning + whole-stage codegen + JIT of the replicated
    // union plan — measured ~3-8 s of CPU-count-INDEPENDENT serial cost
    // at factor 16, which buries the parallel-scaling signal a
    // cores-curve exists to expose (8c vs 32c codec ratios read ≈1 cold,
    // ≈3 steady). Existing single-shot semantics (and every committed
    // artifact produced by them) are unchanged unless the flag is given;
    // the mode field says which methodology produced a row.
    val steady = args.lift(2).contains("steady")
    val mode =
      if (steady) "steady"
      else if (opFilter.isDefined) "isolated" else "sweep"
    def time(name: String)(body: => Long): Unit = if (want(name)) {
      if (steady) body
      val t0 = System.nanoTime()
      val rows = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"op":"$name","factor":$factor,"rows":$rows,"sec":${f"$sec%.2f"},"mode":"$mode"}""")
    }

    val lineitem = scaled("lineitem", Seq("l_orderkey"), 100000000L)
    val orders = scaled("orders", Seq("o_orderkey"), 100000000L)
    val docs = scaled("documents", Seq("doc_id"), 10000000L)
    val emb = scaled("embeddings", Seq("vec_id"), 10000000L)

    // In a FULL sweep the first ops absorb cold-JVM costs (codegen infra,
    // JIT, parquet footers); a FILTERED single-op run would get charged
    // them itself — measured ~3s on a map-only op that takes 0.3s warm.
    // Warm the same paths untimed so filtered numbers stay comparable to
    // full-sweep numbers.
    if (opFilter.isDefined) {
      docs.select(sum(length(col("text")))).collect()
      lineitem.groupBy(col("l_returnflag")).count().collect()
    }

    time("q11_agg") {
      lineitem.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")), avg(col("l_extendedprice")), count(lit(1))).count()
    }
    time("join_agg") {
      lineitem.join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1))).count()
    }
    time("minhash_lsh") {
      val base = docs.select(col("doc_id"),
        graft.functions.WordShingles.wordShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      Dedup.minhashNearDups(base, "doc_id", "sh", 0.5).count()
    }
    time("ann_lsh") {
      SimilaritySearch.annTopK(emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 3).count()
    }
    val events = scaled("events", Seq("event_id", "user_id"), 100000000L)
    time("asof_join") {
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = events.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("cid"),
          col("value").as("cv"))
      graft.operators.JoinStrategies
        .asofJoin(purchases, clicks, "user_id", "ts", Seq("cid", "cv")).count()
    }
    time("range_join") {
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = events.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("vid"))
      graft.operators.JoinStrategies
        .rangeJoinBinned(purchases, views, "user_id", "ts", -3600L, 0L, Seq("vid"))
        .count()
    }
    time("pack_sequences") {
      val base = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Packing
        .packSequences(base, "doc_id", "n_tokens", ctxLen = 2048L).count()
    }
    time("embedding_dedup") {
      // Same augmentation shape as d06: plant perturbed near-dup copies so
      // the verified-survivor set is non-trivial, then bucketed dedup. NO
      // explicit bits/tables: the operator auto-sizes its LSH density from
      // the corpus count (SimilaritySearch.autoLshParams) — this op is the
      // linearity evidence that the auto-sizing holds under growth, where
      // round 7 measured a PINNED bits=8 quadratic at 8x and a hand-tuned
      // bits=11 linear.
      val base = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val aug = Dedup.withPlantedNearDups(base, "vec_id", "v",
        pred = pmod(col("vec_id"), lit(40)) === 0, idOffset = 1000000000L)
      Dedup.embeddingNearDups(aug, "vec_id", "v", 0.9).count()
    }
    // The three ops below run the SAME operator functions the shipped
    // queries call (t10/d08/s05) — the linearity evidence must measure the
    // production plan, not a harness-local reimplementation.
    time("repetition") {
      graft.operators.TextAnalysis.repetitionMetrics(docs, "doc_id", "text").count()
    }
    time("chunk_dedup") {
      Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 16).count()
    }
    time("sessionize") {
      graft.operators.Sessionize.sessions(
        events.select(col("user_id"), col("event_id"), col("ts"), col("value")),
        "user_id", "ts", "event_id", "value",
        maxGap = lit(12L * 3600L * 1000000L)).count()
    }
    time("token_budget") {
      // Budget scales with factor so the admitted fraction stays constant
      // (a fixed budget would admit a shrinking prefix and the timing
      // would measure only the window, not the selection).
      graft.operators.Sampling.tokenBudgetPerGroup(
        docs.select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "lang", "doc_id", "n_tokens", budget = 30000L * factor).count()
    }
    time("group_topk") {
      graft.plans.GroupTopK.topK(orders,
        Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")),
        k = 3).count()
    }
    time("group_topk_hicard") {
      // Key cardinality far past the 64k partial-key cap (l_orderkey at
      // ×4 is ~2.4M distinct keys): the bounded-heap map must flush and
      // reset many times per task with memory pinned at cap × k rows —
      // the credibility case for per-key top-k over a 100 TB key space.
      // (Round5Spec asserts numFlushes > partitions and window equality
      // at this shape; here we time it at scale.)
      graft.plans.GroupTopK.topK(lineitem,
        Seq("l_orderkey"), Seq(col("l_extendedprice").desc, col("l_linenumber")),
        k = 2).count()
    }
    // Incremental dedup: the CORPUS scales with factor while the incoming
    // batch stays pinned at base size — the probe's cost must track the
    // batch (plus one pass over the static band table), never corpus².
    // Build and probe are timed separately: the build is the offline
    // artifact job; the probe is what every ingest batch pays.
    val corpusSh = docs
      .select(col("doc_id"),
        graft.functions.WordShingles.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val deltaSh = graft.sources.Sources.table(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id") + lit(900000000L) as "doc_id",
        graft.functions.WordShingles.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    var deltaIdx: Dedup.MinHashIndex = null
    def ensureDeltaIdx(): Long = {
      if (deltaIdx == null) {
        deltaIdx = Dedup.buildMinHashIndex(corpusSh, "doc_id", "sh")
        // Materialize BOTH cached tables here: the band table and the
        // signature table are the offline artifact — the probe must not
        // get charged the (corpus-sized) cache fill.
        deltaIdx.bands.count() + deltaIdx.signatures.count()
      } else 0L
    }
    time("delta_index_build") { ensureDeltaIdx() }
    // Probe ops still need the index when the build op is filtered out —
    // build it UNTIMED so the probe numbers stay comparable.
    if (Seq("delta_probe", "probe_after_append").exists(want)) ensureDeltaIdx()
    time("delta_probe") {
      Dedup.deltaNearDupsIndexed(deltaSh, deltaIdx, "doc_id", "sh", 0.5).count()
    }
    // Index APPEND: fold a PINNED-size admitted batch into the standing
    // index. Two costs, both of which must stay flat as `factor` grows the
    // corpus: the offline fold (save-append writes ONLY the batch's files
    // — the corpus index is never rewritten) and the probe against the
    // appended in-memory index (cached-corpus + cached-batch union; the
    // comparable is delta_probe above).
    val batchSh = graft.sources.Sources.table(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(col("doc_id") + lit(950000000L) as "doc_id",
        graft.functions.WordShingles.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    time("index_append_fold") {
      val out = java.nio.file.Files.createTempDirectory("stress_mhidx").toFile
      try {
        val batchIdx = Dedup.buildMinHashIndex(batchSh, "doc_id", "sh",
          persist = false)
        batchIdx.save(out.toString, mode = "append")
        spark.read.parquet(s"$out/signatures").count()
      } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
    }
    time("probe_after_append") {
      val appended = deltaIdx.append(batchSh, "sh")
      Dedup.deltaNearDupsIndexed(deltaSh, appended, "doc_id", "sh", 0.5).count()
    }
    // d17: the ExactSubstr gram index. Build is the offline corpus-sized
    // artifact job (scales with factor); the probe batch is PINNED (the
    // base slice, ids offset out of corpus range), so probe cost must
    // track the batch + the cached index scan — never corpus². Matches
    // are the batch docs' identical i=0 twins (the per-replica token
    // perturbation breaks every cross-replica 10-gram run), so pair rows
    // stay flat as factor grows.
    var gramIdx: Dedup.GramIndex = null
    def ensureGramIdx(): Long = {
      if (gramIdx == null) {
        gramIdx = Dedup.buildGramIndex(docs, "doc_id", "text",
          k = 10, maxGramDocs = 256)
        gramIdx.grams.count() // cache fill charged to the build, not probes
      } else 0L
    }
    time("gram_index_build") { ensureGramIdx() }
    if (want("gram_probe")) ensureGramIdx()
    val gramDelta = graft.sources.Sources.table(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id") + lit(900000000L) as "doc_id", col("text"))
    time("gram_probe") {
      Dedup.deltaExactSubstrPairs(gramDelta, gramIdx, "text").count()
    }
    // d19: the delta APPLY over the same index and pinned batch — adds
    // the left-semi membership probe, per-doc span merge, and the token
    // cut to gram_probe's cost; all batch-bounded, so the curve must
    // stay flat like the probe's.
    if (want("gram_apply")) ensureGramIdx()
    time("gram_apply") {
      Dedup.deltaExactSubstrApply(gramDelta, gramIdx, "text").count()
    }
    // d21: the composed ingest clean (corpus-quote cut + within-batch
    // keep-first) against the same standing index and the same PINNED
    // batch — the cost must track gram_apply plus a batch-sized d16
    // pass, never the corpus.
    if (want("ingest_clean")) ensureGramIdx()
    time("ingest_clean") {
      Dedup.ingestExactSubstrClean(gramDelta, gramIdx, "text").count()
    }
    // d22: corpus-wide paragraph keep-first dedup — scales with the
    // corpus (lines ≈ tokens/16); one winner aggregate + one hash join +
    // one rebuild aggregate, so the curve must stay linear-ish. The
    // per-replica token perturbation breaks cross-replica 16-token
    // lines, so cut counts track the base corpus's natural dups.
    time("paragraph_dedup") {
      Dedup.paragraphDedup(docs, "doc_id", "text").count()
    }
    // d23: the line-set index (corpus-sized build, like gram_index_build)
    // probed by the PINNED batch — probe cost must track the batch plus
    // the index-side hash join, never the corpus text.
    var lineIdx: Dedup.LineSetIndex = null
    def ensureLineIdx(): Long = {
      if (lineIdx == null) {
        lineIdx = Dedup.buildLineSetIndex(docs, "doc_id", "text")
        lineIdx.hashes.count()
      } else 0L
    }
    time("lineset_index_build") { ensureLineIdx() }
    if (want("paragraph_probe")) ensureLineIdx()
    time("paragraph_probe") {
      Dedup.ingestParagraphClean(gramDelta, lineIdx, "doc_id", "text").count()
    }
    // m08: the banded perceptual near-dup matcher — band explode (4 rows
    // per distinct frame fp), capped band equi-join, scan-side popcount
    // verify. Pair ROWS grow superlinearly here BY CONSTRUCTION: the
    // replica perturbation suffixes tokens with "_r$i", and replicas i
    // and i+5 share suffix positions with a ONE-BYTE digit difference —
    // a genuine Hamming-≤2 near-dup the matcher is SUPPOSED to find.
    // The scale claim under test is the WALL curve: the band-key cap
    // bounds per-key fan-out, so time must stay ~flat while the found
    // population explodes.
    time("frame_near") {
      val M = graft.multimodal.Multimodal
      val media = M.asMediaTable(docs)
      val frames = M.sampleFrames(media, frameBytes = 64, stride = 4).toDF()
        .select(col("doc_id"),
          graft.functions.DHash64.dhash64(col("frame")).as("fp"))
      M.frameNearOverlap(frames, "doc_id", "fp").count()
    }
    // t20: the blocklist page filter — scan-side tokens probing a
    // broadcast list, one per-doc aggregate; must track the corpus scan.
    time("blocklist_filter") {
      val spark2 = docs.sparkSession
      import spark2.implicits._
      val bl = Seq("slow", "merge").toDF("word")
      graft.operators.TextAnalysis
        .blocklistFilter(docs, "doc_id", "text", bl).count()
    }
    // s12: the sparse-cosine postings join — tf aggregate + df-capped
    // term self-join + pair/norm aggregates; per-term work bounded at
    // cap², so the curve must track the corpus, not its square.
    time("sparse_cosine") {
      SimilaritySearch.sparseCosinePairs(docs, "doc_id", "text",
        threshold = 0.9, maxTermDocs = 256, ngram = 3).count()
    }
    // The round-11 16x/32x sweep showed the CAP-ONLY sparse_cosine wall
    // going superlinear (12.7 -> 35 -> 81 s at 8x/16x/32x) while OUTPUT
    // pairs stayed exactly linear. Diagnosis, verified by the two
    // companion ops: sub-cap terms whose df grows with the corpus
    // (shared unsuffixed 3-grams across replicas, df = factor < 256) —
    // candidate volume Sum_t df_t*(df_t-1)/2 measured 20.7M -> 70.0M ->
    // 249M at 8x/16x/32x (sparse_cosine_cand emits it as rows), and the
    // wall tracked it (ratios 2.76/2.32 vs 3.38/3.56). Cap tuning is NOT
    // the fix: sparse_cosine_df16 (cap 16, cutting the cross-replica
    // band entirely at 32x) still read 7.6 -> 10.8 -> 34.4 s — the
    // within-replica sub-cap df band keeps generating candidates, and
    // any absolute cap leaves SOME growing band under it. The structural
    // fix is the round-11 Bayardo prefix filter (now sparseCosinePairs'
    // default, measured by the main sparse_cosine op above): candidates
    // require an INDEXED term on one side, and the skip budget at
    // threshold 0.9 covers precisely the low-selectivity df band that
    // the cap can't, losslessly (Round11Spec + the unchanged s12
    // oracle).
    time("sparse_cosine_cand") {
      val tf = docs
        .select(col("doc_id"),
          explode(graft.functions.WordShingles
            .wordShingles(col("text"), 3, distinct = false)).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 256)
        .agg(sum(col("df") * (col("df") - 1) / 2).cast("long").as("cand"))
        .collect().head.getLong(0)
    }
    time("sparse_cosine_df16") {
      SimilaritySearch.sparseCosinePairs(docs, "doc_id", "text",
        threshold = 0.9, maxTermDocs = 16, ngram = 3).count()
    }
    // Candidate volume of the PREFIX plan (rows = pairs the verify stage
    // pays for) — the number the filter exists to shrink; compare with
    // sparse_cosine_cand's cap-only Sum df(df-1)/2.
    time("sparse_cosine_pcand") {
      val (kept, vecs) = SimilaritySearch.sparseCosineBase(
        docs, "doc_id", "text", maxTermDocs = 256, ngram = 3)
      SimilaritySearch.sparseCosineCandidates(kept, vecs, threshold = 0.9).count()
    }
    // t19: the CCNet tertile bucketing — t14's scoring chain (model
    // joins keyed on vocab-bounded tables) + a |langs|-row cut table;
    // the curve must track the scoring pass, i.e. the corpus.
    time("perplexity_buckets") {
      graft.operators.TextAnalysis
        .perplexityBuckets(docs, "doc_id", "text", "lang").count()
    }
    // p18: the shard manifest at the production geometry — nShards
    // scales WITH the corpus (shard ≈ file), so per-shard sort stays
    // bounded and the curve must stay linear-ish; a pinned nShards
    // would grow per-shard sorts with factor instead.
    time("shard_manifest") {
      graft.operators.Packing
        .shardManifest(docs, "doc_id", nShards = 32 * factor).count()
    }
    // d18: the vector-LSH index — the embedding twin of the delta/gram
    // probes above. Build scales with the corpus (scan-side buckets at the
    // auto-sized density + cache fill); the probe batch is PINNED (base
    // vectors, ids offset, d06's perturbation), so probe cost must track
    // the batch plus its bucket collisions — never corpus². Matches are
    // the batch's i=0 twins only (the circular shift decorrelates
    // replicas), so pair rows stay flat as factor grows.
    var vecIdx: Dedup.LshVecIndex = null
    def ensureVecIdx(): Long = {
      if (vecIdx == null) {
        vecIdx = Dedup.buildLshVecIndex(emb, "vec_id", "embedding")
        vecIdx.buckets.count() + vecIdx.vectors.count()
      } else 0L
    }
    time("vec_index_build") { ensureVecIdx() }
    if (want("vec_probe")) ensureVecIdx()
    val vecDelta = graft.sources.Sources.table(spark, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(10)) === 7)
      .select((col("vec_id") + lit(900000000L)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x * (lit(1.0f) + lit(0.01f) * ((i % 7) - lit(3)).cast("float")))
          .as("embedding"))
    time("vec_probe") {
      Dedup.deltaEmbeddingNearDups(vecDelta, vecIdx, threshold = 0.9).count()
    }

    // Round 16: the similarity-side index appends. The batch (vecDelta)
    // is FIXED-size while the indexed corpus grows with factor — a
    // flat-in-factor append reading is the evidence that ingest cost
    // tracks the batch (frozen centroids/codebooks, no refit, no base
    // rescan); linear growth would flag a corpus rescan in the append.
    var ivfIdxA: SimilaritySearch.IvfIndex = null
    def ensureIvfIdxA(): Long = {
      if (ivfIdxA == null)
        ivfIdxA = SimilaritySearch.buildIvfIndex(emb, "vec_id", "embedding",
          nCells = 16)
      ivfIdxA.assigned.count()
    }
    time("ivf_index_build") { ensureIvfIdxA() }
    if (want("ivf_append")) ensureIvfIdxA()
    time("ivf_append") {
      SimilaritySearch.appendIvfIndex(ivfIdxA, vecDelta)
        .assigned.filter(col("vec_id") >= 900000000L).count()
    }
    var pqIdxA: SimilaritySearch.PqIndex = null
    def ensurePqIdxA(): Long = {
      if (pqIdxA == null)
        pqIdxA = SimilaritySearch.buildPqIndex(emb, "vec_id", "embedding",
          m = 8, k = 64)
      pqIdxA.codes.count()
    }
    time("pq_index_build") { ensurePqIdxA() }
    if (want("pq_append")) ensurePqIdxA()
    time("pq_append") {
      SimilaritySearch.appendPqIndex(pqIdxA, vecDelta, "embedding")
        .codes.filter(col("vec_id") >= 900000000L).count()
    }
    // Round 17: the append-vs-compact asymmetry, measured. Appends are
    // O(batch) — flat in factor above. Compact is the ONCE-PER-WINDOW
    // corpus rewrite (re-fit + re-materialize), so its reading GROWS
    // with factor BY DESIGN; the pair of curves is the amortized
    // lifecycle's evidence. cachedLeaves stripped on the throwaway copy
    // so the compact's lineage release can't unpersist the shared
    // harness index out from under later ops.
    if (want("ivf_compact")) ensureIvfIdxA()
    time("ivf_compact") {
      val app = SimilaritySearch.appendIvfIndex(
        ivfIdxA.copy(cachedLeaves = Nil), vecDelta, persist = false)
      SimilaritySearch.compactIvfIndex(app).assigned.count()
    }
    if (want("pq_compact")) ensurePqIdxA()
    time("pq_compact") {
      val app = SimilaritySearch.appendPqIndex(
        pqIdxA.copy(cachedLeaves = Nil), vecDelta, "embedding",
        persist = false)
      // the corpus frame, as the compact contract demands: the lake's
      // landed vectors including the appended batch
      SimilaritySearch.compactPqIndex(app,
        emb.select(col("vec_id"), col("embedding")).unionByName(vecDelta),
        "embedding").codes.count()
    }
    // Skew join, salted vs plain — the measurement behind q46. Hot key 0
    // owns 20% of events; broadcast and AQE's skew-split are disabled for
    // BOTH cases (the regime the salt exists for: a dim side past the
    // broadcast threshold, or a consumer that needs the join's hash
    // partitioning, where AQE cannot re-split). The plain join serializes
    // the hot key into ONE reduce task — its wall time tracks the hot
    // key's share and grows with factor; the salted join spreads it over
    // numSalts tasks and must not straggle.
    locally {
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevSkew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      try {
        val ev = events.withColumn("skew_key",
            when(pmod(col("user_id"), lit(5)) === 0, lit(0L))
              .otherwise(col("user_id")))
          .select(col("event_id"), col("skew_key"))
        val dim = ev.groupBy(col("skew_key"))
          .agg(count(lit(1)).as("key_events"))
        time("plain_join_hot") {
          ev.join(dim, Seq("skew_key")).count()
        }
        time("salted_join_hot") {
          graft.operators.JoinStrategies
            .saltedJoin(ev, dim, Seq("skew_key"), numSalts = 8).count()
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
      }
    }
    // The composed flagship: corpusBuild over the scaled corpus with
    // budget ∝ factor (a fixed budget would admit a shrinking prefix and
    // time only the selection window). Near-linear wall time here is the
    // product-level scale proof — each stage is individually linear, and
    // the composition must not reintroduce a corpus² join or a
    // doc_id-keyed corpus shuffle (Round7Spec pins the exchange ledger;
    // this case times it). Admitted tokens/packs grow exactly linearly:
    // per-language budgets fill, so output ≈ budget ∝ factor.
    time("corpus_build") {
      val (_, clusters) = PipelineShared.dupPairsAndClustersOf(docs)
      PipelineShared.corpusBuildFrom(docs, clusters, budget = 3000L * factor).count()
    }
    // The v2 composition (p13): adds the 13-gram decontamination stage and
    // the epoch-repeat tail to the same chain — the delta over
    // corpus_build must stay bounded by the gram probe (matches ∝ eval
    // population) plus a map-only explode.
    time("corpus_build_v2") {
      val (_, clusters) = PipelineShared.dupPairsAndClustersOf(docs)
      PipelineShared.corpusBuildV2From(docs, clusters, budget = 3000L * factor).count()
    }
    // The v3 composition (p16): v2 with the mixture stage swapped for the
    // target-mixture closed-form solve. Cost profile must match v2 — the
    // solve's token-sum aggregate replaces the doc-count aggregate on the
    // SAME lang-keyed exchange, so any superlinear delta here means the
    // stated-mixture stage added a corpus shuffle it must not have.
    time("corpus_build_v3") {
      val (_, clusters) = PipelineShared.dupPairsAndClustersOf(docs)
      PipelineShared.corpusBuildV3From(docs, clusters, budget = 3000L * factor).count()
    }
    // 13-gram decontamination with the PRODUCTION shape: the eval side is
    // a PINNED curated set (base-corpus eval split) while the train corpus
    // scales with factor — cost must be linear in the corpus (scan-side
    // n-gram explode + broadcast hash join; only matches shuffle).
    // Contamination stays pinned to the i=0 replica: the per-replica token
    // suffixing breaks every cross-replica 13-gram by construction, so a
    // growing match count would flag a perturbation bug, not a plan win.
    time("ngram_decontaminate") {
      // Every replica inherits its BASE doc's split (id mod the replica
      // offset), so the train side is all replicas of base-train docs and
      // never contains eval content verbatim.
      val evalSide = graft.sources.Sources.table(spark, dir, "documents")
        .withColumn("split", graft.operators.Sampling.assignSplit(col("doc_id")))
        .filter(col("split") =!= "train")
      val trainSide = docs
        .withColumn("split",
          graft.operators.Sampling.assignSplit(pmod(col("doc_id"), lit(10000000L))))
        .filter(col("split") === "train")
      graft.operators.Sampling.ngramContamination(
        trainSide.select(col("doc_id"), col("text"), col("split"))
          .unionAll(evalSide.select(col("doc_id"), col("text"), col("split"))),
        "doc_id", "text", "split", n = 13).count()
    }
    // p14 over the same production shape: the provenance report reads the
    // identical match stream from the eval side — its extra cost beyond
    // the drop list is the pair aggregate + per-eval window, both over
    // the MATCH population (pinned here, bounded by the eval suite in
    // production), so the curve must track ngram_decontaminate's.
    time("contamination_report") {
      val evalSide = graft.sources.Sources.table(spark, dir, "documents")
        .withColumn("split", graft.operators.Sampling.assignSplit(col("doc_id")))
        .filter(col("split") =!= "train")
      val trainSide = docs
        .withColumn("split",
          graft.operators.Sampling.assignSplit(pmod(col("doc_id"), lit(10000000L))))
        .filter(col("split") === "train")
      graft.operators.Sampling.contaminationProvenance(
        trainSide.select(col("doc_id"), col("text"), col("split"))
          .unionAll(evalSide.select(col("doc_id"), col("text"), col("split"))),
        "doc_id", "text", "split", n = 13).count()
    }
    // d15: the per-replica token perturbation breaks every cross-replica
    // 10-token run by construction (a suffixed token lands within any 10
    // consecutive positions), so pairs must scale ∝ factor (within-replica
    // only) and the doc-frequency cap bounds every gram bucket.
    time("exact_substr") {
      Dedup.exactSubstrPairs(docs, "doc_id", "text",
        k = 10, maxGramDocs = 256).count()
    }
    // d16: the apply step — span reconstruction + cleaned text on top of
    // the same gram machinery; within-replica duplicated runs only, so
    // both cost and cut rows must scale ∝ factor.
    time("exact_substr_apply") {
      Dedup.exactSubstrApply(docs, "doc_id", "text",
        k = 10, maxGramDocs = 256).count()
    }
    // t15 with the production shape: the seed gram table is PINNED (the
    // base corpus's src0 — a curated seed does not grow with the lake)
    // while the scored corpus scales; cost must be linear in the corpus
    // (scan-side shingles + broadcast membership probe + one-row-per-doc
    // aggregate).
    time("seed_overlap") {
      val seedGrams = graft.sources.Sources.table(spark, dir, "documents")
        .filter(col("source") === "src0")
      // Union so the operator sees one frame; replicas keep src0 content
      // perturbed, so only the i=0 replica matches the pinned seed fully.
      graft.operators.TextAnalysis.seedOverlapScore(
        docs.select(col("doc_id"), col("text"), lit("corpus").as("source"))
          .unionAll(seedGrams.select(col("doc_id") + lit(900000000L),
            col("text"), col("source"))),
        "doc_id", "text", col("source") === "src0").count()
    }
    // t16: every replica's planted docs carry the same 16-word banner, so
    // the flagged-line table stays tiny while the corpus scales; the
    // scrub (hash equi-join + per-doc rebuild) must be linear in the
    // corpus. Replica text perturbation does NOT break the banner (it is
    // prepended after scaling), so cut lines track planted docs 1:1.
    time("boilerplate_scrub") {
      val banner = "subscribe to our newsletter click here to accept " +
        "all cookies and terms of service today now"
      val d = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat_ws(" ", lit(banner), col("text")))
          .otherwise(col("text")).as("text"))
      graft.operators.TextAnalysis
        .scrubBoilerplate(d, "doc_id", "text", lineTokens = 16, minDocs = 4)
        .count()
    }
    // p17 with the production shape: the target (seed) corpus is PINNED
    // (base src0) while the scored raw corpus scales — model table stays
    // `buckets` rows, scoring is a broadcast probe + one-row-per-doc
    // aggregate, so the curve must be linear in the corpus like t15's.
    time("dsir_select") {
      val seed = graft.sources.Sources.table(spark, dir, "documents")
        .filter(col("source") === "src0")
        .select((col("doc_id") + lit(900000000L)).as("doc_id"),
          col("text"), col("source"))
      graft.operators.Sampling.dsirSelect(
        docs.select(col("doc_id"), col("text"), lit("corpus").as("source"))
          .unionAll(seed),
        "doc_id", "text", col("source") === "src0", n = 100).count()
    }
    // t17 with the production shape: the fit is BOUNDED on both sides
    // (curated seed pinned at base src0; the raw negatives a pinned-size
    // hash-sample of the scaled corpus) while SCORING covers the whole
    // corpus — the curve must be linear in the corpus like t15/p17's.
    time("quality_classifier") {
      val seedDocs = graft.sources.Sources.table(spark, dir, "documents")
        .filter(col("source") === "src0")
        .select((col("doc_id") + lit(900000000L)).as("doc_id"),
          col("text"), col("source"))
      val rawFit = docs
        .filter(pmod(xxhash64(col("doc_id")), lit(factor)) === 0)
        .select(col("doc_id"), col("text"), lit("corpus").as("source"))
      val clf = graft.operators.TextAnalysis.trainQualityClassifier(
        rawFit.unionAll(seedDocs), "doc_id", "text",
        isSeed = col("source") === "src0")
      graft.operators.TextAnalysis.scoreQualityClassifier(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", clf)
        .count()
    }
    // p15: the solve is arithmetic over |groups| rows; admission is a
    // map-side broadcast join — the curve must track the bare scan.
    time("target_mixture") {
      val d = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val targets = docs.select(col("source")).distinct()
        .withColumn("weight_bp", lit(500L))
      graft.operators.Sampling
        .targetMixture(d, "source", "doc_id", "n_tokens", targets).count()
    }
    // s10 IVF-PQ, split build/probe like the other index artifacts. The
    // BUILD is the offline job (m sampled KMeans fits + one encode pass;
    // sampleMod ∝ factor pins every fit size, nCells ∝ factor pins
    // per-cell population — the semantic_dedup scale knob), timed with
    // both halves materialized. The PROBE is what a query pays: nProbe
    // cells' candidates scored over 16-int code words via ADC lookups —
    // must stay near-flat as the corpus grows.
    var pqHalves: (SimilaritySearch.IvfIndex, SimilaritySearch.PqIndex) = null
    def ensurePqHalves(): Long = {
      if (pqHalves == null) {
        val normalized = emb.select(col("vec_id"),
          SimilaritySearch.l2normalizeCol(col("embedding")).as("__vn"))
        val ivf = SimilaritySearch.buildIvfIndex(normalized, "vec_id", "__vn",
          nCells = 16 * factor, sampleMod = factor)
        val pq = SimilaritySearch.buildPqIndex(normalized, "vec_id", "__vn",
          m = 16, k = 256, sampleMod = factor)
        pqHalves = (ivf, pq)
        // Cache fill charged to build — including the combined candidate
        // artifact the probes serve from (its corpus-sized id-join must
        // never run at probe time).
        ivf.assigned.count() + pq.codes.count() +
          SimilaritySearch.ivfPqCandidates(ivf, pq).count()
      } else 0L
    }
    time("ivf_pq_build") { ensurePqHalves() }
    // The assignment term isolated, flat vs hierarchical, same sizing
    // rule (nCells ∝ factor pins per-cell population, sampleMod ∝ factor
    // pins every fit size): flat assignment is n·nCells ⇒ ∝ factor²; the
    // two-level build locates a cell in ≈ 2√nCells kernels ⇒ ∝ factor^1.5.
    // The pair of curves is the before/after of ivf_pq_build's one
    // documented superlinear term.
    time("ivf_flat_build") {
      val normalized = emb.select(col("vec_id"),
        SimilaritySearch.l2normalizeCol(col("embedding")).as("__vn"))
      SimilaritySearch.buildIvfIndex(normalized, "vec_id", "__vn",
        nCells = 16 * factor, sampleMod = factor, persist = false)
        .assigned.count()
    }
    time("ivf_hier_build") {
      val normalized = emb.select(col("vec_id"),
        SimilaritySearch.l2normalizeCol(col("embedding")).as("__vn"))
      SimilaritySearch.buildIvfIndexHier(normalized, "vec_id", "__vn",
        nCells = 16 * factor, sampleMod = factor, persist = false)
        .assigned.count()
    }
    if (want("ivf_pq_probe")) ensurePqHalves()
    // The 10-row query batch materializes OUTSIDE the timed probe: a
    // serving path holds its queries in hand, while deriving them from
    // the replicated stress corpus costs a full corpus scan (with the
    // replica shift transform) per lineage execution — measured as ~all
    // of the old "probe" time at 32×, i.e. harness cost, not probe cost.
    lazy val pqProbeQueries = {
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"),
          SimilaritySearch.l2normalizeCol(col("embedding")).as("__qn"))
        .localCheckpoint()
      q.count()
      q
    }
    if (want("ivf_pq_probe")) { val _ = pqProbeQueries }
    time("ivf_pq_probe") {
      SimilaritySearch.probeIvfPq(pqHalves._1, pqHalves._2,
        pqProbeQueries, k = 3, nProbe = 4).count()
    }
    // LSH ANN with the AUTO-sized density (bits<=0): the s03 analogue of
    // embedding_dedup's auto evidence — the knob must size itself as the
    // corpus grows, at the denser top-k base point (6 bits × 8 tables).
    time("ann_lsh_auto") {
      SimilaritySearch.annTopK(emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 3, bits = 0).count()
    }
    // Epoch-weighted repeat: map-only by design (per-row arithmetic +
    // scan-side explode, zero shuffles) — cost and output must both be
    // exactly linear in the corpus.
    time("epoch_repeat") {
      val scored = docs.select(col("doc_id"),
        least(size(split(col("text"), " ")).cast("long") * 100L, lit(10000L))
          .as("w_bp"))
      graft.operators.Sampling
        .epochRepeat(scored, "doc_id", "w_bp", maxEpochs = 4).count()
    }
    // m05: frame demux + dHash fingerprint + capped hash-equi-join. The
    // planted re-encode slice is PINNED (base docs < 40, monotone byte
    // shift) while the corpus scales. Cost must be linear in the corpus
    // (flatMap demux + codegen'd hash + boilerplate-capped join). Pair
    // rows are NOT pinned: a 63-bit gradient-sign hash is perceptual by
    // design, so same-vocabulary frames collide across replicas and
    // buckets fill toward the frequency cap as the corpus grows — pair
    // fan-out stays bounded at C(cap, 2) per bucket by construction
    // (what the time curve, not the row count, must prove).
    time("perceptual_overlap") {
      val media = graft.multimodal.Multimodal.asMediaTable(docs)
      val planted = graft.multimodal.Multimodal.reencodeStub(
        media.filter(col("doc_id") < 40), shift = 1, idOffset = 1000000000L)
      val frames = graft.multimodal.Multimodal
        .sampleFrames(media.unionByName(planted), frameBytes = 64, stride = 4)
        .toDF()
        .select(col("doc_id"),
          graft.functions.DHash64.dhash64(col("frame")).as("fp"))
      graft.multimodal.Multimodal.frameOverlap(frames, "doc_id", "fp").count()
    }
    time("mips_topk") {
      SimilaritySearch.mipsTopK(emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 5).count()
    }
    time("bigram_census") {
      graft.operators.TextAnalysis.ngramTopK(docs, "text", n = 2, k = 50).count()
    }
    time("keyword_salience") {
      // Output rows = 3 × docs (linear by construction); the cost to watch
      // is the tf→df aggregation ladder + the GroupTopK tail.
      graft.operators.TextAnalysis
        .keywordSalience(docs, "doc_id", "text", k = 3).count()
    }
    time("lm_score") {
      // Model build (two aggregates) + scoring joins, all corpus-linear;
      // the vocab-bounded model tables are what keep the joins cheap.
      graft.operators.TextAnalysis
        .lmLikelihoodScore(docs, "doc_id", "text").count()
    }
    // p21 PRODUCTION shape: the reference set is pinned (base eval
    // split) and the train corpus scales — the probe is scan-side and
    // row-local, so its curve must be linear with zero shuffle growth.
    // The build scales the REFERENCE side instead (all replicas' eval
    // splits): linear in the reference set with the driver collect
    // bounded by the filter size, never the gram count.
    lazy val pinnedEvalGrams = {
      val evalSide = graft.sources.Sources.table(spark, dir, "documents")
        .withColumn("split", graft.operators.Sampling.assignSplit(col("doc_id")))
        .filter(col("split") =!= "train")
      graft.operators.Sampling.evalGramTable(evalSide, "doc_id", "text", 13)
        .localCheckpoint()
    }
    lazy val pinnedBloom =
      graft.operators.Sampling.buildBloomIndex(pinnedEvalGrams, "gram")
    time("bloom_build") {
      val evalScaled = docs
        .withColumn("split",
          graft.operators.Sampling.assignSplit(pmod(col("doc_id"), lit(10000000L))))
        .filter(col("split") =!= "train")
      val idx = graft.operators.Sampling.buildBloomIndex(
        graft.operators.Sampling.evalGramTable(evalScaled, "doc_id", "text", 13),
        "gram")
      idx.nItems
    }
    // Force the pinned filter OUTSIDE the timed probe/verify bodies (the
    // ensure-pattern: the artifact is build-once in production).
    if (want("bloom_probe") || want("bloom_verify")) { val _ = pinnedBloom }
    time("bloom_probe") {
      val trainScaled = docs
        .withColumn("split",
          graft.operators.Sampling.assignSplit(pmod(col("doc_id"), lit(10000000L))))
        .filter(col("split") === "train")
        .select(col("doc_id"),
          graft.operators.Sampling.wordNgrams(col("text"), 13).as("__gs"))
      trainScaled.select(col("doc_id"),
          graft.operators.Sampling.bloomContainsAny(pinnedBloom)(col("__gs"))
            .as("hit"))
        .filter(col("hit")).count()
    }
    // p22: the two-stage composition with the reference PINNED (both the
    // filter and the eval gram table — build-once artifacts in
    // production, the ensure-pattern): the verify join's probe side is
    // the flagged sliver (leaks + sized FP, both pinned), so the curve
    // must be LINEAR in the corpus at ~1× the bloom_probe constant.
    // Round 11 measured exactly 2× per doubling — predicate pushdown
    // re-inlined the gram HOF across the flag boundary; the round-12
    // flagged-sliver checkpoint pins the HOF to one evaluation per
    // corpus row (re-measured ~1.1× bloom_probe at 8×–32× once the
    // pinned eval-gram build moved out of the timed body).
    if (want("bloom_verify")) { val _ = pinnedEvalGrams }
    time("bloom_verify") {
      val trainScaled = docs
        .withColumn("split",
          graft.operators.Sampling.assignSplit(pmod(col("doc_id"), lit(10000000L))))
        .filter(col("split") === "train")
      graft.operators.Sampling.bloomVerifiedContamination(
        trainScaled, "doc_id", "text", pinnedBloom, pinnedEvalGrams).count()
    }
    // d25: host population grows with the corpus (buckets ∝ factor — the
    // real-web regime: more data means more hosts, per-host size roughly
    // stable), so GroupTopK's k-bounded shuffle must stay ∝ hosts and
    // the scan ∝ corpus.
    time("host_cap") {
      val scored = docs.select(col("doc_id"), col("source"),
          graft.operators.TextAnalysis.words(col("text")).as("ws"))
        .select(col("doc_id"), col("source"),
          size(col("ws")).cast("long").as("quality_bp"))
        .withColumn("host", concat(col("source"), lit("/"),
          graft.operators.Sampling.hashBucket(col("doc_id"), 10 * factor)
            .cast("string")))
      graft.plans.GroupTopK.topK(
        scored.select(col("doc_id"), col("host"), col("quality_bp")),
        groupCols = Seq("host"),
        orderBy = Seq(col("quality_bp").desc, col("doc_id")), k = 3).count()
    }
    // p20: distributed TakeOrdered over a scan-side key — linear, k pinned.
    time("weighted_reservoir") {
      graft.operators.Sampling.weightedReservoir(
        docs.select(col("doc_id"),
          (length(col("text")) + 1L).as("w")), "doc_id", "w", k = 100).count()
    }
    // t21/t22: row-local HOFs — pure scan CPU, no shuffle at any factor.
    time("char_diversity") {
      graft.operators.TextAnalysis.charDiversity(docs, "doc_id", "text")
        .filter(col("low_diversity")).count()
    }
    time("code_detect") {
      graft.operators.TextAnalysis.codeSignals(docs, "doc_id", "text")
        .filter(col("is_code")).count()
    }
    // s13 at scale runs the AUTO-SIZED LSH (bits grow with the corpus to
    // hold bucket density ~constant — the ann_lsh_auto knob), so the
    // bucket self-join's candidate count stays ∝ n, never n²/buckets.
    time("knn_graph_auto") {
      SimilaritySearch.annTopK(emb, "vec_id", "embedding",
        isQuery = lit(true), k = 3, bits = 0).count()
    }
    // s14/s15's consumer path: dedup + components read a BUILT graph's
    // edges only (k·n 24-byte triples) — the build is knn_graph_auto's
    // curve; this one must be linear in edges with zero vector work.
    lazy val builtGraph = SimilaritySearch.buildKnnGraph(
      emb, "vec_id", "embedding", k = 3, bits = 0)
    if (want("graph_dedup") || want("graph_components")) { val _ = builtGraph }
    time("graph_dedup") {
      SimilaritySearch.knnGraphDedup(builtGraph, threshold = 0.95).count()
    }
    time("graph_components") {
      val pairs = builtGraph.edges.filter(col("cos") >= 0.95)
        .select(least(col("src"), col("dst")).as("a_id"),
          greatest(col("src"), col("dst")).as("b_id"))
        .distinct()
      graft.operators.Dedup.connectedComponents(pairs, "a_id", "b_id").count()
    }
    // The 2-shard probe's only delta over bloom_probe is one extra
    // 64-bit hash per gram (the shard draw) — the curve must track
    // bloom_probe within noise at every factor.
    lazy val pinnedTwoShardBloom = graft.operators.Sampling
      .buildBloomIndex(pinnedEvalGrams, "gram", nShards = 2)
    if (want("sharded_bloom_probe")) { val _ = pinnedTwoShardBloom }
    time("sharded_bloom_probe") {
      val trainScaled = docs
        .withColumn("split",
          graft.operators.Sampling.assignSplit(pmod(col("doc_id"), lit(10000000L))))
        .filter(col("split") === "train")
        .select(col("doc_id"),
          graft.operators.Sampling.wordNgrams(col("text"), 13).as("__gs"))
      trainScaled.select(col("doc_id"),
          graft.operators.Sampling
            .bloomContainsAny(pinnedTwoShardBloom)(col("__gs")).as("hit"))
        .filter(col("hit")).count()
    }
    // t24: row-local regex counting like char_diversity — pure scan CPU.
    // Planted POSITIVE anomalies ∝ factor (the round-12 wrong-list: rows
    // were 0 at every factor, so only the no-match scan path was ever
    // stress-measured): every 97th doc per replica gains the classic
    // UTF-8-as-Latin-1 digraphs plus a U+FFFD, so the strip-digest
    // rebuild runs against genuine matches and the row curve must grow
    // linearly with the corpus.
    time("mojibake") {
      // Checkpointed: the planted sliver is ~1% of the corpus \u2014 one scan
      // builds it, the union then costs corpus + sliver, not 2x corpus.
      val planted = docs.filter(pmod(col("doc_id"), lit(97L)) === 0L)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"),
            lit(" caf\u00c3\u00a9 na\u00c3\u00afve \ufffd")).as("text"))
        .localCheckpoint()
      graft.operators.TextAnalysis.encodingSignals(
        docs.select(col("doc_id"), col("text")).unionAll(planted),
        "doc_id", "text")
        .filter(col("is_suspect")).count()
    }
    // d26: one map-side-combined aggregate + a broadcast verdict join; the
    // replica suffixing perturbs templates, so organic cluster populations
    // stay bounded. Planted templated CLUSTERS ∝ factor (same round-12
    // wrong-list): every 101st doc per replica spawns three copies whose
    // only differences are digit runs — identical structural hash, so each
    // seed yields a genuine 3-cluster, the verdict join has real fan-in,
    // and dropped rows (2 per seed) must scale linearly.
    time("template_dedup") {
      // Seeds checkpointed for the same reason: three copy branches would
      // otherwise each re-run the full replica transform.
      val seeds = docs.filter(pmod(col("doc_id"), lit(101L)) === 0L)
        .select(col("doc_id"), col("text")).localCheckpoint()
      val copies = (1 to 3).map { v =>
        seeds.select((col("doc_id") + lit(6000000L + v * 1000000L)).as("doc_id"),
          concat(col("text"), lit(" order "), (col("doc_id") * v).cast("string"),
            lit(" total "), (col("doc_id") + v).cast("string")).as("text"))
      }.reduce(_ unionAll _)
      graft.operators.Dedup.templateDedup(
        docs.select(col("doc_id"), col("text")).unionAll(copies),
        "doc_id", "text")
        .filter(!col("keep")).count()
    }
    // m09/m10 (round 14): REAL codec round-trips — render every doc as a
    // genuine BMP/WAV, decode it back, reduce the features. Map-only by
    // construction (the payload never leaves its scan task), so the curve
    // must track the corpus exactly linearly; any bend would mean decode
    // cost escaping the scan stage.
    time("bmp_decode") {
      val M = graft.multimodal.Multimodal
      M.decodedImageMeta(M.renderBmpTable(
          docs.filter(length(col("text")) >= 1), width = 25, height = 16))
        .toDF().agg(sum(col("blue_sum"))).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    time("wav_decode") {
      val M = graft.multimodal.Multimodal
      M.decodedAudioMeta(M.renderWavTable(docs.filter(length(col("text")) >= 1)))
        .toDF().agg(sum(col("energy"))).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    // m11: decoded-domain perceptual dedup — per-row fingerprints from
    // decoded pixels, then the capped frameOverlap. The replica suffix
    // perturbs pixel rows between replicas, so the pair population stays
    // per-replica and the band cap bounds any boilerplate row pattern.
    time("bmp_variant_dedup") {
      val M = graft.multimodal.Multimodal
      val base = docs.filter(length(col("text")) >= 1)
      val orig = M.renderBmpTable(base, width = 25, height = 16)
      val variants = M.renderBmpTable(
        base.filter(pmod(col("doc_id"), lit(40L)) === 0L),
        width = 25, height = 16, topDown = true, idOffset = 5000000L)
      M.frameOverlap(M.decodedRowFingerprints(orig.unionByName(variants)),
        "doc_id", "row_fp", maxFrameDocs = 16).count()
    }
    // m14 (round 15): the compressed-codec round-trip — render every doc
    // as a real zlib'd PNG (filters cycling, RGBA on even ids), decode,
    // reduce the features. Same map-only shape as bmp_decode, so the
    // curve must stay linear; deflate+inflate cost rides the scan task.
    time("png_decode") {
      val M = graft.multimodal.Multimodal
      M.decodedPngMeta(M.renderPngTable(
          docs.filter(length(col("text")) >= 1), width = 25, height = 16))
        .toDF().agg(sum(col("blue_sum"))).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    // m15: cross-codec dedup — every 40th doc re-encoded as a compressed
    // PNG, paired with its BMP original through decoded-domain row
    // fingerprints (the m11 topology with a zlib stage inside the probe).
    time("cross_codec_dedup") {
      val M = graft.multimodal.Multimodal
      val base = docs.filter(length(col("text")) >= 1)
      val bmps = M.renderBmpTable(base, width = 25, height = 16)
      val pngs = M.renderPngTable(
        base.filter(pmod(col("doc_id"), lit(40L)) === 0L),
        width = 25, height = 16, idOffset = 5000000L)
      M.frameOverlap(M.decodedRowFingerprints(bmps.unionByName(pngs)),
        "doc_id", "row_fp", maxFrameDocs = 16).count()
    }
    // m16: the lossy audio round-trip — every doc's PCM folded through
    // G.711 μ-law and expanded back; features read the quantized samples.
    // Map-only like wav_decode; the companding tables are pure integer
    // math inside the scan task, so the curve must stay linear.
    time("mulaw_decode") {
      val M = graft.multimodal.Multimodal
      M.decodedAudioMeta(M.renderMulawWavTable(
          docs.filter(length(col("text")) >= 1)))
        .toDF().agg(sum(col("energy"))).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    // m17: the LZW container — render every doc as a real GIF89a (even
    // ids interlaced), decode through the variable-width code unpack +
    // de-interlace + palette lookup. Same map-only shape as png_decode.
    time("gif_decode") {
      val M = graft.multimodal.Multimodal
      M.decodedGifMeta(M.renderGifTable(
          docs.filter(length(col("text")) >= 1), width = 25, height = 16))
        .toDF().agg(sum(col("blue_sum"))).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    // m18: tri-codec dedup — every 40th doc re-encoded as an LZW GIF,
    // paired with its BMP original through decoded-domain fingerprints
    // (the m15 topology with the GIF stage inside the probe).
    time("tri_codec_dedup") {
      val M = graft.multimodal.Multimodal
      val base = docs.filter(length(col("text")) >= 1)
      val bmps = M.renderBmpTable(base, width = 25, height = 16)
      val gifs = M.renderGifTable(
        base.filter(pmod(col("doc_id"), lit(40L)) === 0L),
        width = 25, height = 16, idOffset = 5000000L)
      M.frameOverlap(M.decodedRowFingerprints(bmps.unionByName(gifs)),
        "doc_id", "row_fp", maxFrameDocs = 16).count()
    }
    // t25/t26: BPE learn-then-apply — the fit reads a top-100 word table
    // (bounded collect); application is one codegen'd projection (regexp
    // word split + 8 literal replaces), zero shuffles beyond the word
    // census. Train re-runs per factor here (the census scales with the
    // corpus; in queries it's memoized per session+dir).
    time("bpe_apply") {
      val TA = graft.operators.TextAnalysis
      val ms = TA.bpeTrain(docs, "text", topWords = 100, merges = 8)
      TA.bpeApply(docs, "doc_id", "text", ms)
        .agg(sum(col("n_tokens"))).collect()
      docs.count()
    }
    // m21: frame-sample over animated GIFs — 3–5 frames per doc, every
    // 2nd kept; decode + per-frame features ride the scan task (map-only),
    // output rows ≈ 2·docs.
    time("gif_frame_sample") {
      val M = graft.multimodal.Multimodal
      M.sampleGifFrames(M.renderGifAnimTable(
          docs.filter(length(col("text")) >= 1), width = 25, height = 16),
          stride = 2)
        .toDF().agg(sum(col("blue_sum"))).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    // m22: the resize verb — decode + box-average + nearest-neighbor per
    // doc, all inside the scan task (map-only).
    time("resize") {
      val M = graft.multimodal.Multimodal
      M.resizedImageMeta(M.renderBmpTable(
          docs.filter(length(col("text")) >= 1), width = 25, height = 16),
          boxW = 5, boxH = 4, nnW = 8, nnH = 8)
        .toDF().agg(sum(col("box_sum"))).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    // m19: the lossy image round-trip — render every doc as a real
    // baseline JPEG (Huffman + zigzag + stuffing + restarts on even ids),
    // decode through the fixed-point IDCT, reduce the features. Map-only
    // like png_decode: the 64×64 payload and the entropy coding both ride
    // the scan task, so the curve must stay linear.
    time("jpeg_decode") {
      val M = graft.multimodal.Multimodal
      M.decodedJpegMeta(M.renderJpegTable(docs.filter(length(col("text")) >= 1)))
        .toDF().agg(sum(col("gray_sum"))).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    // m28: PROGRESSIVE JPEG render+decode — the round-16 multi-scan
    // coefficient-store path (even ids also 4:2:0). Map-only like
    // jpeg_decode: encode precomputes per-block coefficients, decode
    // walks one DC + per-component AC scans.
    time("progressive_decode") {
      val M = graft.multimodal.Multimodal
      M.decodedProgressiveMeta(M.renderProgressiveJpegTable(
          docs.filter(length(col("text")) >= 1)))
        .toDF().agg(sum(col("gray_sum"))).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    // m29: EXIF-oriented variant render + orientation-NORMALIZED decode —
    // map-only both sides (one encode + one decode + one 64×64 transform
    // per doc), the m19/m28 cost shape.
    time("exif_orient_decode") {
      val M = graft.multimodal.Multimodal
      val base = docs.filter(length(col("text")) >= 1)
      // sum the SMALL column: dhash is 56-bit and a corpus sum overflows
      // a long under ANSI; the typed mapPartitions computes every field
      // regardless (no pruning into the JVM function), so the decode +
      // transform + dhash cost is identical
      M.decodedOrientedDHash(
          M.renderOrientedJpegTable(base, idOffset = 20000000L),
          idOffset = 20000000L)
        .toDF().agg(sum(col("orientation"))).collect()
      base.count()
    }
    // m30: MJPEG-AVI render + stride-2 frame sampling — ~3 JPEG encodes
    // and ~1.7 frame decodes per doc (skipped frames never decode);
    // map-only, partition-parallel, the heaviest codec op per row.
    time("avi_frame_sample") {
      val M = graft.multimodal.Multimodal
      M.decodedAviFrameMeta(M.renderAviTable(
          docs.filter(length(col("text")) >= 1)), stride = 2)
        .toDF().agg(sum(col("gray_sum"))).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    // m27: the 10-class admission mix through the real gate transform —
    // every payload genuinely decoded scan-side (incl. every AVI frame),
    // one 9-row aggregate.
    time("admission_report") {
      MultimodalQueries.admissionReport(docs.filter(length(col("text")) >= 1)).collect()
      docs.filter(length(col("text")) >= 1).count()
    }
    // m20: lossy-variant near-dup — every 40th doc re-encoded at
    // quantizer scale 2, candidates through 4×14-bit LSH bands over the
    // decoded dHash (bucket cap 16), Hamming ≤ 4 verdict. The banded
    // join is the s-family topology; decode cost rides the scan.
    time("lossy_variant_dedup") {
      val M = graft.multimodal.Multimodal
      val base = docs.filter(length(col("text")) >= 1)
      val q1 = M.renderJpegTable(base)
      val q2 = M.renderJpegTable(
        base.filter(pmod(col("doc_id"), lit(40L)) === 0L),
        qscale = 2, idOffset = 5000000L)
      // One decode pass (the m20 justified checkpoint): without it the
      // render+decode lineage replays per self-join branch.
      val h = M.decodedDHash(q1.unionByName(q2))
        .select(col("doc_id"), col("dhash")).localCheckpoint()
      MultimodalQueries.dhashBandPairs(h).count()
    }
    // q55: windowed distinct with a ROWS frame — state is O(frame) per
    // row; the exchange is the user_id hash partition, linear in events.
    time("window_distinct") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-9, 0)
      events.select(col("event_id"),
          size(array_distinct(collect_list(col("event_type")).over(w))).as("d"))
        .agg(sum(col("d"))).collect()(0).getLong(0)
    }
    // Round 18: s20's delete-at-probe — a 0.1%-of-corpus tombstone set
    // against FIXED queries. The deletion is a broadcast anti-join folded
    // into the probe's corpus scan, so this curve must TRACK the plain
    // probe's (linear corpus scan), not add to it — growth beyond that
    // would flag the anti-join shuffling or the tombstone set collapsing
    // the map-side filter.
    if (want("ivf_delete_probe")) ensureIvfIdxA()
    time("ivf_delete_probe") {
      val del = ivfIdxA.copy(cachedLeaves = Nil)
        .delete(emb.filter(pmod(col("vec_id"), lit(1000)) === 3)
          .select(col("vec_id")))
      SimilaritySearch.probeIvf(del, col("vec_id") < 10, k = 3,
        nProbe = 4).count()
    }
    // m34: cross-codec video variant dedup — corpus + MJPEG re-encodes of
    // 20-per-replica DIB videos through the per-frame band census and the
    // full-sequence max-Hamming verdict. Codec CPU rides the scan
    // (map-only, the avi_frame_sample shape); the band machinery joins a
    // tiny (doc, frame, dhash) table with capped buckets.
    time("video_variant_dedup") {
      val M = graft.multimodal.Multimodal
      val base = docs.filter(length(col("text")) >= 1)
      val variants = M.renderAviMjpegVariantTable(
        base.filter(pmod(col("doc_id"), lit(10000000L)) < 40 &&
          pmod(col("doc_id"), lit(2)) === 1),
        idOffset = 700000001L)
      val h = M.decodedAviFrameMeta(M.renderAviTable(base), stride = 2)
        .toDF().select(col("doc_id"), col("n_frames"), col("frame_idx"),
          col("dhash"))
        .unionByName(M.decodedAviFrameMeta(variants, stride = 2).toDF()
          .select(col("doc_id"), col("n_frames"), col("frame_idx"),
            col("dhash")))
        .localCheckpoint()
      MultimodalQueries.aviFrameBandPairs(h).count()
    }
    // m35: ingest video-dup probe — the corpus fingerprint artifact
    // builds UNTIMED (its cost is avi_frame_sample's curve); the timed
    // op is a FIXED delta (replica-0 re-uploads) rendered + kernel-
    // fingerprinted and equi-joined against the GROWING corpus table.
    // Flat-in-factor is the probe-tracks-the-batch evidence.
    var videoCorpusFp: DataFrame = null
    def ensureVideoCorpusFp(): Long = {
      val M = graft.multimodal.Multimodal
      if (videoCorpusFp == null)
        videoCorpusFp = M.aviMetaFingerprints(
          M.decodedAviFrameMeta(M.renderAviTable(
            docs.filter(length(col("text")) >= 1)), stride = 2).toDF())
          .localCheckpoint()
      videoCorpusFp.count()
    }
    if (want("video_fp_probe")) ensureVideoCorpusFp()
    time("video_fp_probe") {
      val M = graft.multimodal.Multimodal
      ensureVideoCorpusFp()
      val spark2 = spark
      import spark2.implicits._
      val delta = M.renderAviTable(
          docs.filter(length(col("text")) >= 1 &&
            col("doc_id") < 10000000L &&
            pmod(col("doc_id"), lit(10)) === 7))
        .map(r => r.copy(doc_id = r.doc_id + 800000000L))
      M.videoFpProbe(M.decodedVideoFingerprints(delta, stride = 2),
        videoCorpusFp).count()
    }
    // m36: the TOLERANT video probe — a FIXED delta of lossy MJPEG
    // re-uploads band-probing the growing corpus frame artifact (built
    // untimed; its curve is avi_frame_sample's). The capped band join +
    // sequence verdict must stay flat-ish like video_fp_probe: growth
    // beyond the corpus-side band-table scan would flag uncapped
    // fan-out.
    var videoCorpusMeta: DataFrame = null
    def ensureVideoCorpusMeta(): Long = {
      val M = graft.multimodal.Multimodal
      if (videoCorpusMeta == null)
        videoCorpusMeta = M.decodedAviFrameMeta(M.renderAviTable(
            docs.filter(length(col("text")) >= 1)), stride = 2).toDF()
          .select(col("doc_id"), col("n_frames"), col("frame_idx"),
            col("dhash"))
          .localCheckpoint()
      videoCorpusMeta.count()
    }
    if (want("video_band_probe")) ensureVideoCorpusMeta()
    time("video_band_probe") {
      val M = graft.multimodal.Multimodal
      ensureVideoCorpusMeta()
      val deltaMeta = M.decodedAviFrameMeta(
          M.renderAviMjpegVariantTable(
            docs.filter(length(col("text")) >= 1 &&
              col("doc_id") < 10000000L &&
              pmod(col("doc_id"), lit(2)) === 1 &&
              pmod(col("doc_id"), lit(10)) === 7),
            idOffset = 850000001L), stride = 2).toDF()
        .select(col("doc_id"), col("n_frames"), col("frame_idx"),
          col("dhash"))
        .localCheckpoint()
      M.videoBandProbe(deltaMeta, videoCorpusMeta).count()
    }
    // p24: the composed admission chain (quality → blocklist →
    // corpus-exact-dup) over the %10 = 7 delta, report aggregate on top.
    // Both populations grow with factor; every stage is scan-side or an
    // id/fingerprint equi-join, so the curve must stay linear.
    time("admission_pipeline") {
      SamplingQueries.admissionPipeline(docs)
        .agg(sum(col("n_docs"))).collect()(0).getLong(0)
    }
    time("semantic_dedup") {
      // nCells grows ∝ factor so per-cell population (and so the
      // within-cell quadratic work) stays constant — the SemDeDup scale
      // knob; sampleMod ∝ factor keeps the KMeans fit size constant too.
      // HIER build: the flat build's n·nCells assignment term is ∝ n²
      // under this sizing rule (the documented ivf_flat_build curve) and
      // was most of this op's 22.9 s at 32× — the two-level quantizer is
      // the declared scale path, so the scale harness must use it.
      val base = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val index = SimilaritySearch.buildIvfIndexHier(base, "vec_id", "v",
        nCells = 16 * factor, sampleMod = factor)
      try SimilaritySearch.semanticDedup(index, 0.95).count()
      finally index.unpersist()
    }
    spark.stop()
  }
}
