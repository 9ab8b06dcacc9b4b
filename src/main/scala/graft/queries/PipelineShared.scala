package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.artifacts.{ArtifactStore, Leaves}
import graft.operators.{Dedup, Packing, Sampling, SimilaritySearch, TextAnalysis => TA}
import graft.sources.Sources

/** Shared machinery of the LLM-training-data pipeline registries
  * ([[DedupQueries]] / [[SimilarityQueries]] / [[TextQueries]] /
  * [[SamplingQueries]] / [[MultimodalQueries]]): the builders of the
  * per-(session, dir) artifacts memoized in [[ArtifactStore]] (pair/cluster
  * frames, survivors chain, DSIR model, quality classifier, bloom, kNN,
  * line-set and media indexes), the composed corpus-build
  * stages, and the SQL fragments the family oracles share. Since round 11
  * every query in the inventory carries a DuckDB oracle — the sketch/ANN
  * ops through banded claims (recall floors, planted-twin membership,
  * decision-boundary sides) whose exact payloads DuckDB recomputes
  * verbatim; ScalaTest keeps the stronger planted-structure ground truth.
  */
private[graft] object PipelineShared {

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "documents")
  private[queries] def emb(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "embeddings")

  /** Per-bucket population ceiling for the shipped d03 pair generator.
    * Within-bucket pairs grow quadratically with bucket size, and the
    * length-blocking key puts no ceiling on the population — a corpus of
    * identically-sized boilerplate silently degenerates to all-pairs. The
    * cap truncates each bucket to its first 256 docs by id (≤ ~32k
    * merge-walks per bucket), mirrored verbatim in [[D03Sql]]'s QUALIFY so
    * the capped form stays hash-exact against the oracle. 256 leaves
    * sf0.01 (max bucket 58) untouched and truncates sf0.1's hottest bucket
    * (557) — the bench measures the skew-safe production form. */
  private[graft] val D03BucketCap = 256

  /** The d03 pair set + connected components, memoized in
    * [[ArtifactStore]]. Five reports share this frame (d03/d07/d09/d10/
    * d11/d12 all start from the same pairs, and four of them from the same
    * clustering); at 100 TB nobody re-clusters the corpus per report, so
    * the engine must not either: detect + cluster ONCE, read many.
    *
    * Both frames are localCheckpoint-materialized (connectedComponents
    * already returns a checkpointed frame; the pairs are checkpointed
    * here), so every downstream report reads computed blocks instead of
    * re-running the quadratic merge-walk + iterative clustering. */
  private[graft] def dupPairsAndClusters(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ArtifactStore.get("dup_pairs_clusters", s, dir)(dupPairsAndClustersOf(docs(s, dir)))

  /** The unmemoized body of [[dupPairsAndClusters]] over any docs frame. */
  private[graft] def dupPairsAndClustersOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "n_chars",
        threshold = 0.2, maxBucketSize = Some(D03BucketCap))
      .localCheckpoint()
    (pairs, Dedup.connectedComponents(pairs, "a_id", "b_id"))
  }

  /** The memoized ([[ArtifactStore]]) dedup-survivors frame — the
    * s1→s2→split prefix that BOTH composed corpus builds (p10 and p13)
    * start from: quality gate, near-dup cluster drop, token count, split
    * stamp, one localCheckpoint. Round 8 built this twice per bench session
    * (once per composed build, byte-identical blocks both times); at 100 TB
    * the deduped corpus is THE artifact a pipeline persists between its
    * dedup and assembly phases, and nobody materializes it once per
    * downstream consumer. The bench prices the build in `warmup_build` —
    * sharing must show as an explicit one-time cost, never a silent
    * per-query win. */
  private[graft] def memoizedDedupSurvivors(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.get("dedup_survivors", s, dir) {
      dedupSurvivorsWithSplit(docs(s, dir), dupPairsAndClusters(s, dir)._2)
    }

  /** The memoized ([[ArtifactStore]]) decontaminated + quality-scored
    * survivors — the [[memoizedDedupSurvivors]] pattern one stage later:
    * the p03/p11 anti-joins and the quality scan are IDENTICAL in the v2
    * and v3 composed builds (they differ only from the mixture on), so
    * the engine decontaminates once and both builds read the artifact —
    * at 100 TB the decontaminated corpus is the persisted inter-phase
    * handoff, not a per-build re-derivation. */
  private[graft] def memoizedDecontamSurvivors(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.get("decontam_scored", s, dir) {
      decontaminatedScoredSurvivors(memoizedDedupSurvivors(s, dir)).localCheckpoint()
    }

  /** The p17 DSIR model, memoized in [[ArtifactStore]] (it is the
    * build half of the build/apply split — one corpus-wide gram census
    * that the scoring probe should pay once per corpus, not once per
    * call). Its weights live on the driver, so a repeat score builds its
    * plan without running a job. */
  private[queries] def memoizedDsirModel(s: SparkSession,
                                dir: String): graft.operators.Sampling.DsirModel =
    ArtifactStore.get("dsir_model", s, dir) {
      graft.operators.Sampling.dsirModelTable(
        docs(s, dir), "text",
        isTarget = col("source") === "src0", buckets = 1024)
    }

  /** t17's planted-seed vocabulary (the QualityClassifierSpec
    * construction over the real corpus): 6 marker words absent from the
    * synthetic raw vocabulary; each planted seed doc is 12 words cycling
    * the vocabulary from a doc_id-derived offset. Deterministic and
    * DuckDB-recomputable — the whole point. */
  private[graft] val T17MarkerVocab =
    Seq("qalpha", "qbeta", "qgamma", "qdelta", "qepsilon", "qzeta")

  /** The 40 planted seed docs (ids +400000 so they never collide with a
    * corpus id): the synthetic corpus has NO naturally separable "seed"
    * source (measured: per-source mean quality differs by < 0.001), so —
    * the d06/s05/s10 convention — the separability signal is planted,
    * and the oracle recomputes the construction verbatim. */
  private[queries] def t17PlantedSeeds(s: SparkSession, dir: String): DataFrame = {
    val marker = array(T17MarkerVocab.map(lit): _*)
    docs(s, dir).filter(col("doc_id") < 40).select(
      (col("doc_id") + 400000L).as("doc_id"),
      array_join(transform(sequence(lit(0), lit(11)),
        i => element_at(marker,
          (pmod(i + pmod(col("doc_id"), lit(6)), lit(6)) + 1).cast("int"))),
        " ").as("text"))
  }

  /** The t17 trained classifier, memoized in [[ArtifactStore]] — the
    * [[memoizedDsirModel]] convention (train once on the driver, score
    * many without a job). Trained
    * on a BALANCED
    * fit set (40 planted seeds vs the first 40 raw docs): with the
    * 40-vs-500 imbalance the logistic bias drags every score under 0.15
    * and the 0.5 decision boundary is meaningless; balanced, the planted
    * vocabulary separates at 0.5 with wide margins (measured seed min
    * 0.628 / raw max 0.403 at every SF). */
  private[queries] def memoizedQualityClf(s: SparkSession, dir: String)
      : graft.operators.TextAnalysis.QualityClassifier =
    ArtifactStore.get("quality_clf", s, dir) {
      val fitInput = docs(s, dir).filter(col("doc_id") < 40)
        .select(col("doc_id"), col("text"))
        .unionByName(t17PlantedSeeds(s, dir))
      graft.operators.TextAnalysis.trainQualityClassifier(
        fitInput, "doc_id", "text",
        isSeed = col("doc_id") >= 400000L, buckets = 1024)
    }

  /** Round 10: the ExactSubstr family's APPLY step. */
  /** Exactly 16 words — one full line at the t16 window width, so the
    * planted banner IS line 0 and the original windows stay aligned
    * behind it. The oracle interpolates the same constant. */
  private[queries] val BoilerplateBanner =
    "subscribe to our newsletter click here to accept all cookies and terms of service today now"

  /** Exactly 16 words — one full line at the d22 window width (the
    * [[BoilerplateBanner]] alignment argument), but planted at a rate
    * (doc_id % 9 = 4) BELOW t16's document-frequency threshold family so
    * the two planted populations stay distinguishable in the bench. */
  private[queries] val ParagraphBanner =
    "this exact same paragraph appears at the top of many crawled pages in the raw dump"

  /** One email + one phone + one IPv4, appended to docs ≡ 5 (mod 11) —
    * the t23 planted PII payload (the corpus itself is digit-free, so
    * every match is planted and every other doc must scrub clean). The
    * oracle interpolates the same constant. */
  private[queries] val PiiPayload =
    " contact me at user5@example.com or +1 555-123-4567 from 10.0.0.5"

  /** The t24 planted encoding accident, appended to docs ≡ 7 (mod 13):
    * four classic UTF-8-as-Latin-1 mojibake digraphs (café's é, a left
    * and a right curly quote, an NBSP), one U+FFFD replacement char and
    * one raw BEL control — the ASCII corpus contains none of these
    * codepoints, so every count is planted and every other doc must read
    * clean. The oracle interpolates the same constant. */
  private[queries] val MojibakePayload =
    " caf\u00c3\u00a9 \u00e2\u0080\u0098mis\u00e2\u0080\u0099 nb\u00c2\u00a0sp x\ufffdy bell\u0007end"

  /** 25 tokens, 14 fully-symbolic, 1 numeric — sym_bp = 5600, num_bp =
    * 400: a C-style token stream far above t22's 1500 bp code floor
    * while every natural doc in the corpus sits at 0. The oracle plants
    * the identical constant. */
  private[queries] val CodeTokenStream =
    "for ( i = 0 ; i < n ; i ++ ) { acc += arr [ i ] ; } return acc ;"

  /** The memoized ([[ArtifactStore]]) eval-side GRAM TABLE (eval_id,
    * gram) over 13-grams of the non-train splits — the reference-set
    * artifact BOTH bloom ops and their exact twins read (in production it
    * is derived once from the curated benchmark suite and persisted beside
    * the filter). Round 11 re-ran the eval-side scan + gram HOF + explode
    * inside EVERY p21/p22 execution; checkpointing it here turns those
    * runs into probes of computed blocks. */
  private[queries] def memoizedEvalGrams(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.get("eval_grams", s, dir) {
      val withSplit = docs(s, dir).withColumn("split",
        Sampling.assignSplit(col("doc_id")))
      // spread: the gram HOF over the eval slice would otherwise run on
      // the compact scan's single partition (the d03 scan-layout lesson)
      Sampling.evalGramTable(
        Dedup.spreadToParallelism(
          withSplit.filter(col("split") =!= "train")),
        "doc_id", "text", n = 13)
        .localCheckpoint()
    }

  /** The memoized ([[ArtifactStore]]) eval-side [[Sampling.BloomIndex]]
    * over 13-grams of the non-train splits — the p21 probe artifact. */
  private[queries] def memoizedBloomIndex(s: SparkSession, dir: String): Sampling.BloomIndex =
    ArtifactStore.get("bloom_index", s, dir) {
      Sampling.buildBloomIndex(memoizedEvalGrams(s, dir), "gram")
    }

  /** The memoized ([[ArtifactStore]]) 2-shard [[Sampling.BloomIndex]]
    * over the same eval gram table as [[memoizedBloomIndex]] — p23's
    * probe artifact (the past-2³⁰-bits lifecycle exercised end-to-end at
    * bench scale: same grams, same k, the shard draw the only
    * difference). */
  private[queries] def memoizedTwoShardBloom(s: SparkSession,
                                             dir: String): Sampling.BloomIndex =
    ArtifactStore.get("bloom_sharded", s, dir) {
      Sampling.buildBloomIndex(memoizedEvalGrams(s, dir), "gram", nShards = 2)
    }

  /** The memoized ([[ArtifactStore]]) [[SimilaritySearch.KnnGraph]] over
    * the s05-convention twinned embedding corpus (byte-identical copies of
    * the first 10 vectors under ids +100000) — s14's product artifact;
    * edges checkpoint inside buildKnnGraph. */
  private[queries] def memoizedKnnGraph(s: SparkSession,
                                        dir: String): SimilaritySearch.KnnGraph =
    ArtifactStore.get("knn_graph", s, dir) {
      val base = emb(s, dir).select(col("vec_id"), col("embedding"))
      val aug = base.unionByName(base.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      SimilaritySearch.buildKnnGraph(aug, "vec_id", "embedding", k = 3)
    }

  /** The memoized ([[Leaves.memoized]]) corpus [[Dedup.LineSetIndex]] for
    * the d23 probe: build the corpus line-hash set once per directory,
    * probe every batch. */
  private[graft] def memoizedLineSetIndex(s: SparkSession, dir: String,
                                          corpus: DataFrame): Dedup.LineSetIndex =
    Leaves.memoized("line_set_index", s, dir) {
      Dedup.buildLineSetIndex(corpus, "doc_id", "text", lineTokens = 16)
    }(_.copy(cachedLeaves = Nil))

  /** The m05 pair build (planted re-encodes + dHash fingerprints +
    * capped frame-hash join) + its connected components, shared by m05
    * (which emits the pairs) and m07 (which applies the clustering) —
    * [[dupPairsAndClusters]] at the media layer: detect + cluster ONCE,
    * read many ([[ArtifactStore]]); both frames checkpoint-materialized. */
  private[queries] def mediaPairsAndClusters(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ArtifactStore.get("media_pairs", s, dir) {
      val media = graft.multimodal.Multimodal.asMediaTable(docs(s, dir))
      val planted = graft.multimodal.Multimodal.reencodeStub(
        media.filter(col("doc_id") < 40), shift = 1, idOffset = 100000L)
      val frames = graft.multimodal.Multimodal
        .sampleFrames(media.unionByName(planted), frameBytes = 64, stride = 4)
        .toDF()
        .select(col("doc_id"),
          graft.functions.DHash64.dhash64(col("frame")).as("fp"))
      val pairs = graft.multimodal.Multimodal
        .frameOverlap(frames, "doc_id", "fp").localCheckpoint()
      val clusters = Dedup.connectedComponents(pairs, "a_id", "b_id")
      (pairs, clusters)
    }

  /** The end-to-end corpus build — the product story the 50 isolated
    * pipeline ops exist for, composed in the order a training-data team
    * actually runs them (the reference's floorplan shape applied to corpus
    * assembly): quality gate (t08) → near-dup apply (d09, the shared
    * memoized capped clusters) → exact train/eval decontamination (p03) →
    * temperature mix (p06) → per-language token budget (p07) → sequence
    * packing (p02) → hash split (p01).
    *
    * Each stage recomputes its statistics (language histogram, budget
    * order, pack offsets) over the SURVIVORS of the previous stage — the
    * semantics that make ordering matter and that the isolated per-op
    * oracles cannot exercise. Shuffle ledger at 100 TB: the corpus
    * streams through filters/semi-joins keyed on doc_id (the near-dup
    * drop set and contaminated-id set are tiny and broadcast); the only
    * corpus-wide shuffles are p07's (lang, sub-bucket) running sum and
    * p02's pack-bucket scan, both of which bound their window partitions
    * by construction. Dumped through Floorista → PartitionedParquetSink
    * in FlooristaSpec (the reference's product shape).
    *
    * One token definition end-to-end: `TA.words` (plain space split), the
    * p02/p07 convention, so the budget and the packer count the same
    * tokens. */
  private[graft] def corpusBuild(s: SparkSession, dir: String): DataFrame =
    corpusBuildFromSurvivors(memoizedDedupSurvivors(s, dir), budget = 3000L)

  /** The s1→s2→split prefix both composed builds share: t08 quality gate
    * (scan-side predicate — the same rules as the t08 report frame, minus
    * its join-back shuffle), d09 near-dup non-keeper drop, token count,
    * split stamp.
    *
    * EXPLICIT broadcast on the drop set (and on every drop set in the
    * stages below): without the hint the planner's no-stats default is a
    * sort-merge anti join, whose ENSURE_REQUIREMENTS exchange shuffles the
    * whole corpus on doc_id — AQE only demotes it to broadcast AFTER that
    * shuffle is written. The drop sets are bounded (cluster non-keepers of
    * the CAPPED pair set; contaminated train ids ≤ the eval population),
    * so the corpus streams through map-side anti joins and never
    * repartitions on doc_id (Round7Spec pins this ledger). If a corpus
    * ever pushes a drop set past executor broadcast capacity, remove the
    * hint and accept the doc_id co-shuffle.
    *
    * MATERIALIZATION POINT: contamination self-joins this frame (two
    * branches) and the anti join reads it a third time; without a
    * checkpoint every branch re-runs the scan + quality filter + dedup
    * anti join, and the duplication COMPOUNDS through the later
    * two-branch stages (budget, packing) to ~12× the scan. The deduped
    * corpus is also precisely the artifact a 100 TB pipeline persists
    * between its dedup and assembly phases (the reference dumps every
    * intermediate too) — so materialize it once, here, and share it across
    * BOTH composed builds via [[memoizedDedupSurvivors]]. Measured at
    * sf0.1: p10 3.37s → 1.33s (round 6, checkpoint); round 9 removes the
    * second materialization p13 used to pay on top. */
  private[graft] def dedupSurvivorsWithSplit(base: DataFrame, clusters: DataFrame): DataFrame = {
    val s1 = base.filter(TA.qualityKeep(col("text")))
    val drops = clusters
      .filter(col("id") =!= col("cluster")).select(col("id").as("doc_id"))
    val s2 = s1.join(broadcast(drops), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("text"),
        size(TA.words(col("text"))).cast("long").as("n_tokens"))
    val withSplit = s2.withColumn("split", Sampling.assignSplit(col("doc_id")))
    // Spread BEFORE materializing: the plan above is scan + broadcast anti
    // joins — no exchange anywhere — so the checkpoint inherits the compact
    // parquet scan's partition count (ONE row group = one partition at
    // bench SFs), and every downstream consumer's per-row CPU (the p11
    // gram HOF inside decontam_scored, quality scoring, both composed
    // builds) would serialize on it: the r11 driver run priced
    // decontam_scored at 21.4 s of single-core HOF work on a host whose
    // per-core speed made it the whole warmup budget. One round-robin
    // exchange of the survivors frame (not keyed on doc_id — the
    // Round7Spec ledger forbids only KEYED corpus shuffles) buys every
    // artifact build cluster parallelism — also exactly what persisting
    // the artifact at 100 TB produces (many output splits), so the bench
    // shape now matches the production shape.
    withSplit.repartition(withSplit.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
  }

  /** [[corpusBuild]] over an INJECTED corpus + near-dup cluster frame —
    * the replicated-corpus, budget ∝ factor shape of the `corpus_build`
    * curves in `stress_history/` (e.g. `r14_final_sweep_f8_32.jsonl`) —
    * without touching the (session, dir)-memoized artifacts. */
  private[graft] def corpusBuildFrom(base: DataFrame, clusters: DataFrame,
                                     budget: Long): DataFrame =
    corpusBuildFromSurvivors(dedupSurvivorsWithSplit(base, clusters), budget)

  /** The p10 tail over an already-materialized survivors frame
    * (doc_id, lang, text, n_tokens, split): p03 exact decontamination →
    * p06 temperature mix → p07 token budget → p02 packing → p01 labels. */
  private[graft] def corpusBuildFromSurvivors(withSplit: DataFrame,
                                              budget: Long): DataFrame = {
    // p03 exact decontamination, then p06: temperature-flatten the
    // language mix of the survivors.
    val s4 = v2MixStage(exactDecontaminated(withSplit))
    // p07: per-language token budget over what survived the mix. The
    // admitted set (budget-bounded, far smaller than the corpus) is the
    // second natural artifact: packing's two-pass scan reads it twice.
    val s5 = Sampling.tokenBudgetPerGroup(
        s4.select(col("doc_id"), col("lang"), col("n_tokens")),
        groupCol = "lang", keyCol = "doc_id", tokensCol = "n_tokens",
        budget = budget)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .localCheckpoint()
    // p02 + p01: pack the admitted docs into fixed-context sequences and
    // stamp the final bucket/split labels.
    Packing.packSequences(s5, "doc_id", "n_tokens", ctxLen = 2048L)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"),
        Sampling.hashBucket(col("doc_id")).as("bucket"),
        Sampling.assignSplit(col("doc_id")).as("split"))
  }

  /** [[corpusBuildFrom]] extended with the round-7 admission ops — v2 of
    * the composed product story. Two new stages, same recompute-over-
    * survivors semantics: after the exact (p03) decontamination, drop
    * train docs sharing any 13-gram with an eval-split SURVIVOR (p11 —
    * the quoted-passage leak p03's whole-doc hash misses); after packing,
    * expand the admitted corpus into epoch-weighted repeats (p12) keyed
    * on the shared t02 quality score computed once over the deduped
    * survivors and carried through budget and packing. Shuffle-ledger
    * delta vs [[corpusBuildFrom]]: the gram stage adds one broadcast
    * probe whose shuffled rows are the matches (bounded by the eval
    * population), and p12 is map-only (scan-side explode) — the
    * corpus-wide shuffles remain p07's bounded scan + p02's pack scan. */
  private[graft] def corpusBuildV2From(base: DataFrame, clusters: DataFrame,
                                       budget: Long): DataFrame =
    corpusBuildV2FromSurvivors(dedupSurvivorsWithSplit(base, clusters), budget)

  /** The p13 tail over the SAME survivors artifact p10 starts from — round
    * 8 materialized a second, quality-widened copy of the survivors frame
    * just for v2; the quality columns are a per-row pure function of
    * `text`, so they attach map-side over the shared checkpoint blocks
    * AFTER the decontamination anti-joins instead (same values on every
    * surviving row, and rows about to be dropped are never scored). */
  private[graft] def corpusBuildV2FromSurvivors(withSplit: DataFrame,
                                                budget: Long): DataFrame =
    corpusBuildTail(withSplit, budget, v2MixStage)

  /** The v2 mixture (and p10's): p06's sqrt temperature over
    * per-language DOC counts — the emergent flattening the
    * stated-proportion v3 replaces. */
  private[queries] def v2MixStage(s3b: DataFrame): DataFrame = {
    // n_min rides a bounded unpartitioned window over the |langs|-row
    // histogram (round 19): crossJoin(broadcast(counts.agg)) carried the
    // survivors aggregate — including the decontamination anti-join
    // lineage above it — a SECOND time inside the scalar's subplan.
    val counts = s3b.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val rates = counts
      .withColumn("n_min", min(col("n_lang")).over(
        org.apache.spark.sql.expressions.Window.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("rate_bp", floor(lit(10000.0) *
        sqrt(col("n_min").cast("double") / col("n_lang").cast("double"))))
      .select(col("lang"), col("rate_bp"))
    s3b.join(broadcast(rates), Seq("lang"))
      .filter(Sampling.hashBucket(col("doc_id"), 10000) < col("rate_bp"))
  }

  /** The chain v2 and v3 share — decontamination anti-joins, map-side
    * quality scoring, then `mixStage` (THE stage the versions differ in:
    * p06's sqrt temperature vs p15's stated-proportion solve; one
    * definition here so a fix to the shared stages cannot silently leave
    * the other version stale), then the budget/pack/epoch tail. */
  private[queries] def corpusBuildTail(withSplit: DataFrame, budget: Long,
                              mixStage: DataFrame => DataFrame): DataFrame =
    corpusBuildTailFrom(decontaminatedScoredSurvivors(withSplit), budget, mixStage)

  /** p03: drop TRAIN docs whose byte-identical twin lands in an eval
    * split — computed over the deduped survivors, split assignment the
    * same pure content hash p01 emits at the end. */
  private def exactDecontaminated(withSplit: DataFrame): DataFrame = {
    // distinct BEFORE the rename (round 19): grouping on the original
    // train_id keeps the dedup exchange keyed train_id in the ledger
    // regardless of whether the optimizer collapses the alias into the
    // grouping (it stopped doing so once the mix stage gained a window).
    val contaminated = Sampling
      .exactContamination(withSplit, "doc_id", "text", "split")
      .select(col("train_id")).distinct()
      .select(col("train_id").as("doc_id"))
    withSplit.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
  }

  /** The decontamination + scoring PREFIX of [[corpusBuildTail]] — every
    * stage up to (not including) the mixture, a pure function of the
    * survivors frame alone: p03 exact decontamination, p11 13-gram
    * decontamination, map-side quality scoring. Split out so the query
    * layer can memoize it ONCE per (session, dir) for both composed
    * builds ([[memoizedDecontamSurvivors]]) — v2 and v3 differ only from
    * the mixture on, and at 100 TB the decontaminated corpus is a
    * persisted inter-phase artifact exactly like the survivors frame,
    * not something each downstream build re-derives. */
  private[graft] def decontaminatedScoredSurvivors(withSplit: DataFrame): DataFrame = {
    val s3 = exactDecontaminated(withSplit)
    // p11 over the p03 survivors: spread=false — the input is one stage
    // of a composed plan, and the spread helper's partition-count read is
    // eager. Matches are bounded by the eval population; the dropped-id
    // set broadcasts like the other two.
    // No .distinct(): ngramContamination's per-train-doc aggregate already
    // emits unique ids — a redundant distinct after the rename would add a
    // doc_id-keyed exchange the ledger forbids.
    val gramContaminated = Sampling.ngramContamination(
        s3.select(col("doc_id"), col("text"), col("split")),
        "doc_id", "text", "split", n = 13, spread = false)
      .select(col("train_id").as("doc_id"))
    // Quality is computed over the deduped, fully decontaminated
    // survivors and carried through every later stage (budget and packing
    // preserve extra columns) — the epoch weights at the end must reflect
    // the corpus the pipeline actually admitted. Per-row pure in `text`
    // (n_tokens in the shared frame is the same TA.words count), so
    // attaching it here instead of before the split checkpoint changes no
    // value — it just scores map-side over the shared blocks and skips
    // rows the decontamination already dropped.
    s3.join(broadcast(gramContaminated), Seq("doc_id"), "left_anti")
      .withColumn("__ws", TA.words(col("text")))
      .withColumn("__n_uniq", size(array_distinct(col("__ws"))).cast("long"))
      .withColumn("__n_stop", TA.stopwordCount(col("__ws"), TA.StopEn))
      .withColumn("quality_bp",
        expr("""CAST(__n_uniq * 5000 DIV n_tokens
                     + (n_tokens - __n_stop) * 3000 DIV n_tokens
                     + least(n_tokens, 100L) * 20 AS BIGINT)"""))
      .drop("__ws", "__n_uniq", "__n_stop")
  }

  /** The mixture-onward SUFFIX of [[corpusBuildTail]]: `mixStage`, the
    * p07 budget, p02 packing, final labels, p12 epoch repeats. */
  private[queries] def corpusBuildTailFrom(s3b: DataFrame, budget: Long,
                                  mixStage: DataFrame => DataFrame): DataFrame = {
    val s4 = mixStage(s3b)
    val s5 = Sampling.tokenBudgetPerGroup(
        s4.select(col("doc_id"), col("lang"), col("n_tokens"),
          col("quality_bp")),
        groupCol = "lang", keyCol = "doc_id", tokensCol = "n_tokens",
        budget = budget)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_bp"))
      .localCheckpoint()
    val packed = Packing.packSequences(s5, "doc_id", "n_tokens", ctxLen = 2048L)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"),
        col("quality_bp"),
        Sampling.hashBucket(col("doc_id")).as("bucket"),
        Sampling.assignSplit(col("doc_id")).as("split"))
    Sampling.epochRepeat(packed, "doc_id", "quality_bp", maxEpochs = 4)
  }

  /** [[corpusBuildV2From]] with the mixture stage swapped: v3 of the
    * composed build over an injected corpus, the shape of the
    * `corpus_build_v3` curves in `stress_history/` (e.g.
    * `r10_highfactor_f16_32.jsonl`). */
  private[graft] def corpusBuildV3From(base: DataFrame, clusters: DataFrame,
                                       budget: Long): DataFrame =
    corpusBuildV3FromSurvivors(dedupSurvivorsWithSplit(base, clusters), budget)

  /** v3 of the composed build: [[corpusBuildV2FromSurvivors]]'s chain with
    * the p06 sqrt-temperature mix replaced by p15's target-mixture solve
    * ([[Sampling.targetMixture]]) over TOKEN shares — every language is
    * admitted toward a STATED uniform 2000 bp share instead of the
    * emergent sqrt-flattened one (the DoReMi/stated-proportions recipe:
    * the training mixture is a declared input, reproducible from the spec
    * sheet, not a function the corpus counts happen to produce).
    *
    * The targets frame derives its language SET from the survivors
    * checkpoint (one cheap scan of the memoized artifact — not from the
    * decontaminated s3b, whose anti-join lineage would re-run just to list
    * languages) with the weight an explicit literal. If decontamination
    * wiped out a targeted language entirely, targetMixture's absent-group
    * guard fails loudly — a stated mixture over a language with zero
    * surviving tokens IS infeasible, same contract as p15 standalone.
    *
    * Shuffle-ledger delta vs v2: none. The solve replaces the doc-count
    * aggregate with a token-sum aggregate (both partial-aggregated to
    * |langs| rows), the closed form is arithmetic over that tiny frame,
    * and the admission stays a broadcast join + content-hash filter — the
    * corpus still never shuffles keyed on doc_id (Round10Spec pins the
    * ledger like Round7Spec does for v2). */
  private[graft] def corpusBuildV3FromSurvivors(withSplit: DataFrame,
                                                budget: Long): DataFrame =
    corpusBuildTail(withSplit, budget, v3MixStage(withSplit))

  /** The v3 mixture: stated uniform token-share targets, solved by
    * targetMixture's closed form (binding language admits everything,
    * every other downsamples to proportion via the content-hash
    * Bernoulli — the same hashBucket convention p06 used, so only the
    * RATE computation changes between v2 and v3). The target language
    * SET comes from the SURVIVORS frame (one cheap scan of the memoized
    * artifact — not from s3b, whose anti-join lineage would re-run just
    * to list languages). */
  private[queries] def v3MixStage(survivors: DataFrame)(s3b: DataFrame): DataFrame = {
    val targets = survivors.select(col("lang")).distinct()
      .withColumn("weight_bp", lit(2000L))
    Sampling.targetMixture(s3b, "lang", "doc_id", "n_tokens", targets)
      .drop("rate_bp")
  }

  /** Shared quality computation (t02, p08): integer basis points
    * (0..10000) because FP `round` disagrees between engines at
    * shortest-decimal boundaries (seen at sf0.1). The double variant
    * stays available as TextAnalysis.qualityScore. `extra` columns pass
    * through untouched (p08 keeps the stratum). */
  private[queries] def qualityScored(d: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val base = d.select(
      (col("doc_id") +: extra.map(col)) :+ TA.words(col("text")).as("ws"): _*)
    base.select(
      (col("doc_id") +: extra.map(col)) ++ Seq(
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_uniq"),
        TA.stopwordCount(col("ws"), TA.StopEn).as("n_stop")): _*)
      .withColumn("quality_bp",
        expr("""CAST(n_uniq * 5000 DIV n_tokens
                     + (n_tokens - n_stop) * 3000 DIV n_tokens
                     + least(n_tokens, 100L) * 20 AS BIGINT)"""))
  }

  /** d03's oracle, shared: d07's recursive-CTE components run over exactly
    * this pair set so the two can never drift apart. The QUALIFY mirrors
    * the engine's [[D03BucketCap]] truncation (first 256 docs per length
    * bucket by id, ranked over the same ≥3-word population) so the
    * skew-safe shipped form stays hash-exact. */
  /** The d03 exact blocked-Jaccard pair SQL at an arbitrary threshold —
    * shared by d03 (0.2) and the round-11 band payloads d04 (0.8) /
    * d05 (0.9), so the engine and every banded claim compute pairs over
    * ONE geometry. */
  private[queries] def d03SqlAt(threshold: String): String =
    s"""WITH w AS (SELECT doc_id, n_chars // 50 AS bkt,
                         list_filter(string_split(text, ' '), t -> t <> '') AS ws
                  FROM documents),
            s AS (SELECT doc_id, bkt,
                         list_distinct(list_transform(generate_series(1, len(ws) - 2),
                           i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
                  FROM w WHERE len(ws) >= 3
                  QUALIFY row_number() OVER (PARTITION BY bkt ORDER BY doc_id) <= $D03BucketCap)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) AS jaccard
       FROM s a JOIN s b ON a.bkt = b.bkt AND a.doc_id < b.doc_id
       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= $threshold"""

  private[queries] val D03Sql: String = d03SqlAt("0.2")

  /** Connected components over [[D03Sql]]'s pair set as recursive CTEs
    * ending in `comp(id, cluster)` — shared by d07 (which emits it) and
    * d09 (which anti-joins it away), so the two oracles can never compute
    * different clusters. Embed as `WITH RECURSIVE $ComponentsCte ...`. */
  private[queries] val ComponentsCte: String =
    s"""sym AS (
            SELECT a_id AS id, b_id AS nb FROM ($D03Sql) p
            UNION
            SELECT b_id AS id, a_id AS nb FROM ($D03Sql) p2),
          reach AS (
            SELECT id, nb FROM sym
            UNION
            SELECT r.id, s.nb FROM reach r JOIN sym s ON r.nb = s.id),
          comp AS (SELECT id, least(id, min(nb)) AS cluster FROM reach GROUP BY id)"""

  /** d13's oracle: the same per-side length-bucket blocking, per-side
    * QUALIFY cap, and exact trigram Jaccard as [[Dedup.deltaJaccardPairs]],
    * with `doc_id % 10 = 7` as the incoming batch. */
  private[queries] val D13Sql: String =
    s"""WITH w AS (SELECT doc_id, n_chars // 50 AS bkt, doc_id % 10 = 7 AS is_new,
                          list_filter(string_split(text, ' '), t -> t <> '') AS ws
                   FROM documents),
             s AS (SELECT doc_id, bkt, is_new,
                          list_distinct(list_transform(generate_series(1, len(ws) - 2),
                            i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
                   FROM w WHERE len(ws) >= 3
                   QUALIFY row_number() OVER (PARTITION BY bkt, is_new ORDER BY doc_id) <= $D03BucketCap),
             m AS (SELECT DISTINCT a.doc_id AS new_id
                   FROM s a JOIN s b ON a.bkt = b.bkt AND a.is_new AND NOT b.is_new
                   WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.2)
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id % 10 = 7 AND doc_id NOT IN (SELECT new_id FROM m)"""

  /** Shared exact-top-3 band payload for the ANN cosine family
    * (s03/s04/s11): DuckDB recomputes the exact twin verbatim (the s01
    * ranking at k=3, rank-order csv) and pins recall_floor_met at 1 —
    * the engine computes its own flag from its approximate plan. */
  private[queries] val AnnCosBandSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
            scored AS (SELECT q_id, e.vec_id AS n_id,
                              list_inner_product(qv, e.v)
                              / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos
                       FROM q JOIN e ON e.vec_id <> q_id),
            ranked AS (SELECT q_id, n_id,
                              row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
                       FROM scored)
       SELECT q_id, string_agg(CAST(n_id AS VARCHAR), ',' ORDER BY rnk) AS exact_ids,
              CAST(1 AS BIGINT) AS recall_floor_met
       FROM ranked WHERE rnk <= 3 GROUP BY q_id"""

}
