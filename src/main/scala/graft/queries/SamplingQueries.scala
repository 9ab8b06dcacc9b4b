package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Packing, Sampling, SimilaritySearch, TextAnalysis => TA}
import graft.queries.PipelineShared._

/** p-family query registry — sampling / selection / packing / sharding and the composed corpus builds.
  * Split out of the monolithic PipelineQueries in round 11 (pure
  * re-grouping: every entry verbatim; shared machinery lives in
  * [[PipelineShared]], aggregation in [[PipelineQueries]]). */
private[graft] object SamplingQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // p20: weighted reservoir sample without replacement (Efraimidis–
    // Spirakis A-ES keys over the content-hash uniform) — quality-
    // weighted doc selection where every doc has a chance ∝ exp-key
    // geometry, not just the argmax (p17's complement: importance
    // SAMPLING vs importance TOP-K). Weight = the shared t02 quality
    // score. Deterministic under any partitioning; the oracle replays
    // the identical key arithmetic.
    "p20_weighted_reservoir" -> ((s, dir) =>
      Sampling.weightedReservoir(
        qualityScored(docs(s, dir)).select(col("doc_id"), col("quality_bp")),
        "doc_id", "quality_bp", k = 100)),


    // p24 (round 18): the unified ADMISSION PIPELINE — the engine's
    // per-modality ingest gates composed behind ONE chaining discipline
    // (graft.streaming.AdmissionPipeline): arrivals (the %10 = 7 delta)
    // run quality → blocklist → corpus-exact-dup IN SEQUENCE — a doc
    // dropped at stage i is never evaluated (or charged) at stage i+1 —
    // and the driver-visible output is the m27 report generalized to the
    // live path: one row per (stage, admitted, reason) disposition class
    // with integer-bp shares of the arriving population. Stages are
    // STATELESS by contract (row-local columns or id-keyed verdict
    // joins; the dup probe is a stream-static fingerprint join), so the
    // same composition runs on a streaming frame with the watermark
    // applied ONCE by the caller (StreamingSpec proves composed-on-
    // stream == sequential batch). The oracle replays the identical
    // sequential chain: t08's quality arithmetic, the t20 blocklist
    // over the quality survivors only, the t04 normalized-md5 corpus
    // probe over the blocklist survivors only — a stage-order slip,
    // double-charge, or share arithmetic bug hash-mismatches.
    "p24_admission_pipeline" -> ((s, dir) => admissionPipeline(docs(s, dir))),


    // p21: Bloom-filter decontamination — p11's leak class when the
    // reference gram set is too big to broadcast as a table: the eval
    // side compresses to a fixed 128 KB bit array (memoized per dir,
    // priced in warmup_build) and the train corpus probes it scan-side,
    // shuffle-free. Driver-visible contract: the exact verdict rides
    // along (the s03 exact-twin convention) — `no_false_neg` pinned 1 on
    // every row (Bloom's one-sided error), corpus FP rate under 300 bp
    // (`fp_ok`, measured ~0–100 bp across SFs).
    "p21_bloom_decontam" -> ((s, dir) => {
      val withSplit = docs(s, dir).withColumn("split",
        graft.operators.Sampling.assignSplit(col("doc_id")))
      Sampling.bloomDecontamination(
        withSplit.filter(col("split") === "train"),
        "doc_id", "text", memoizedBloomIndex(s, dir), memoizedEvalGrams(s, dir))
    }),


    // p23: p21 through a 2-shard filter (the past-2³⁰-bits lifecycle
    // exercised end-to-end at bench scale: same eval grams, same k; the
    // per-gram shard draw is the only plan difference, and the output
    // contract — exact verdict beside the probe, no_false_neg pinned 1,
    // corpus FP under 300 bp — is identical, so the oracle is p21's
    // verbatim. The bit layout never reaches the output; the hash claim
    // is that SHARDING PRESERVES the one-sided-error + FP-ceiling
    // contract.
    "p23_sharded_bloom_decontam" -> ((s, dir) => {
      val withSplit = docs(s, dir).withColumn("split",
        graft.operators.Sampling.assignSplit(col("doc_id")))
      Sampling.bloomDecontamination(
        withSplit.filter(col("split") === "train"),
        "doc_id", "text", memoizedTwoShardBloom(s, dir), memoizedEvalGrams(s, dir))
    }),


    // Per-eval-document leak provenance (the GPT-3-appendix-style
    // per-benchmark contamination table): p11 emits the train-side drop
    // list; this reads the SAME match stream from the eval side — which
    // benchmarks are compromised, by how many train docs, and who the
    // worst offender is. The pair aggregate and windows partition on
    // eval_id over the bounded match population.
    "p14_contamination_report" -> ((s, dir) => {
      val withSplit = docs(s, dir).withColumn("split",
        graft.operators.Sampling.assignSplit(col("doc_id")))
      graft.operators.Sampling
        .contaminationProvenance(withSplit, "doc_id", "text", "split", n = 13)
    }),


    // Target-mixture reweighting: admit the largest corpus whose source
    // token shares hit explicit uniform targets (500 bp × 20 sources) —
    // the stated-weights generalization of p06's sqrt temperature.
    "p15_target_mixture" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(TA.words(col("text"))).cast("long").as("n_tokens"))
      val targets = docs(s, dir).select(col("source")).distinct()
        .withColumn("weight_bp", lit(500L))
      graft.operators.Sampling
        .targetMixture(d, "source", "doc_id", "n_tokens", targets)
    }),


    // p18: the training-shard manifest — deterministic global shuffle:
    // md5-bucket shard assignment + md5-rank position within the shard;
    // the reproducible permutation contract a trainer reads shards by.
    "p18_shard_manifest" -> ((s, dir) =>
      Packing.shardManifest(docs(s, dir), "doc_id", nShards = 32)),


    // p19: per-shard integrity checksums — p18's manifest sibling: doc
    // count + order-free bit_xor content checksum per shard, the table
    // a release publishes for copy/rewrite verification.
    "p19_shard_checksums" -> ((s, dir) =>
      Packing.shardChecksums(docs(s, dir), "doc_id", "text", nShards = 32)),


    // Model memoized per (session, dir) — the build/apply split: repeat
    // calls bind its driver-side weights into a row-local scan and run
    // no job while the plan is built (the s04/s05 index convention).
    "p17_dsir_select" -> ((s, dir) =>
      graft.operators.Sampling.dsirScoreAgainst(
        docs(s, dir).filter(col("source") =!= "src0"), "doc_id", "text",
        memoizedDsirModel(s, dir))
        .orderBy(col("dsir_w").desc, col("doc_id")).limit(100)),


    // The v3 composed build (see [[corpusBuildV3FromSurvivors]]): v2's
    // chain with the sqrt-temperature mix stage swapped for p15's
    // stated-proportion target-mixture solve (uniform 2000 bp token share
    // per language) — the DoReMi-shaped product story: the mixture the
    // corpus ships with is DECLARED, not an emergent function of corpus
    // counts. Same memoized survivors artifact as p10/p13.
    "p16_corpus_build_v3" -> ((s, dir) =>
      corpusBuildTailFrom(memoizedDecontamSurvivors(s, dir),
        budget = 3000L,
        v3MixStage(memoizedDedupSurvivors(s, dir)))),


    "p10_corpus_build" -> ((s, dir) => corpusBuild(s, dir)),


    // The v2 composed build (see [[corpusBuildV2FromSurvivors]]): p10 +
    // the round-7 admission ops (13-gram decontamination stage,
    // epoch-weighted repeat tail), over the SAME memoized survivors
    // artifact p10 reads.
    "p13_corpus_build_v2" -> ((s, dir) =>
      corpusBuildTailFrom(memoizedDecontamSurvivors(s, dir),
        budget = 3000L, v2MixStage)),


    // N-gram-overlap decontamination (13-gram, the GPT-3/PaLM recipe):
    // the third leak class beside p03 (byte-identical docs) and p05
    // (whole-doc near-dups) — an eval passage quoted inside a larger
    // train doc shares a 13-gram run without tripping either. Eval side
    // broadcast (curated benchmark suites are tiny at 100 TB; the
    // assignSplit-derived eval split here is a stand-in corpus).
    "p11_ngram_decontaminate" -> ((s, dir) => {
      val withSplit = docs(s, dir).withColumn("split",
        graft.operators.Sampling.assignSplit(col("doc_id")))
      graft.operators.Sampling
        .ngramContamination(withSplit, "doc_id", "text", "split", n = 13)
    }),


    // p22: the production two-stage — p21's scan-side bloom prefilter
    // shrinks the exact join's probe side from the corpus to the flagged
    // sliver, then p11's exact verification runs only there. Bloom's
    // one-sided error makes the prefilter LOSSLESS for the final rows:
    // the output (and so the oracle) is p11's, byte-identical — that
    // equality IS the hash claim. Shares p21's memoized filter.
    "p22_bloom_verified_decontam" -> ((s, dir) => {
      val withSplit = docs(s, dir).withColumn("split",
        graft.operators.Sampling.assignSplit(col("doc_id")))
      Sampling.bloomVerifiedContamination(
        withSplit.filter(col("split") === "train"),
        "doc_id", "text", memoizedBloomIndex(s, dir), memoizedEvalGrams(s, dir))
    }),


    // Epoch-weighted repeat sampling (the data-constrained-scaling
    // recipe): when the token budget exceeds the unique corpus, repeat
    // documents up to 4 epochs, better documents more often — the shared
    // t02/p08 quality score (integer basis points) is the weight, and the
    // fractional epoch is a content-hash Bernoulli. Map-only: no shuffle
    // anywhere in the plan (the fan-out is a scan-side explode).
    "p12_epoch_repeat" -> ((s, dir) =>
      graft.operators.Sampling.epochRepeat(
        qualityScored(docs(s, dir)).select(col("doc_id"), col("quality_bp")),
        "doc_id", "quality_bp", maxEpochs = 4)),


    // Deterministic stratified sampling: the k docs whose id-hash sorts
    // lowest within each (lang, source) stratum — uniform-without-
    // replacement per stratum, reproducible across engines and cluster
    // layouts (no rand()).
    "p04_stratified_sample" -> ((s, dir) =>
      graft.operators.Sampling.samplePerGroup(
        docs(s, dir).select(col("doc_id"), col("lang"), col("source")),
        Seq("lang", "source"), "doc_id", k = 5)),


    // ---- dataset assembly ------------------------------------------------
    // Deterministic content-hash split: stable across runs/engines/cluster
    // sizes (no rand(), no placement dependence).
    "p01_hash_split" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        graft.operators.Sampling.hashBucket(col("doc_id")).as("bucket"),
        graft.operators.Sampling.assignSplit(col("doc_id")).as("split"))),


    // Concat-and-chunk sequence packing via the distributed prefix scan.
    "p02_pack_sequences" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Packing.packSequences(base, "doc_id", "n_tokens", ctxLen = 2048L)
        .select(col("doc_id"), col("n_tokens"), col("pack_id"))
    }),


    // Train/eval decontamination. The corpus has no byte-identical dup
    // pairs, so (like d06) it is augmented with exact copies of the first
    // 50 docs under new ids — their independent hash-split assignments put
    // some copies in eval splits while the original trains, which is
    // precisely the leak this op detects. Oracle applies the identical
    // augmentation.
    "p03_decontamination" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val aug = base.unionAll(
        base.filter(col("doc_id") < 50)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      val withSplit = aug.withColumn("split",
        graft.operators.Sampling.assignSplit(col("doc_id")))
      graft.operators.Sampling
        .exactContamination(withSplit, "doc_id", "text", "split")
    }),


    // NEAR-duplicate decontamination: the near-dup analogue of p03 — a
    // training document whose near-duplicate (exact n-gram Jaccard >= 0.2,
    // d03's similarity) lands in an eval split is a fuzzy leak.
    //
    // Decontamination is RECALL-critical, so unlike the dedup reports this
    // path must not inherit D03BucketCap truncation (a leaked pair whose
    // doc ranks past the cap in a hot length bucket would go silently
    // unreported — a missed train/eval leak is worse than extra compute).
    // Cross-split pairs are exactly the delta×corpus shape: the eval side
    // is a small fixed fraction of the corpus (~20% under assignSplit, and
    // a curated sliver in practice), so the per-bucket join is
    // |train_bkt|×|eval_bkt| — bounded by the eval population, never the
    // uncapped self-join's quadratic bucket². At 100 TB the same query
    // swaps deltaJaccardPairs for the MinHash index probe
    // (Dedup.deltaNearDupsIndexed) — identical downstream shape.
    "p05_near_decontamination" -> ((s, dir) => {
      val splits = docs(s, dir).withColumn("split",
        graft.operators.Sampling.assignSplit(col("doc_id")))
      val evalSide = splits.filter(col("split") =!= "train")
      val trainSide = splits.filter(col("split") === "train")
      Dedup.deltaJaccardPairs(evalSide, trainSide, "doc_id", "text",
          "n_chars", threshold = 0.2, maxBucketSize = None)
        .join(evalSide.select(col("doc_id").as("new_id"),
          col("split").as("eval_split")), Seq("new_id"))
        .select(col("old_id").as("train_id"), col("new_id").as("eval_id"),
          col("eval_split"), col("jaccard"))
    }),


    // Temperature-flattened mixture sampling (the multinomial-sampling step
    // of multi-source training sets), flattening the skewed language
    // distribution: per-stratum keep rate ∝ sqrt(n_min/n_s) (α = 0.5),
    // applied as a deterministic content-hash Bernoulli — so the mix is
    // reproducible and any doc's fate is placement-independent. The stratum
    // histogram is tiny (broadcast); the corpus streams through one filter.
    // floor(10000·sqrt(r)) is engine-stable: IEEE division and sqrt are
    // correctly rounded in both Spark and DuckDB.
    "p06_temperature_mix" -> ((s, dir) => {
      val counts = docs(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_lang"))
      // n_min via a bounded unpartitioned window over the |langs|-row
      // histogram (round 19): crossJoin(broadcast(counts.agg)) carried
      // the corpus aggregate a second time inside the scalar's subplan.
      val rates = counts
        .withColumn("n_min", min(col("n_lang")).over(
          org.apache.spark.sql.expressions.Window.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
        .withColumn("rate_bp",
          floor(lit(10000.0) * sqrt(col("n_min").cast("double") / col("n_lang").cast("double"))))
      docs(s, dir).select(col("doc_id"), col("lang"))
        .join(broadcast(rates), Seq("lang"))
        .filter(graft.operators.Sampling.hashBucket(col("doc_id"), 10000) < col("rate_bp"))
        .select(col("doc_id"), col("lang"), col("n_lang"), col("rate_bp"))
    }),


    // Per-language token-budget selection (the "sample 1B tokens per
    // language" step of corpus assembly): admit docs in deterministic
    // hash order until each language's budget is spent. One shuffle on
    // lang; the running sum shares it.
    "p07_token_budget" -> ((s, dir) =>
      graft.operators.Sampling.tokenBudgetPerGroup(
        docs(s, dir).select(col("doc_id"), col("lang"),
          size(TA.words(col("text"))).cast("long").as("n_tokens")),
        groupCol = "lang", keyCol = "doc_id", tokensCol = "n_tokens",
        budget = 3000L)),


    // Curriculum binning: quality quartiles within each language stratum
    // (the ordering step of curriculum/annealing data schedules). ntile
    // over a total order (quality desc, id) — engine-portable because no
    // peer ties can straddle a bin boundary.
    "p08_curriculum_bins" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality_bp").desc, col("doc_id"))
      qualityScored(docs(s, dir), extra = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("quality_bp"),
          ntile(4).over(w).cast("long").as("bin"))
    }),


    // Overlapping token windows (64 tokens, stride 48 — 25% overlap): the
    // chunking step before embedding or context assembly. Map-only:
    // sequence + posexplode + slice run scan-side, no shuffle at all.
    "p09_chunk_windows" -> ((s, dir) => {
      val ws = filter(TA.words(col("text")), w => w =!= "")
      docs(s, dir)
        .select(col("doc_id"), ws.as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(col("doc_id"), col("ws"),
          posexplode(sequence(lit(1), size(col("ws")), lit(48)))
            .as(Seq("win_idx", "win_start")))
        .select(col("doc_id"), col("win_idx").cast("long").as("win_idx"),
          col("win_start").cast("long").as("win_start"),
          size(slice(col("ws"), col("win_start"), lit(64))).cast("long").as("win_len"),
          md5(concat_ws(" ", slice(col("ws"), col("win_start"), lit(64)))).as("win_md5"))
    }),
  )

  /** Production-plan side of p21 and p23 (the [[SimilarityQueries
    * .productionOverrides]] convention): at 100 TB only the scan-side
    * bloom probe ships — (doc_id, n_grams, bloom_flagged), zero shuffle,
    * zero joins; the exact verdict riding along in [[queries]] is the
    * oracle's one-sided-error apparatus. (p22 is NOT overridden: its
    * exact verification of the flagged sliver IS the production
    * composition.) */
  val productionOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p23_sharded_bloom_decontam" ->
      ((s, dir) => bloomFlags(s, dir, memoizedTwoShardBloom(s, dir))),
    "p21_bloom_decontam" -> ((s, dir) => bloomFlags(s, dir, memoizedBloomIndex(s, dir))),
  )

  /** p21/p23's production plan over `idx`: (doc_id, n_grams,
    * bloom_flagged) for the train split. */
  private def bloomFlags(s: SparkSession, dir: String,
                         idx: Sampling.BloomIndex): DataFrame =
    Dedup.spreadToParallelism(
        docs(s, dir).withColumn("split", Sampling.assignSplit(col("doc_id")))
          .filter(col("split") === "train")
          .select(col("doc_id"), col("text")))
      .select(col("doc_id"), Sampling.wordNgrams(col("text"), 13).as("__gs"))
      .select(col("doc_id"),
        size(col("__gs")).cast("long").as("n_grams"),
        Sampling.bloomContainsAny(idx)(col("__gs")).as("bloom_flagged"))

  // p21/p23: the exact side recomputed verbatim (p11's gram CTEs); the
  // engine-specific bloom bit pattern stays out of the hash — the pinned
  // flags ARE the cross-engine claim (no_false_neg: Bloom's one-sided
  // error; fp_ok: the sized FP ceiling). ONE definition for both filter
  // shapes: sharding must preserve the contract, so the sharded query
  // hashes against the identical oracle.
  private val BloomDecontamSql: String =
    """WITH w AS (SELECT doc_id,
                           list_filter(string_split(text, ' '), t -> t <> '') AS ws
                    FROM documents),
              g AS (SELECT doc_id,
                           CASE WHEN len(ws) >= 13
                                THEN list_distinct(list_transform(generate_series(1, len(ws) - 12),
                                  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4],
                                                 ws[i+5], ws[i+6], ws[i+7], ws[i+8], ws[i+9],
                                                 ws[i+10], ws[i+11], ws[i+12])))
                                ELSE [] END AS gs
                    FROM w),
              sp AS (SELECT doc_id,
                            CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                 WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                 ELSE 'test' END AS split
                     FROM documents),
              eg AS (SELECT DISTINCT unnest(gs) AS gram
                     FROM g JOIN sp USING (doc_id) WHERE sp.split <> 'train'),
              tg AS (SELECT g.doc_id, unnest(gs) AS gram
                     FROM g JOIN sp USING (doc_id) WHERE sp.split = 'train'),
              hit AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (gram))
         SELECT g.doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
                CAST(CASE WHEN hit.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS exact_hit,
                CAST(1 AS BIGINT) AS no_false_neg,
                CAST(1 AS BIGINT) AS fp_ok
         FROM g JOIN sp USING (doc_id) LEFT JOIN hit ON g.doc_id = hit.doc_id
         WHERE sp.split = 'train'"""

  /** p24's plan over a docs frame: the %10 = 7 delta through quality →
    * blocklist → corpus-exact-dup, reported per disposition class. */
  private[graft] def admissionPipeline(all: DataFrame): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    import graft.streaming.AdmissionPipeline
    import graft.streaming.AdmissionPipeline.Stage
    val delta = all.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id"), col("text"))
    val corpusFps = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .select(TA.fingerprint(col("text")).as("__cfp")).distinct()
    val stages = Seq(
      // rowLocal, not verdict (round 19): qualityFilter is per-row
      // pure, so the verdict-join stitch-back paid two exchanges for
      // values a scan-side Column computes in place (qualityKeep /
      // qualityReasons are the same rules — Round19Spec pins no-drift)
      Stage.rowLocal("quality", TA.qualityKeep(col("text")),
        TA.qualityReasons(col("text"))),
      Stage.verdict("blocklist", "doc_id") { df =>
        TA.blocklistFilter(df, "doc_id", "text",
            Seq("slow", "merge").toDF("word"))
          .select(col("doc_id"), col("keep").as("admit"),
            when(col("keep"), lit("")).otherwise(concat(
              lit("blocklisted tokens: "), col("n_flagged"))).as("reason"))
      },
      Stage.verdict("exact_dup", "doc_id") { df =>
        df.select(col("doc_id"), TA.fingerprint(col("text")).as("__fp"))
          .join(corpusFps.withColumn("__hit", lit(1)),
            col("__fp") === col("__cfp"), "left")
          .select(col("doc_id"), col("__hit").isNull.as("admit"),
            when(col("__hit").isNull, lit(""))
              .otherwise(lit("exact duplicate already in corpus"))
              .as("reason"))
      })
    AdmissionPipeline.report(AdmissionPipeline.run(delta, stages))
  }

  val oracleSql: Map[String, String] = Map(

    "p21_bloom_decontam" -> BloomDecontamSql,

    "p23_sharded_bloom_decontam" -> BloomDecontamSql,

    // p24: the sequential chain replayed stage by stage — t08's quality
    // arithmetic over the delta, the t20 blocklist over quality
    // SURVIVORS only, the t04 normalized-md5 corpus probe over blocklist
    // survivors only, then the m27 share arithmetic over the
    // disposition.
    "p24_admission_pipeline" ->
      """WITH delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7),
              cfp AS (SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
                      FROM documents WHERE doc_id % 10 <> 7),
              t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM delta),
              c AS (SELECT doc_id, text, CAST(len(ws) AS BIGINT) AS n_tokens,
                           CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS sum_len,
                           CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
                    FROM t),
              r AS (SELECT doc_id, text,
                           list_concat(
                             list_concat(
                               CASE WHEN n_tokens < 20 THEN ['too_short'] ELSE []::VARCHAR[] END,
                               CASE WHEN n_tokens > 2000 THEN ['too_long'] ELSE []::VARCHAR[] END),
                             list_concat(
                               CASE WHEN sum_len * 100 < n_tokens * 300
                                      OR sum_len * 100 > n_tokens * 1000
                                    THEN ['odd_token_len'] ELSE []::VARCHAR[] END,
                               CASE WHEN n_stop * 10000 < n_tokens * 100
                                    THEN ['low_stopword'] ELSE []::VARCHAR[] END)) AS reasons
                    FROM c),
              q AS (SELECT doc_id, text,
                           coalesce(array_to_string(reasons, ','), '') AS reason,
                           len(reasons) = 0 AS keep FROM r),
              drop1 AS (SELECT 'quality' AS stage, reason FROM q WHERE NOT keep),
              s1 AS (SELECT doc_id, text FROM q WHERE keep),
              b AS (SELECT doc_id, text,
                           len(list_filter(string_split(text, ' '), w -> w IN ('slow', 'merge'))) AS n_flagged
                    FROM s1),
              drop2 AS (SELECT 'blocklist' AS stage,
                               'blocklisted tokens: ' || n_flagged AS reason
                        FROM b WHERE n_flagged > 0),
              s2 AS (SELECT doc_id, text FROM b WHERE n_flagged = 0),
              d2 AS (SELECT doc_id,
                            md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
                     FROM s2),
              drop3 AS (SELECT 'exact_dup' AS stage,
                               'exact duplicate already in corpus' AS reason
                        FROM d2 WHERE fp IN (SELECT fp FROM cfp)),
              s3 AS (SELECT doc_id FROM d2 WHERE fp NOT IN (SELECT fp FROM cfp)),
              disp AS (SELECT stage, FALSE AS admitted, reason FROM drop1
                       UNION ALL SELECT stage, FALSE, reason FROM drop2
                       UNION ALL SELECT stage, FALSE, reason FROM drop3
                       UNION ALL SELECT '', TRUE, '' FROM s3),
              g AS (SELECT stage, admitted, reason, count(*) AS n
                    FROM disp GROUP BY 1, 2, 3),
              tt AS (SELECT sum(n) AS tot FROM g)
         SELECT stage, admitted, reason, CAST(n AS BIGINT) AS n_docs,
                CAST(n * 10000 // tot AS BIGINT) AS share_bp
         FROM g, tt""",

    // p20: the t02 quality CTE + the A-ES key replayed bit-for-bit (u
    // from the same md5 window, ln(u)/w ordering; key gaps dwarf libm
    // ulp so the selected set is engine-stable).
    "p20_weighted_reservoir" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                    FROM documents),
              c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                           CAST(len(list_distinct(ws)) AS BIGINT) AS n_uniq,
                           CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
                    FROM t),
              q AS (SELECT doc_id,
                           CAST(n_uniq * 5000 // n_tokens
                                + (n_tokens - n_stop) * 3000 // n_tokens
                                + least(n_tokens, 100) * 20 AS BIGINT) AS quality_bp
                    FROM c),
              k AS (SELECT doc_id, quality_bp,
                           ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
                              / 4294967297.0) / quality_bp AS key
                    FROM q),
              r AS (SELECT doc_id, quality_bp,
                           CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS sel_rank
                    FROM k)
         SELECT doc_id, quality_bp, sel_rank FROM r WHERE sel_rank <= 100""",
    // 13-gram decontamination: n-grams as strings (p05's word-list
    // convention — literal-space split, empty tokens dropped, per-doc
    // list_distinct matches the engine's array_distinct), split CASE as
    // p01/p03. count(DISTINCT) cast to BIGINT to match count_distinct.
    "p11_ngram_decontaminate" ->
      s"""WITH w AS (SELECT doc_id,
                            list_filter(string_split(text, ' '), t -> t <> '') AS ws
                     FROM documents),
              g AS (SELECT doc_id,
                           list_distinct(list_transform(generate_series(1, len(ws) - 12),
                             i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4],
                                            ws[i+5], ws[i+6], ws[i+7], ws[i+8], ws[i+9],
                                            ws[i+10], ws[i+11], ws[i+12]))) AS gs
                    FROM w WHERE len(ws) >= 13),
              sp AS (SELECT doc_id,
                            CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                 WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                 ELSE 'test' END AS split
                     FROM documents),
              eg AS (SELECT unnest(gs) AS gram, g.doc_id AS eval_id
                     FROM g JOIN sp USING (doc_id) WHERE sp.split <> 'train'),
              tg AS (SELECT g.doc_id AS train_id, unnest(gs) AS gram
                     FROM g JOIN sp USING (doc_id) WHERE sp.split = 'train')
         SELECT t.train_id,
                CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
                min(e.eval_id) AS first_eval_id
         FROM tg t JOIN eg e ON t.gram = e.gram
         GROUP BY t.train_id""",

    // p22: the bloom prefilter is LOSSLESS for the final rows (no false
    // negatives), so the two-stage composition's oracle is p11's exact
    // decontamination VERBATIM — the equality is the claim.
    "p22_bloom_verified_decontam" ->
      s"""WITH w AS (SELECT doc_id,
                            list_filter(string_split(text, ' '), t -> t <> '') AS ws
                     FROM documents),
              g AS (SELECT doc_id,
                           list_distinct(list_transform(generate_series(1, len(ws) - 12),
                             i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4],
                                            ws[i+5], ws[i+6], ws[i+7], ws[i+8], ws[i+9],
                                            ws[i+10], ws[i+11], ws[i+12]))) AS gs
                    FROM w WHERE len(ws) >= 13),
              sp AS (SELECT doc_id,
                            CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                 WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                 ELSE 'test' END AS split
                     FROM documents),
              eg AS (SELECT unnest(gs) AS gram, g.doc_id AS eval_id
                     FROM g JOIN sp USING (doc_id) WHERE sp.split <> 'train'),
              tg AS (SELECT g.doc_id AS train_id, unnest(gs) AS gram
                     FROM g JOIN sp USING (doc_id) WHERE sp.split = 'train')
         SELECT t.train_id,
                CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
                min(e.eval_id) AS first_eval_id
         FROM tg t JOIN eg e ON t.gram = e.gram
         GROUP BY t.train_id""",

    // p11's match stream read from the eval side: per-(eval, train) pair
    // distinct-gram counts, then one window per eval picks the worst
    // offender (most shared grams, ties to the smallest train id — the
    // same deterministic order the engine's row_number uses).
    "p14_contamination_report" ->
      s"""WITH w AS (SELECT doc_id,
                            list_filter(string_split(text, ' '), t -> t <> '') AS ws
                     FROM documents),
              g AS (SELECT doc_id,
                           list_distinct(list_transform(generate_series(1, len(ws) - 12),
                             i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4],
                                            ws[i+5], ws[i+6], ws[i+7], ws[i+8], ws[i+9],
                                            ws[i+10], ws[i+11], ws[i+12]))) AS gs
                    FROM w WHERE len(ws) >= 13),
              sp AS (SELECT doc_id,
                            CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                 WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                 ELSE 'test' END AS split
                     FROM documents),
              eg AS (SELECT unnest(gs) AS gram, g.doc_id AS eval_id
                     FROM g JOIN sp USING (doc_id) WHERE sp.split <> 'train'),
              tg AS (SELECT g.doc_id AS train_id, unnest(gs) AS gram
                     FROM g JOIN sp USING (doc_id) WHERE sp.split = 'train'),
              pairs AS (SELECT e.eval_id, t.train_id,
                               CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared
                        FROM tg t JOIN eg e ON t.gram = e.gram
                        GROUP BY 1, 2),
              ranked AS (SELECT eval_id, train_id, n_shared,
                                row_number() OVER (PARTITION BY eval_id
                                  ORDER BY n_shared DESC, train_id ASC) AS rn,
                                CAST(count(*) OVER (PARTITION BY eval_id) AS BIGINT)
                                  AS n_leaky_train_docs
                         FROM pairs)
         SELECT eval_id, n_leaky_train_docs, n_shared AS max_shared_grams,
                train_id AS worst_train_id
         FROM ranked WHERE rn = 1""",

    // Target mixture: the closed-form solve in DOUBLE arithmetic written
    // operation-for-operation as the engine computes it (min of
    // n*10000/w, then floor(w*t/n)) so IEEE754 agreement is exact; plain
    // string_split length matches the engine's split-on-space token count.
    "p15_target_mixture" ->
      """WITH d AS (SELECT doc_id, source,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
              tgt AS (SELECT DISTINCT source, CAST(500 AS BIGINT) AS weight_bp
                      FROM documents),
              c AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_toks
                    FROM d GROUP BY 1),
              j AS (SELECT c.source, n_toks, weight_bp FROM c JOIN tgt USING (source)),
              tm AS (SELECT min(CAST(n_toks AS DOUBLE) * 10000.0
                                / CAST(weight_bp AS DOUBLE)) AS t_max FROM j),
              r AS (SELECT source,
                           CAST(floor(CAST(weight_bp AS DOUBLE) * t_max
                                      / CAST(n_toks AS DOUBLE) + 1e-7) AS BIGINT) AS rate_bp
                    FROM j, tm)
         SELECT d.doc_id, d.source, d.n_tokens, r.rate_bp
         FROM d JOIN r USING (source)
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
               < rate_bp""",

    // Epoch repeats: the t02/p08 quality CTE is the weight; repeats =
    // (10000 + q*3) DIV 10000 plus a hash Bernoulli on the remainder;
    // lateral unnest(generate_series) mirrors explode(sequence).
    "p12_epoch_repeat" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                           CAST(len(list_distinct(ws)) AS BIGINT) AS n_uniq,
                           CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
                    FROM t),
              q AS (SELECT doc_id,
                           CAST(n_uniq * 5000 // n_tokens
                                + (n_tokens - n_stop) * 3000 // n_tokens
                                + least(n_tokens, 100) * 20 AS BIGINT) AS quality_bp
                    FROM c),
              r AS (SELECT doc_id, quality_bp,
                           CAST((10000 + quality_bp * 3) // 10000
                                + CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
                                            < (10000 + quality_bp * 3) % 10000
                                       THEN 1 ELSE 0 END AS BIGINT) AS repeats
                    FROM q)
         SELECT doc_id, quality_bp, repeats,
                CAST(unnest(generate_series(1, repeats)) AS BIGINT) AS epoch_idx
         FROM r""",

    // The composed corpus build: every stage recomputes over the previous
    // stage's survivors, so the CTE chain mirrors corpusBuild stage for
    // stage (same capped components as d09 for the dedup drop, same split
    // CASE as p01/p03, same mix/budget/pack arithmetic as p06/p07/p02).
    "p10_corpus_build" ->
      s"""WITH RECURSIVE $ComponentsCte,
              tok AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws
                      FROM documents),
              qual AS (SELECT doc_id FROM (
                        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                               CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS sum_len,
                               CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
                        FROM tok)
                       WHERE NOT (n_tokens < 20 OR n_tokens > 2000
                              OR sum_len * 100 < n_tokens * 300 OR sum_len * 100 > n_tokens * 1000
                              OR n_stop * 10000 < n_tokens * 100)),
              s2 AS (SELECT t.doc_id, t.lang, t.text, CAST(len(t.ws) AS BIGINT) AS n_tokens
                     FROM tok t JOIN qual USING (doc_id)
                     WHERE t.doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster)),
              spl AS (SELECT doc_id,
                             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                  ELSE 'test' END AS split
                      FROM documents),
              s3 AS (SELECT s2.*, spl.split FROM s2 JOIN spl USING (doc_id)
                     WHERE NOT (spl.split = 'train' AND md5(s2.text) IN (
                         SELECT md5(b.text) FROM s2 b JOIN spl spb ON b.doc_id = spb.doc_id
                         WHERE spb.split <> 'train'))),
              mixc AS (SELECT lang, count(*) AS n_lang FROM s3 GROUP BY lang),
              mixm AS (SELECT min(n_lang) AS n_min FROM mixc),
              mixr AS (SELECT lang, CAST(floor(10000.0 * sqrt(CAST(n_min AS DOUBLE) / n_lang)) AS BIGINT) AS rate_bp
                       FROM mixc, mixm),
              s4 AS (SELECT s3.* FROM s3 JOIN mixr USING (lang)
                     WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < mixr.rate_bp),
              bud AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum FROM s4),
              s5 AS (SELECT doc_id, lang, n_tokens FROM bud WHERE cum - n_tokens < 3000),
              s6 AS (SELECT doc_id, lang, n_tokens,
                            CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) // 2048 AS BIGINT) AS pack_id
                     FROM s5)
         SELECT doc_id, lang, n_tokens, pack_id,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
                CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                     WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                     ELSE 'test' END AS split
         FROM s6""",

    // The v2 composed build: p10's CTE chain with quality carried from the
    // deduped survivors (t02 formula), a 13-gram decontamination stage
    // (p11's gram convention — filtered word list, per-doc list_distinct)
    // between p03 and the mix, and the p12 epoch-repeat tail.
    "p13_corpus_build_v2" ->
      s"""WITH RECURSIVE $ComponentsCte,
              tok AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws
                      FROM documents),
              qual AS (SELECT doc_id FROM (
                        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                               CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS sum_len,
                               CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
                        FROM tok)
                       WHERE NOT (n_tokens < 20 OR n_tokens > 2000
                              OR sum_len * 100 < n_tokens * 300 OR sum_len * 100 > n_tokens * 1000
                              OR n_stop * 10000 < n_tokens * 100)),
              s2c AS (SELECT t.doc_id, t.lang, t.text, t.ws,
                             CAST(len(t.ws) AS BIGINT) AS n_tokens,
                             CAST(len(list_distinct(t.ws)) AS BIGINT) AS n_uniq,
                             CAST(len(list_filter(t.ws, w -> w IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
                      FROM tok t JOIN qual USING (doc_id)
                      WHERE t.doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster)),
              s2 AS (SELECT doc_id, lang, text, n_tokens,
                            CAST(n_uniq * 5000 // n_tokens
                                 + (n_tokens - n_stop) * 3000 // n_tokens
                                 + least(n_tokens, 100) * 20 AS BIGINT) AS quality_bp
                     FROM s2c),
              spl AS (SELECT doc_id,
                             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                  ELSE 'test' END AS split
                      FROM documents),
              s3 AS (SELECT s2.*, spl.split FROM s2 JOIN spl USING (doc_id)
                     WHERE NOT (spl.split = 'train' AND md5(s2.text) IN (
                         SELECT md5(b.text) FROM s2 b JOIN spl spb ON b.doc_id = spb.doc_id
                         WHERE spb.split <> 'train'))),
              gw AS (SELECT doc_id, split,
                            list_filter(string_split(text, ' '), t -> t <> '') AS fws
                     FROM s3),
              gg AS (SELECT doc_id, split,
                            list_distinct(list_transform(generate_series(1, len(fws) - 12),
                              i -> concat_ws(' ', fws[i], fws[i+1], fws[i+2], fws[i+3], fws[i+4],
                                             fws[i+5], fws[i+6], fws[i+7], fws[i+8], fws[i+9],
                                             fws[i+10], fws[i+11], fws[i+12]))) AS gs
                     FROM gw WHERE len(fws) >= 13),
              ge AS (SELECT unnest(gs) AS gram FROM gg WHERE split <> 'train'),
              gt AS (SELECT doc_id, unnest(gs) AS gram FROM gg WHERE split = 'train'),
              gc AS (SELECT DISTINCT gt.doc_id FROM gt JOIN ge USING (gram)),
              s3b AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM gc)),
              mixc AS (SELECT lang, count(*) AS n_lang FROM s3b GROUP BY lang),
              mixm AS (SELECT min(n_lang) AS n_min FROM mixc),
              mixr AS (SELECT lang, CAST(floor(10000.0 * sqrt(CAST(n_min AS DOUBLE) / n_lang)) AS BIGINT) AS rate_bp
                       FROM mixc, mixm),
              s4 AS (SELECT s3b.* FROM s3b JOIN mixr USING (lang)
                     WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < mixr.rate_bp),
              bud AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum FROM s4),
              s5 AS (SELECT doc_id, lang, n_tokens, quality_bp FROM bud WHERE cum - n_tokens < 3000),
              s6 AS (SELECT doc_id, lang, n_tokens, quality_bp,
                            CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) // 2048 AS BIGINT) AS pack_id
                     FROM s5),
              rep AS (SELECT doc_id, lang, n_tokens, pack_id, quality_bp,
                             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
                             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                  ELSE 'test' END AS split,
                             CAST((10000 + quality_bp * 3) // 10000
                                  + CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
                                              < (10000 + quality_bp * 3) % 10000
                                         THEN 1 ELSE 0 END AS BIGINT) AS repeats
                      FROM s6)
         SELECT doc_id, lang, n_tokens, pack_id, quality_bp, bucket, split, repeats,
                CAST(unnest(generate_series(1, repeats)) AS BIGINT) AS epoch_idx
         FROM rep""",

    // Shard checksums: p18's md5-bucket shard (recomputed scan-side),
    // 60-bit md5-prefix digest, order-free bit_xor.
    "p19_shard_checksums" ->
      """SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS BIGINT) AS shard,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS BIGINT) AS checksum
         FROM documents
         GROUP BY 1""",

    // Shard manifest: the p01 md5-bucket shard + md5-rank position.
    "p18_shard_manifest" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh,
                           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS shard
                    FROM documents)
         SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) - 1 AS BIGINT) AS shard_pos
         FROM h""",

    // DSIR selection: hashed unigram+bigram multisets (no DISTINCT — the
    // paper's raw counts), the p01 md5-bucket mirror, Laplace-smoothed
    // integer-bp probabilities with `//` (all operands positive, so
    // DuckDB floor-div == Spark DIV), and t14's one
    // final division-then-round(4).
    "p17_dsir_select" ->
      """WITH w AS (SELECT doc_id, source,
                           list_filter(string_split(text, ' '), t -> t <> '') AS ws
                    FROM documents),
              g AS (SELECT doc_id, source, unnest(ws) AS gram FROM w
                    UNION ALL
                    SELECT doc_id, source,
                           unnest(list_transform(generate_series(1, len(ws) - 1),
                             i -> concat_ws(' ', ws[i], ws[i+1]))) AS gram
                    FROM w WHERE len(ws) >= 2),
              h AS (SELECT doc_id, source = 'src0' AS t,
                           CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 1024 AS bucket
                    FROM g),
              c AS (SELECT bucket,
                           CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
                           CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS r_cnt
                    FROM h GROUP BY 1),
              tt AS (SELECT CAST(sum(t_cnt) AS BIGINT) AS t_total,
                            CAST(sum(r_cnt) AS BIGINT) AS r_total FROM c),
              m AS (SELECT bucket,
                           CAST((t_cnt + 1) * 10000 // (t_total + 1024) AS BIGINT)
                         - CAST((r_cnt + 1) * 10000 // (r_total + 1024) AS BIGINT) AS w_bp
                    FROM c CROSS JOIN tt),
              s AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                           CAST(sum(m.w_bp) AS BIGINT) AS sum_w_bp
                    FROM h JOIN m USING (bucket) WHERE NOT h.t
                    GROUP BY 1)
         SELECT doc_id, n_grams, sum_w_bp,
                round(CAST(sum_w_bp AS DOUBLE) / CAST(n_grams AS DOUBLE), 4) AS dsir_w
         FROM s
         ORDER BY dsir_w DESC, doc_id
         LIMIT 100""",

    // The v3 composed build: p13's CTE chain verbatim except the mixture
    // CTEs — doc-count sqrt temperature becomes the p15 token-share solve
    // (uniform stated 2000 bp per language; binding language admits all,
    // rate = floor(w*T/n_toks + 1e-7) in doubles, the targetMixture
    // arithmetic verbatim). Targets' language set comes from the s2
    // survivors (the engine reads it off the survivors checkpoint).
    "p16_corpus_build_v3" ->
      s"""WITH RECURSIVE $ComponentsCte,
              tok AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws
                      FROM documents),
              qual AS (SELECT doc_id FROM (
                        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                               CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS sum_len,
                               CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
                        FROM tok)
                       WHERE NOT (n_tokens < 20 OR n_tokens > 2000
                              OR sum_len * 100 < n_tokens * 300 OR sum_len * 100 > n_tokens * 1000
                              OR n_stop * 10000 < n_tokens * 100)),
              s2c AS (SELECT t.doc_id, t.lang, t.text, t.ws,
                             CAST(len(t.ws) AS BIGINT) AS n_tokens,
                             CAST(len(list_distinct(t.ws)) AS BIGINT) AS n_uniq,
                             CAST(len(list_filter(t.ws, w -> w IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
                      FROM tok t JOIN qual USING (doc_id)
                      WHERE t.doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster)),
              s2 AS (SELECT doc_id, lang, text, n_tokens,
                            CAST(n_uniq * 5000 // n_tokens
                                 + (n_tokens - n_stop) * 3000 // n_tokens
                                 + least(n_tokens, 100) * 20 AS BIGINT) AS quality_bp
                     FROM s2c),
              spl AS (SELECT doc_id,
                             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                  ELSE 'test' END AS split
                      FROM documents),
              s3 AS (SELECT s2.*, spl.split FROM s2 JOIN spl USING (doc_id)
                     WHERE NOT (spl.split = 'train' AND md5(s2.text) IN (
                         SELECT md5(b.text) FROM s2 b JOIN spl spb ON b.doc_id = spb.doc_id
                         WHERE spb.split <> 'train'))),
              gw AS (SELECT doc_id, split,
                            list_filter(string_split(text, ' '), t -> t <> '') AS fws
                     FROM s3),
              gg AS (SELECT doc_id, split,
                            list_distinct(list_transform(generate_series(1, len(fws) - 12),
                              i -> concat_ws(' ', fws[i], fws[i+1], fws[i+2], fws[i+3], fws[i+4],
                                             fws[i+5], fws[i+6], fws[i+7], fws[i+8], fws[i+9],
                                             fws[i+10], fws[i+11], fws[i+12]))) AS gs
                     FROM gw WHERE len(fws) >= 13),
              ge AS (SELECT unnest(gs) AS gram FROM gg WHERE split <> 'train'),
              gt AS (SELECT doc_id, unnest(gs) AS gram FROM gg WHERE split = 'train'),
              gc AS (SELECT DISTINCT gt.doc_id FROM gt JOIN ge USING (gram)),
              s3b AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM gc)),
              tc AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS n_toks
                     FROM s3b GROUP BY 1),
              tgt AS (SELECT DISTINCT lang, CAST(2000 AS BIGINT) AS weight_bp
                      FROM s2),
              tj AS (SELECT tc.lang, n_toks, weight_bp FROM tc JOIN tgt USING (lang)),
              tmx AS (SELECT min(CAST(n_toks AS DOUBLE) * 10000.0
                                 / CAST(weight_bp AS DOUBLE)) AS t_max FROM tj),
              mixr AS (SELECT lang,
                              CAST(floor(CAST(weight_bp AS DOUBLE) * t_max
                                         / CAST(n_toks AS DOUBLE) + 1e-7) AS BIGINT) AS rate_bp
                       FROM tj, tmx),
              s4 AS (SELECT s3b.* FROM s3b JOIN mixr USING (lang)
                     WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < mixr.rate_bp),
              bud AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum FROM s4),
              s5 AS (SELECT doc_id, lang, n_tokens, quality_bp FROM bud WHERE cum - n_tokens < 3000),
              s6 AS (SELECT doc_id, lang, n_tokens, quality_bp,
                            CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) // 2048 AS BIGINT) AS pack_id
                     FROM s5),
              rep AS (SELECT doc_id, lang, n_tokens, pack_id, quality_bp,
                             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
                             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                  ELSE 'test' END AS split,
                             CAST((10000 + quality_bp * 3) // 10000
                                  + CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
                                              < (10000 + quality_bp * 3) % 10000
                                         THEN 1 ELSE 0 END AS BIGINT) AS repeats
                      FROM s6)
         SELECT doc_id, lang, n_tokens, pack_id, quality_bp, bucket, split, repeats,
                CAST(unnest(generate_series(1, repeats)) AS BIGINT) AS epoch_idx
         FROM rep""",

    "p04_stratified_sample" ->
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
                  row_number() OVER (PARTITION BY lang, source
                                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents) WHERE rn <= 5""",

    "p01_hash_split" ->
      """SELECT doc_id,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
                CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                     WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                     ELSE 'test' END AS split
         FROM documents""",

    "p02_pack_sequences" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents)
         SELECT doc_id, n_tokens,
                CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)
                     // 2048 AS BIGINT) AS pack_id
         FROM t""",

    "p03_decontamination" ->
      """WITH aug AS (SELECT doc_id, text FROM documents
                      UNION ALL
                      SELECT doc_id + 500000, text FROM documents WHERE doc_id < 50),
              s AS (SELECT doc_id, md5(text) AS h,
                           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                ELSE 'test' END AS split
                    FROM aug)
         SELECT a.doc_id AS train_id, b.doc_id AS eval_id, b.split AS eval_split
         FROM s a JOIN s b ON a.h = b.h
         WHERE a.split = 'train' AND b.split <> 'train'""",

    // UNCAPPED, unlike the D03Sql-derived dedup oracles: decontamination
    // recall must not be bounded by the bucket cap, so both sides carry
    // every ≥3-word doc and the cross-split join replaces the capped
    // self-join (mirrors the engine's deltaJaccardPairs(eval, train, None)).
    "p05_near_decontamination" ->
      """WITH w AS (SELECT doc_id, n_chars // 50 AS bkt,
                           list_filter(string_split(text, ' '), t -> t <> '') AS ws
                    FROM documents),
              s AS (SELECT doc_id, bkt,
                           list_distinct(list_transform(generate_series(1, len(ws) - 2),
                             i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
                    FROM w WHERE len(ws) >= 3),
              sp AS (SELECT doc_id,
                            CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                                 WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'valid'
                                 ELSE 'test' END AS split
                     FROM documents),
              e AS (SELECT s.doc_id, s.bkt, s.sh, sp.split FROM s
                    JOIN sp USING (doc_id) WHERE sp.split <> 'train'),
              t AS (SELECT s.doc_id, s.bkt, s.sh FROM s
                    JOIN sp USING (doc_id) WHERE sp.split = 'train')
         SELECT t.doc_id AS train_id, e.doc_id AS eval_id, e.split AS eval_split,
                round(CAST(len(list_intersect(e.sh, t.sh)) AS DOUBLE)
                      / CAST(len(list_distinct(e.sh || t.sh)) AS DOUBLE), 4) AS jaccard
         FROM e JOIN t ON e.bkt = t.bkt
         WHERE CAST(len(list_intersect(e.sh, t.sh)) AS DOUBLE)
               / CAST(len(list_distinct(e.sh || t.sh)) AS DOUBLE) >= 0.2""",

    "p06_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
              m AS (SELECT min(n_lang) AS n_min FROM c),
              r AS (SELECT lang, CAST(n_lang AS BIGINT) AS n_lang,
                           CAST(floor(10000.0 * sqrt(CAST(n_min AS DOUBLE) / n_lang)) AS BIGINT) AS rate_bp
                    FROM c, m)
         SELECT d.doc_id, d.lang, r.n_lang, r.rate_bp
         FROM documents d JOIN r ON d.lang = r.lang
         WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < r.rate_bp""",

    "p07_token_budget" ->
      """WITH t AS (SELECT doc_id, lang,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
              o AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
                    FROM t)
         SELECT doc_id, lang, n_tokens, CAST(cum - n_tokens AS BIGINT) AS cum_before
         FROM o WHERE cum - n_tokens < 3000""",

    "p08_curriculum_bins" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
              c AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_tokens,
                           CAST(len(list_distinct(ws)) AS BIGINT) AS n_uniq,
                           CAST(len(list_filter(ws, w -> w IN ('the','a','of','and','to','is'))) AS BIGINT) AS n_stop
                    FROM t),
              q AS (SELECT doc_id, lang,
                           CAST(n_uniq * 5000 // n_tokens
                                + (n_tokens - n_stop) * 3000 // n_tokens
                                + least(n_tokens, 100) * 20 AS BIGINT) AS quality_bp
                    FROM c)
         SELECT doc_id, lang, quality_bp,
                CAST(ntile(4) OVER (PARTITION BY lang ORDER BY quality_bp DESC, doc_id) AS BIGINT) AS bin
         FROM q""",

    "p09_chunk_windows" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                    FROM documents),
              w AS (SELECT doc_id, ws,
                           unnest(generate_series(1, len(ws), 48)) AS win_start
                    FROM t WHERE len(ws) >= 1)
         SELECT doc_id, CAST((win_start - 1) // 48 AS BIGINT) AS win_idx,
                CAST(win_start AS BIGINT) AS win_start,
                CAST(len(ws[win_start:win_start+63]) AS BIGINT) AS win_len,
                md5(array_to_string(ws[win_start:win_start+63], ' ')) AS win_md5
         FROM w""",
  )
}
