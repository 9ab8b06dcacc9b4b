package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.artifacts.{Compactable, Leaves, OwnsLeaves, Persisted, Tombstones}
import graft.functions.CosineSimilarity.cosineSim
import graft.functions.SimHash64
import graft.plans.PreparedPlan

/** Near-duplicate detection pipelines for document corpora.
  *
  * Three families, all shuffle-disciplined for the 100 TB case:
  *
  *  1. '''Exact / fingerprint dedup''' — one hash-aggregate over the corpus
  *     (map-side partial aggregation; the only shuffle is on the hash key).
  *  2. '''MinHash + LSH''' — signatures are computed scan-side with zero
  *     shuffles (higher-order functions over the token array, no explode of
  *     shingles); the only shuffles are the band-bucket self-join (keys =
  *     (band, bandHash), cardinality ≈ corpus size × #bands) and the final
  *     candidate verification join. Candidate count, not corpus², bounds
  *     the quadratic stage. Skewed buckets (boilerplate text) are the known
  *     hazard — AQE skew-join handles moderate cases; degenerate buckets
  *     should be capped upstream.
  *  3. '''SimHash''' — one 64-bit fingerprint per doc via a codegen'd
  *     expression, then Hamming-ball candidate generation by banding the
  *     fingerprint into 4×16-bit chunks (any ≤3-bit-distant pair shares at
  *     least one exact chunk, pigeonhole) and verifying with `bit_count`.
  */
object Dedup {

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** Round-robin repartition to cluster parallelism — but ONLY when the
    * input scans as fewer partitions than that. A compact parquet corpus
    * reads as one partition per row group, serializing any scan-side
    * per-row CPU (shingles, signatures, pair walks behind a broadcast
    * join); a large corpus already has the partitions and must not pay a
    * gratuitous full-payload shuffle.
    *
    * INPUT CONSTRAINT: pass a PHYSICALLY NARROW frame (scan, map-only
    * projection, broadcast-join enrichment of a scan), never a shuffled
    * or streaming frame. A scan or map-only projection has its partition
    * count read from the prepared plan, running nothing
    * ([[PreparedPlan.narrowPartitionCount]]); any other plan's goes
    * through `df.rdd`, which forces eager physical planning — under AQE
    * that MATERIALIZES any upstream shuffle stages, whose work is then
    * recomputed by the real job (this helper does not cache). Streaming
    * frames have no `.rdd` at all, hence the require. The guard is
    * PHYSICAL, not logical: the planned (pre-AQE) tree is checked for a
    * shuffle exchange, so a broadcast-join-enriched scan — Join node in
    * the logical plan but physically narrow, its partitioning following
    * the streamed scan — still qualifies for the spread, while any
    * shuffle-bearing plan is returned UNCHANGED with a warning (it
    * already carries `shuffle.partitions` partitions, and the eager
    * `.rdd` would silently pre-run its shuffle stages; callers holding an
    * AQE-coalesced shuffle output that is genuinely compact must
    * `.repartition` explicitly). For a qualifying broadcast-join frame
    * the eager pass does build — and discard — the small side's
    * broadcast; that cost is bounded by the broadcast threshold and paid
    * once, against a serialized pair-walk measured 3× slower. */
  def spreadToParallelism(df: DataFrame): DataFrame = {
    require(!df.isStreaming,
      "spreadToParallelism reads the frame's partition count, which a streaming frame cannot answer")
    if (PreparedPlan.exists(df)(_.isInstanceOf[ShuffleExchangeLike])) {
      org.apache.log4j.Logger.getLogger(getClass).warn(
        "spreadToParallelism: physical plan contains a shuffle exchange " +
          "(aggregate/join/repartition upstream); returning it unspread — " +
          "shuffled frames already carry cluster parallelism")
      df
    } else PreparedPlan.spreadUnderSplit(df)
  }

  /** MinHash signature (array<long>, length [[NumHashes]]) — one native
    * codegen'd pass per row (see [[graft.functions.MinHashSignature]]; the
    * equivalent nested higher-order functions re-evaluate the shingle
    * expression per hash index and were ~100× slower). No explode, no
    * shuffle: signatures are computed scan-side. */
  def minhashSignature(shingles: Column): Column =
    graft.functions.MinHashSignature.minhashSignature(shingles, NumHashes)

  /** (band, bandHash) keys for LSH bucketing: 16 bands of 4 signature rows. */
  def bandKeys(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      b => struct(b.as("band"), xxhash64(slice(sig, b * RowsPerBand + 1, lit(RowsPerBand))).as("bh")))

  /** Candidate pairs (a_id < b_id) that collide in at least one LSH band.
    * Input: (id, shingles). */
  def minhashCandidates(docs: DataFrame, idCol: String, shinglesCol: String): DataFrame = {
    val sig = docs.select(col(idCol), minhashSignature(col(shinglesCol)).as("sig"))
    val bands = sig
      .select(col(idCol), explode(bandKeys(col("sig"))).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val a = bands.select(col(idCol).as("a_id"), col("band"), col("bh"))
    val b = bands.select(col(idCol).as("b_id"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: candidates verified with exact
    * shingle Jaccard ≥ `threshold`. Input: (id, shingles). Output:
    * (a_id, b_id, jaccard). */
  def minhashNearDups(docs: DataFrame, idCol: String, shinglesCol: String,
                      threshold: Double): DataFrame = {
    val candidates = minhashCandidates(docs, idCol, shinglesCol)
    val sh = docs.select(col(idCol), col(shinglesCol))
    val withA = candidates.join(
      sh.select(col(idCol).as("a_id"), col(shinglesCol).as("a_sh")), Seq("a_id"))
    val withB = withA.join(
      sh.select(col(idCol).as("b_id"), col(shinglesCol).as("b_sh")), Seq("b_id"))
    withB
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Templated-document dedup (d26): collapse documents that are the SAME
    * page template instantiated with different volatile values — order
    * confirmations, per-user dashboards, paginated listings — the near-dup
    * family that shingle Jaccard often MISSES (a long shared template with
    * short volatile slots can sit under any Jaccard threshold, yet
    * contributes zero diversity). Structural key: digit runs → `0`,
    * whitespace runs collapsed, md5. A doc is `is_templated` when its
    * template's population reaches `minCluster`; keep = non-templated OR
    * the cluster's first doc by id.
    *
    * Shuffle ledger (the 100 TB shape): ONE exchange — the per-template
    * aggregate (hash aggregate, map-side partial combine collapses each
    * partition's copies of a hot template to one row, so a megacluster
    * costs one row per partition, never a hot window partition). Templated
    * clusters (count ≥ minCluster) are a tiny frame by construction —
    * that's what makes them templates — so the verdict joins back by
    * BROADCAST (the d09 drop-set convention) and the corpus itself never
    * exchanges. A window over template_hash would be 1 exchange too but
    * with NO partial aggregation and a skew-hostage partition per
    * megacluster. */
  /** The d26 structural key: digit runs → `0`, whitespace runs collapsed,
    * md5. Scan-side and shared by the batch op and the streaming
    * admission gate so the two can never disagree on what "the same
    * template" means. */
  def templateHash(text: Column): Column =
    md5(regexp_replace(regexp_replace(text, "[0-9]+", "0"), " +", " "))

  def templateDedup(docs: DataFrame, idCol: String, textCol: String,
                    minCluster: Int = 3): DataFrame = {
    val masked = docs.select(col(idCol), templateHash(col(textCol)).as("template_hash"))
    val templated = masked.groupBy(col("template_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))
      .filter(col("n_docs") >= minCluster)
    masked.join(broadcast(templated), Seq("template_hash"), "left")
      .select(col(idCol), col("template_hash"),
        col("keeper_id").isNotNull.as("is_templated"),
        (col("keeper_id").isNull || col("keeper_id") === col(idCol)).as("keep"))
  }

  /** The d26 build half for ingest admission: the standing templated-set
    * artifact (template_hash, n_docs, keeper_id) a stream probes —
    * cross-document counting is exactly what a stream cannot do
    * in-flight, so the threshold lives in the artifact (the
    * [[graft.operators.TextAnalysis.boilerplateLineTable]] scoping).
    * Small by construction (only clusters ≥ `minCluster` survive). */
  def buildTemplateIndex(docs: DataFrame, idCol: String, textCol: String,
                         minCluster: Int = 3): DataFrame =
    docs.select(col(idCol), templateHash(col(textCol)).as("template_hash"))
      .groupBy(col("template_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))
      .filter(col("n_docs") >= minCluster)
      .localCheckpoint()

  /** Exact n-gram-Jaccard near-dup pairs within length-blocked buckets —
    * the oracle-able ground truth for the sketch paths ([[minhashNearDups]]
    * is the 100 TB path). Shingles are built by one native pass, hashed to
    * longs and sorted once per doc; the per-pair work is an allocation-free
    * merge walk ([[graft.functions.IntersectCountSorted]]).
    *
    * SCALE HAZARD, by design: within-bucket pairs grow quadratically with
    * bucket population, and the `lengthBucketWidth`-char blocking key puts
    * no ceiling on that population — a skewed length distribution (a corpus
    * of identically-sized boilerplate) silently degenerates to all-pairs.
    * `maxBucketSize` is the guard: buckets are deterministically truncated
    * to their first N docs by id and a truncated op is only a candidate
    * generator, not ground truth. The oracle query passes None (exact,
    * matched hash-for-hash against DuckDB); any at-scale use should pass a
    * cap or use the MinHash path.
    *
    * The input is round-robin repartitioned to the cluster's parallelism
    * when (and only when) it scans as fewer partitions than that. The
    * small-corpus plan is a BroadcastHashJoin (the blocked side fits the
    * broadcast threshold), so the shingle build AND the per-pair merge-walk
    * CPU — the dominant cost, invisible to AQE because the shuffled BYTES
    * are tiny — run inside the probe side's scan tasks; a compact parquet
    * corpus scans as a handful of partitions and would serialize the whole
    * quadratic stage on them (measured at sf0.1: the 594 KB file is ONE
    * scan partition, so 1.2M pair walks ran single-threaded; spreading the
    * probe cut d03 2.9s → 0.9s). A large many-partition corpus skips the
    * spread (no gratuitous full-text shuffle) — and that regime must cap
    * `maxBucketSize` regardless, or within-bucket pairs, not scan layout,
    * are the bottleneck. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        lengthCol: String, threshold: Double,
                        lengthBucketWidth: Int = 50, n: Int = 3,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    val spread = spreadToParallelism(docs)
    val base0 = spread
      .select(col(idCol), expr(s"$lengthCol DIV $lengthBucketWidth").as("bkt"),
        array_sort(transform(graft.functions.WordShingles.wordShingles(col(textCol), n),
          sh => xxhash64(sh))).as("sh"))
      .filter(size(col("sh")) > 0)
    val base = maxBucketSize match {
      case Some(cap) =>
        // Rank over an (id, bkt)-only projection and semi-join survivors
        // back: ranking the full rows would funnel every shingle array of
        // the degenerate bucket through the single row_number task the cap
        // exists to protect against. The semi join distributes by id hash,
        // so no task sees a whole bucket.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bkt")).orderBy(col(idCol))
        val keep = base0.select(col(idCol), col("bkt"))
          .withColumn("bkt_rn", row_number().over(w))
          .filter(col("bkt_rn") <= cap)
          .select(col(idCol))
        base0.join(keep, Seq(idCol), "left_semi")
      case None => base0
    }
    val a = base.select(col(idCol).as("a_id"), col("bkt"), col("sh").as("a_sh"))
    val b = base.select(col(idCol).as("b_id"), col("bkt"), col("sh").as("b_sh"))
    val ic = graft.functions.IntersectCountSorted.intersectCountSorted(col("a_sh"), col("b_sh"))
    a.join(b, Seq("bkt"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("ic", ic)
      .withColumn("jaccard",
        col("ic").cast("double") /
          (size(col("a_sh")) + size(col("b_sh")) - col("ic")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Chunk-level exact-substring dedup (boilerplate removal): each doc is
    * cut into fixed `chunkTokens`-token chunks, chunk instances are
    * globally deduplicated keep-first by (id, chunk_idx), and each doc
    * reports how much of it survives — the chunked approximation of exact
    * substring dedup over a corpus.
    *
    * Keep-first is computed WITHOUT a window over the chunk hash: a
    * boilerplate-heavy corpus funnels every instance of a hot chunk into
    * one window partition (an unsplittable straggler). Instead the explode
    * aggregates once on the fine-grained (hash, id) key — a hot chunk
    * spread over many docs stays spread, and same-chunk repeats WITHIN a
    * doc collapse in the map-side partials — then a per-hash `min(struct)`
    * over those reduced rows names the one global first instance, joined
    * back on rows-per-hash ≤ docs-per-chunk (skew there is bytes-visible
    * to AQE's skew-join splitting). Exactly one (hash, id) row earns the
    * keeper credit, every other instance counts as a dup. Output:
    * (id, n_chunks, n_dup_chunks, uniq_bp). */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 16): DataFrame = {
    val c = chunkTokens
    require(c >= 1)
    val byDoc = docs
      .select(col(idCol),
        graft.functions.WordShingles
          .wordShingles(col(textCol), 1, distinct = false).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, (size(ws)-1) DIV $c), i -> array_join(slice(ws, i*$c+1, $c), ' '))"))
          .as(Seq("chunk_idx", "chunk")))
      .groupBy(md5(col("chunk")).as("h"), col(idCol))
      .agg(count(lit(1)).as("n_inst"), min(col("chunk_idx")).as("min_idx"))
    val firsts = byDoc.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("min_idx"))).as("first"))
    byDoc.join(firsts, Seq("h"))
      .withColumn("n_dup",
        col("n_inst") - when(col(idCol) === col("first")(idCol), lit(1L)).otherwise(lit(0L)))
      .groupBy(col(idCol))
      .agg(sum(col("n_inst")).as("n_chunks"),
        sum(col("n_dup")).as("n_dup_chunks"))
      .select(col(idCol), col("n_chunks"), col("n_dup_chunks"),
        expr("(n_chunks - n_dup_chunks) * 10000 DIV n_chunks").as("uniq_bp"))
  }

  /** Verification augmentation: plants a deterministic near-duplicate copy
    * of every row matching `pred` under `id + idOffset` — per-coordinate
    * ±3% scaling, cosine ≈ 0.9996 to the original. The d06/s05 oracles
    * apply the IDENTICAL formula (list_transform with 1-based i in SQL),
    * so keep the three in lockstep. Input must already be projected to
    * (idCol, vecCol). */
  def withPlantedNearDups(emb: DataFrame, idCol: String, vecCol: String,
                          pred: Column, idOffset: Long): DataFrame = {
    val base = emb.select(col(idCol), col(vecCol))
    base.unionAll(base.filter(pred).select(
      (col(idCol) + idOffset).as(idCol),
      transform(col(vecCol),
        (x, i) => x * (lit(1.0) + lit(0.01) * ((i % 7) - lit(3)))).as(vecCol)))
  }

  /** Embedding-cosine near-duplicate pairs — the bucketed scale path for
    * vector dedup (the embedding analogue of [[minhashNearDups]]).
    *
    * Candidate generation is a multi-table random-hyperplane-LSH equi-join
    * on (table, bucket) — never an all-pairs theta join — and candidates
    * are verified with exact cosine. Shuffle volume is bounded by bucket
    * collisions, not corpus²: signatures are computed scan-side by one
    * codegen'd expression ([[graft.functions.LshTableBuckets]]); the wide
    * stages are the id-only bucket self-join, the candidate distinct, and
    * one per-side vector re-join by id for verification.
    *
    * Recall: a pair at cosine c collides in one table w.p. p^bits where
    * p = 1 − arccos(c)/π, and is a candidate w.p. 1 − (1 − p^bits)^tables.
    * With the defaults (8 bits × 12 tables) a true near-dup at c ≥ 0.99
    * is missed w.p. < 1e-13 while a random near-orthogonal pair becomes a
    * candidate w.p. ≈ 0.05. This operator is for near-duplicate thresholds
    * (≥ ~0.85); at low thresholds (≤ ~0.6) the qualifying-pair count itself
    * grows quadratically and no bucketing helps — that regime belongs to
    * the exact [[SimilaritySearch.thresholdPairs]] ground-truth op.
    *
    * SIZING: per-table bucket density is N / 2^bits, and within-bucket
    * candidate pairs grow with density², so `bits` must track log2(N) — a
    * fixed `bits` under a growing corpus goes quadratic (measured: 8 bits
    * is linear to ~4× sf0.1 and super-linear at 8×, where bits=11
    * restores linearity — `stress_history/r7_sweep_f148.jsonl`; the
    * auto-sized curve is `stress_history/r9_highfactor_f16_32.jsonl`).
    * The default (`bits = 0`) therefore AUTO-SIZES from the corpus count via
    * [[SimilaritySearch.autoLshParams]]. The count is one cheap job ONLY
    * for a raw scan (column-pruned to parquet row counts); a COMPOSED
    * input re-executes its whole upstream plan for the count and then
    * again for the real job — such callers should pass `corpusCount`
    * (an upstream cardinality they usually already track) or count a
    * cached/checkpointed frame. Pass explicit `bits` (and optionally
    * `tables`) only when the cardinality class is already known; an
    * explicit `bits` without `tables` still gets the +2-tables-per-bit
    * recall compensation the formula above prices. */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, bits: Int = 0, tables: Int = 0,
                        corpusCount: Option[Long] = None): DataFrame = {
    val (nBits, nTables) =
      if (bits > 0 && tables > 0) (bits, tables)
      else if (bits > 0) (bits, 12 + 2 * math.max(0, bits - 8))
      else {
        // Auto bits; an explicitly passed `tables` still wins (a caller
        // buying extra recall must not have the argument silently eaten).
        val (autoBits, autoTables) = SimilaritySearch.autoLshParams(
          corpusCount.getOrElse(emb.count()))
        (autoBits, if (tables > 0) tables else autoTables)
      }
    // Candidate generation on (id, t, bucket) triples ONLY — the vectors
    // never ride the `tables`-way bucket shuffle (joining them through the
    // bucket join would shuffle every embedding `tables` times per side).
    // They join back by id exactly once per side, after the candidate
    // distinct has collapsed multi-table collisions.
    val keyed = SimilaritySearch.lshKeyed(emb, idCol, vecCol, nBits, nTables)
      .select(col(idCol), col("t"), col("bucket"))
    val a = keyed.select(col(idCol).as("a_id"), col("t"), col("bucket"))
    val b = keyed.select(col(idCol).as("b_id"), col("t"), col("bucket"))
    val candidates = a.join(b, Seq("t", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val vecs = emb.select(col(idCol), col(vecCol))
    candidates
      .join(vecs.select(col(idCol).as("a_id"), col(vecCol).as("av")), Seq("a_id"))
      .join(vecs.select(col(idCol).as("b_id"), col(vecCol).as("bv")), Seq("b_id"))
      .withColumn("cos", cosineSim(col("av"), col("bv")))
      .filter(col("cos") > threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
  }

  /** Verbatim-run near-dup pairs — the ExactSubstr recipe ("Deduplicating
    * Training Data Makes Language Models Better": drop documents sharing
    * a ≥ k-token VERBATIM run at any offset). The third dedup geometry
    * beside [[ngramJaccardPairs]] (set similarity — misses a short quote
    * inside a long doc) and [[chunkDedup]] (fixed chunk boundaries — a
    * shared run straddling a boundary hashes into different chunks on
    * each side): any-offset exact runs, the class that catches licensed
    * boilerplate and quoted passages verbatim-copied between documents.
    *
    * Plan: k-token runs are scan-side n-grams (the p11 gram machinery,
    * per-doc distinct), candidate pairs come from a gram-keyed self
    * equi-join — never an all-pairs theta join — and a DOC-FREQUENCY CAP
    * drops grams occurring in more than `maxGramDocs` documents before
    * the join: a boilerplate phrase shared by a million docs would
    * otherwise create a million²/2-pair bucket (the [[ngramJaccardPairs]]
    * bucket-cap argument, applied per gram; dropped grams are by
    * definition boilerplate, not plagiarism signal). Per-gram join work
    * is then ≤ maxGramDocs². Grams are hashed to 64-bit keys SCAN-SIDE
    * (before the checkpoint), so the shuffled/checkpointed volume is
    * (id, long) pairs — never the k-token gram text, which would be ~k
    * copies of the corpus (astronomically unlikely xxhash64 collisions
    * can merge two distinct runs into one pair credit — the standard
    * fingerprint trade, same as [[ngramJaccardPairs]]' hashed shingles).
    *
    * Output: (a_id, b_id, n_shared_runs), one row per unordered pair
    * sharing ≥ 1 surviving k-gram; n_shared_runs counts distinct shared
    * grams (adjacent overlapping grams of one long run each count — the
    * run-length proxy Lee et al. threshold on). */
  def exactSubstrPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 10, maxGramDocs: Int = 256): DataFrame = {
    require(k >= 2, s"run length must be >= 2 tokens, got $k")
    require(maxGramDocs >= 2, s"doc-frequency cap must be >= 2, got $maxGramDocs")
    // wordNgrams emits per-doc DISTINCT grams, so (id, gram) rows are
    // unique and count(*) per gram below is exactly its doc frequency.
    // Hashed to longs inside the same scan-side pass — the text never
    // leaves its scan task.
    //
    // MATERIALIZATION POINT: the gram frame feeds both the doc-frequency
    // aggregate and the semi-join probe side (exchange reuse covers the
    // a/b self-join branches but not these two inputs) — without a
    // checkpoint the dominant cost, the per-row k-gram HOF over the full
    // corpus, is paid twice.
    val grams = hashedDocGrams(docs, idCol, textCol, k).localCheckpoint()
    val keep = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxGramDocs)
      .select(col("gram"))
    val g = grams.join(keep, Seq("gram"), "left_semi")
    val a = g.select(col("gram"), col(idCol).as("a_id"))
    val b = g.select(col("gram"), col(idCol).as("b_id"))
    a.join(b, Seq("gram"))
      .filter(col("a_id") < col("b_id"))
      // (a, b, gram) rows are unique (per-doc distinct grams), so the
      // count IS the distinct shared-run count — no count_distinct state.
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared_runs"))
  }

  /** Positional k-gram instances: (id, pos — 1-based token offset, g —
    * xxhash64 of the space-joined k-token run). Scan-side (one
    * [[graft.functions.WordShingles]] positional pass + hash, the t09
    * machinery); the text never leaves its scan task. */
  private def positionalGramInstances(docs: DataFrame, idCol: String,
                                      textCol: String, k: Int): DataFrame =
    docs.select(col(idCol),
        posexplode(transform(
          graft.functions.WordShingles.wordShingles(col(textCol), k, distinct = false),
          g => xxhash64(g))).as(Seq("pos0", "g")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("g"))

  /** Span-level ExactSubstr: the maximal token ranges to CUT so that no
    * ≥ k-token verbatim run survives in more than one place — the apply
    * step of the Lee-et-al. recipe whose detection step is
    * [[exactSubstrPairs]] (that op names the duplicated PAIRS; this one
    * names the duplicated SPANS and keeps both documents, cutting the
    * shared run from all but one).
    *
    * Keep-first semantics, deterministic and placement-independent: for
    * every duplicated k-gram (≥ 2 occurrences corpus-wide, within- or
    * cross-document) the single globally-first occurrence by (id, pos)
    * survives; every other occurrence marks its k tokens for cutting.
    * Marked instances then merge per document into maximal spans
    * (overlapping or adjacent ranges coalesce) — adjacent overlapping
    * grams of one long duplicated run collapse into one span covering
    * the whole run.
    *
    * Shape at 100 TB: positional gram instances are scan-side (id, pos,
    * 64-bit hash) triples — never text; the duplicate-gram table comes
    * from a two-level hash aggregate ((g, id) partials first, so a hot
    * gram spread across documents stays spread and map-side combine
    * collapses within-doc repeats); the cut-marking join is keyed on the
    * gram hash with per-gram work bounded by the same doc-frequency cap
    * as [[exactSubstrPairs]] (grams in more than `maxGramDocs` documents
    * are EXEMPT — declared boilerplate, dedup elsewhere, never a
    * million²-row bucket); the span merge windows partition per document
    * over its CUT instances only (bounded by doc length, never
    * corpus-wide). Same caveat as the pair op: the dominant cost — the
    * per-row k-gram pass — is paid once behind a localCheckpoint.
    *
    * Output: (id, cut_start, cut_len) — 1-based token offsets, one row
    * per maximal span; documents needing no cut have no rows. */
  def exactSubstrSpans(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 10, maxGramDocs: Int = 256): DataFrame = {
    require(k >= 2, s"run length must be >= 2 tokens, got $k")
    require(maxGramDocs >= 2, s"doc-frequency cap must be >= 2, got $maxGramDocs")
    val inst = positionalGramInstances(docs, idCol, textCol, k).localCheckpoint()
    val perDoc = inst.groupBy(col("g"), col(idCol))
      .agg(count(lit(1)).as("__n_in_doc"), min(col("pos")).as("__min_pos"))
    val firsts = perDoc.groupBy(col("g"))
      .agg(count(lit(1)).as("__df"), sum(col("__n_in_doc")).as("__n_inst"),
        min(struct(col(idCol), col("__min_pos"))).as("__first"))
      .filter(col("__n_inst") >= 2 && col("__df") <= maxGramDocs)
      .select(col("g"), col("__first"))
    val cut = inst.join(firsts, Seq("g"))
      .filter(!(col(idCol) === col("__first")(idCol) &&
        col("pos") === col("__first")("__min_pos")))
      .select(col(idCol), col("pos"))
    mergeCutSpans(cut, idCol, k)
  }

  /** Merge cut-marked k-gram instances (idCol, pos) into maximal
    * [cut_start, cut_len] spans per document: a range starts a new span
    * iff it begins past the running max end of everything before it
    * (+1: touching ranges coalesce too). The window partitions per
    * document over its CUT instances only — bounded by doc length,
    * never corpus-wide. */
  private def mergeCutSpans(cut: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val prevMaxEnd = max(col("__e"))
      .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    cut.withColumn("__e", col("pos") + lit(k - 1))
      .withColumn("__new",
        when(col("pos") > coalesce(prevMaxEnd, lit(-2)) + 1, 1).otherwise(0))
      .withColumn("__island", sum(col("__new"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).cast("long").as("cut_start"),
        (max(col("__e")) - min(col("pos")) + 1).cast("long").as("cut_len"))
      .select(col(idCol), col("cut_start"), col("cut_len"))
  }

  /** Apply precomputed [[exactSubstrSpans]] rows to the corpus: every
    * document (cut or not) with its cleaned text — tokens covered by a
    * cut span removed, survivors re-joined by single space (the corpus
    * tokenization convention; an untouched document's text is normalized
    * the same way, so `clean_text` is uniformly space-canonical). The
    * spans frame joins per document (left — uncut documents pass
    * through), collected to a per-doc sorted array that a scan-side
    * indexed-lambda filter consumes: per-token cost is |spans of that
    * doc|, never corpus-wide. Output: (id, n_tokens, n_cut_spans,
    * n_cut_tokens, clean_text). */
  def exactSubstrApplyFromSpans(docs: DataFrame, spans: DataFrame,
                                idCol: String, textCol: String): DataFrame = {
    val perDoc = spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_cut_spans"),
        sum(col("cut_len")).as("n_cut_tokens"),
        sort_array(collect_list(struct(col("cut_start"), col("cut_len")))).as("__sp"))
    docs.select(col(idCol), col(textCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("__ws", filter(split(col(textCol), " "), t => t =!= ""))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        coalesce(col("n_cut_spans"), lit(0L)).as("n_cut_spans"),
        coalesce(col("n_cut_tokens"), lit(0L)).as("n_cut_tokens"),
        when(col("__sp").isNull, array_join(col("__ws"), " "))
          .otherwise(array_join(
            filter(col("__ws"), (t, i) =>
              !exists(col("__sp"), s =>
                (i + 1 >= s.getField("cut_start")) &&
                  (i + 1 < s.getField("cut_start") + s.getField("cut_len")))),
            " ")).as("clean_text"))
  }

  /** [[exactSubstrSpans]] + [[exactSubstrApplyFromSpans]] in one call —
    * the d16 product shape: the corpus with every ≥ k-token duplicated
    * run cut down to its single first occurrence. */
  def exactSubstrApply(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 10, maxGramDocs: Int = 256): DataFrame =
    exactSubstrApplyFromSpans(docs,
      exactSubstrSpans(docs, idCol, textCol, k, maxGramDocs),
      idCol, textCol)

  /** Duplicate clusters from near-dup PAIRS: connected components by
    * iterative min-label propagation with POINTER JUMPING — the step that
    * turns pair output (d03/d04/d06) into actionable keeper groups
    * (cluster id = smallest member id; keep it, drop the rest).
    *
    * Each iteration is fully distributed: a symmetric edge join pulls the
    * minimum neighbour label one hop, then a label-chase join shortcuts
    * label(id) → label(label(id)) — so label depth roughly HALVES per
    * round and convergence is O(log diameter) instead of O(diameter).
    * Plain propagation needs diameter-many rounds; a 200-node chain (a
    * boilerplate near-dup "ladder" in a petabyte corpus) would exhaust
    * any fixed budget, while with jumping it closes in ~8 rounds
    * (spec-asserted). The driver only orchestrates the loop and checks
    * convergence — the standard Spark shape for iterative graph
    * algorithms. If `maxIter` is still exhausted the best-effort labels
    * are returned with a warning — one pathological component must not
    * abort the pipeline. `localCheckpoint` truncates lineage so plan
    * depth stays constant; superseded checkpoint blocks become
    * unreferenced when `labels` is reassigned and the ContextCleaner
    * reclaims them (localCheckpoint bypasses the CacheManager, so an
    * explicit unpersist() would be a no-op).
    *
    * Input: (aCol, bCol) pair rows. Output: (id, cluster) for every id
    * that appears in at least one pair.
    *
    * BOUNDED FAST PATH (round 12): the pair set is the dedup OUTPUT —
    * small relative to the corpus by the same argument that lets every
    * drop set broadcast — so up to `maxLocalEdges` long-id pairs are
    * collected and union-found driver-side (path-compressed, label =
    * smallest member: identical output), the localKMeans discipline
    * applied to clustering. The iterative path costs ~5 scheduled jobs
    * PER ROUND (three checkpoints, a convergence action) — at bench
    * scale that was most of the `dup_pairs_clusters`/`media_pairs`
    * warmup buckets for pair sets of a few hundred rows. Pair sets past
    * the bound (or non-long ids) run the distributed loop unchanged;
    * the probe collect is `limit`-bounded, and callers that might
    * overflow it should checkpoint their pair frame first (every
    * current caller does). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          maxLocalEdges: Int = 4000000): DataFrame = {
    val longIds = pairs.schema(aCol).dataType == org.apache.spark.sql.types.LongType &&
      pairs.schema(bCol).dataType == org.apache.spark.sql.types.LongType
    // Checkpoint the pair frame ONCE up front: the size probe, the
    // local collect, and the distributed fallback must all read the
    // same rows — an unmaterialized nondeterministic pair plan (e.g. a
    // sampled or banded join a caller forgot to checkpoint) could
    // otherwise hand the probe one edge set and the fallback another
    // (the symmetrize union below reads it TWICE). This is the only
    // eager materialization of the edge set; everything downstream
    // (probe, collect, sym) re-reads the checkpoint, never the input.
    val edges = pairs.select(col(aCol), col(bCol)).localCheckpoint()
    if (longIds) {
      // Executor-side bounded count gates the collect, so the
      // multi-hundred-MB transient Row allocation only ever happens
      // when the edges WILL be union-found locally — an overflowing
      // pair set costs one cheap checkpoint re-scan, not a discarded
      // 4M-row pull.
      val n = edges.limit(maxLocalEdges + 1).count()
      if (n <= maxLocalEdges)
        return localComponents(pairs.sparkSession, edges.collect())
    }
    // Lazy persist, not a second localCheckpoint: sym is derived
    // deterministically from the already-checkpointed edges, so it needs
    // reuse across iterations (its lineage depth is constant — no
    // analysis blowup), not a second eager full-edge-set job. It
    // materializes into the cache during the labels-init scan below.
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nmin"))
      // Carry the old label through the single join so convergence is a
      // filter on the checkpointed result, not a second join + action.
      // Checkpointed: the pointer jump below self-joins this frame, and
      // without materialization the edge-join + aggregate would run twice
      // per iteration.
      val hop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint()
      // Pointer jump: label values are themselves node ids, so one self
      // join rewrites each label to its label's label (monotone: l(l(id))
      // <= l(id) because l(x) <= x). This is what makes deep components
      // close in logarithmic rounds.
      val next = hop
        .join(hop.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"), col("old"),
          coalesce(col("ll"), col("label")).as("label"))
        .localCheckpoint()
      converged = next.filter(col("label") =!= col("old")).isEmpty
      labels = next.select(col("id"), col("label"))
      i += 1
    }
    if (!converged)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"connectedComponents: not converged after $maxIter iterations; " +
          "returning best-effort labels (raise maxIter for exact components)")
    sym.unpersist(blocking = false) // labels is checkpointed — no longer needed
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Driver-local union-find over a collected (a, b) long-pair array —
    * path compression + union by smaller root, then one relabel pass so
    * every node's cluster is its component's SMALLEST member (the exact
    * contract of the distributed loop). */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path-halving walk to the root
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    val nodes = new java.util.LinkedHashSet[Long]()
    edges.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      nodes.add(a); nodes.add(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    // Roots are unioned toward the smaller id, so find(x) IS the
    // component's smallest member once all edges are applied.
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
    val it = nodes.iterator()
    while (it.hasNext) { val n = it.next(); out += ((n, find(n))) }
    out.toSeq.toDF("id", "cluster")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming` (≤ 3 for
    * the 4-chunk banding to be lossless). Input: (id, tokens). Output:
    * (a_id, b_id, hamming). */
  def simhashNearDups(docs: DataFrame, idCol: String, tokensCol: String,
                      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16-bit banding only covers Hamming distance <= 3")
    val fp = docs.select(col(idCol), SimHash64.simhash64(col(tokensCol)).as("fp"))
    val chunkStructs = (0 until 4).map(k =>
      struct(lit(k).as("k"),
        shiftright(col("fp"), k * 16).bitwiseAND(lit(0xFFFFL)).as("chunk")))
    val chunks = fp
      .select(col(idCol), col("fp"), explode(array(chunkStructs: _*)).as("c"))
      .select(col(idCol), col("fp"), col("c.k").as("k"), col("c.chunk").as("chunk"))
    val a = chunks.select(col(idCol).as("a_id"), col("fp").as("a_fp"), col("k"), col("chunk"))
    val b = chunks.select(col(idCol).as("b_id"), col("fp").as("b_fp"), col("k"), col("chunk"))
    a.join(b, Seq("k", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long").as("hamming"))
      // Filter BEFORE the dedup shuffle: hamming is pure per pair, so only
      // the (small) near-dup set needs the distinct exchange.
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---- delta dedup (incremental ingest vs an existing corpus) -----------

  /** Exact cross-corpus n-gram-Jaccard pairs: every (new, old) doc pair in
    * the same length bucket with Jaccard ≥ `threshold`. The INCREMENTAL
    * twin of [[ngramJaccardPairs]] — at 100 TB a pipeline dedups each
    * ingest batch against the standing corpus instead of re-clustering the
    * world, so the join is delta × corpus (tiny × huge), never corpus².
    * Same blocking, shingling, and skew cap as the self-join form (the cap
    * truncates each side's bucket independently, first N ids); ids of the
    * two frames are assumed disjoint (no self-pair filter). Output:
    * (new_id, old_id, jaccard). */
  def deltaJaccardPairs(delta: DataFrame, corpus: DataFrame, idCol: String,
                        textCol: String, lengthCol: String, threshold: Double,
                        lengthBucketWidth: Int = 50, n: Int = 3,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    def prep(df: DataFrame): DataFrame = {
      val base0 = spreadToParallelism(df)
        .select(col(idCol), expr(s"$lengthCol DIV $lengthBucketWidth").as("bkt"),
          array_sort(transform(
            graft.functions.WordShingles.wordShingles(col(textCol), n),
            sh => xxhash64(sh))).as("sh"))
        .filter(size(col("sh")) > 0)
      maxBucketSize match {
        case Some(cap) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("bkt")).orderBy(col(idCol))
          val keep = base0.select(col(idCol), col("bkt"))
            .withColumn("bkt_rn", row_number().over(w))
            .filter(col("bkt_rn") <= cap)
            .select(col(idCol))
          base0.join(keep, Seq(idCol), "left_semi")
        case None => base0
      }
    }
    val a = prep(delta).select(col(idCol).as("new_id"), col("bkt"), col("sh").as("a_sh"))
    val b = prep(corpus).select(col(idCol).as("old_id"), col("bkt"), col("sh").as("b_sh"))
    val ic = graft.functions.IntersectCountSorted
      .intersectCountSorted(col("a_sh"), col("b_sh"))
    a.join(b, Seq("bkt"))
      .withColumn("ic", ic)
      .withColumn("jaccard",
        col("ic").cast("double") /
          (size(col("a_sh")) + size(col("b_sh")) - col("ic")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** The persisted corpus-side artifact of index-based delta dedup: LSH
    * band keys (the candidate-generation join table) plus full MinHash
    * signatures (the verification table, 64 longs per doc — the standard
    * sketch trade: ~512 B/doc instead of the full shingle sets). Build
    * once offline, probe every ingest batch against it. */
  final case class MinHashIndex(idCol: String, bands: DataFrame,
                                signatures: DataFrame,
                                cachedLeaves: Seq[DataFrame] = Nil,
                                appendsSinceCompaction: Int = 0,
                                tombstones: Option[DataFrame] = None) extends Compactable {
    /** Band/signature tables with tombstoned ids filtered OUT — the view
      * every probe reads ([[deltaNearDupsIndexed]]). */
    def liveBands: DataFrame = Tombstones.live(bands, idCol, tombstones)
    def liveSignatures: DataFrame = Tombstones.live(signatures, idCol, tombstones)

    /** Tombstone `ids` (any frame carrying `idCol`): O(|ids|) — probes
      * exclude the docs immediately; [[save]]/[[compact]] drop their
      * rows physically (tombstone-at-probe, drop-at-compact: the
      * takedown verb — opt-outs, decontamination-after-the-fact —
      * between full rebuilds). Unknown ids are harmless. */
    def delete(ids: DataFrame): MinHashIndex =
      copy(tombstones = Tombstones.add(tombstones, ids, idCol))

    /** At 100 TB, write the band table BUCKETED on (band, bh)
      * (`bucketBy` + `saveAsTable`, the [[JoinStrategies]] layout) so
      * per-batch probes co-locate with the index and never re-shuffle the
      * corpus side; the plain-parquet form here is the
      * catalog-independent baseline.
      *
      * `mode = "append"` is the offline ingest-fold cycle (the reference's
      * per-dump append-mode sink contract applied to the index artifact):
      * `buildMinHashIndex(admittedBatch).save(dir, "append")` adds only
      * the batch's files — the standing corpus index is never rewritten,
      * so the append cost tracks the batch, not the corpus. */
    def save(dir: String, mode: String = "overwrite"): Unit =
      // the LIVE view: a saved artifact has deletions applied physically
      // (append-mode ingest batches carry no tombstones, so the filter
      // is a no-op there)
      Persisted.save(dir, "minhash_index", mode = mode)(
        "bands" -> liveBands, "signatures" -> liveSignatures)

    /** Fold an admitted ingest batch into the in-memory index: the
      * batch's signatures and band keys (computed scan-side, exactly the
      * [[buildMinHashIndex]] shapes, cached batch-side only) union onto
      * the standing frames. The standing frames are NOT re-materialized —
      * append cost is one pass over the BATCH; subsequent probes read
      * cached-old + cached-batch. Each append deepens the union lineage
      * by one and increments [[appendsSinceCompaction]];
      * [[appendAndMaybeCompact]] is the lifecycle that bounds the depth
      * automatically (the bare form here leaves folding to the caller).
      * Ids are assumed disjoint from the standing index (same contract
      * as [[deltaNearDupsIndexed]]); input: (id, shingles). */
    def append(batch: DataFrame, shinglesCol: String,
               persist: Boolean = true): MinHashIndex = {
      val leaves = new Leaves(persist, cachedLeaves)
      val bSig = leaves(batch.select(col(idCol),
        minhashSignature(col(shinglesCol)).as("sig")))
      val bBands = leaves(bandTable(bSig, idCol))
      MinHashIndex(idCol, bands.unionByName(bBands),
        signatures.unionByName(bSig), leaves.owned,
        appendsSinceCompaction + 1, tombstones)
    }

    /** Number of Union nodes in the band frame's analyzed plan — the
      * lineage-depth measure the compaction policy bounds (each
      * [[append]] deepens it by one; each probe re-analyzes the whole
      * tree). */
    private[graft] def unionDepth: Int =
      bands.queryExecution.analyzed.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.size

    /** Fold the accumulated append lineage flat: materialize the index to
      * `dir` (overwrite — the amortized offline rewrite, paid once per
      * [[appendAndMaybeCompact]] window, not per batch), release the
      * leaves the old lineage owns, and return a freshly-loaded FLAT
      * index (union depth 0; probes re-analyze a two-scan plan). Probe
      * results are invariant across the boundary (Round7Spec). `dir` must
      * not be a path the current lineage SCANS (an index loaded from
      * `dir` then appended — Spark refuses a self-overwrite); such
      * topologies alternate generation dirs. */
    def compact(dir: String, persist: Boolean = true): MinHashIndex = {
      save(dir, "overwrite")
      unpersist()
      val fresh = loadMinHashIndex(bands.sparkSession, dir, idCol)
      val leaves = new Leaves(persist)
      MinHashIndex(idCol, leaves(fresh.bands), leaves(fresh.signatures), leaves.owned)
    }

    /** The automated ingest-fold lifecycle: [[append]] the batch, then
      * every `compactEvery` appends [[compact]] to `compactDir` — so a
      * long-lived ingest topology's union lineage stays BOUNDED at
      * `compactEvery` no matter how many batches it absorbs (previously a
      * manual "compact every K batches" scaladoc contract that nothing
      * enforced). Per-batch cost stays batch-sized; the corpus rewrite is
      * paid once per window. */
    def appendAndMaybeCompact(batch: DataFrame, shinglesCol: String,
                              compactDir: String, compactEvery: Int = 16,
                              persist: Boolean = true): MinHashIndex =
      Leaves.appendAndMaybeCompact(compactEvery)(append(batch, shinglesCol, persist))(
        _.compact(compactDir, persist))
  }

  /** MinHash Jaccard estimate from two signature columns: matching
    * positions / [[NumHashes]] (std ≈ 1/√64 ≈ 0.125). Shared by the batch
    * and streaming index probes. */
  def signatureEstJaccard(aSig: Column, bSig: Column): Column =
    size(filter(zip_with(aSig, bSig, (x, y) => x === y), m => m))
      .cast("double") / lit(NumHashes).cast("double")

  /** Load an index previously written with [[MinHashIndex.save]]. */
  def loadMinHashIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       idCol: String): MinHashIndex = {
    val p = Persisted.load(spark, dir, "minhash_index")
    MinHashIndex(idCol, p.frame("bands"), p.frame("signatures"))
  }

  /** Build the [[MinHashIndex]] of a corpus: signatures scan-side (one
    * codegen'd pass), band keys unrolled from them — no shuffle at all in
    * the build; the parquet write (or cache) is the only materialization.
    * Input: (id, shingles). */
  def buildMinHashIndex(docs: DataFrame, idCol: String, shinglesCol: String,
                        persist: Boolean = true): MinHashIndex = {
    val leaves = new Leaves(persist)
    val sig = leaves(docs.select(col(idCol), minhashSignature(col(shinglesCol)).as("sig")))
    val bands = leaves(bandTable(sig, idCol))
    MinHashIndex(idCol, bands, sig, leaves.owned)
  }

  /** The (id, band, bh) band-key table of an (id, sig) signature table. */
  private def bandTable(sig: DataFrame, idCol: String): DataFrame =
    sig.select(col(idCol), explode(bandKeys(col("sig"))).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bh").as("bh"))

  /** [[buildMinHashIndex]] memoized through [[Leaves.memoized]]: build once
    * per corpus, probe many. */
  def memoizedMinHashIndex(docs: DataFrame, idCol: String, shinglesCol: String,
                           cacheKey: String): MinHashIndex =
    Leaves.memoized("minhash_index", docs.sparkSession, cacheKey,
        Seq(idCol, shinglesCol)) {
      buildMinHashIndex(docs, idCol, shinglesCol)
    }(_.copy(cachedLeaves = Nil))

  /** Per-doc distinct hashed k-grams — the shared scan-side shape of the
    * ExactSubstr family ([[exactSubstrPairs]], the [[GramIndex]] build
    * and probe, the streaming probe): (id, gram — xxhash64 of the
    * space-joined k-token run). Text never leaves its scan task. */
  private def hashedDocGrams(docs: DataFrame, idCol: String, textCol: String,
                             k: Int): DataFrame =
    docs.select(col(idCol),
      explode(transform(Sampling.wordNgrams(col(textCol), k),
        g => xxhash64(g))).as("gram"))

  /** Doc-frequency cap as a left-semi filter: keep only (id, gram) rows
    * whose gram occurs in at most `cap` documents of THIS frame. */
  private def capGramDf(grams: DataFrame, cap: Int): DataFrame =
    grams.join(
      grams.groupBy(col("gram")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= cap).select(col("gram")),
      Seq("gram"), "left_semi")

  /** The persisted corpus-side artifact of index-based ExactSubstr delta
    * dedup (the d15 family's [[MinHashIndex]] analogue): each corpus
    * document's DISTINCT hashed k-grams, with the doc-frequency cap
    * applied at build time — grams in more than `maxGramDocs` documents
    * are DROPPED FROM THE INDEX (declared boilerplate, the
    * [[exactSubstrPairs]] semantics enforced index-side), so every probe
    * join is bounded at ≤ maxGramDocs index rows per gram by
    * construction, and a capped-out boilerplate gram can never fan an
    * ingest batch out against the corpus.
    *
    * Lifecycle mirrors [[MinHashIndex]]: build once offline, probe every
    * batch, [[append]] admitted batches (batch-side cap only — a gram
    * spread across appends can exceed the global cap between
    * compactions, by at most compactEvery × maxGramDocs, the documented
    * drift bound), [[compact]] re-caps GLOBALLY and flattens the union
    * lineage. At 100 TB write the gram table bucketed on `gram` so
    * probes co-locate without re-shuffling the corpus side. */
  final case class GramIndex(idCol: String, grams: DataFrame,
                             k: Int, maxGramDocs: Int,
                             cachedLeaves: Seq[DataFrame] = Nil,
                             appendsSinceCompaction: Int = 0,
                             tombstones: Option[DataFrame] = None) extends Compactable {
    /** The gram table with tombstoned ids filtered OUT — the view every
      * probe reads. */
    def liveGrams: DataFrame = Tombstones.live(grams, idCol, tombstones)

    /** Tombstone `ids` — the [[MinHashIndex.delete]] contract:
      * O(|ids|), probes exclude immediately, [[save]]/[[compact]] drop
      * physically. */
    def delete(ids: DataFrame): GramIndex =
      copy(tombstones = Tombstones.add(tombstones, ids, idCol))

    /** Persist grams + the (k, maxGramDocs) parameters the probe must
      * reuse (a probe gramming at a different k would silently never
      * match). `mode = "append"` is the offline ingest-fold cycle: only
      * the batch's files are added, the standing index is not rewritten;
      * a batch built at another (k, maxGramDocs) is refused.
      * Writes the LIVE view — deletions land physically. */
    def save(dir: String, mode: String = "overwrite"): Unit =
      Persisted.save(dir, "gram_index",
        Map("k" -> k, "max_gram_docs" -> maxGramDocs), mode)("grams" -> liveGrams)

    /** Fold an admitted ingest batch in: the batch's grams (capped
      * WITHIN the batch) union onto the standing frame — append cost is
      * one pass over the batch; ids assumed disjoint from the standing
      * index. Union depth is bounded by [[appendAndMaybeCompact]]. */
    def append(batch: DataFrame, textCol: String,
               persist: Boolean = true): GramIndex = {
      val leaves = new Leaves(persist, cachedLeaves)
      val b = leaves(capGramDf(hashedDocGrams(batch, idCol, textCol, k), maxGramDocs))
      GramIndex(idCol, grams.unionByName(b), k, maxGramDocs, leaves.owned,
        appendsSinceCompaction + 1, tombstones)
    }

    /** Flatten the append lineage AND restore the global doc-frequency
      * cap (the only point where cross-append boilerplate drift is
      * re-zeroed): re-cap over the full union, overwrite `dir`, release
      * the old lineage, return the freshly-loaded flat index. `dir` must
      * not be a path the current lineage scans (self-overwrite — the
      * [[MinHashIndex.compact]] caveat; alternate generation dirs). */
    def compact(dir: String, persist: Boolean = true): GramIndex = {
      // LIVE view into the re-cap: tombstoned docs drop physically AND
      // stop occupying doc-frequency cap slots from here on
      GramIndex(idCol, capGramDf(liveGrams, maxGramDocs), k, maxGramDocs).save(dir)
      unpersist()
      val fresh = loadGramIndex(grams.sparkSession, dir, idCol)
      val leaves = new Leaves(persist)
      fresh.copy(grams = leaves(fresh.grams), cachedLeaves = leaves.owned)
    }

    /** [[append]] then, every `compactEvery` appends, [[compact]] — the
      * bounded-lineage ingest-fold lifecycle. */
    def appendAndMaybeCompact(batch: DataFrame, textCol: String,
                              compactDir: String, compactEvery: Int = 16,
                              persist: Boolean = true): GramIndex =
      Leaves.appendAndMaybeCompact(compactEvery)(append(batch, textCol, persist))(
        _.compact(compactDir, persist))
  }

  /** Load an index previously written with [[GramIndex.save]]. */
  def loadGramIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    idCol: String): GramIndex = {
    val p = Persisted.load(spark, dir, "gram_index")
    GramIndex(idCol, p.frame("grams"), p.int("k"), p.int("max_gram_docs"))
  }

  /** Build the [[GramIndex]] of a corpus: grams scan-side, one hash
    * aggregate for the cap — nothing else shuffles in the build. */
  def buildGramIndex(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 10, maxGramDocs: Int = 256,
                     persist: Boolean = true): GramIndex = {
    require(k >= 2, s"run length must be >= 2 tokens, got $k")
    require(maxGramDocs >= 2, s"doc-frequency cap must be >= 2, got $maxGramDocs")
    val leaves = new Leaves(persist)
    val g = leaves(capGramDf(hashedDocGrams(docs, idCol, textCol, k), maxGramDocs))
    GramIndex(idCol, g, k, maxGramDocs, leaves.owned)
  }

  /** [[buildGramIndex]] memoized through [[Leaves.memoized]]: build once
    * per corpus and (k, maxGramDocs), probe many. */
  def memoizedGramIndex(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, maxGramDocs: Int, cacheKey: String): GramIndex =
    Leaves.memoized("gram_index", docs.sparkSession, cacheKey,
        Seq(idCol, textCol, k, maxGramDocs)) {
      buildGramIndex(docs, idCol, textCol, k, maxGramDocs)
    }(_.copy(cachedLeaves = Nil))

  /** Index-probing delta ExactSubstr: the ingest batch's hashed k-grams
    * (scan-side, capped WITHIN the batch — a batch-wide boilerplate gram
    * must not fan out against the corpus) equi-join the standing
    * [[GramIndex]]'s gram table. The shuffle is keyed on the 64-bit gram
    * hash and sized by the BATCH plus its matches — never the corpus;
    * per-gram join work is ≤ maxGramDocs (index-side cap, structural) ×
    * batch df (probe-side cap). The corpus text is never read. Ids of
    * the two frames are assumed disjoint (the [[deltaNearDupsIndexed]]
    * contract). Output: (new_id, old_id, n_shared_runs) — the
    * [[exactSubstrPairs]] row shape with the batch on the `new` side. */
  def deltaExactSubstrPairs(delta: DataFrame, index: GramIndex,
                            textCol: String): DataFrame = {
    val b = capGramDf(
      hashedDocGrams(delta, index.idCol, textCol, index.k)
        .withColumnRenamed(index.idCol, "new_id"),
      index.maxGramDocs)
    b.join(index.liveGrams.select(col(index.idCol).as("old_id"), col("gram")),
        Seq("gram"))
      .groupBy(col("new_id"), col("old_id"))
      .agg(count(lit(1)).as("n_shared_runs"))
  }

  /** Span-level delta ExactSubstr: the maximal token ranges of ARRIVING
    * documents that verbatim-quote ≥ k consecutive corpus tokens — the
    * apply geometry of [[exactSubstrSpans]] in the d13/d14/d17 ingest
    * shape. The corpus occurrence is by definition the first (it landed
    * first), so every matching batch-side gram instance marks its k
    * tokens for cutting; marked instances merge into maximal spans per
    * document. Within-batch duplication is deliberately out of scope
    * (run [[exactSubstrSpans]] over the batch for that) — this operator
    * answers "what of this batch is already in the corpus".
    *
    * Probe shape: positional grams are scan-side (id, pos, 64-bit hash)
    * triples; the membership check is a LEFT SEMI join against the
    * standing [[GramIndex]] — no fan-out at all (one surviving row per
    * batch instance, regardless of how many corpus docs share the gram),
    * with boilerplate grams structurally absent index-side. Shuffle is
    * keyed on the gram hash and sized by the batch; the span merge
    * windows per batch document. Corpus text is never read.
    * Output: (id, cut_start, cut_len), the [[exactSubstrSpans]] shape. */
  def deltaExactSubstrSpans(delta: DataFrame, index: GramIndex,
                            textCol: String): DataFrame = {
    val inst = positionalGramInstances(delta, index.idCol, textCol, index.k)
    val cut = inst
      .join(index.liveGrams.select(col("gram").as("g")), Seq("g"), "left_semi")
      .select(col(index.idCol), col("pos"))
    mergeCutSpans(cut, index.idCol, index.k)
  }

  /** [[deltaExactSubstrSpans]] + [[exactSubstrApplyFromSpans]] — every
    * arriving document with its corpus-quoting runs cut: the cleaned
    * batch an admission pipeline lands instead of the raw one. Uncut
    * documents pass through (space-canonical), the apply contract. */
  def deltaExactSubstrApply(delta: DataFrame, index: GramIndex,
                            textCol: String): DataFrame =
    exactSubstrApplyFromSpans(delta,
      deltaExactSubstrSpans(delta, index, textCol), index.idCol, textCol)

  /** d21: the FULL ingest-time ExactSubstr clean — the composition d19's
    * scaladoc declared out of scope, shipped: arriving documents first
    * lose every run that verbatim-quotes ≥ k consecutive CORPUS tokens
    * (corpus precedence — those copies landed first; [[deltaExactSubstrApply]]
    * over the standing capped gram index), then the corpus-cleaned batch
    * runs the WITHIN-BATCH keep-first apply ([[exactSubstrApply]] — the
    * d16 geometry: the batch's own first copy of every surviving run
    * keeps, later copies are cut). The two stages cannot disagree on
    * geometry: k comes from the index artifact in both.
    *
    * Stage order is semantic, not incidental: within-batch detection runs
    * over corpus-CLEANED text, so a run already cut as a corpus quote
    * can never also be charged as a batch duplicate, and (the usual
    * apply caveat, same as d16 alone) a k-run spliced into existence by
    * a cut is judged like any other text. Stage 1's output is
    * materialized once (read by stage 2's span detection, its apply, and
    * the final join — the justified-checkpoint pattern).
    *
    * Output: one row per delta doc — (idCol, n_tokens (original),
    * n_cut_corpus_tokens, n_cut_batch_tokens, clean_text). */
  def ingestExactSubstrClean(delta: DataFrame, index: GramIndex,
                             textCol: String,
                             maxGramDocs: Int = 256): DataFrame = {
    val idCol = index.idCol
    val s1 = deltaExactSubstrApply(delta, index, textCol)
      .select(col(idCol), col("n_tokens"),
        col("n_cut_tokens").as("n_cut_corpus_tokens"), col("clean_text"))
      .localCheckpoint()
    val s2 = exactSubstrApply(s1.select(col(idCol), col("clean_text")),
      idCol, "clean_text", k = index.k, maxGramDocs = maxGramDocs)
      .select(col(idCol), col("n_cut_tokens").as("n_cut_batch_tokens"),
        col("clean_text"))
    s1.drop("clean_text").join(s2, Seq(idCol))
  }

  /** Index-probing delta near-dups: the ingest batch's band keys equi-join
    * the corpus index's band table (shuffle keyed on (band, bandHash) and
    * sized by the DELTA, not the corpus), then candidates verify against
    * the stored signatures with the standard MinHash Jaccard estimate
    * (matching signature positions / [[NumHashes]]). The corpus text is
    * never touched — this is what makes per-batch dedup feasible when the
    * corpus is 100 TB and the index is the only thing kept hot. Estimated
    * Jaccard (±1/sqrt(64) ≈ 0.125 std) is the documented trade vs
    * [[deltaJaccardPairs]]' exact walk; threshold accordingly. Output:
    * (new_id, old_id, est_jaccard). */
  def deltaNearDupsIndexed(delta: DataFrame, index: MinHashIndex,
                           idCol: String, shinglesCol: String,
                           threshold: Double): DataFrame = {
    val dSig = delta.select(col(idCol), minhashSignature(col(shinglesCol)).as("sig"))
    val dBands = dSig
      .select(col(idCol), explode(bandKeys(col("sig"))).as("bk"))
      .select(col(idCol).as("new_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val candidates = dBands
      .join(index.liveBands.select(col(index.idCol).as("old_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("new_id"), col("old_id"))
      .distinct()
    val est = signatureEstJaccard(col("a_sig"), col("b_sig"))
    candidates
      .join(dSig.select(col(idCol).as("new_id"), col("sig").as("a_sig")), Seq("new_id"))
      .join(index.liveSignatures.select(col(index.idCol).as("old_id"), col("sig").as("b_sig")),
        Seq("old_id"))
      .withColumn("est_jaccard", round(est, 4))
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("est_jaccard"))
  }

  /** The vector analogue of [[MinHashIndex]]/[[GramIndex]] — the standing
    * artifact that makes per-batch EMBEDDING dedup feasible against a
    * 100 TB corpus: the corpus' hyperplane-LSH bucket table (id, t,
    * bucket — computed once, scan-side) plus its vectors for exact-cosine
    * verification. (bits, tables) are part of the artifact: a probe
    * bucketing at a different density would silently never collide, the
    * [[GramIndex]] k-mismatch argument. Build with the
    * [[embeddingNearDups]] auto-sizing so the density tracks the corpus.
    * At 100 TB write `buckets` bucketed on (t, bucket) so probes
    * co-locate without re-shuffling the corpus side. */
  final case class LshVecIndex(idCol: String, vecCol: String,
                               buckets: DataFrame, vectors: DataFrame,
                               bits: Int, tables: Int,
                               cachedLeaves: Seq[DataFrame] = Nil,
                               tombstones: Option[DataFrame] = None) extends OwnsLeaves {
    /** Bucket/vector tables with tombstoned ids filtered OUT — the view
      * the vector-delta family's probes read. */
    def liveBuckets: DataFrame = Tombstones.live(buckets, idCol, tombstones)
    def liveVectors: DataFrame = Tombstones.live(vectors, idCol, tombstones)

    /** Tombstone `ids` — the [[MinHashIndex.delete]] contract:
      * O(|ids|), probes (batch [[deltaEmbeddingNearDups]] and the
      * streaming twin) exclude immediately, [[save]] drops physically. */
    def delete(ids: DataFrame): LshVecIndex =
      copy(tombstones = Tombstones.add(tombstones, ids, idCol))

    /** Persist buckets + vectors + the (bits, tables) density the probe
      * must reuse. `mode = "append"` folds an admitted batch's files in
      * without rewriting the standing index; a batch bucketed at another
      * density is refused. Writes the LIVE view — deletions land
      * physically. */
    def save(dir: String, mode: String = "overwrite"): Unit =
      Persisted.save(dir, "lsh_vec_index", Map("bits" -> bits, "tables" -> tables),
        mode)("buckets" -> liveBuckets, "vectors" -> liveVectors)

    /** Fold an admitted ingest batch in at the INDEX's density — append
      * cost is one pass over the batch; ids assumed disjoint. */
    def append(batch: DataFrame, persist: Boolean = true): LshVecIndex = {
      val leaves = new Leaves(persist, cachedLeaves)
      val bB = leaves(SimilaritySearch.lshKeyed(batch, idCol, vecCol, bits, tables)
        .select(col(idCol), col("t"), col("bucket")))
      val bV = leaves(batch.select(col(idCol), col(vecCol)))
      LshVecIndex(idCol, vecCol, buckets.unionByName(bB),
        vectors.unionByName(bV), bits, tables, leaves.owned, tombstones)
    }
  }

  /** Load an index previously written with [[LshVecIndex.save]]. */
  def loadLshVecIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      idCol: String, vecCol: String): LshVecIndex = {
    val p = Persisted.load(spark, dir, "lsh_vec_index")
    LshVecIndex(idCol, vecCol, p.frame("buckets"), p.frame("vectors"),
      p.int("bits"), p.int("tables"))
  }

  /** Build the [[LshVecIndex]] of a corpus: buckets scan-side via the
    * codegen'd [[graft.functions.LshTableBuckets]], density auto-sized
    * from the corpus count unless pinned — nothing but the cache fill
    * shuffles in the build. */
  def buildLshVecIndex(emb: DataFrame, idCol: String, vecCol: String,
                       bits: Int = 0, tables: Int = 0,
                       corpusCount: Option[Long] = None,
                       persist: Boolean = true): LshVecIndex = {
    val (nBits, nTables) =
      if (bits > 0 && tables > 0) (bits, tables)
      else if (bits > 0) (bits, 12 + 2 * math.max(0, bits - 8))
      else {
        val (autoBits, autoTables) = SimilaritySearch.autoLshParams(
          corpusCount.getOrElse(emb.count()))
        (autoBits, if (tables > 0) tables else autoTables)
      }
    val leaves = new Leaves(persist)
    val b = leaves(SimilaritySearch.lshKeyed(emb, idCol, vecCol, nBits, nTables)
      .select(col(idCol), col("t"), col("bucket")))
    val v = leaves(emb.select(col(idCol), col(vecCol)))
    LshVecIndex(idCol, vecCol, b, v, nBits, nTables, leaves.owned)
  }

  /** [[buildLshVecIndex]] memoized through [[Leaves.memoized]]. The
    * requested (bits, tables) are part of the key: a caller tuning density
    * must never be silently handed an index built at a different one. */
  def memoizedLshVecIndex(emb: DataFrame, idCol: String, vecCol: String,
                          cacheKey: String, bits: Int = 0,
                          tables: Int = 0): LshVecIndex =
    Leaves.memoized("lsh_vec_index", emb.sparkSession, cacheKey,
        Seq(idCol, vecCol, bits, tables)) {
      buildLshVecIndex(emb, idCol, vecCol, bits, tables)
    }(_.copy(cachedLeaves = Nil))

  /** Index-probing delta embedding near-dups — [[deltaNearDupsIndexed]]'s
    * vector twin, completing the delta family's geometry set (d13 exact
    * text, d14 minhash text, d17 verbatim runs, this for embeddings):
    * the ingest batch's LSH buckets (scan-side, at the INDEX's density)
    * equi-join the standing bucket table — shuffle keyed on (t, bucket)
    * and sized by the batch plus its collisions, never the corpus — and
    * candidates verify with exact cosine against the stored vectors.
    * Ids assumed disjoint. Output: (new_id, old_id, cos). */
  def deltaEmbeddingNearDups(delta: DataFrame, index: LshVecIndex,
                             threshold: Double): DataFrame = {
    val dKeyed = SimilaritySearch.lshKeyed(delta, index.idCol, index.vecCol,
        index.bits, index.tables)
      .select(col(index.idCol).as("new_id"), col("t"), col("bucket"))
    val candidates = dKeyed
      .join(index.liveBuckets.select(col(index.idCol).as("old_id"),
        col("t"), col("bucket")), Seq("t", "bucket"))
      .select(col("new_id"), col("old_id"))
      .distinct()
    candidates
      .join(delta.select(col(index.idCol).as("new_id"),
        col(index.vecCol).as("av")), Seq("new_id"))
      .join(index.liveVectors.select(col(index.idCol).as("old_id"),
        col(index.vecCol).as("bv")), Seq("old_id"))
      .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(
        col("av"), col("bv")))
      .filter(col("cos") > threshold)
      .select(col("new_id"), col("old_id"), round(col("cos"), 4).as("cos"))
  }

  /** Corpus snapshot diff — the dataset-versioning audit between two
    * corpus versions (the "what changed since the last release" table a
    * training-data pipeline publishes with every refresh): one row per
    * doc id present in either snapshot, with
    * `status ∈ {added, removed, changed, unchanged}` decided by content
    * md5 (the d01/p03 equality convention — the join never carries the
    * text, only the id and a 32-char digest).
    *
    * Plan shape: two column-pruned scans with the md5 computed map-side,
    * ONE full-outer hash equi-join keyed on the id — co-partitionable /
    * bucketable at 100 TB, no other shuffle, output streams map-side
    * from the join. The id is assumed unique within each snapshot (the
    * corpus invariant everywhere in this engine); duplicate ids would
    * fan the join out row×row rather than fail. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol), md5(col(textCol)).as("__old_h"))
    val n = newDocs.select(col(idCol), md5(col(textCol)).as("__new_h"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__old_h").isNull, lit("added"))
          .when(col("__new_h").isNull, lit("removed"))
          .when(col("__old_h") === col("__new_h"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  // ---- d22/d23: paragraph-level (line) deduplication --------------------

  /** The corpus' lines as (idCol, line_idx, 64-bit hash, line) — the
    * shared geometry of the paragraph-dedup family: [[TextAnalysis.docLines]]'
    * positional 16-token windows (the d08 chunk convention, the line
    * analogue this newline-free corpus supports), hashed with xxhash64 so
    * aggregates and joins key on 8 bytes, with the text riding only where
    * the rebuild needs it. */
  private def hashedDocLines(docs: DataFrame, idCol: String, textCol: String,
                             lineTokens: Int): DataFrame =
    TextAnalysis.docLines(docs, idCol, textCol, lineTokens)
      .withColumn("h", xxhash64(col("line")))

  /** The per-line keep-first winner table of a lines frame: for every
    * line hash, the (idCol, line_idx) of its FIRST occurrence — min over
    * the (id, idx) struct, so the aggregate is map-side partial-combinable
    * (one hash aggregate keyed on the 64-bit line hash; a window
    * row_number over the corpus would shuffle every occurrence to a
    * single partition per hot line with no partial collapse). */
  private def lineWinners(lines: DataFrame, idCol: String): DataFrame =
    lines.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("line_idx"))).as("__w"))
      .select(col("h"), col("__w").getField(idCol).as("__wid"),
        col("__w").getField("line_idx").as("__widx"))

  /** Rebuild each document from its surviving lines: one per-doc hash
    * aggregate (sort_array over (line_idx, line) structs — per-document
    * state, never a window over the corpus), the t16 rebuild contract:
    * docs whose every line was cut survive with empty clean_text, so the
    * op composes as a map of the corpus, not a filter. `cutCounts` are
    * (name → is-this-occurrence-cut) predicates, each summed into its own
    * column. */
  private def rebuildFromLines(lines: DataFrame, idCol: String,
                               keep: Column,
                               cutCounts: Seq[(String, Column)]): DataFrame =
    lines.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        cutCounts.map { case (name, c) =>
          sum(when(c, 1L).otherwise(0L)).as(name)
        } ++ Seq(
          array_join(transform(
            sort_array(collect_list(when(keep,
              struct(col("line_idx"), col("line"))))),
            s => s.getField("line")), " ").as("clean_text")): _*)

  /** d22: corpus-wide paragraph-level deduplication — CCNet's paragraph
    * dedup (Wenzek et al. 2020) at the line granularity this corpus
    * supports: every line keeps its FIRST occurrence (ordered by
    * (id, line_idx)) and every later copy — across documents or within
    * one — is cut, then each document is rebuilt from its surviving
    * lines. Distinct from t16's boilerplate scrub (document-frequency
    * threshold, first copy dies too) and from d16's span apply (verbatim
    * runs at arbitrary offsets): this is the set-of-paragraphs view,
    * cheap enough to run corpus-wide before the heavier span machinery.
    *
    * Plan shape: lines are scan-side (codegen'd tokenize + slice); one
    * hash aggregate keyed on the 64-bit line hash produces the winner
    * table (map-side partial min — a hot boilerplate line collapses per
    * partition before it shuffles); one equi-join of the lines frame
    * against the winners on the hash; one per-doc rebuild aggregate.
    * Shuffled volume is the lines frame (≈ corpus text / lineTokens rows)
    * keyed on the hash, then on the doc id — both co-partitionable at
    * 100 TB. Winner identity rides an 8-byte hash; xxhash64 collisions
    * (astronomically unlikely) would cut a non-duplicate line, the
    * documented d15-family trade.
    *
    * Output: (idCol, n_lines, n_cut_lines, clean_text), one row per doc
    * with ≥ 1 line. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     lineTokens: Int = 16): DataFrame = {
    // The lines frame is read by both the winner aggregate and the join
    // side, so the scan-side tokenize+slice runs twice — deliberate: the
    // frame is ≈ the corpus text volume, and at 100 TB re-scanning a
    // columnar source beats materializing a corpus-sized checkpoint
    // (the t16 build/apply trade; d23's probe checkpoints because its
    // frame is batch-sized).
    val lines = hashedDocLines(docs, idCol, textCol, lineTokens)
    val isWinner = col(idCol) === col("__wid") && col("line_idx") === col("__widx")
    rebuildFromLines(
      lines.join(lineWinners(lines, idCol), Seq("h")),
      idCol, keep = isWinner,
      cutCounts = Seq("n_cut_lines" -> !isWinner))
  }

  /** The standing corpus-side artifact of ingest-time paragraph dedup
    * (the [[GramIndex]] analogue at line granularity): the DISTINCT
    * 64-bit line hashes of the corpus, with the window width riding in
    * the artifact (a probe slicing at a different width would silently
    * never match — the GramIndex k-mismatch argument). One row per
    * distinct corpus line ≈ corpus text / lineTokens rows at worst, far
    * smaller after dedup; at 100 TB write `hashes` bucketed on `h` so
    * probes co-locate without re-shuffling the corpus side. Lifecycle
    * mirrors [[GramIndex]]: build once, probe every batch, [[append]]
    * admitted batches, [[compact]] to flatten the union lineage (append
    * keeps per-batch distinctness only; compact restores global
    * distinctness — until then a line appended by two batches is stored
    * twice, a size bound, never a correctness one: probes are left-semi). */
  final case class LineSetIndex(hashes: DataFrame, lineTokens: Int,
                                cachedLeaves: Seq[DataFrame] = Nil,
                                appendsSinceCompaction: Int = 0) extends Compactable {
    /** Persist the hashes + the window width the probe must reuse;
      * `mode = "append"` refuses a batch sliced at another width. */
    def save(dir: String, mode: String = "overwrite"): Unit =
      Persisted.save(dir, "line_set_index", Map("line_tokens" -> lineTokens),
        mode)("line_hashes" -> hashes)

    /** Fold an admitted ingest batch in: the batch's distinct line hashes
      * union onto the standing frame — one pass over the batch. */
    def append(batch: DataFrame, idCol: String, textCol: String,
               persist: Boolean = true): LineSetIndex = {
      val leaves = new Leaves(persist, cachedLeaves)
      val b = leaves(hashedDocLines(batch, idCol, textCol, lineTokens)
        .select(col("h")).distinct())
      LineSetIndex(hashes.unionByName(b), lineTokens, leaves.owned,
        appendsSinceCompaction + 1)
    }

    /** Flatten the append lineage and restore global distinctness:
      * re-distinct the union, overwrite `dir` (must not be a path the
      * current lineage scans — the [[GramIndex.compact]] caveat), release
      * the old lineage, return the freshly-loaded flat index. */
    def compact(dir: String, persist: Boolean = true): LineSetIndex = {
      LineSetIndex(hashes.distinct(), lineTokens).save(dir)
      unpersist()
      val fresh = loadLineSetIndex(hashes.sparkSession, dir)
      val leaves = new Leaves(persist)
      fresh.copy(hashes = leaves(fresh.hashes), cachedLeaves = leaves.owned)
    }

    /** [[append]] then, every `compactEvery` appends, [[compact]] — the
      * bounded-lineage ingest-fold lifecycle ([[GramIndex.appendAndMaybeCompact]]'s
      * twin). */
    def appendAndMaybeCompact(batch: DataFrame, idCol: String, textCol: String,
                              compactDir: String, compactEvery: Int = 16,
                              persist: Boolean = true): LineSetIndex =
      Leaves.appendAndMaybeCompact(compactEvery)(append(batch, idCol, textCol, persist))(
        _.compact(compactDir, persist))
  }

  /** Load an index previously written with [[LineSetIndex.save]]. */
  def loadLineSetIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String): LineSetIndex = {
    val p = Persisted.load(spark, dir, "line_set_index")
    LineSetIndex(p.frame("line_hashes"), p.int("line_tokens"))
  }

  /** Build the [[LineSetIndex]] of a corpus: lines scan-side, one
    * distinct aggregate on the 64-bit hash — nothing else shuffles. */
  def buildLineSetIndex(docs: DataFrame, idCol: String, textCol: String,
                        lineTokens: Int = 16,
                        persist: Boolean = true): LineSetIndex = {
    require(lineTokens >= 1, s"lineTokens must be positive, got $lineTokens")
    val leaves = new Leaves(persist)
    val h = leaves(hashedDocLines(docs, idCol, textCol, lineTokens)
      .select(col("h")).distinct())
    LineSetIndex(h, lineTokens, leaves.owned)
  }

  /** d23: ingest-time paragraph clean — the d21 composition at line
    * granularity: arriving documents first lose every line already
    * present in the corpus (corpus precedence — those copies landed
    * first; a LEFT join against the standing [[LineSetIndex]]), then the
    * surviving batch lines run the within-batch keep-first dedup (the
    * d22 geometry over the corpus-surviving population only, so a line
    * cut as a corpus copy is never also charged as a batch duplicate).
    * Window width comes from the index artifact, so the two stages — and
    * the corpus build — can never disagree on geometry.
    *
    * Probe shape: batch lines are scan-side; the corpus membership check
    * joins the BATCH against the index keyed on the 64-bit hash (shuffle
    * sized by the batch — with the index bucketed on `h`, no corpus-side
    * shuffle at all); the within-batch winner aggregate and the rebuild
    * are both batch-sized. The corpus text is never read. Ids of the two
    * frames are assumed disjoint (the [[deltaNearDupsIndexed]] contract).
    *
    * Output: (idCol, n_lines, n_cut_corpus_lines, n_cut_batch_lines,
    * clean_text), one row per batch doc with ≥ 1 line. */
  def ingestParagraphClean(delta: DataFrame, index: LineSetIndex,
                           idCol: String, textCol: String): DataFrame = {
    val lines = hashedDocLines(delta, idCol, textCol, index.lineTokens)
    // Materialized once (the justified-checkpoint pattern — BATCH-sized
    // by construction): both the winner aggregate and the final rebuild
    // read this frame, and without it the batch scan AND the index
    // probe would run twice.
    val flagged = lines.join(
      index.hashes.select(col("h")).distinct().withColumn("__corpus", lit(1)),
      Seq("h"), "left")
      .localCheckpoint()
    val winners = lineWinners(flagged.filter(col("__corpus").isNull), idCol)
    val isWinner = col("__corpus").isNull &&
      col(idCol) === col("__wid") && col("line_idx") === col("__widx")
    rebuildFromLines(
      flagged.join(winners, Seq("h"), "left"),
      idCol, keep = isWinner,
      cutCounts = Seq(
        "n_cut_corpus_lines" -> col("__corpus").isNotNull,
        "n_cut_batch_lines" -> (col("__corpus").isNull && !isWinner)))
  }

  // ---- d24: soft dedup (duplication-discounted sampling weights) --------

  /** d24: soft deduplication — instead of DROPPING near-duplicate
    * documents, DOWN-WEIGHT them so each duplicate cluster contributes
    * one document's worth of sampling mass (the reweighting alternative
    * to hard dedup studied by e.g. He et al. 2024 "SoftDedup": rare
    * text keeps full weight, duplicated text is discounted, nothing is
    * lost outright). Input is any (id, cluster) assignment — in the
    * shipped pipeline the [[connectedComponents]] output over the d03
    * pair set, the same standing artifact d07/d09/d10/d12 read, so soft
    * and hard dedup can never disagree on what is a duplicate.
    *
    * Every document in a cluster of size n gets weight_bp =
    * 10000 / n (integer basis points, the engine-wide convention);
    * documents in no cluster are singletons at 10000. The output
    * composes directly with [[Sampling.epochRepeat]]'s weightBpCol —
    * soft dedup IS a sampling schedule, not a corpus rewrite.
    *
    * Plan shape: one hash aggregate over the (bounded) cluster table for
    * sizes, one LEFT join of the corpus ids against the weighted cluster
    * assignment (broadcast when the duplicate population is small — the
    * expected regime; the corpus never shuffles). Output: (idCol,
    * cluster_size, weight_bp), one row per corpus doc. */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame,
                       idCol: String): DataFrame = {
    val sizes = clusters.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    val weighted = clusters.join(sizes, Seq("cluster"))
      .select(col("id").as(idCol), col("cluster_size"))
    docs.select(col(idCol)).join(weighted, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_bp", expr("CAST(10000 DIV cluster_size AS BIGINT)"))
  }
}
