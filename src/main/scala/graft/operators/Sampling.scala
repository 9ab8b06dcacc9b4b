package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.artifacts.Persisted

/** Deterministic sampling and dataset splitting for training pipelines.
  *
  * Everything here is a pure function of row CONTENT (md5 of a key), never
  * of physical placement (`rand()`, partition ids, row order) — so splits
  * are reproducible across runs, cluster sizes, and engines, and a re-run
  * over grown data keeps every existing row's assignment. md5 rather than
  * xxhash64/hash because the reference oracle (and any other engine a user
  * compares against) computes the identical digest.
  */
object Sampling {

  /** Stable bucket in [0, buckets): first 8 md5 hex chars as an integer.
    * 32 uniform bits is plenty for percentage-grade bucketing. */
  def hashBucket(key: Column, buckets: Int = 100): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % buckets

  /** train/valid/test label from [[hashBucket]]. Pass a group key (e.g. the
    * document's source) instead of the row id to keep whole groups in one
    * split — the group-leakage-safe variant. */
  def assignSplit(key: Column, trainPct: Int = 80, validPct: Int = 10): Column = {
    require(trainPct >= 0 && validPct >= 0 && trainPct + validPct <= 100)
    val b = hashBucket(key, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + validPct, "valid")
      .otherwise("test")
  }

  /** Weighted reservoir sampling WITHOUT replacement (p20) — the
    * Efraimidis–Spirakis A-ES/A-ExpJ recipe: each row draws a uniform
    * `u` and the k rows maximizing `u^(1/w)` (equivalently `ln(u)/w`)
    * ARE a weighted sample without replacement. The engine's twist is
    * the house determinism discipline: `u` is a pure function of row
    * CONTENT (the [[hashBucket]] md5 window — `(h32+1)/(2³²+1)` ∈
    * (0,1)), so the "random" sample is reproducible under any
    * partitioning, any engine, any rerun — the property every published
    * reservoir variant gives up by using an RNG stream.
    *
    * Plan shape: the key is one scan-side expression; selection is
    * `orderBy(key).limit(k)` — Spark's distributed TakeOrdered (per-
    * partition top-k heap, merge of k·parts rows, the [[dsirTopK]]
    * convention), never a full sort. The selected frame is k rows;
    * ranking it is free. `ln` stays out of the OUTPUT (only the
    * selection ORDER uses it — key gaps are ~1/k, astronomically wider
    * than a last-ulp libm disagreement, so the selected SET is stable
    * cross-engine; the keywordSalience ln-rule applies to emitted
    * values, not to well-separated orderings). Weights must be > 0. */
  def weightedReservoir(df: DataFrame, idCol: String, weightCol: String,
                        k: Int): DataFrame = {
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val u = (h + 1).cast("double") / 4294967297.0
    val key = log(u) / col(weightCol).cast("double")
    val top = df.select(col(idCol), col(weightCol), key.as("__key"))
      .orderBy(col("__key").desc, col(idCol)).limit(k)
    top.select(col(idCol), col(weightCol),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("__key").desc, col(idCol))).cast("long").as("sel_rank"))
  }

  /** Exact train/eval decontamination: pairs of byte-identical documents
    * whose split assignments straddle the train boundary — each pair is a
    * training document leaking into an evaluation split. Content equality
    * via md5, so the join key is a fixed 32-char hex digest, never the
    * document body; one hash equi-join, no quadratic stage. (Near-duplicate decontamination =
    * run [[graft.operators.Dedup.minhashNearDups]] and filter pairs whose
    * splits differ — same shape, sketch key instead of md5.) */
  def exactContamination(df: DataFrame, idCol: String, textCol: String,
                         splitCol: String, trainLabel: String = "train"): DataFrame = {
    val h = df.select(col(idCol), md5(col(textCol)).as("__h"), col(splitCol))
    val tr = h.filter(col(splitCol) === trainLabel)
      .select(col(idCol).as("train_id"), col("__h"))
    val ev = h.filter(col(splitCol) =!= trainLabel)
      .select(col(idCol).as("eval_id"), col("__h"), col(splitCol).as("eval_split"))
    tr.join(ev, Seq("__h"))
      .select(col("train_id"), col("eval_id"), col("eval_split"))
  }

  /** N-gram-overlap train/eval decontamination (the GPT-3/PaLM recipe):
    * flag every training document that shares at least one word n-gram
    * (n=13 classically) with any evaluation document. This is the leak
    * class the other two decontamination ops miss — [[exactContamination]]
    * (p03) needs the WHOLE document byte-identical, and the near-dup
    * variant (p05) needs whole-document similarity; an eval question
    * quoted verbatim inside a much larger training page passes both but
    * shares its 13-gram run, and is exactly what benchmark-contamination
    * audits look for.
    *
    * Shape at 100 TB: n-grams are built scan-side (array HOFs, one pass,
    * no shuffle), each side deduplicated per document. The eval side in
    * production is a curated benchmark suite — KBs to MBs — so its
    * distinct-gram table is BROADCAST and the corpus-sized train side
    * streams through a map-side hash join; the only shuffled rows are the
    * matches (bounded by eval size × dup factor), aggregated per train
    * doc. Output:
    * one row per contaminated train doc — `(train_id, n_shared_grams,
    * first_eval_id)` (count of distinct leaked n-grams; lowest sharing
    * eval doc id, deterministic).
    *
    * Tokenization matches the corpus convention everywhere else in the
    * engine (split on single space, drop empty tokens); documents with
    * fewer than n tokens cannot leak and are filtered before the HOF
    * (also guards Spark's `sequence(1, k)` producing a DESCENDING range
    * when k < 1). */
  /** Distinct word n-grams of a text column as an `array<string>` — one
    * scan-side pass, no shuffle, stream-safe (pure per-row). The corpus
    * tokenization convention (literal-space split, empty tokens dropped,
    * first-occurrence-order dedup); documents with fewer than n tokens
    * yield an EMPTY array.
    *
    * Round 12: delegates to the codegen'd
    * [[graft.functions.WordShingles]] — element-for-element equal to the
    * round-7 HOF formulation (same tokenizer, same order-preserving dedup,
    * same empty-below-n contract; Round12Spec pins the equality on the
    * corpus against the test-side reference twin), but compiled:
    * higher-order functions are CodegenFallback,
    * and this is the single hottest expression in the engine (every
    * decontamination op, the decontam artifact, both stream gates). */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 2, s"n-gram size must be >= 2, got $n")
    graft.functions.WordShingles.wordShingles(text, n, distinct = true)
  }

  /** The static (gram, eval_id) lookup table [[ngramContamination]] and its
    * streaming twin probe: every distinct n-gram of every eval document.
    * In production this is built ONCE from the curated benchmark suite
    * (KBs–MBs) and broadcast. */
  def evalGramTable(evalDocs: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame =
    evalDocs.select(col(idCol).as("eval_id"),
        wordNgrams(col(textCol), n).as("__gs"))
      .select(col("eval_id"), explode(col("__gs")).as("gram"))

  /** The (train_id, gram, eval_id) match stream both decontamination
    * reports aggregate: corpus n-grams scan-side, eval gram set broadcast,
    * so the corpus streams through a map-side hash join and ONLY matches
    * (bounded by the eval population's grams) ever shuffle. */
  private def contaminationMatches(df: DataFrame, idCol: String,
                                   textCol: String, splitCol: String, n: Int,
                                   trainLabel: String, spread: Boolean): DataFrame = {
    // The dominant cost is per-row CPU (the n-gram HOF + explode), and a
    // compact parquet corpus reads as ONE partition per row group — behind
    // a broadcast join nothing re-parallelizes that scan, so both the
    // broadcast-side build and the probe pass would serialize on it (the
    // d03 scan-layout lesson; measured 9.5s → ~1s at sf0.1). Spread the
    // shared input to cluster parallelism first (physical-plan-guarded:
    // already-shuffled inputs pass through unchanged). `spread=false` for
    // composition callers: spreadToParallelism's partition-count read is
    // EAGER (df.rdd), which would pre-run the upstream stages of a
    // multi-stage plan once just to plan the repartition.
    val base0 = df.select(col(idCol), col(splitCol), col(textCol))
    val base = if (spread) Dedup.spreadToParallelism(base0) else base0
    val grams = base.select(col(idCol), col(splitCol),
        wordNgrams(col(textCol), n).as("__gs"))
      .filter(size(col("__gs")) > 0)
      .select(col(idCol), col(splitCol), explode(col("__gs")).as("gram"))
    val ev = grams.filter(col(splitCol) =!= trainLabel)
      .select(col("gram"), col(idCol).as("eval_id"))
    val tr = grams.filter(col(splitCol) === trainLabel)
      .select(col(idCol).as("train_id"), col("gram"))
    tr.join(broadcast(ev), Seq("gram"))
  }

  def ngramContamination(df: DataFrame, idCol: String, textCol: String,
                         splitCol: String, n: Int = 13,
                         trainLabel: String = "train",
                         spread: Boolean = true): DataFrame =
    contaminationMatches(df, idCol, textCol, splitCol, n, trainLabel, spread)
      .groupBy(col("train_id"))
      .agg(count_distinct(col("gram")).as("n_shared_grams"),
        min(col("eval_id")).as("first_eval_id"))

  /** The leak audit seen from the EVAL side — the artifact a benchmark
    * owner reads: for each compromised eval document, how many train docs
    * quote it, the worst offender, and how many distinct n-grams that
    * offender shares. [[ngramContamination]] answers "which train docs do
    * I drop"; this answers "which benchmarks are compromised and how
    * badly" (the GPT-3-appendix-style per-benchmark contamination table).
    *
    * Same match stream as the drop list (scan-side grams, broadcast eval
    * probe, only matches shuffle); the pair aggregate and the two
    * windows partition on eval_id over the MATCH population — bounded by
    * the curated benchmark suite, never the corpus, so the report costs
    * one small shuffle beyond the probe at any corpus scale.
    *
    * Output: (eval_id, n_leaky_train_docs, max_shared_grams,
    * worst_train_id), worst = most distinct shared grams, ties to the
    * smallest train id (deterministic across engines). */
  def contaminationProvenance(df: DataFrame, idCol: String, textCol: String,
                              splitCol: String, n: Int = 13,
                              trainLabel: String = "train"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = contaminationMatches(df, idCol, textCol, splitCol, n,
        trainLabel, spread = true)
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count_distinct(col("gram")).as("n_shared"))
    val byEval = Window.partitionBy(col("eval_id"))
    val ranked = byEval.orderBy(col("n_shared").desc, col("train_id").asc)
    pairs
      .withColumn("rn", row_number().over(ranked))
      .withColumn("n_leaky_train_docs", count(lit(1)).over(byEval))
      .filter(col("rn") === 1)
      .select(col("eval_id"), col("n_leaky_train_docs"),
        col("n_shared").as("max_shared_grams"),
        col("train_id").as("worst_train_id"))
  }

  // ---- Bloom-filter decontamination (p21) ---------------------------------
  //
  // ngramContamination broadcasts the eval GRAM TABLE — fine while the
  // benchmark suite is KBs–MBs, but the 100 TB regime also has to
  // decontaminate against huge reference sets (every earlier corpus
  // version, a partner's eval suite under NDA-by-hash, …) where the gram
  // table itself is too big to broadcast. The classic answer is a Bloom
  // filter: the reference set compresses to a FIXED-SIZE bit array you
  // choose (128 KB here), the probe is scan-side and shuffle-free, and
  // the one-sided error is exactly the direction decontamination needs —
  // NO false negatives (a leak can never slip through), false positives
  // only cost over-dropping at a measured, bounded rate.

  /** The Bloom artifact: `nShards` independent sub-filters of `mBits` bits
    * each as packed longs, `k` probes per item (Kirsch–Mitzenmacher
    * double hashing — two xxhash64 draws derive all k positions). A plain
    * filter is one shard; past 2³⁰ bits a per-gram hash draw picks the
    * shard on BOTH sides (build routes the gram's bits into its shard;
    * probe tests only that shard), so no single bit array, aggregation
    * buffer, or collected row ever exceeds `mBits`, while the union
    * behaves as one filter of nShards × mBits bits. Save/load/memoize like
    * the gram and IVF indexes.
    *
    * Persisted form: `bloom_bits` rows (shard, w, bits), one file per
    * shard, beside (m_bits per shard, k, n_items, n_shards). Rows are
    * produced executor-side from one broadcast per shard, so the driver
    * holds the index itself and never a row per word (the pre-round-13
    * driver-local Seq of nShards × m/64 boxed tuples was 10^8+ objects at
    * the >2^30-bit scale), and each write task fetches only its own
    * shard. */
  final case class BloomIndex(shards: Array[Array[Long]], mBits: Int, k: Int,
                              nItems: Long) {
    def nShards: Int = shards.length

    def save(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
      import spark.implicits._
      val bcs = shards.map(spark.sparkContext.broadcast(_))
      try {
        val rows = bcs.zipWithIndex.map { case (bc, s) =>
          spark.range(mBits / 64L).map(w => (s, w.toInt, bc.value(w.toInt))).coalesce(1)
        }.reduce(_ union _)
        Persisted.save(dir, "bloom_index", Map("m_bits" -> mBits, "k" -> k,
          "n_items" -> nItems, "n_shards" -> nShards))(
          "bloom_bits" -> rows.toDF("shard", "w", "bits"))
      } finally bcs.foreach(_.destroy())
    }
  }

  def loadBloomIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): BloomIndex = {
    val p = Persisted.load(spark, dir, "bloom_index")
    val shards = Array.fill(p.int("n_shards"))(new Array[Long](p.int("m_bits") / 64))
    p.frame("bloom_bits").collect()
      .foreach(r => shards(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    BloomIndex(shards, p.int("m_bits"), p.int("k"), p.long("n_items"))
  }

  /** Build the filter over a gram frame (one column of strings) in TWO
    * map-side-combining passes: a sizing pass (`approx_count_distinct` —
    * HLL sketches merge map-side; the round-11 exact `distinct().count()`
    * shuffled every gram just to pick a power of two that a ±5% estimate
    * picks identically in all but knife-edge cases, where either
    * neighbor is correctly sized) and one
    * [[graft.functions.BloomBitsAgg]] pass: every task ORs its grams'
    * bits into a local `long[m/64]`, partials merge by array OR, and the
    * driver collects ONE binary row per shard — bounded by the FILTER
    * SIZE, never the reference set (contrast every other fit-collect in
    * the engine, which bounds by sampling). Both hashes are drawn once
    * per gram inside the aggregate; the round-11 k-way
    * `explode(array(...))` → `(word, bit_or)` shape re-derived them in
    * each of the 16 position expressions and pushed 16n rows through a
    * hash aggregate.
    *
    * One shard aggregates globally, with no shuffle. More shards route
    * each gram's bits into its shard's aggregate after
    * `repartition(nShards, shard)`, so every task holds exactly one
    * `long[m/64]` buffer (the buffer-per-group memory story in
    * [[graft.functions.BloomBitsAgg]]'s scaladoc); the reference-set
    * shuffle this adds is bounded by the reference set, which is
    * precisely the population the op exists to avoid broadcasting.
    *
    * `mBits <= 0` auto-sizes each shard from the distinct-gram estimate
    * over nShards (the autoLshParams discipline — a pinned size silently
    * degrades as the reference set grows, exactly the bug the round-9 LSH
    * fix closed): m = next power of two ≥ 32·n, floor 2¹⁷. The sizing
    * target is the DOC-level verdict, which compounds the per-gram rate
    * over every gram in a document (1−(1−p)^G): at load ≤ 1/32 with k=16
    * the per-gram FP is ≤ (1−e^{−1/2})¹⁶ ≈ 3·10⁻⁷, so even 10⁴-gram
    * documents flag falsely at < 1%, far under
    * [[bloomDecontamination]]'s 300 bp corpus ceiling. (A k=3 filter at
    * load 0.1 — the textbook per-ITEM sizing — measures ~80% doc-level
    * FP on 190-gram docs; the compounding is the whole sizing story.) */
  def buildBloomIndex(grams: DataFrame, gramCol: String, nShards: Int = 1,
                      mBits: Int = 0, k: Int = 16): BloomIndex = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")
    val nItems = approxDistinct(grams, gramCol)
    // The shard hash draw splits grams ~evenly, so ceil(n/nShards) is the
    // per-shard population the 32-bits/item target must cover; fail here
    // with a message naming the fix rather than in autoBloomBits.
    val perShard = (nItems + nShards - 1) / nShards
    require(mBits > 0 || perShard * 32L <= (1L << 30),
      s"auto-sized bloom would exceed 2^30 bits per shard for ~$perShard " +
        s"grams/shard (~$nItems total over $nShards shards) — increase " +
        "nShards, or pass mBits explicitly with a documented FP budget")
    val m = if (mBits > 0) mBits else autoBloomBits(perShard)
    require(m % 64 == 0 && m > 0, s"mBits must be a positive multiple of 64, got $m")
    import graft.functions.BloomBitsAgg.{bloomBitsAgg, fromBytes}
    val shards =
      if (nShards == 1)
        Array(fromBytes(grams.agg(bloomBitsAgg(col(gramCol), m, k).as("bits"))
          .head.getAs[Array[Byte]](0)))
      else {
        import org.apache.spark.sql.GraftColumnBridge
        val shard = GraftColumnBridge.column(graft.functions.ShardOfGram(
          GraftColumnBridge.expression(col(gramCol)), nShards))
        val out = Array.fill(nShards)(new Array[Long](m / 64))
        grams
          .select(col(gramCol).as("__g"), shard.as("__shard"))
          .repartition(nShards, col("__shard"))
          .groupBy(col("__shard"))
          .agg(bloomBitsAgg(col("__g"), m, k).as("bits"))
          .collect()
          .foreach(r => out(r.getInt(0)) = fromBytes(r.getAs[Array[Byte]](1)))
        out
      }
    BloomIndex(shards, m, k, nItems)
  }

  private def approxDistinct(grams: DataFrame, gramCol: String): Long =
    grams.agg(approx_count_distinct(col(gramCol)).as("n")).head.getLong(0)

  /** next power of two ≥ 32·n, floor 2¹⁷ (the load ≤ 1/32, k=16 doc-level
    * sizing story above). Arithmetic stays in Long until the final
    * bound check: the pre-round-13 `.toInt << 1` overflowed Int once
    * 32·n crossed 2³¹ and silently collapsed the size to the 2¹⁷ floor
    * — a near-100% FP filter in exactly the regime the caller's 2³⁰
    * guard exists for. Callers must guard 32·n ≤ 2³⁰ BEFORE calling. */
  private[graft] def autoBloomBits(nItems: Long): Int = {
    val target = java.lang.Long.highestOneBit(math.max(1L, nItems * 32L - 1L)) << 1
    require(target <= (1L << 30),
      s"auto-sized bloom of $target bits exceeds the 2^30 single-array bound " +
        s"for ~$nItems grams — shard wider or pass bits explicitly")
    math.max(1 << 17, target.toInt)
  }

  /** Fused exists-over-grams probe as ONE codegen'd expression
    * ([[graft.functions.BloomContainsAny]]) — the hot-path form of
    * `exists(grams, mightContain)`: higher-order functions are
    * CodegenFallback in Spark, so the per-gram interpreted tree dominated
    * the probe's wall clock (measured ~2× on p21 at sf0.1). The Column
    * composition stays in the test tree as the REFERENCE definition, and
    * Round11bSpec pins the two equal so the probe can never drift from
    * the build. Per gram one shard is probed; may return false positives
    * at the sized rate, never false negatives. */
  def bloomContainsAny(idx: BloomIndex)(grams: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.BloomContainsAny(
      GraftColumnBridge.expression(grams), idx.shards, idx.mBits, idx.k))
  }

  /** Bloom-filter n-gram decontamination over a TRAIN frame: one row per
    * train doc with the bloom verdict and, at test scale, the exact
    * verdict recomputed beside it so the one-sided-error contract is
    * driver-visible (the s03 exact-twin convention): `no_false_neg` —
    * every exact leak is bloom-flagged — must be 1 on every row, and the
    * corpus-level false-positive rate must sit under `fpCeilingBp`
    * (`fp_ok`, the recallBand-style cross-joined flag). At 100 TB only
    * the bloom column ships; the exact side IS the oracle's claim here.
    * The shard count never reaches the output: `no_false_neg`/`fp_ok` are
    * properties every shard count satisfies.
    *
    * Shapes: grams scan-side (wordNgrams HOF); the bloom probe is
    * row-local over the gram array (no shuffle, no join); the exact twin
    * is the p11 broadcast probe bounded by the eval gram population. */
  def bloomDecontamination(train: DataFrame, idCol: String, textCol: String,
                           idx: BloomIndex, evalGrams: DataFrame,
                           n: Int = 13, fpCeilingBp: Int = 300): DataFrame = {
    // The dominant cost is per-row CPU (the gram HOF + the k-probe walk),
    // and a compact parquet corpus scans as one partition per row group —
    // spread to cluster parallelism first (the contaminationMatches
    // lesson; physical-plan-guarded, already-shuffled inputs pass
    // through).
    val base = Dedup.spreadToParallelism(train.select(col(idCol), col(textCol)))
    val g = base.select(col(idCol),
      wordNgrams(col(textCol), n).as("__gs"))
    val probed = g.select(col(idCol),
      size(col("__gs")).cast("long").as("n_grams"),
      bloomContainsAny(idx)(col("__gs")).as("__bloom"),
      col("__gs"))
    val exactIds = probed.select(col(idCol), explode(col("__gs")).as("gram"))
      .join(broadcast(evalGrams.select(col("gram")).distinct()), Seq("gram"),
        "left_semi")
      .select(col(idCol)).distinct().withColumn("__exact", lit(true))
    // Two consumers read `joined` (the FP-rate flag aggregate and the
    // output rows); without a barrier the whole probe + exact-twin chain
    // executes twice — the justified-checkpoint pattern on a |train|-row
    // 4-column frame (measured: p21 at sf0.1 halved, 9.5 s → ~4.5 s).
    val joined = probed.drop("__gs")
      .join(exactIds, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("__exact"), lit(false)).as("__exact"), col("__bloom"))
      .localCheckpoint()
    val flag = joined.agg(
        sum(when(col("__bloom") && !col("__exact"), 1L).otherwise(0L)).as("n_fp"),
        sum(when(!col("__exact"), 1L).otherwise(0L)).as("n_clean"))
      .select(when(col("n_fp") * 10000 <= col("n_clean") * fpCeilingBp,
        lit(1L)).otherwise(lit(0L)).as("fp_ok"))
    joined.crossJoin(broadcast(flag))
      .select(col(idCol),
        col("n_grams"),
        col("__exact").cast("long").as("exact_hit"),
        (col("__bloom") || !col("__exact")).cast("long").as("no_false_neg"),
        col("fp_ok"))
  }

  /** Two-stage bloom-prefiltered EXACT decontamination (p22) — the
    * production composition: the corpus probes the bloom scan-side
    * (shuffle-free, [[bloomContainsAny]]) and ONLY the flagged sliver
    * joins the exact gram table for verification and the per-doc report.
    * Because the filter has no false negatives, the prefilter is
    * LOSSLESS for the final output — this returns exactly
    * [[ngramContamination]]'s rows (the oracle claim), while the exact
    * join's probe side shrinks from the whole corpus to
    * |exact hits| + |false positives| documents (at the sized FP rate,
    * a vanishing fraction). The corpus pays one row-local expression;
    * the join pays the leak population. Output: (train_id,
    * n_shared_grams, first_eval_id) — p11's shape, byte-identical.
    *
    * MATERIALIZATION POINT on the flagged sliver: filter pushdown
    * re-inlines the gram HOF through the projection (the filter tests
    * `bloomContainsAny(wordNgrams(text))` scan-side — necessary — and
    * the downstream Generate re-derives `wordNgrams(text)` separately;
    * expression trees don't share across operator boundaries), which the
    * round-11 stress sweep measured as `bloom_verify` ≈ 2× `bloom_probe`
    * at every factor. Checkpointing the sliver pins the HOF to exactly
    * one evaluation per corpus row; the materialized frame is the
    * FLAGGED population (|exact leaks| + |sized FPs| rows), a vanishing
    * fraction of the corpus at any scale. */
  def bloomVerifiedContamination(train: DataFrame, idCol: String,
                                 textCol: String, idx: BloomIndex,
                                 evalGrams: DataFrame,
                                 n: Int = 13): DataFrame = {
    val flagged = Dedup.spreadToParallelism(train.select(col(idCol), col(textCol)))
      .select(col(idCol), wordNgrams(col(textCol), n).as("__gs"))
      .filter(bloomContainsAny(idx)(col("__gs")))
      .localCheckpoint()
    flagged.select(col(idCol).as("train_id"), explode(col("__gs")).as("gram"))
      .join(broadcast(evalGrams.select(col("gram"), col("eval_id"))),
        Seq("gram"))
      .groupBy(col("train_id"))
      .agg(count_distinct(col("gram")).as("n_shared_grams"),
        min(col("eval_id")).as("first_eval_id"))
  }

  /** Epoch-weighted repeat sampling — the data-constrained-scaling recipe
    * (repeat data when the token budget exceeds the unique corpus, and
    * repeat BETTER documents more often). Given an integer quality weight
    * in basis points (0..10000), the target repeat count interpolates
    * 1..maxEpochs: `target_bp = 10000 + weight_bp·(maxEpochs−1)`. The
    * integer part is deterministic; the fractional part is a content-hash
    * Bernoulli (same convention as the temperature mix: reproducible,
    * placement-independent, any doc's fate independent of row order or
    * cluster size). All-integer arithmetic, so every engine agrees
    * exactly.
    *
    * Output: one row per (doc, epoch_idx), `epoch_idx` in 1..repeats,
    * with the repeat count carried. Shape at 100 TB: map-only — the
    * weight is an input column, the repeat decision is per-row
    * arithmetic, and the fan-out is a scan-side `explode(sequence)`;
    * there is NO shuffle anywhere in the plan, so it composes freely
    * after budget/mix stages. Weight 0 ⇒ exactly 1 epoch; weight 10000 ⇒
    * exactly maxEpochs. */
  def epochRepeat(df: DataFrame, idCol: String, weightBpCol: String,
                  maxEpochs: Int): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    df.withColumn("__target_bp",
        col(weightBpCol).cast("long") * lit((maxEpochs - 1).toLong) +
          lit(10000L))
      .withColumn("repeats",
        expr("__target_bp DIV 10000") +
          when(hashBucket(col(idCol), 10000) < col("__target_bp") % lit(10000L),
            lit(1L)).otherwise(lit(0L)))
      .drop("__target_bp")
      .withColumn("epoch_idx", explode(sequence(lit(1L), col("repeats"))))
  }

  /** Token-budget selection: per group, admit documents in deterministic
    * hash order until the group's token budget is exhausted. A document is
    * admitted iff the tokens BEFORE it fit the budget (so the document that
    * straddles the boundary is still taken and every group gets at least
    * one document — the convention corpus samplers use to avoid
    * zero-budget starvation of small strata).
    *
    * The group-wide running sum is the [[Packing.packSequences]] two-pass
    * scan, NOT a single `Window.partitionBy(group)` — groups here are
    * corpus strata (a language can be most of 100 TB) and a plain window
    * would sort a whole stratum in one task. Instead each group splits
    * into 256 sub-buckets on the FIRST md5 BYTE of the order hash (hex
    * digits are ASCII-ordered, so the integer sub-bucket is
    * prefix-consistent with the full md5 ordering and the global
    * (md5, key) order is preserved exactly); running sums are per
    * (group, sub-bucket) windows, and only the 256-row-per-group offset
    * table sees a group-wide window. The hash order also means a re-run
    * over grown data admits a stable prefix: existing admits only change
    * where new documents hash-sort ahead of them — never because physical
    * row order moved. */
  def tokenBudgetPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                          tokensCol: String, budget: Long): DataFrame = {
    require(budget > 0)
    val h = md5(col(keyCol).cast("string"))
    val bucketed = df.withColumn("__h", h)
      .withColumn("__sub", conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
    val wLocal = Window.partitionBy(col(groupCol), col("__sub"))
      .orderBy(col("__h"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed.withColumn("__cum", sum(col(tokensCol)).over(wLocal))
    val offsets = bucketed.groupBy(col(groupCol), col("__sub"))
      .agg(sum(col(tokensCol)).as("__t"))
      .withColumn("__off",
        coalesce(sum(col("__t")).over(
          Window.partitionBy(col(groupCol)).orderBy(col("__sub"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col(groupCol), col("__sub"), col("__off"))
    // No forced broadcast on the offsets side: it is |groups| × 256 rows,
    // tiny for the few-strata corpora this models (languages, sources) but
    // a driver hazard if groupCol were high-cardinality (per-domain, say).
    // AQE picks the broadcast at runtime from the REAL post-aggregate size
    // and falls back to a shuffled hash join past the threshold — the
    // (group, sub) equi-key distributes fine either way.
    local.join(offsets, Seq(groupCol, "__sub"))
      .withColumn("cum_before", (col("__off") + col("__cum") - col(tokensCol)).cast("long"))
      .filter(col("cum_before") < budget)
      .drop("__h", "__sub", "__cum", "__off")
  }

  /** Target-mixture reweighting — admit the LARGEST corpus whose group
    * (domain/language/source) token shares hit EXPLICIT target weights,
    * the DoReMi/Pile-style "train at these mixture proportions" op that
    * generalizes the temperature mix (p06 flattens the natural skew by a
    * sqrt law; this hits arbitrary stated weights). Closed form, no
    * iteration: the admissible total is capped by the single BINDING
    * group with the least headroom, `T = min_g 10^4·n_g / w_g`, and each
    * group's admission rate is `rate_bp_g = floor(w_g·T / n_g)` — the
    * binding group admits everything (rate 10000), every other group
    * downsamples to proportion. Admission is the family's content-hash
    * Bernoulli ([[hashBucket]] on the key), so any document's fate is
    * reproducible and placement-independent, and a re-run over grown
    * data re-solves the same closed form.
    *
    * Shape at 100 TB: one partial-aggregated groupBy for the per-group
    * token totals (shuffled rows = |groups| after map-side combine), the
    * solve is arithmetic over that tiny frame joined against the
    * broadcast targets, and the admission itself is a map-side broadcast
    * join + filter — the corpus never shuffles.
    *
    * `targets`: (groupCol, weight_bp) with weights in basis points;
    * groups of `df` absent from `targets` are dropped (weight 0). The
    * targets frame is caller-built, so its contract is enforced here
    * rather than trusted (the seedOverlapAgainst convention): duplicate
    * (group, weight) rows collapse, CONFLICTING weights for one group
    * fail loudly, and a targeted group with no corpus rows fails loudly
    * too — an inner join would silently renormalize the realized mixture
    * over only the present groups. A non-positive or > 10000 weight fails
    * loudly at first execution (lazy `raise_error` guards throughout — no
    * eager action in the operator). Rates use double arithmetic (the p06
    * precedent: IEEE754 division + floor is engine-exact) floored back to
    * integer basis points. */
  def targetMixture(df: DataFrame, groupCol: String, keyCol: String,
                    tokensCol: String, targets: DataFrame,
                    weightCol: String = "weight_bp"): DataFrame = {
    val rates = targetMixtureRates(df, groupCol, tokensCol, targets, weightCol)
    df.join(broadcast(rates), Seq(groupCol))
      .filter(hashBucket(col(keyCol), 10000) < col("rate_bp"))
  }

  /** The solve half of [[targetMixture]], exposed as its own artifact:
    * (groupCol, rate_bp) — the per-group admission rates realizing the
    * stated mixture over THIS census. In production the census runs
    * offline (yesterday's corpus totals) and the rates table is the tiny
    * broadcast artifact the online admission gate — batch
    * [[targetMixture]] or the streaming twin
    * `EventStreams.targetMixtureStream` — routes on; solve-once /
    * admit-many, the MinHashIndex build/probe split applied to mixture
    * control. All fail-loud guards (bad weight, conflicting weights,
    * zero-token group, targeted group absent) live here, so every
    * consumer inherits them. */
  def targetMixtureRates(df: DataFrame, groupCol: String, tokensCol: String,
                         targets: DataFrame,
                         weightCol: String = "weight_bp"): DataFrame = {
    val wType = targets.schema(weightCol).dataType
    val guarded = targets.select(col(groupCol),
      when(col(weightCol) > 0 && col(weightCol) <= 10000, col(weightCol))
        .otherwise(raise_error(concat(
          lit(s"targetMixture: $weightCol out of (0, 10000]: "),
          col(weightCol).cast("string"))).cast(wType))
        .as(weightCol))
      .groupBy(col(groupCol))
      .agg(min(col(weightCol)).as("__wmin"), max(col(weightCol)).as("__wmax"))
      .select(col(groupCol),
        when(col("__wmin") === col("__wmax"), col("__wmin"))
          .otherwise(raise_error(concat(
            lit("targetMixture: conflicting weights for group "),
            col(groupCol).cast("string"))).cast(wType))
          .as(weightCol))
    // A targeted group with zero tokens drives T to 0 and would silently
    // admit NOTHING corpus-wide — an infeasible mixture must fail loudly
    // like a bad weight does.
    val counts = df.groupBy(col(groupCol))
      .agg(sum(col(tokensCol)).cast("long").as("__n_toks"))
      .withColumn("__n_toks",
        when(col("__n_toks") > 0, col("__n_toks"))
          .otherwise(raise_error(concat(
            lit("targetMixture: group "), col(groupCol).cast("string"),
            lit(" has zero tokens - mixture infeasible"))).cast("long")))
    // LEFT join from the targets side: a targeted group the corpus lacks
    // surfaces as a null count → loud failure, mirroring the zero-token
    // guard (both frames are |groups|-row aggregates; AQE broadcasts).
    val joined = guarded.join(counts, Seq(groupCol), "left")
      .withColumn("__n_toks",
        when(col("__n_toks").isNotNull, col("__n_toks"))
          .otherwise(raise_error(concat(
            lit("targetMixture: targeted group "), col(groupCol).cast("string"),
            lit(" absent from corpus - mixture infeasible"))).cast("long")))
    // T = min over a bounded unpartitioned window on the |groups|-row
    // solve frame (round 19): the former crossJoin(broadcast(joined.agg))
    // re-evaluated `joined` — including the corpus token census — a
    // second time inside the scalar's subplan.
    // +1e-7 before the floor: the binding group recomputes its own ratio
    // in doubles, and rounding can land at 9999.999999999998 — without
    // the nudge the documented "binding group admits everything"
    // invariant loses one hash bucket on non-FP-exact (n, w) pairs. The
    // epsilon is far below half a basis point, and the oracle mirrors it
    // verbatim, so engine agreement is unaffected.
    joined
      .withColumn("__t_max", min(col("__n_toks").cast("double") * 10000.0 /
          col(weightCol).cast("double")).over(
        org.apache.spark.sql.expressions.Window.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("rate_bp",
        floor(col(weightCol).cast("double") * col("__t_max") /
          col("__n_toks").cast("double") + lit(1e-7)))
      .select(col(groupCol), col("rate_bp"))
  }

  /** DSIR-style hashed n-gram importance scoring (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169 — public method description): score every raw
    * document by how much more its hashed unigram+bigram features look
    * like the TARGET (curated seed) distribution than like the RAW
    * corpus distribution. Both distributions are Laplace-smoothed
    * bag-of-hashed-ngrams models over `buckets` hash buckets — the
    * hashing is what makes the model table a BOUNDED artifact (`buckets`
    * rows) no matter how large either corpus is.
    *
    * Integer discipline (the t14/t15 convention — what makes the oracle
    * hash-exact across engines): per-bucket probabilities are integer
    * basis points, `p_bp = (cnt + 1) * 10000 DIV (total + buckets)`, the
    * per-bucket weight is the bp difference `target_bp − raw_bp` (same
    * sign and ranking intent as the paper's log-ratio, exactly
    * reproducible in any engine — no libm in sight), a doc's raw weight
    * is the exact integer sum over its gram OCCURRENCES (multiset, the
    * paper's raw counts), and the only FP step is one final
    * division-then-round(4) into the per-gram average.
    *
    * Shape at 100 TB: grams and buckets are scan-side (codegen'd
    * [[graft.functions.WordShingles]] + the md5 bucket hash inside a
    * `transform`); the model build is one hash aggregate whose key space
    * is `buckets` (tiny, then a broadcast totals join); scoring is a
    * map-side broadcast join against the `buckets`-row weight table plus
    * one per-doc aggregate whose map-side partials collapse each doc's
    * grams before the shuffle — shuffled rows ≈ one per document (the
    * t15 ledger). The corpus never shuffles keyed on content.
    *
    * Output: (idCol, n_grams, sum_w_bp, dsir_w) for every non-target doc
    * with at least one gram. */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
                isTarget: Column, buckets: Int = 1024): DataFrame =
    dsirScoreAgainst(docs.filter(!isTarget), idCol, textCol,
      dsirModelTable(docs, textCol, isTarget, buckets))

  /** The standing DSIR artifact: the DENSE `buckets`-row weight table
    * (bucket, w_bp) — dense so any future document scores against it,
    * including one whose grams hash to buckets neither fit corpus ever
    * saw (those get the pure-smoothing weight; a sparse table would
    * silently drop them from the doc's gram count). The bucket count
    * rides IN the artifact (the LshVecIndex-density principle: a probe
    * at a different bucketing would silently hash grams into the wrong
    * rows), with parquet save/load for the offline cycle. */
  final case class DsirModel(weights: DataFrame, buckets: Int)
      extends graft.artifacts.Releasable {
    def unpersist(): Unit = { weights.unpersist(); () }

    def save(dir: String): Unit =
      Persisted.save(dir, "dsir_model", Map("buckets" -> buckets))(
        "dsir_weights" -> weights)
  }

  /** Load a model previously written with [[DsirModel.save]]. */
  def loadDsirModel(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DsirModel = {
    val p = Persisted.load(spark, dir, "dsir_model")
    DsirModel(p.frame("dsir_weights"), p.int("buckets"))
  }

  /** Fit the [[DsirModel]]: totals ride a broadcast 1-row aggregate —
    * no driver action anywhere. This is what [[dsirScoreAgainst]] and
    * the streaming twin probe, the build/apply split every standing
    * artifact here has. */
  def dsirModelTable(docs: DataFrame, textCol: String, isTarget: Column,
                     buckets: Int = 1024): DsirModel = {
    require(buckets >= 2, s"need >= 2 hash buckets, got $buckets")
    val counts = dsirGrams(docs, textCol, isTarget.as("__t"), buckets)
      .groupBy(col("bucket")).agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("t_cnt"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("r_cnt"))
    val totals = counts.agg(sum(col("t_cnt")).as("t_total"),
      sum(col("r_cnt")).as("r_total"))
    DsirModel(
      docs.sparkSession.range(0, buckets).toDF("bucket")
        .join(counts, Seq("bucket"), "left")
        .na.fill(0L, Seq("t_cnt", "r_cnt"))
        .crossJoin(broadcast(totals))
        .withColumn("w_bp",
          expr(s"CAST((t_cnt + 1) * 10000 DIV (t_total + $buckets) AS BIGINT)" +
            s" - CAST((r_cnt + 1) * 10000 DIV (r_total + $buckets) AS BIGINT)"))
        .select(col("bucket"), col("w_bp")),
      buckets)
  }

  /** Score any frame against a prebuilt [[dsirModelTable]] — the apply
    * half: scan-side gram buckets, a broadcast probe of the
    * `buckets`-row weight table, one per-doc aggregate (map-side
    * partials collapse each doc's grams before the shuffle — the t15
    * ledger). Docs with no grams are absent, the [[dsirScore]]
    * contract. */
  def dsirScoreAgainst(docs: DataFrame, idCol: String, textCol: String,
                       model: DsirModel): DataFrame = {
    import graft.functions.WordShingles.wordShingles
    // Integer-bp weights carried as doubles: sums of integer-valued
    // doubles are exact and order-independent, so the row-local sum is
    // bit-identical to the join form's long aggregate.
    val w = graft.functions.BucketWeightSum
      .collectWeights(model.weights, "bucket", "w_bp", model.buckets)
    docs.select(col(idCol),
        concat(wordShingles(col(textCol), 1, distinct = false),
          wordShingles(col(textCol), 2, distinct = false)).as("__g"))
      .filter(size(col("__g")) > 0)
      .select(col(idCol), size(col("__g")).cast("long").as("n_grams"),
        graft.functions.BucketWeightSum
          .bucketWeightSum(col("__g"), w).cast("long").as("sum_w_bp"))
      .withColumn("dsir_w",
        round(col("sum_w_bp").cast("double") / col("n_grams").cast("double"), 4))
  }

  /** Shared scan-side gram→bucket pass (unigram+bigram multisets, the
    * md5 bucket hash) so the model build and every apply agree on
    * feature geometry by construction. */
  private[graft] def dsirGrams(docs: DataFrame, textCol: String, tag: Column,
                        buckets: Int, extra: Seq[String] = Nil): DataFrame = {
    import graft.functions.WordShingles.wordShingles
    docs
      .select(extra.map(col) :+ tag :+
        concat(wordShingles(col(textCol), 1, distinct = false),
          wordShingles(col(textCol), 2, distinct = false)).as("__g"): _*)
      .filter(size(col("__g")) > 0)
      .select(extra.map(col) :+ col("__t") :+
        explode(transform(col("__g"),
          g => hashBucket(g, buckets))).as("bucket"): _*)
  }

  /** The selection step over [[dsirScore]]: the top `n` raw documents by
    * importance, ties toward the smaller id (deterministic under any
    * partitioning). Runs as a distributed TakeOrdered — every partition
    * keeps a bounded heap, the driver merges n rows — which is the right
    * plan while n is report-sized; selecting a corpus-scale fraction
    * should instead threshold on `dsir_w` (approx_percentile for the
    * cutoff, then a scan-side filter) so no global order is ever
    * materialized. */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, n: Int, buckets: Int = 1024): DataFrame = {
    require(n > 0)
    dsirScore(docs, idCol, textCol, isTarget, buckets)
      .orderBy(col("dsir_w").desc, col(idCol))
      .limit(n)
  }

  /** The corpus-scale selection path [[dsirSelect]]'s scaladoc promises:
    * admit the top `fractionBp` basis points of raw documents by
    * importance WITHOUT ever materializing a global order. The cutoff is
    * one `approx_percentile` aggregate over the scores (a sketch — a
    * 1-row broadcast artifact at any corpus size, accuracy 10k ≈ ±0.01%
    * rank error) and admission is a scan-side filter, so the plan is two
    * passes over the scored frame and zero sorts. The realized fraction
    * tracks `fractionBp` within the sketch's rank error (plus ties at
    * the cutoff, which are all admitted — deterministic, no tie lottery).
    * Use [[dsirSelect]] when n is report-sized and exact. */
  def dsirSelectFraction(docs: DataFrame, idCol: String, textCol: String,
                         isTarget: Column, fractionBp: Long,
                         buckets: Int = 1024): DataFrame = {
    require(fractionBp >= 1 && fractionBp <= 10000,
      s"fractionBp must be in [1, 10000]: $fractionBp")
    // Materialize the scored frame once: the cutoff aggregate and the
    // admission filter both read it, and without the checkpoint each
    // would re-execute the whole model+score pipeline (the p10 justified-
    // materialization pattern; blocks are reclaimed by the
    // ContextCleaner once the result is unreferenced).
    val scored = dsirScore(docs, idCol, textCol, isTarget, buckets)
      .localCheckpoint()
    val cutoff = scored.agg(
      percentile_approx(col("dsir_w"),
        lit((10000L - fractionBp).toDouble / 10000.0), lit(10000))
        .as("__cut"))
    scored.crossJoin(broadcast(cutoff))
      .filter(col("dsir_w") >= col("__cut"))
      .drop("__cut")
  }

  /** Deterministic "random" k-per-group sample: the k rows whose key hash
    * sorts lowest within each group. One shuffle on the group columns;
    * rank-k per group, so output is `k × |groups|` regardless of skew. */
  def samplePerGroup(df: DataFrame, groupCols: Seq[String], keyCol: String,
                     k: Int): DataFrame = {
    require(k > 0)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }
}
