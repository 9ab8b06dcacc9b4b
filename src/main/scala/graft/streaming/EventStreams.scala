package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is batch-only by design (nightly CronJob, SURVEY.md §2.3),
  * so these are capability extensions: the same transforms the batch
  * queries run, expressed as incremental streaming plans —
  * watermark-bounded windowed aggregation and stateful sessionization via
  * `flatMapGroupsWithState`. State is keyed per user, so it shards across
  * executors; the watermark bounds state size at scale.
  */
object EventStreams {

  /** events schema as read from parquet (ts already µs-normalised). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source over a directory of event parquet files. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Watermarked sliding-window aggregation: 1h windows, 10m watermark.
    * Late events beyond the watermark are dropped; state for closed windows
    * is evicted — bounded memory regardless of stream length. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("bucket_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming exact deduplication: keep the first occurrence of each
    * `keyCols` combination. State is one entry per distinct key, evicted
    * once the watermark passes the key's event time + delay — so state
    * stays bounded on an unbounded stream (the streaming twin of the batch
    * d01/d02 dedup operators; key on a content hash column for document
    * pipelines). Duplicates arriving within `watermarkDelay` of the
    * original are dropped; later ones are out of contract, exactly
    * Spark's `dropDuplicatesWithinWatermark` semantics. */
  def dedupeStream(events: DataFrame, keyCols: Seq[String],
                   watermarkDelay: String = "10 minutes",
                   tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming incremental NEAR-dup detection — the streaming twin of the
    * d14 batch probe ([[graft.operators.Dedup.deltaNearDupsIndexed]]): an
    * unbounded stream of incoming documents probes the STATIC persisted
    * corpus [[graft.operators.Dedup.MinHashIndex]]. This is the natural
    * ingest topology at 100 TB — the corpus index is built offline and
    * loaded once; each arriving doc is checked in-flight, with the corpus
    * text never read.
    *
    * Plan shape: signatures + band keys computed scan-side per arriving
    * row (codegen'd expressions, no state), then a STREAM-STATIC equi-join
    * on (band, bandHash) — stateless by construction, Spark never buffers
    * the static side per trigger — then signature-estimate verification.
    * The ONLY stateful operator is the final
    * `dropDuplicatesWithinWatermark` that collapses the per-band candidate
    * duplicates (a pair colliding in k bands appears k times), and its
    * state is one entry per emitted pair, evicted by the watermark.
    *
    * Input: streaming (idCol, tsCol, shinglesCol). Output: (new_id,
    * old_id, est_jaccard, tsCol) append-mode rows. */
  def deltaDedupStream(docs: DataFrame, idCol: String, shinglesCol: String,
                       tsCol: String, index: graft.operators.Dedup.MinHashIndex,
                       threshold: Double,
                       watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.operators.Dedup
    val sig = docs.select(col(idCol).as("new_id"), col(tsCol),
      Dedup.minhashSignature(col(shinglesCol)).as("a_sig"))
    val bands = sig
      .select(col("new_id"), col(tsCol), col("a_sig"),
        explode(Dedup.bandKeys(col("a_sig"))).as("bk"))
      .select(col("new_id"), col(tsCol), col("a_sig"),
        col("bk.band").as("band"), col("bk.bh").as("bh"))
    val est = Dedup.signatureEstJaccard(col("a_sig"), col("b_sig"))
    bands
      .join(index.bands.select(col(index.idCol).as("old_id"),
        col("band"), col("bh")), Seq("band", "bh"))
      // No broadcast hint on the signature lookup: at 100 TB the signature
      // table is ~512 B × corpus size — far past any broadcast budget.
      // Spark sizes the static side per microbatch (tiny candidate stream
      // × indexed static: a shuffled hash join keyed on old_id).
      .join(index.signatures
        .select(col(index.idCol).as("old_id"), col("sig").as("b_sig")),
        Seq("old_id"))
      .withColumn("est_jaccard", round(est, 4))
      .filter(col("est_jaccard") >= threshold)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("new_id", "old_id")
      .select(col("new_id"), col("old_id"), col("est_jaccard"), col(tsCol))
  }

  /** [[deltaDedupStream]] with INDEX REFRESH: the stream-static join above
    * resolves the index frames once at stream start and pins them for the
    * topology's lifetime — a corpus re-index (nightly rebuild, per-batch
    * [[graft.operators.Dedup.MinHashIndex.append]] fold) is invisible to a
    * running stream. The operational recipe for a long-lived ingest
    * topology is `foreachBatch`: each microbatch is a plain BATCH frame,
    * so it runs the batch probe ([[graft.operators.Dedup.deltaNearDupsIndexed]])
    * against whatever index `currentIndex` returns AT THAT TRIGGER — a
    * swapped/rebuilt/appended index takes effect at the next microbatch
    * boundary, no stream restart. This is the standard Spark pattern for
    * refreshing static join sides (re-resolve per batch inside
    * foreachBatch); the trade is per-batch plan re-analysis (microbatch
    * granularity, negligible against the probe itself) and `sink` being
    * responsible for idempotence on microbatch replay (foreachBatch is
    * at-least-once; key the write by `batchId` or dedup downstream —
    * unlike the watermarked in-plan form, no
    * `dropDuplicatesWithinWatermark` runs here).
    *
    * Input: streaming (idCol, shinglesCol) rows. The caller starts the
    * returned writer (choose trigger/checkpoint there). */
  def deltaDedupStreamRefreshing(
      docs: DataFrame, idCol: String, shinglesCol: String, threshold: Double,
      currentIndex: () => graft.operators.Dedup.MinHashIndex)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       batchId: java.lang.Long) =>
        val out = graft.operators.Dedup.deltaNearDupsIndexed(
          batch.select(col(idCol), col(shinglesCol)), currentIndex(),
          idCol, shinglesCol, threshold)
        sink(out, batchId.longValue())
    }
  }

  /** The batchId-keyed idempotent sink for [[deltaDedupStreamRefreshing]]
    * (the recipe its scaladoc delegates to the caller, shipped): each
    * microbatch's pairs land under `dir/batch_id=<id>` in per-directory
    * OVERWRITE mode, so a REPLAYED microbatch — foreachBatch is
    * at-least-once; a crash between the write and the checkpoint commit
    * re-runs the batch with the same batchId — rewrites its own partition
    * instead of appending duplicates. Across batches this is the
    * reference's append-mode dump layout (new batch = new files, standing
    * output never rewritten); within one batch it is exactly-once.
    * Readers take `spark.read.parquet(dir)` and get `batch_id` as a
    * partition column. */
  def idempotentPairSink(dir: String): (DataFrame, Long) => Unit =
    (out, batchId) =>
      out.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")

  /** Streaming ingest-time n-gram decontamination — p11's streaming twin
    * ([[graft.operators.Sampling.ngramContamination]]): arriving documents
    * are checked in-flight against the STATIC eval gram table
    * ([[graft.operators.Sampling.evalGramTable]] over the curated
    * benchmark suite — KBs to MBs, broadcast once). A training doc that
    * would leak an eval passage is flagged before it ever lands in the
    * corpus — the admission-control shape, same topology as
    * [[deltaDedupStream]].
    *
    * Plan shape: n-grams built scan-side per arriving row (array HOFs,
    * stateless), broadcast hash join against the eval grams — only
    * matches survive — then the one stateful op: the watermarked pair
    * dedup (a doc sharing k grams with an eval doc appears k times; state
    * is one entry per emitted (doc, eval) pair, watermark-evicted), so a
    * replayed doc does not re-flag.
    *
    * Input: streaming (idCol, tsCol, textCol). Output: append-mode
    * (new_id, eval_id, tsCol) — one row per contaminated arriving doc ×
    * leaked-from eval doc. (The batch op's n_shared_grams count needs a
    * full aggregation; admission control only needs the flag.) */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
                          tsCol: String, evalGrams: DataFrame, n: Int = 13,
                          watermarkDelay: String = "10 minutes"): DataFrame = {
    val grams = docs
      .select(col(idCol).as("new_id"), col(tsCol),
        graft.operators.Sampling.wordNgrams(col(textCol), n).as("__gs"))
      .select(col("new_id"), col(tsCol), explode(col("__gs")).as("gram"))
    grams
      .join(broadcast(evalGrams.select(col("gram"), col("eval_id"))), Seq("gram"))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("new_id", "eval_id")
      .select(col("new_id"), col("eval_id"), col(tsCol))
  }

  /** Streaming Bloom-filter decontamination — p21's ingest twin
    * ([[graft.operators.Sampling.bloomDecontamination]]'s scale path as
    * an admission gate): arriving documents probe the FIXED-SIZE bloom
    * bits of the reference gram set. Where [[decontaminateStream]]
    * broadcasts the eval gram TABLE (bounded by the benchmark suite),
    * this ships only the sized bit array — the variant that still works
    * when the reference set is another 100 TB corpus version.
    *
    * Plan shape: completely STATELESS — grams scan-side, the probe is a
    * row-local expression over the gram array ([[graft.operators
    * .Sampling.bloomContainsAny]]; on a sharded filter the shard draw is
    * per-gram arithmetic inside it), no join, no watermark, no state
    * store; a replayed doc trivially re-derives the same flag. The
    * one-sided error contract carries over: `bloom_hit` is never false
    * on a true leak; false positives occur at the filter's sized rate
    * and route to a (bounded) exact re-check downstream.
    *
    * Input: streaming (idCol, tsCol, textCol). Output: append-mode
    * (new_id, tsCol, n_grams, bloom_hit) — every arriving doc emits with
    * its verdict (the admission gate routes on the flag). */
  def bloomDecontamStream(docs: DataFrame, idCol: String, textCol: String,
                          tsCol: String,
                          idx: graft.operators.Sampling.BloomIndex,
                          n: Int = 13): DataFrame =
    docs
      .select(col(idCol).as("new_id"), col(tsCol),
        graft.operators.Sampling.wordNgrams(col(textCol), n).as("__gs"))
      .select(col("new_id"), col(tsCol),
        size(col("__gs")).cast("long").as("n_grams"),
        graft.operators.Sampling.bloomContainsAny(idx)(col("__gs"))
          .as("bloom_hit"))

  /** Streaming template-admission gate — d26's ingest twin: arriving
    * documents compute their structural hash scan-side
    * ([[graft.operators.Dedup.templateHash]], shared with the batch op)
    * and probe the standing templated-set artifact
    * ([[graft.operators.Dedup.buildTemplateIndex]]) in a stream-static
    * BROADCAST left join. Fully STATELESS like the bloom gates — no
    * watermark, no state store, replays re-derive the verdict — because
    * cross-document cluster counting lives in the artifact, not the
    * stream. Output: append-mode (new_id, tsCol, template_hash,
    * is_templated, admit). */
  def templateAdmitStream(docs: DataFrame, idCol: String, textCol: String,
                          tsCol: String, templated: DataFrame): DataFrame =
    docs
      .select(col(idCol).as("new_id"), col(tsCol),
        graft.operators.Dedup.templateHash(col(textCol)).as("template_hash"))
      .join(broadcast(templated.select(col("template_hash"))
        .withColumn("__t", lit(1))), Seq("template_hash"), "left")
      .select(col("new_id"), col(tsCol), col("template_hash"),
        col("__t").isNotNull.as("is_templated"),
        col("__t").isNull.as("admit"))

  /** Streaming encoding-anomaly gate — t24's ingest twin, the simplest
    * admission shape in the file: three codegen'd regexp counts per
    * arriving row, fully row-local and stateless (the qualityKeep/bloom
    * precedent), so it composes with any other gate without adding plan
    * state. Output: append-mode (new_id, tsCol, n_moji, n_repl, n_ctrl,
    * admit). */
  def encodingGateStream(docs: DataFrame, idCol: String, textCol: String,
                         tsCol: String): DataFrame = {
    import graft.operators.TextAnalysis._
    docs.select(col(idCol).as("new_id"), col(tsCol),
        regexp_count(col(textCol), lit(MojibakeRe)).cast("long").as("n_moji"),
        regexp_count(col(textCol), lit(ReplacementRe)).cast("long").as("n_repl"),
        regexp_count(col(textCol), lit(CtrlRe)).cast("long").as("n_ctrl"))
      .withColumn("admit",
        (col("n_moji") + col("n_repl") + col("n_ctrl")) === 0)
  }

  /** Streaming media-decode gate — the codec family's ingest twin (the
    * round-14 real-decoder analogue of [[encodingGateStream]]): every
    * arriving binary payload is ACTUALLY decoded (container dispatched by
    * magic bytes — 'BM' → BMP, 0x89'P' → PNG, 'GIF8' → GIF, 'RIFF' by its
    * form type → WAV incl. μ-law or MJPEG AVI with every frame decoded),
    * and payloads that fail to
    * decode (truncated, wrong magic, unsupported bit depth/compression)
    * are flagged for drop with the failure reason, before they land in
    * the lake. Fully stateless and partition-local: the payload never
    * leaves its scan task, only the metadata row continues — the shape
    * that holds at any ingest rate.
    *
    * Output: append-mode (new_id, tsCol, kind, meta_a, meta_b, admit,
    * reason) where (meta_a, meta_b) = (width, height) for images and
    * (sample_rate, n_samples) for audio. */
  def mediaDecodeGateStream(media: DataFrame, idCol: String, binCol: String,
                            tsCol: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // one switch, one reason vocabulary: the per-payload decode + verdict
    // body lives in Multimodal.admissionFeaturesOf (wantFps = false is
    // exactly the gate — fingerprint fields are never computed), shared
    // with the m37 pipeline's single-pass feature table so the stream
    // gate and the batch pipeline cannot drift.
    media.select(col(idCol).cast("long"), col(tsCol).cast("timestamp"),
        col(binCol))
      .as[(Long, Timestamp, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, ts, payload) =>
          val v = graft.multimodal.Multimodal
            .admissionFeaturesOf(payload, wantFps = false)
          (id, ts, v.kind, v.metaA, v.metaB, v.admit, v.reason)
        }
      }
      .toDF("new_id", tsCol, "kind", "meta_a", "meta_b", "admit", "reason")
  }

  /** Streaming ExactSubstr probe — the d15/d16 family's ingest-time twin
    * ([[graft.operators.Dedup.deltaExactSubstrPairs]]'s topology applied
    * to a stream, mirroring [[deltaDedupStream]]): arriving documents'
    * hashed k-grams are checked in-flight against the STATIC persisted
    * corpus [[graft.operators.Dedup.GramIndex]]. A doc that verbatim-
    * quotes ≥ k consecutive corpus tokens is flagged before it lands.
    *
    * Plan shape: k-grams are scan-side per arriving row (the positional
    * HOF + xxhash64, stateless — text never leaves its scan task), then
    * a STREAM-STATIC equi-join on the 64-bit gram hash. The
    * doc-frequency cap is enforced INDEX-SIDE (capped-out boilerplate
    * grams are structurally absent from the index — [[graft.operators
    * .Dedup.buildGramIndex]]), so per-row join fan-out is bounded at
    * ≤ maxGramDocs matches per gram by construction; a stream cannot
    * apply a batch-side cap (no cross-row state before the join), which
    * is exactly why the index carries it. The one stateful operator is
    * the watermarked pair dedup (a doc sharing many grams with one
    * corpus doc appears once per gram; state = one entry per emitted
    * pair, watermark-evicted), which also makes replays flag
    * exactly-once.
    *
    * Input: streaming (idCol, tsCol, textCol). Output: append-mode
    * (new_id, old_id, tsCol) — the flag the admission gate routes on
    * (the batch probe's n_shared_runs count needs a full aggregation;
    * the [[decontaminateStream]] precedent). */
  def exactSubstrStream(docs: DataFrame, idCol: String, textCol: String,
                        tsCol: String,
                        index: graft.operators.Dedup.GramIndex,
                        watermarkDelay: String = "10 minutes"): DataFrame = {
    val grams = docs.select(col(idCol).as("new_id"), col(tsCol),
      explode(transform(
        graft.operators.Sampling.wordNgrams(col(textCol), index.k),
        g => xxhash64(g))).as("gram"))
    grams
      .join(index.grams.select(col(index.idCol).as("old_id"), col("gram")),
        Seq("gram"))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("new_id", "old_id")
      .select(col("new_id"), col("old_id"), col(tsCol))
  }

  /** Streaming ExactSubstr APPLY — arriving documents land with their
    * corpus-quoting runs already cut: [[graft.operators.Dedup
    * .deltaExactSubstrApply]]'s ingest-time twin, the cleaning
    * counterpart of [[exactSubstrStream]]'s flagging (route on the flag,
    * or land the cleaned text — both gates share the index).
    *
    * Topology: positional k-gram hashes are scan-side per arriving row;
    * corpus membership is a stream-static LEFT join against the standing
    * [[graft.operators.Dedup.GramIndex]]'s distinct gram set (no
    * fan-out — one row per instance survives with a hit flag). A
    * document is one row, so all its gram instances share its event time
    * and land in ONE window — the [[seedScoreStream]] state argument:
    * the windowed aggregate collects the doc's matched positions
    * (bounded by doc length), evicts with the watermark, and the
    * (id, pos) `dropDuplicatesWithinWatermark` ahead of it makes
    * replays cut exactly-once instead of double-collecting. The cut
    * itself is a post-aggregate scan-side projection: token i drops iff
    * some matched position p has p ≤ i+1 < p+k (identical to the batch
    * apply's span semantics — the union of [p, p+k-1] ranges IS the
    * merged span set). Documents with fewer than k tokens carry no
    * grams and pass through untouched.
    *
    * Output: append-mode (id, n_tokens, n_cut_tokens, clean_text) — the
    * batch apply's columns minus the span count (spans are an artifact
    * of the merge; the stream cuts by position union directly). */
  def exactSubstrApplyStream(docs: DataFrame, idCol: String, textCol: String,
                             tsCol: String,
                             index: graft.operators.Dedup.GramIndex,
                             watermarkDelay: String = "10 minutes",
                             windowDuration: String = "10 minutes"): DataFrame = {
    val k = index.k
    val inst = docs.withWatermark(tsCol, watermarkDelay)
      .select(col(idCol), col(tsCol), col(textCol),
        posexplode_outer(transform(
          graft.functions.WordShingles.wordShingles(col(textCol), k,
            distinct = false),
          g => xxhash64(g))).as(Seq("pos0", "g")))
      .select(col(idCol), col(tsCol), col(textCol),
        // posexplode_outer: a sub-k document emits ONE null-gram row, so
        // it still reaches the aggregate and passes through untouched
        // instead of vanishing. pos 0 stands in for its null position
        // (no real instance is at 0 — positions are 1-based).
        coalesce(col("pos0") + 1, lit(0)).as("pos"), col("g"))
      .dropDuplicatesWithinWatermark(idCol, "pos")
    inst
      .join(index.grams.select(col("gram").as("g")).distinct()
        .withColumn("hit", lit(1)), Seq("g"), "left")
      .groupBy(window(col(tsCol), windowDuration), col(idCol), col(textCol))
      .agg(sort_array(collect_list(when(col("hit").isNotNull, col("pos"))))
        .as("__ps"))
      .withColumn("__ws", filter(split(col(textCol), " "), t => t =!= ""))
      .withColumn("__clean",
        filter(col("__ws"), (t, i) =>
          !exists(col("__ps"), p =>
            (i + 1 >= p) && (i + 1 < p + lit(k)))))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        (size(col("__ws")) - size(col("__clean"))).cast("long")
          .as("n_cut_tokens"),
        array_join(col("__clean"), " ").as("clean_text"))
  }

  /** Streaming ANN serving — the similarity family's ingest twin (the
    * dedup/decontamination twins gate arriving DOCUMENTS; this serves
    * arriving QUERIES): each query vector probes a static prebuilt
    * [[graft.operators.SimilaritySearch.IvfIndex]] in-flight and emits
    * its top-k neighbours — the online-retrieval path over the offline
    * index artifact.
    *
    * The batch probe ranks probe cells with a per-query window
    * (row_number), which streams cannot run — so cell selection here is
    * SCAN-side: the centroid table is a literal array (it is
    * broadcast-sized by construction), and one sort/slice HOF picks the
    * nProbe nearest cells per query row, stateless, inside codegen. The
    * candidate join is stream-static on the cell id; the only stateful
    * operators are the watermarked query dedup (replays serve
    * exactly-once) and one windowed per-query aggregate that assembles
    * top-k — ordered exactly like the batch GroupTopK (cos desc, id
    * asc), so stream and batch agree row-for-row.
    *
    * Output: append-mode (q_id, topk: array<struct<n_id, cos, rnk>>) —
    * the serving answer shape, one row per query. */
  def ivfProbeStream(queries: DataFrame, idCol: String, vecCol: String,
                     tsCol: String,
                     index: graft.operators.SimilaritySearch.IvfIndex,
                     k: Int, nProbe: Int = 4,
                     watermarkDelay: String = "10 minutes",
                     windowDuration: String = "10 minutes"): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    require(index.centroids.nonEmpty,
      "ivfProbeStream needs a non-empty index (an empty one answers nothing)")
    val centArr = array(index.centroids.map { case (i, c) =>
      struct(lit(i).as("cell"), typedlit(c.toSeq).as("cvec"))
    }.toIndexedSeq: _*)
    // The query vector binds ONCE per row (the one-element-transform
    // pattern): a caller-aliased expression column would otherwise be
    // re-evaluated per centroid inside the ranking lambda.
    val probes = queries.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)
      .select(col(idCol).as("q_id"), col(tsCol), col(vecCol).as("qv"),
        explode(element_at(transform(array(col(vecCol)), v =>
          transform(
            slice(array_sort(transform(centArr, c =>
              struct((-cosineSim(v, c.getField("cvec"))).as("negcos"),
                c.getField("cell").as("cell")))), 1, nProbe),
            s => s.getField("cell"))), 1)).as("cell"))
    probes
      .join(index.assigned.select(col(index.idCol).as("n_id"),
        col(index.vecCol).as("nv"), col("cell")), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosineSim(col("qv"), col("nv")))
      .groupBy(window(col(tsCol), windowDuration), col("q_id"))
      .agg(slice(array_sort(collect_list(struct(
        (-col("cos")).as("negcos"), col("n_id").as("n_id")))), 1, k)
        .as("__top"))
      .select(col("q_id"),
        transform(col("__top"), (s, i) =>
          struct(s.getField("n_id").as("n_id"),
            round(-s.getField("negcos"), 4).as("cos"),
            (i + 1).cast("int").as("rnk"))).as("topk"))
  }

  /** Mutable ingest handle for [[ivfAppendStream]] — the foreachBatch
    * fold's state: the CURRENT index (swapped per applied batch) and the
    * last APPLIED batchId. foreachBatch is at-least-once: a crash between
    * the fold and the checkpoint commit re-runs the batch with the SAME
    * batchId, and an in-memory index that appended it twice would carry
    * duplicate assignment rows forever — the batchId guard is the
    * idempotentPairSink discipline applied to an in-memory artifact.
    * Volatile because foreachBatch callbacks run on the stream's
    * microbatch thread while probes read from the caller's. */
  final class IvfIngest(
      @volatile var index: graft.operators.SimilaritySearch.IvfIndex) {
    @volatile var lastBatchId: Long = -1L
    @volatile var batchesApplied: Long = 0L
  }

  /** [[IvfIngest]]'s PQ twin for [[pqAppendStream]]. */
  final class PqIngest(
      @volatile var index: graft.operators.SimilaritySearch.PqIndex) {
    @volatile var lastBatchId: Long = -1L
    @volatile var batchesApplied: Long = 0L
  }

  /** Streaming ANN index APPEND — the ingest topology that completes the
    * similarity family's lifecycle symmetry: every dedup index already
    * ingests per microbatch ([[deltaDedupStreamRefreshing]] +
    * `MinHashIndex.appendAndMaybeCompact`), and the vector side had only
    * the probe ([[ivfProbeStream]]). Arriving vectors ASSIGN through the
    * FROZEN centroids ([[graft.operators.SimilaritySearch.appendIvfIndex]]
    * — one codegen argmin pass, no k-means on ingest), the union lineage
    * stays bounded at `compactEvery` via
    * [[graft.operators.SimilaritySearch.appendIvfAndMaybeCompact]], and a
    * REPLAYED microbatch (same batchId) is skipped — exactly-once index
    * application over an at-least-once callback.
    *
    * Each batch is `localCheckpoint`ed before the append: O(batch)
    * materialization that (a) decouples the index's lineage from the
    * streaming source's offsets — the artifact outlives the query — and
    * (b) makes the appended leaf a one-scan relation, so the per-batch
    * persist flag adds nothing and the append runs persist = false (no
    * CacheManager entries to leak; compaction still flattens).
    *
    * Input: streaming (idCol, vecCol) rows, already projected. The caller
    * starts the returned writer (trigger/checkpoint there) and probes
    * `ingest.index` between or after batches — a swapped index takes
    * effect at the next probe, no stream restart. */
  def ivfAppendStream(vecs: DataFrame, ingest: IvfIngest,
                      nCells: Int = 0, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       batchId: java.lang.Long) =>
        applyIvfBatch(ingest, batch.toDF(), batchId.longValue(),
          nCells, compactEvery)
    }

  /** The [[ivfAppendStream]] fold body, visible so the replay guard is a
    * unit-testable contract: a batchId at or below the last APPLIED one
    * is a foreachBatch replay and must not re-append. */
  private[graft] def applyIvfBatch(ingest: IvfIngest, batch: DataFrame,
                                   batchId: Long, nCells: Int,
                                   compactEvery: Int): Unit = {
    if (batchId > ingest.lastBatchId) {
      val b = batch.localCheckpoint()
      if (!b.isEmpty)
        ingest.index = graft.operators.SimilaritySearch
          .appendIvfAndMaybeCompact(ingest.index, b, nCells,
            compactEvery, persist = false)
      ingest.batchesApplied += 1
      ingest.lastBatchId = batchId
    }
  }

  /** [[ivfAppendStream]]'s PQ twin: arriving vectors ENCODE through the
    * FROZEN codebooks ([[graft.operators.SimilaritySearch.appendPqIndex]]
    * — one codegen PqEncode pass, no k-means), with the
    * [[graft.operators.SimilaritySearch.appendPqAndMaybeCompact]] cadence
    * bounding lineage and codebook drift. `corpus` resolves to the LAKE's
    * landed full-precision vectors at compact time (codes never retain
    * them) — in a real topology, the landed table read after this batch's
    * write commits; it is only invoked once per `compactEvery` batches.
    * Same batchId replay guard as [[ivfAppendStream]]. */
  def pqAppendStream(vecs: DataFrame, vecCol: String, ingest: PqIngest,
                     corpus: () => DataFrame, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       batchId: java.lang.Long) =>
        applyPqBatch(ingest, batch.toDF(), batchId.longValue(), vecCol,
          corpus, compactEvery)
    }

  /** The [[pqAppendStream]] fold body — see [[applyIvfBatch]]. */
  private[graft] def applyPqBatch(ingest: PqIngest, batch: DataFrame,
                                  batchId: Long, vecCol: String,
                                  corpus: () => DataFrame,
                                  compactEvery: Int): Unit = {
    if (batchId > ingest.lastBatchId) {
      val b = batch.localCheckpoint()
      if (!b.isEmpty)
        ingest.index = graft.operators.SimilaritySearch
          .appendPqAndMaybeCompact(ingest.index, b, vecCol, corpus,
            compactEvery, persist = false)
      ingest.batchesApplied += 1
      ingest.lastBatchId = batchId
    }
  }

  /** Streaming audio-dup admission — the m33 probe as an ingest topology
    * (the [[deltaDedupStream]] shape for the AUDIO family, completing the
    * ingest symmetry: text probes the gram/MinHash indexes, vectors the
    * IVF index, media the decode gate — audio had no dup story
    * in-flight): arriving WAV payloads decode and fingerprint SCAN-SIDE
    * (stateless — the [[graft.multimodal.Multimodal.audioFingerprintOf]]
    * kernel the batch table uses, so the two sides cannot drift), probe
    * the STANDING corpus fingerprint table by fp equi-join, verify by
    * the m32 integer deviation bound, and the one stateful op is the
    * watermarked (new_id, old_id) pair dedup so a REPLAYED payload does
    * not re-flag.
    *
    * Input: streaming (idCol, tsCol, binCol WAV bytes). `corpusFp`:
    * the static (doc_id, fp, energies) table
    * ([[graft.multimodal.Multimodal.decodedAudioFingerprints]]).
    * Output: append-mode (new_id, old_id, max_dev_bp, tsCol). */
  def audioProbeStream(media: DataFrame, idCol: String, binCol: String,
                       tsCol: String, corpusFp: DataFrame,
                       maxDevBp: Long = 700L, windowSamples: Int = 16,
                       watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val deltaFp = media.select(col(idCol).cast("long"),
        col(tsCol).cast("timestamp"), col(binCol))
      .as[(Long, Timestamp, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, ts, payload) =>
          val (fp, e) = graft.multimodal.Multimodal.audioFingerprintOf(
            graft.multimodal.Codecs.decodeWav(payload).samples, windowSamples)
          (id, ts, fp, e.toSeq)
        }
      }.toDF("new_id", tsCol, "fp", "energies")
    deltaFp.as("a")
      .join(corpusFp.select(col("doc_id").as("old_id"), col("fp"),
        col("energies").as("__ce")), Seq("fp"))
      .withColumn("max_dev_bp",
        expr("array_max(zip_with(a.energies, __ce, " +
          "(x, y) -> abs(x - y) * 10000L DIV greatest(x, y, 1L)))"))
      .filter(col("max_dev_bp") <= maxDevBp)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("new_id", "old_id")
      .select(col("new_id"), col("old_id"), col("max_dev_bp"), col(tsCol))
  }

  /** Streaming video-dup admission — [[audioProbeStream]]'s VIDEO twin
    * (the m35 probe as an ingest topology, closing the last per-modality
    * ingest asymmetry: text, vectors, media-decode, and audio all had
    * in-flight dup stories; video-level dedup (m31) only ran batch-side):
    * arriving AVI payloads sample + fingerprint SCAN-SIDE through the
    * SAME [[graft.multimodal.Multimodal.videoFingerprintOf]] kernel the
    * batch probe uses (stateless; skipped frames never decode), probe the
    * STANDING corpus fingerprint table by (n_frames, fp) equi-join —
    * bounded by the delta, never corpus² — and the one stateful op is the
    * watermarked (new_id, old_id) pair dedup so a REPLAYED payload does
    * not re-flag.
    *
    * Input: streaming (idCol, tsCol, binCol AVI bytes). `corpusFp`: the
    * static (doc_id, n_frames, fp) table ([[graft.multimodal.Multimodal
    * .aviMetaFingerprints]] over the memoized `avi_meta` artifact, or
    * [[graft.multimodal.Multimodal.decodedVideoFingerprints]]).
    * Output: append-mode (new_id, old_id, n_frames, tsCol). */
  def videoProbeStream(media: DataFrame, idCol: String, binCol: String,
                       tsCol: String, corpusFp: DataFrame,
                       stride: Int = 2,
                       watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val deltaFp = media.select(col(idCol).cast("long"),
        col(tsCol).cast("timestamp"), col(binCol))
      .as[(Long, Timestamp, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, ts, payload) =>
          val (n, fp) = graft.multimodal.Multimodal
            .videoFingerprintOf(payload, stride)
          (id, ts, n, fp)
        }
      }.toDF("new_id", tsCol, "n_frames", "fp")
    deltaFp
      .join(corpusFp.select(col("doc_id").as("old_id"), col("n_frames"),
        col("fp")), Seq("n_frames", "fp"))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("new_id", "old_id")
      .select(col("new_id"), col("old_id"), col("n_frames"), col(tsCol))
  }

  /** Streaming TOLERANT video-dup admission — [[videoProbeStream]]'s
    * lossy-re-encode-aware sibling (the m36 probe as an ingest
    * topology): the exact-fp probe is blind to an MJPEG re-upload of a
    * video the lake holds as DIB (different decoded pixels), which is
    * the dominant real-corpus video-dup class. Arriving AVIs sample +
    * dHash scan-side through the SAME [[graft.multimodal.Multimodal
    * .videoFingerprintOf]] kernel, each sampled frame band-probes the
    * STANDING capped corpus band table ([[graft.multimodal.Multimodal
    * .aviBandTable]] — one clean band on ANY shared frame nominates;
    * hot buckets capped index-side, so fan-out is bounded by the delta
    * plus its collisions), and the verdict is ROW-LOCAL on the joined
    * pair: header frame counts equal (a join key) and max per-frame
    * Hamming ≤ `maxHamming` over the two sampled sequences (zip of the
    * arriving hash array with the corpus row's — no streaming
    * aggregate anywhere). The one stateful op is the watermarked
    * (new_id, old_id) dedup, which collapses multi-band/multi-frame
    * nominations AND suppresses replays. The batch-side delta bucket
    * cap is a batch-mode refinement the stream cannot apply (a
    * within-batch census is a streaming aggregate); the structural
    * bound is the INDEX-side cap, the deltaExactSubstrPairs argument.
    *
    * Input: streaming (idCol, tsCol, binCol AVI bytes). `corpusMeta`:
    * the static (doc_id, n_frames, frame_idx, dhash) frame table (the
    * memoized `avi_meta` artifact). Output: append-mode (new_id,
    * old_id, n_frames, max_frame_hamming, tsCol). */
  def videoBandProbeStream(media: DataFrame, idCol: String, binCol: String,
                           tsCol: String, corpusMeta: DataFrame,
                           stride: Int = 2, maxHamming: Int = 4,
                           bucketCap: Int = 16,
                           watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val M = graft.multimodal.Multimodal
    val cB = M.aviBandTable(corpusMeta, bucketCap)
      .select(col("doc_id").as("old_id"), col("n_frames"),
        col("frame_idx"), col("band"), col("bucket"))
    val cSeq = corpusMeta.groupBy(col("doc_id").as("old_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("frame_idx"), col("dhash")))),
        f => f.getField("dhash")).as("__bh"))
    val delta = media.select(col(idCol).cast("long"),
        col(tsCol).cast("timestamp"), col(binCol))
      .as[(Long, Timestamp, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, ts, payload) =>
          val (n, fp) = graft.multimodal.Multimodal
            .videoFingerprintOf(payload, stride)
          val hs = if (fp.isEmpty) Seq.empty[Long]
                   else fp.split(",").toSeq.map(_.toLong)
          (id, ts, n, hs)
        }
      }.toDF("new_id", tsCol, "n_frames", "__ah")
    val frames = delta.select(col("new_id"), col(tsCol), col("n_frames"),
        col("__ah"), posexplode(col("__ah")).as(Seq("__pos", "dhash")))
      .withColumn("frame_idx", (col("__pos") * stride).cast("long"))
      .select(col("new_id"), col(tsCol), col("n_frames"), col("__ah"),
        col("frame_idx"),
        explode(array((0 until 4).map(k => struct(lit(k).as("band"),
          shiftright(col("dhash"), 14 * k).bitwiseAND(lit(16383L))
            .as("bucket"))): _*)).as("bk"))
      .select(col("new_id"), col(tsCol), col("n_frames"), col("__ah"),
        col("frame_idx"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))
    frames
      .join(cB, Seq("n_frames", "frame_idx", "band", "bucket"))
      .join(cSeq, Seq("old_id"))
      .withColumn("max_frame_hamming",
        expr("aggregate(zip_with(__ah, __bh, (x, y) -> bit_count(x ^ y)), " +
          "0L, (a, x) -> greatest(a, CAST(x AS BIGINT)))"))
      .filter(col("max_frame_hamming") <= maxHamming)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("new_id", "old_id")
      .select(col("new_id"), col("old_id"), col("n_frames"),
        col("max_frame_hamming"), col(tsCol))
  }

  /** Streaming DSIR importance scoring — [[graft.operators.Sampling
    * .dsirScoreAgainst]]'s ingest twin (p17): arriving documents score
    * against the STATIC dense `buckets`-row weight table
    * ([[graft.operators.Sampling.dsirModelTable]], the standing
    * artifact) in-flight — the admission signal a quality-gated ingest
    * routes on. A stream cannot fit the raw-corpus half of the model
    * in-flight (no global counts), which is exactly why the model is an
    * offline artifact here, like the boilerplate threshold and the gram
    * index caps.
    *
    * Round 12 made this FULLY STATELESS (the bloom-gate shape): with the
    * dense weight vector bound into the codegen'd
    * [[graft.functions.BucketWeightSum]] expression, the whole score is
    * one row-local pass — no explode, no state store, no watermark — so
    * replays re-derive the identical score instead of needing an
    * exactly-once dedup, and the gate composes with any other admission
    * stage without adding plan state.
    *
    * Output: append-mode (idCol, n_grams, sum_w_bp, dsir_w). */
  def dsirScoreStream(docs: DataFrame, idCol: String, textCol: String,
                      tsCol: String,
                      model: graft.operators.Sampling.DsirModel): DataFrame =
    graft.operators.Sampling
      .dsirScoreAgainst(docs.select(col(idCol), col(textCol)),
        idCol, textCol, model)

  /** Streaming quality scoring — [[graft.operators.TextAnalysis
    * .scoreQualityClassifier]]'s ingest twin (t17): arriving documents
    * score against the STATIC trained classifier in-flight — the
    * quality-gated admission a GPT-3-style curation pipeline routes on.
    * Same shape as [[dsirScoreStream]] (the two share their feature
    * geometry by construction), and like it FULLY STATELESS since round
    * 12: the trained weight vector is bound into the codegen'd
    * [[graft.functions.BucketWeightSum]] expression, so the whole score
    * — grams, weight sum, logistic link — is one row-local pass with no
    * state store and no watermark; replays re-derive the identical
    * score. Output: append-mode (idCol, n_grams, quality). */
  def qualityScoreStream(docs: DataFrame, idCol: String, textCol: String,
                         tsCol: String,
                         clf: graft.operators.TextAnalysis.QualityClassifier): DataFrame =
    graft.operators.TextAnalysis
      .scoreQualityClassifier(docs.select(col(idCol), col(textCol)),
        idCol, textCol, clf)

  /** Streaming boilerplate scrub — [[graft.operators.TextAnalysis
    * .scrubBoilerplateAgainst]]'s ingest twin (t16): arriving documents'
    * lines (the d08 window geometry, built scan-side) probe the STATIC
    * flagged-line table in a stream-static left join, flagged windows
    * are cut, and the text is rebuilt in one windowed per-doc aggregate
    * — the [[exactSubstrApplyStream]] shape. The flagged table is the
    * standing artifact the batch build produces
    * ([[graft.operators.TextAnalysis.boilerplateLineTable]]); a stream
    * cannot compute document frequency in-flight (no cross-doc state
    * before the join), which is exactly why the threshold lives in the
    * artifact. An (id, line_idx) watermarked dedup ahead of the
    * aggregate makes replays cut exactly-once. Docs with no tokens never
    * reach the aggregate (the batch op's contract).
    *
    * Output: append-mode (idCol, n_lines, n_cut_lines, clean_text). */
  def boilerplateScrubStream(docs: DataFrame, idCol: String, textCol: String,
                             tsCol: String,
                             idx: graft.operators.TextAnalysis.BoilerplateLines,
                             watermarkDelay: String = "10 minutes",
                             windowDuration: String = "10 minutes"): DataFrame = {
    val flag = idx.flagged.select(col("h")).distinct().withColumn("cut", lit(1))
    graft.operators.TextAnalysis
      .docLines(docs.withWatermark(tsCol, watermarkDelay), idCol, textCol,
        idx.lineTokens, extra = Seq(tsCol))
      .dropDuplicatesWithinWatermark(idCol, "line_idx")
      .withColumn("h", md5(col("line")))
      .join(flag, Seq("h"), "left")
      .groupBy(window(col(tsCol), windowDuration), col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        count(col("cut")).as("n_cut_lines"),
        array_join(transform(
          sort_array(collect_list(when(col("cut").isNull,
            struct(col("line_idx"), col("line"))))),
          s => s.getField("line")), " ").as("clean_text"))
      .select(col(idCol), col("n_lines"), col("n_cut_lines"), col("clean_text"))
  }

  /** Streaming paragraph clean — the ingest twin of
    * [[graft.operators.Dedup.ingestParagraphClean]]'s CORPUS stage:
    * arriving documents lose every 16-token line already present in the
    * standing [[graft.operators.Dedup.LineSetIndex]] (stream-static LEFT
    * join keyed on the xxhash64 line hash, stateless — the
    * [[boilerplateScrubStream]] topology with the line-SET artifact
    * instead of the frequency-flagged one), and rebuild from survivors.
    * The batch op's WITHIN-batch keep-first stage is deliberately absent
    * here, the same scoping as [[exactSubstrApplyStream]] vs d21: a
    * stream has no cross-document state before the join; cross-batch
    * dedup is what folding admitted batches into the index
    * ([[graft.operators.Dedup.LineSetIndex.append]]) is for. An
    * (id, line_idx) watermarked dedup ahead of the aggregate makes
    * replays cut exactly-once. Docs with no tokens never reach the
    * aggregate (the batch op's contract).
    *
    * Output: append-mode (idCol, n_lines, n_cut_corpus_lines,
    * clean_text). */
  def paragraphCleanStream(docs: DataFrame, idCol: String, textCol: String,
                           tsCol: String,
                           idx: graft.operators.Dedup.LineSetIndex,
                           watermarkDelay: String = "10 minutes",
                           windowDuration: String = "10 minutes"): DataFrame = {
    val corpus = idx.hashes.select(col("h")).distinct().withColumn("cut", lit(1))
    graft.operators.TextAnalysis
      .docLines(docs.withWatermark(tsCol, watermarkDelay), idCol, textCol,
        idx.lineTokens, extra = Seq(tsCol))
      .dropDuplicatesWithinWatermark(idCol, "line_idx")
      .withColumn("h", xxhash64(col("line")))
      .join(corpus, Seq("h"), "left")
      .groupBy(window(col(tsCol), windowDuration), col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        count(col("cut")).as("n_cut_corpus_lines"),
        array_join(transform(
          sort_array(collect_list(when(col("cut").isNull,
            struct(col("line_idx"), col("line"))))),
          s => s.getField("line")), " ").as("clean_text"))
      .select(col(idCol), col("n_lines"), col("n_cut_corpus_lines"),
        col("clean_text"))
  }

  /** Streaming embedding near-dup admission — [[graft.operators.Dedup
    * .deltaEmbeddingNearDups]]'s streaming twin, giving the VECTOR
    * geometry the same ingest-time gate the text geometries have
    * ([[deltaDedupStream]] minhash, [[exactSubstrStream]] verbatim runs):
    * arriving embeddings' LSH buckets — computed scan-side at the STATIC
    * [[graft.operators.Dedup.LshVecIndex]]'s density, stateless — probe
    * the standing bucket table in a stream-static equi-join, and
    * collisions verify with exact cosine against the stored vectors
    * before anything is flagged.
    *
    * Multi-table collisions surface the same (new, old) pair once per
    * colliding table; a stream cannot pre-aggregate them away (no
    * cross-row state before the join), so the one stateful operator — the
    * watermarked pair dedup — collapses them AND makes replays flag
    * exactly-once, state = one entry per surviving verified pair,
    * watermark-evicted. Output: append-mode (new_id, old_id, cos, ts). */
  def embeddingDedupStream(vecs: DataFrame, idCol: String, vecCol: String,
                           tsCol: String,
                           index: graft.operators.Dedup.LshVecIndex,
                           threshold: Double,
                           watermarkDelay: String = "10 minutes"): DataFrame = {
    val keyed = vecs.select(col(idCol).as("new_id"), col(tsCol),
        col(vecCol).as("av"),
        posexplode(graft.functions.LshTableBuckets.lshTableBuckets(
          col(vecCol), index.tables, index.bits)).as(Seq("t", "bucket")))
    keyed
      .join(index.liveBuckets.select(col(index.idCol).as("old_id"),
        col("t"), col("bucket")), Seq("t", "bucket"))
      .join(index.liveVectors.select(col(index.idCol).as("old_id"),
        col(index.vecCol).as("bv")), Seq("old_id"))
      .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(
        col("av"), col("bv")))
      .filter(col("cos") > threshold)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("new_id", "old_id")
      .select(col("new_id"), col("old_id"),
        round(col("cos"), 4).as("cos"), col(tsCol))
  }

  /** Ingest-time seed-overlap scoring — [[graft.operators.TextAnalysis
    * .seedOverlapScore]]'s streaming twin: arriving documents are scored
    * against the STATIC broadcast seed gram table in-flight, the
    * admission-control topology of [[decontaminateStream]] (score at the
    * door, route by threshold — at 100 TB/day nobody lands raw text and
    * re-scores it in batch).
    *
    * Per-doc state is bounded by construction: a document is one row, so
    * all its shingles share its event time and land in ONE window — the
    * windowed aggregate's state evicts with the watermark, and the
    * (id, gram) `dropDuplicatesWithinWatermark` ahead of it makes replays
    * score exactly-once instead of double-counting grams (the
    * [[idempotentPairSink]] concern, solved in-plan). Documents with
    * fewer than 3 tokens have no shingles and are never emitted —
    * identical to the batch twin's contract. */
  def seedScoreStream(docs: DataFrame, idCol: String, textCol: String,
                      tsCol: String, seedGrams: DataFrame,
                      watermarkDelay: String = "10 minutes",
                      windowDuration: String = "10 minutes"): DataFrame = {
    val grams = docs.withWatermark(tsCol, watermarkDelay)
      .select(col(idCol), col(tsCol),
        explode(graft.functions.WordShingles.wordShingles(col(textCol), 3))
          .as("gram"))
      .dropDuplicatesWithinWatermark(idCol, "gram")
    grams
      .join(broadcast(
          seedGrams.select(col("gram")).distinct().withColumn("hit", lit(1))),
        Seq("gram"), "left")
      .groupBy(window(col(tsCol), windowDuration), col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_seed_grams"))
      .withColumn("overlap_bp",
        expr("CAST(n_seed_grams * 10000 DIV n_grams AS BIGINT)"))
      .select(col(idCol), col("n_grams"), col("n_seed_grams"), col("overlap_bp"))
  }

  /** Ingest-time target-mixture admission — [[graft.operators.Sampling
    * .targetMixture]]'s streaming twin, completing the family pattern
    * (every batch admission op has one): arriving documents are admitted
    * or dropped IN-FLIGHT at the per-group rates a prior OFFLINE solve
    * produced ([[graft.operators.Sampling.targetMixtureRates]] over the
    * standing corpus census — a stream cannot see global group totals, so
    * the solve/admit split is forced, exactly the production topology:
    * re-solve the tiny rates artifact daily, admit online against it).
    *
    * Plan shape: a map-side broadcast join on the group + the same
    * content-hash Bernoulli filter as the batch twin — admission is a
    * pure function of (group, key), so a doc admits identically in batch
    * and stream, and identically on replay. The one stateful operator is
    * the watermarked id dedup turning that replay determinism into
    * exactly-once emission (the [[seedScoreStream]] concern), placed
    * AFTER the admission filter so state holds only admitted ids — the
    * smallest set that preserves the contract. Groups
    * absent from the rates table drop (weight 0), inheriting the batch
    * contract; all solve-side guards fired offline. */
  def targetMixtureStream(docs: DataFrame, groupCol: String, keyCol: String,
                          tsCol: String, rates: DataFrame,
                          watermarkDelay: String = "10 minutes"): DataFrame =
    docs.withWatermark(tsCol, watermarkDelay)
      .join(broadcast(rates.select(col(groupCol), col("rate_bp"))),
        Seq(groupCol))
      .filter(graft.operators.Sampling
        .hashBucket(col(keyCol), 10000) < col("rate_bp"))
      .dropDuplicatesWithinWatermark(keyCol)
      .drop("rate_bp")

  /** Watermarked stream-stream interval join — the streaming twin of
    * [[graft.operators.JoinStrategies.rangeJoinBinned]]: pairs rows with
    * equal `keyCol` where `right.tsCol` ∈ [`left.tsCol − windowSec`,
    * `left.tsCol`]. The equality key + time-range predicate is exactly the
    * shape Spark's stream-stream join needs to bound state: each side
    * buffers only rows newer than its watermark minus the join window,
    * so state stays finite on unbounded streams. Watermark delays trade
    * completeness (late matches) against state size.
    *
    * Column names must be disjoint apart from `keyCol`/`tsCol` (alias
    * sides before calling). Output carries both sides' columns with the
    * right side's key/ts dropped. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                         windowSec: Long, watermarkDelay: String = "1 hour",
                         tsCol: String = "ts"): DataFrame = {
    val l = left.withWatermark(tsCol, watermarkDelay).alias("l")
    val r = right.withWatermark(tsCol, watermarkDelay).alias("r")
    l.join(r, expr(
        s"""l.$keyCol = r.$keyCol AND
            r.$tsCol >= l.$tsCol - INTERVAL $windowSec SECOND AND
            r.$tsCol <= l.$tsCol"""))
      .drop(col(s"r.$keyCol")).drop(col(s"r.$tsCol"))
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long,
                           total_value: Double)
  /** Per-user in-flight session (public: the state encoder's generated code
    * must be able to reach the accessors). Timestamps are kept as-is —
    * `Timestamp.getTime` is millisecond-truncated, so gap arithmetic uses
    * the separate microsecond clock [[micros]]. */
  final case class SessionState(start: Timestamp, last: Timestamp,
                                lastMicros: Long, n: Long, total: Double)

  /** Full-precision epoch microseconds of a Timestamp (getTime alone drops
    * the sub-millisecond digits that the parquet data carries). */
  def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Gap-based sessionization: events from one user belong to one session
    * while gaps stay under `gapMinutes`. Emits a session when the
    * processing-time timeout fires after the gap. Custom state machine via
    * `flatMapGroupsWithState` — the Spark-native replacement for a hand
    * -rolled stateful consumer. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    val useTimers = timeout == GroupStateTimeout.ProcessingTimeTimeout

    def update(userId: Long, batch: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      var cur = state.getOption
      val closed = scala.collection.mutable.Buffer[Session]()
      sorted.foreach { e =>
        val t = micros(e.ts)
        cur match {
          case Some(s) if t - s.lastMicros <= gapMs * 1000L =>
            cur = Some(s.copy(last = e.ts, lastMicros = t, n = s.n + 1, total = s.total + e.value))
          case Some(s) =>
            closed += Session(userId, s.start, s.last, s.n, s.total)
            cur = Some(SessionState(e.ts, e.ts, t, 1, e.value))
          case None =>
            cur = Some(SessionState(e.ts, e.ts, t, 1, e.value))
        }
      }
      if (state.hasTimedOut) {
        val out = cur.map(s => Session(userId, s.start, s.last, s.n, s.total))
        state.remove()
        cur = None
        return (closed ++ out).iterator
      }
      cur match {
        case Some(s) =>
          state.update(s)
          if (useTimers) state.setTimeoutDuration(gapMs)
        case None => state.remove()
      }
      closed.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }

  /** Event-time sessionization: the production-correct variant. Late events
    * beyond the watermark are dropped by the watermark filter; a session
    * closes either on in-batch gap rollover or when the WATERMARK (not the
    * wall clock) passes its last event + gap — so results are deterministic
    * under replay and independent of processing speed. State per user is
    * evicted on close; the watermark bounds total state. */
  def sessionizeEventTime(events: Dataset[Event], gapMinutes: Int = 30,
                          watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, batch: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(s => Session(userId, s.start, s.last, s.n, s.total))
        state.remove()
        return out.iterator
      }
      val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      var cur = state.getOption
      val closed = scala.collection.mutable.Buffer[Session]()
      sorted.foreach { e =>
        val t = micros(e.ts)
        cur match {
          case Some(s) if t - s.lastMicros <= gapMs * 1000L =>
            cur = Some(s.copy(last = e.ts, lastMicros = t, n = s.n + 1, total = s.total + e.value))
          case Some(s) =>
            closed += Session(userId, s.start, s.last, s.n, s.total)
            cur = Some(SessionState(e.ts, e.ts, t, 1, e.value))
          case None =>
            cur = Some(SessionState(e.ts, e.ts, t, 1, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // Fire when the watermark passes last-event + gap (must stay ahead
        // of the current watermark or Spark rejects the timestamp).
        val fireAt = math.max(s.lastMicros / 1000L + gapMs,
          state.getCurrentWatermarkMs() + 1)
        state.setTimeoutTimestamp(fireAt)
      }
      closed.iterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  final case class BudgetDoc(doc_id: Long, group: String, n_tokens: Long)
  final case class Admitted(doc_id: Long, group: String, n_tokens: Long,
                            cum_before: Long)

  /** Streaming per-group admission quota: admit documents while the
    * group's running token total stays under `budget` (a document that
    * straddles the boundary is still taken, the [[graft.operators.Sampling
    * .tokenBudgetPerGroup]] convention). State per group is ONE long — the
    * committed running total — so memory is O(|groups|) forever and a
    * restart resumes from the checkpointed totals.
    *
    * Semantics vs the batch twin: batch admits a deterministic md5-order
    * prefix of the whole corpus; a stream cannot know that order, so this
    * admits in ARRIVAL order (within a microbatch: (doc_id) order for
    * reproducible tests). Once a group's budget is spent, later documents
    * are dropped — including across restarts. */
  def budgetAdmitStream(docs: Dataset[BudgetDoc], budget: Long)
      : Dataset[Admitted] = {
    require(budget > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    def update(group: String, batch: Iterator[BudgetDoc],
               state: GroupState[Long]): Iterator[Admitted] = {
      var total = state.getOption.getOrElse(0L)
      val out = scala.collection.mutable.Buffer[Admitted]()
      batch.toSeq.sortBy(_.doc_id).foreach { d =>
        if (total < budget) {
          out += Admitted(d.doc_id, group, d.n_tokens, total)
          total += d.n_tokens
        }
      }
      state.update(total)
      out.iterator
    }
    docs.groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(update)
  }

  final case class HostDoc(doc_id: Long, host: String)
  final case class HostVerdict(doc_id: Long, host: String, admitted: Boolean,
                               host_seen: Long)

  /** Streaming per-host quota — d25's ingest twin (the RefinedWeb
    * host-cap as an admission gate): admit at most `cap` documents per
    * host, FIFO. The batch op ranks by QUALITY within a complete corpus;
    * a stream cannot see the future, so the gate admits in arrival order
    * (within a microbatch: doc_id order, reproducible) — the documented
    * streaming-vs-batch gap every ingest twin in this file shares; run
    * the batch cap over the admitted corpus for the quality-ranked final
    * cut.
    *
    * State per host is the ADMITTED ID SET, which the cap itself bounds
    * at `cap` longs — so state is O(|hosts|·cap) forever AND replays are
    * idempotent by lookup (a replayed admitted doc re-emits admitted=true
    * without consuming quota; a replayed rejected doc re-rejects), the
    * property a bare counter cannot give. Every doc emits its verdict
    * (the bloomDecontamStream routing convention). */
  def hostQuotaStream(docs: Dataset[HostDoc], cap: Int)
      : Dataset[HostVerdict] = {
    require(cap > 0 && cap <= 100000,
      s"cap must be in [1, 1e5] (state holds cap ids per host), got $cap")
    val spark = docs.sparkSession
    import spark.implicits._
    def update(host: String, batch: Iterator[HostDoc],
               state: GroupState[Set[Long]]): Iterator[HostVerdict] = {
      var admitted = state.getOption.getOrElse(Set.empty[Long])
      val out = scala.collection.mutable.Buffer[HostVerdict]()
      batch.toSeq.sortBy(_.doc_id).foreach { d =>
        val ok = admitted.contains(d.doc_id) ||
          (admitted.size < cap && { admitted += d.doc_id; true })
        out += HostVerdict(d.doc_id, host, ok, admitted.size.toLong)
      }
      state.update(admitted)
      out.iterator
    }
    docs.groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(update)
  }

  final case class FunnelEvent(user_id: Long, ts: Timestamp, event_id: Long,
                               event_type: String)
  final case class FunnelHit(user_id: Long, stage: Int, reached_ts: Timestamp)
  final case class FunnelState(stage: Int, anchorMicros: Long)

  /** Streaming funnel — [[graft.operators.Sessionize.funnelStages]]' ingest
    * twin: the same deterministic greedy state machine ((stage, anchor),
    * advance on `code = stage + 1` within the window of the first step),
    * run incrementally per user via `flatMapGroupsWithState`. Emits one
    * row per stage ADVANCE (append mode) — the final stage a user
    * reached is the max emitted stage, which is exactly the batch op's
    * `funnel_stage` for every user that advanced past 0.
    *
    * Replay safety comes from the state machine itself: stages only
    * ascend, so a replayed event's `code = stage + 1` test fails against
    * the already-advanced state and nothing re-emits — monotonicity IS
    * the idempotence, no watermarked dedup needed. State per user is two
    * fields forever (the [[budgetAdmitStream]] O(|groups|) convention;
    * production hardening would evict completed/expired funnels on an
    * event-time timeout). Within a microbatch events process in
    * (ts, event_id) order; late events beyond a prior batch cannot
    * rewind the state — the documented streaming-vs-batch gap every
    * ingest twin in this file shares. */
  def funnelStream(events: Dataset[FunnelEvent], steps: Seq[String],
                   windowMicros: Long): Dataset[FunnelHit] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(windowMicros > 0, "window must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val stepList = steps.toList

    def update(u: Long, batch: Iterator[FunnelEvent],
               state: GroupState[FunnelState]): Iterator[FunnelHit] = {
      var cur = state.getOption.getOrElse(FunnelState(0, 0L))
      val out = scala.collection.mutable.Buffer[FunnelHit]()
      batch.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        val code = stepList.indexOf(e.event_type) + 1
        val t = micros(e.ts)
        if (code == cur.stage + 1 &&
            (cur.stage == 0 || t - cur.anchorMicros <= windowMicros)) {
          cur = FunnelState(cur.stage + 1,
            if (cur.stage == 0) t else cur.anchorMicros)
          out += FunnelHit(u, cur.stage, e.ts)
        }
      }
      state.update(cur)
      out.iterator
    }

    events
      .filter(e => stepList.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(update)
  }

  /** Batch twin of [[sessionize]] for correctness checks — ONE shared body
    * with the relational operator ([[graft.operators.Sessionize.sessions]],
    * the oracle-checked q43), so the streaming equality proof and the
    * batch query can never drift apart. Gap arithmetic is µs-exact in both
    * (the data carries sub-ms precision; ms truncation would classify
    * exact-boundary gaps differently between the twins). This is also the
    * scalable backfill plan for historical data. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    graft.operators.Sessionize.sessions(events,
        keyCol = "user_id", tsCol = "ts", tieBreak = "event_id",
        valueCol = "value", maxGap = lit(gapMinutes * 60L * 1000000L))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value").as("total_value"))
}
