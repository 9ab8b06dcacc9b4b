package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Packing, Sampling, SimilaritySearch, TextAnalysis => TA}
import graft.queries.PipelineShared._

/** s-family query registry — similarity search: exact brute force, LSH / IVF / IVF-PQ / hier-IVF ANN, MIPS, semantic dedup, quantization, sparse cosine.
  * Split out of the monolithic PipelineQueries in round 11 (pure
  * re-grouping: every entry verbatim; shared machinery lives in
  * [[PipelineShared]], aggregation in [[PipelineQueries]]). */
private[queries] object SimilarityQueries {

  /** Run a stream ingest out of a fresh temp directory (its parquet input
    * and stream checkpoint), deleted once `body` returns: the ingest
    * localCheckpoints every batch it applies, so the index it leaves
    * behind reads none of these files. */
  private def withIngestDir[T](prefix: String)(body: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(tmp.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // s12: sparse lexical cosine pairs — the inverted-index all-pairs
    // similarity join over 3-gram COUNTS (the d03 shingle space with
    // multiplicity): exact integer dots + norms over the df-capped
    // vocabulary, one sqrt/divide, round 4.
    "s12_sparse_cosine" -> ((s, dir) =>
      graft.operators.SimilaritySearch.sparseCosinePairs(
        docs(s, dir), "doc_id", "text",
        threshold = 0.9, maxTermDocs = 256, ngram = 3)),


    // ---- similarity search ------------------------------------------------
    "s01_cosine_topk" -> ((s, dir) =>
      SimilaritySearch.bruteForceTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 5)),


    // s17 (round 16): the IVF-PQ APPEND path, driver-visible — both index
    // halves build on the corpus, then IDENTICAL copies of vec_id < 10
    // (at +200000) append through the FROZEN centroids and codebooks
    // (appendIvfIndex + appendPqIndex: one assignment pass, one PqEncode
    // pass, no k-means anywhere), and the appended twins probe the
    // combined artifact. An identical vector encodes to its original's
    // codes and lands in its original's cell, so each twin's ADC top-3
    // MUST contain the original — the s10 pinned-flag convention, with
    // the append (not the build) carrying the query side: a dropped,
    // mis-assigned, or re-fit batch breaks the row count or the flag.
    "s17_pq_append_probe" -> ((s, dir) => {
      val normalized = emb(s, dir).select(col("vec_id"),
        SimilaritySearch.l2normalizeCol(col("embedding")).as("__vn"))
      val ivf = SimilaritySearch.memoizedIvfIndex(normalized, "vec_id",
        "__vn", nCells = 16, cacheKey = dir + "#s17cells")
      val pq = SimilaritySearch.memoizedPqIndex(normalized, "vec_id",
        "__vn", m = 8, k = 64, cacheKey = dir + "#s17pq")
      val batch = normalized.filter(col("vec_id") < 10)
        .select((col("vec_id") + 200000L).as("vec_id"), col("__vn"))
      // empty corpus: nothing to append to — probe the empty artifacts.
      // persist = false: the appended copies are throwaway, so they must
      // not pin a cached batch leaf nobody releases.
      val ivfA = if (ivf.centroids.isEmpty) ivf
                 else SimilaritySearch.appendIvfIndex(ivf, batch, persist = false)
      val pqA = if (pq.codebooks.isEmpty) pq
                else SimilaritySearch.appendPqIndex(pq, batch, "__vn", persist = false)
      SimilaritySearch.probeIvfPq(ivfA, pqA,
          batch.select(col("vec_id").as("q_id"), col("__vn").as("__qn")),
          k = 3, nProbe = 8)
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") - 200000L, lit(1L))
          .otherwise(lit(0L))).as("orig_in_top3"))
        .select((col("q_id") - 200000L).as("orig_id"), col("q_id"),
          col("orig_in_top3"))
    }),


    // s16 (round 16): the INDEX-APPEND lifecycle, driver-visible — the
    // IVF index is built on 90% of the corpus, the vec_id % 10 = 7 batch
    // is APPENDED through the frozen centroids (no refit, base never
    // rescanned), and the batch then probes with nProbe = nCells (full
    // cell coverage), which makes the approximate probe EXACTLY the
    // brute-force cosine top-3 over base ∪ batch — so the oracle is the
    // s01 exact form, not a recall band. The queries themselves live in
    // the APPENDED assignments: a dropped or mis-assigned batch loses
    // query rows (row-count mismatch), and batch-batch neighbours flow
    // only through the appended side.
    "s16_index_append_probe" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = e.filter(pmod(col("vec_id"), lit(10)) =!= 7)
      val batch = e.filter(pmod(col("vec_id"), lit(10)) === 7)
      val idx = SimilaritySearch.memoizedIvfIndex(base, "vec_id", "embedding",
        nCells = 16, cacheKey = dir + "#s16base")
      // empty corpus: nothing to append TO (the refusal is an API guard
      // for real ingest, not a query-path behavior) — probe the empty
      // index directly, which yields the oracle's 0 rows. A throwaway
      // append (persist = false), like s17's.
      val app = if (idx.centroids.isEmpty) idx
                else SimilaritySearch.appendIvfIndex(idx, batch, persist = false)
      SimilaritySearch.probeIvf(app, pmod(col("vec_id"), lit(10)) === 7,
        k = 3, nProbe = 16)
    }),


    "s02_cosine_threshold" -> ((s, dir) =>
      // spread: the all-pairs nested-loop join streams the LEFT side —
      // on the compact 1-split scan every cosine ran on one core
      SimilaritySearch.thresholdPairs(
        Dedup.spreadToParallelism(emb(s, dir)), "vec_id", "embedding",
        threshold = 0.4)),


    // s20 (round 18): the INDEX-DELETE lifecycle, driver-visible — the
    // takedown verb (opt-outs, decontamination-after-the-fact) the
    // build/append/compact lifecycle was missing. The s16base memoized
    // artifact (corpus minus %10 = 7) is probed AFTER vec_id % 10 = 3 is
    // tombstoned through `delete`: O(|ids|), the shared artifact is
    // untouched (delete returns a copy; liveAssigned wraps the cached
    // frame with a broadcast anti-join — map-side filter, no shuffle,
    // no rebuild). nProbe = nCells makes the probe EXACT, so the oracle
    // is the s01 brute-force form over corpus-minus-deleted: a deleted
    // doc resurfacing as a neighbor OR being allowed to query
    // hash-mismatches, and rank renumbering proves exclusion happens
    // BEFORE scoring, not by post-filtering rows.
    "s20_index_delete_probe" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = e.filter(pmod(col("vec_id"), lit(10)) =!= 7)
      val idx = SimilaritySearch.memoizedIvfIndex(base, "vec_id", "embedding",
        nCells = 16, cacheKey = dir + "#s16base")
      val deleted = idx.delete(
        e.filter(pmod(col("vec_id"), lit(10)) === 3).select(col("vec_id")))
      SimilaritySearch.probeIvf(deleted, pmod(col("vec_id"), lit(10)) === 5,
        k = 3, nProbe = 16)
    }),


    // s18 (round 17): the s16 lifecycle with the append side ARRIVING AS
    // A STREAM — the similarity family's ingest-topology row, closing the
    // one asymmetry the round-16 verdict named (dedup indexes ingest per
    // microbatch; the vector index only probed). The %10 = 7 batch lands
    // in a temp dir as MULTIPLE parquet files and a file-source stream
    // (maxFilesPerTrigger = 1, AvailableNow) folds them through
    // ivfAppendStream: per microbatch one frozen-centroid assignment
    // pass, batchId-guarded exactly-once application. compactEvery is
    // set past the batch count ON PURPOSE: compaction would unpersist
    // the memoized s16base artifact other queries share (the in-stream
    // compact path is Round17Spec/StreamingSpec territory, on an owned
    // index). The probe at nProbe = nCells is exact, so the oracle is
    // s16's brute-force form — a dropped, duplicated (replayed), or
    // mis-assigned microbatch breaks row counts or values.
    "s18_stream_index_append" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = e.filter(pmod(col("vec_id"), lit(10)) =!= 7)
      val idx = SimilaritySearch.memoizedIvfIndex(base, "vec_id", "embedding",
        nCells = 16, cacheKey = dir + "#s16base")
      if (idx.centroids.isEmpty)
        // empty corpus: nothing to stream INTO (the append guard is an
        // API contract, not a query-path behavior) — probe the empty
        // index, which yields the oracle's 0 rows
        SimilaritySearch.probeIvf(idx, pmod(col("vec_id"), lit(10)) === 7,
          k = 3, nProbe = 16)
      else {
        val batch = e.filter(pmod(col("vec_id"), lit(10)) === 7)
          .select(col("vec_id"), col("embedding"))
        val ingest = new graft.streaming.EventStreams.IvfIngest(idx)
        withIngestDir("s18_ingest") { tmp =>
          batch.repartition(4).write.parquet(tmp + "/in")
          val src = s.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1").parquet(tmp + "/in")
          graft.streaming.EventStreams
            .ivfAppendStream(src, ingest, nCells = 16, compactEvery = 1000)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", tmp + "/ck")
            .start()
            .awaitTermination()
        }
        SimilaritySearch.probeIvf(ingest.index,
          pmod(col("vec_id"), lit(10)) === 7, k = 3, nProbe = 16)
      }
    }),


    // s19 (round 17): s17's pinned-twin claim with the PQ APPEND side
    // arriving as a stream — identical copies of vec_id < 10 (at
    // +300000) encode through the FROZEN codebooks per microbatch
    // (pqAppendStream; the corpus thunk is deliberately un-invoked:
    // compactEvery past the batch count keeps the shared memoized
    // artifacts intact, and the in-stream compact path is spec
    // territory). The IVF half appends batch-side exactly as s17 — the
    // streamed surface under test is the PQ encode fold. An identical
    // twin gets identical codes and cell, so its ADC top-3 MUST contain
    // its original: a dropped or double-applied microbatch breaks the
    // row count or the flag.
    "s19_stream_pq_append" -> ((s, dir) => {
      val normalized = emb(s, dir).select(col("vec_id"),
        SimilaritySearch.l2normalizeCol(col("embedding")).as("__vn"))
      val ivf = SimilaritySearch.memoizedIvfIndex(normalized, "vec_id",
        "__vn", nCells = 16, cacheKey = dir + "#s17cells")
      val pq = SimilaritySearch.memoizedPqIndex(normalized, "vec_id",
        "__vn", m = 8, k = 64, cacheKey = dir + "#s17pq")
      val batch = normalized.filter(col("vec_id") < 10)
        .select((col("vec_id") + 300000L).as("vec_id"), col("__vn"))
      val (ivfA, pqA) =
        if (ivf.centroids.isEmpty || pq.codebooks.isEmpty) (ivf, pq)
        else {
          val ingest = new graft.streaming.EventStreams.PqIngest(pq)
          withIngestDir("s19_ingest") { tmp =>
            batch.repartition(2).write.parquet(tmp + "/in")
            val src = s.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", "1").parquet(tmp + "/in")
            graft.streaming.EventStreams
              .pqAppendStream(src, "__vn", ingest,
                corpus = () => sys.error(
                  "s19 must never compact: the corpus thunk is spec-only"),
                compactEvery = 1000)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .option("checkpointLocation", tmp + "/ck")
              .start()
              .awaitTermination()
          }
          (SimilaritySearch.appendIvfIndex(ivf, batch, persist = false), ingest.index)
        }
      SimilaritySearch.probeIvfPq(ivfA, pqA,
          batch.select(col("vec_id").as("q_id"), col("__vn").as("__qn")),
          k = 3, nProbe = 8)
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") - 300000L, lit(1L))
          .otherwise(lit(0L))).as("orig_in_top3"))
        .select((col("q_id") - 300000L).as("orig_id"), col("q_id"),
          col("orig_in_top3"))
    }),


    // LSH ANN with a DRIVER-VISIBLE recall band (round-11 conversion of
    // the former no_oracle row): the query runs the full LSH plan AND the
    // exact brute-force twin, emits the exact top-3 list per query (rank-
    // order csv — DuckDB recomputes it verbatim) plus an aggregate
    // recall_floor_met flag the oracle pins at 1. Floor 20% — measured
    // 27/43/37% at sf0.001/0.01/0.1 on these near-uniform synthetic
    // vectors (a hard case: tiny neighbour margins; DedupSpec carries the
    // >= 0.8 bound on planted-cluster structure, where recall is the
    // meaningful claim).
    "s03_ann_lsh" -> ((s, dir) => {
      val ann = SimilaritySearch.annTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3)
      val exact = SimilaritySearch.bruteForceTopK(emb(s, dir), "vec_id",
        "embedding", isQuery = col("vec_id") < 10, k = 3)
      SimilaritySearch.recallBand(exact, ann, floorBp = 2000)
    }),


    // Index keyed on the corpus directory: built once per JVM (fit on the
    // coarse-quantizer sample, assignments cached), probed per call.
    // Banded oracle like s03; floor 40% (measured 53/63/60% across SFs).
    "s04_ann_ivf" -> ((s, dir) => {
      val ivf = SimilaritySearch.ivfTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3, cacheKey = Some(dir))
      val exact = SimilaritySearch.bruteForceTopK(emb(s, dir), "vec_id",
        "embedding", isQuery = col("vec_id") < 10, k = 3)
      SimilaritySearch.recallBand(exact, ivf, floorBp = 4000)
    }),


    // s04's two-level (hierarchical coarse quantizer) twin — the build
    // whose cell ASSIGNMENT is n·2√nCells instead of n·nCells, the fix
    // for the one superlinear build-side curve in the round-10 stress
    // sweep (under the IVF sizing rule nCells ∝ corpus, flat assignment
    // is ∝ n²). Identical IvfIndex artifact and probe path; memoized
    // under a "#hier"-suffixed key. No SQL oracle — KMeans isn't
    // expressible in DuckDB (the s03/s04/s05 convention); HierIvfSpec
    // recomputes every assignment driver-side bit-exactly and bounds
    // probe recall vs exact s01 instead.
    // Banded oracle like s03/s04; floor 50% (measured 87/67/87% across
    // SFs — the HierIvfSpec floor at nProbe=8, now driver-visible).
    "s11_ivf_hier" -> ((s, dir) => {
      val hier = SimilaritySearch.ivfTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3, nProbe = 8,
        cacheKey = Some(dir), hier = true)
      val exact = SimilaritySearch.bruteForceTopK(emb(s, dir), "vec_id",
        "embedding", isQuery = col("vec_id") < 10, k = 3)
      SimilaritySearch.recallBand(exact, hier, floorBp = 5000)
    }),


    // SemDeDup-style semantic dedup: IVF-cluster the corpus (memoized
    // index — no KMeans refit per call), within-cluster cosine pairs only,
    // drop to the lowest-id keeper. Corpus augmented with the same planted
    // near-dups as d06 so there is something to drop. Round-11 oracle
    // conversion: at threshold 0.95 the synthetic corpus has NO natural
    // pairs (max natural cosine ≈ 0.6), so the full drop set is exactly
    // the planted construction — every copy dropped with its original as
    // keeper — and the oracle recomputes that construction verbatim. The
    // hash compare is therefore the DedupSpec claim (planted recall = 1,
    // zero false drops) made driver-visible; a 0.9996-cosine twin landing
    // in a different KMeans cell would fail it loudly.
    "s05_semantic_dedup" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val aug = Dedup.withPlantedNearDups(base, "vec_id", "v",
        pred = col("vec_id") < 25, idOffset = 100000L)
      val index = SimilaritySearch.memoizedIvfIndex(
        aug, "vec_id", "v", nCells = 16, cacheKey = dir + "#aug")
      SimilaritySearch.semanticDedup(index, threshold = 0.95)
        .filter(!col("keep"))
        .select(col("vec_id").as("dup_id"), col("keeper"))
    }),


    // Symmetric int8 quantization of the embedding column — the standard
    // vector-store compression step (scale = max|x|, code = floor(127·x/s)).
    // Map-only, one pass, no shuffle; codes are summarized as integer stats
    // so the oracle compares exactly (floor of identically-computed doubles
    // is engine-stable, unlike half-way rounding). maxabs is computed in a
    // SEPARATE projection: referencing it inside the code lambda would
    // re-evaluate the array_max per element (the HOF re-evaluation trap).
    "s06_quantize" -> ((s, dir) => {
      // Codes clamp at -127: for x = -maxabs the double arithmetic can land
      // one ulp below -127 and floor to -128, outside the symmetric int8
      // range the contract promises. Empty vectors are excluded up front —
      // Spark's aggregate(.., 0L, ..) and DuckDB's list_sum([]) (NULL)
      // disagree on them.
      val base = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
        .filter(size(col("v")) > 0)
        .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      base
        .withColumn("codes",
          when(col("maxabs") === 0d,
            transform(col("v"), _ => lit(0L)))
          .otherwise(
            transform(col("v"),
              x => greatest(floor(x * lit(127.0) / col("maxabs")).cast("long"), lit(-127L)))))
        .select(col("vec_id"),
          floor(col("maxabs") * 10000).cast("long").as("scale_fp"),
          expr("aggregate(codes, 0L, (a, x) -> a + x)").as("code_sum"),
          expr("aggregate(codes, 0L, (a, x) -> a + abs(x))").as("code_l1"),
          array_min(col("codes")).as("code_min"),
          array_max(col("codes")).as("code_max"))
    }),


    // Maximum-inner-product top-k (dot-product retrieval; see
    // SimilaritySearch.mipsTopK for the norm-augmentation scale path).
    "s07_mips_topk" -> ((s, dir) =>
      SimilaritySearch.mipsTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 5)),


    // Approximate MIPS: norm-augmentation reduction + LSH bucketing +
    // exact dot-product verify (the sublinear path whose exact twin is
    // s07). Round-11 banded oracle (the s03 shape on the inner-product
    // ranking): exact top-3 by raw inner product per query as the
    // payload, aggregate recall floor 20% (measured 37/43/27% across SFs
    // on the near-uniform corpus; Round4Spec carries the >= 0.8 bound on
    // planted high-IP structure). cacheKey memoizes the MipsIndex (the
    // corpus max norm) per (session, dir): the probe path itself runs
    // zero driver actions.
    "s09_ann_mips" -> ((s, dir) => {
      val ann = SimilaritySearch.annMipsTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3, cacheKey = Some(dir))
      val exact = SimilaritySearch.mipsTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3)
      SimilaritySearch.recallBand(exact, ann, floorBp = 2000)
    }),


    // IVF-PQ: the coarse quantizer prunes to nProbe cells, product-
    // quantized code words (16 small ints per vector vs 64 floats) score
    // the survivors by ADC table lookups — the memory-and-cost-compressed
    // production ANN shape (both index halves memoized per (session,
    // dir)). Corpus augmented with byte-identical twins of the queries so
    // the approximate path has a deterministic signal: Round10Spec proves
    // every twin ranks top-1 and bounds raw-corpus recall vs exact s01.
    // Round-11 driver-visible form: one row per query claiming its twin
    // appears in the IVF-PQ top-3 — deterministic because a byte-
    // identical twin gets identical PQ codes (minimal ADC distance) and
    // an identical cell assignment (the query's own-cell probe always
    // covers it); the oracle recomputes the twin construction and pins
    // twin_in_top3 at 1 (measured 10/10 at every SF). Sized m=8/k=64
    // here (the twin signal is codebook-size-invariant — identical inputs
    // get identical codes at any k — and the warmup index build is 8x
    // cheaper); Round10Spec carries the full m=16/k=256 recall evidence.
    "s10_ivf_pq" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id"), col("embedding"))
      val twins = base.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      SimilaritySearch.ivfPqTopK(base.unionByName(twins), "vec_id",
          "embedding", isQuery = col("vec_id") < 10, k = 3,
          nCells = 16, nProbe = 8, m = 8, kCodes = 64,
          cacheKey = Some(dir + "#pqtwin"))
        .groupBy(col("q_id"))
        .agg(max(when(col("n_id") === col("q_id") + 100000L, lit(1L))
          .otherwise(lit(0L))).as("twin_in_top3"))
        .select(col("q_id"), (col("q_id") + 100000L).as("twin_id"),
          col("twin_in_top3"))
    }),


    // s13: kNN-GRAPH construction — every vector is a query (the input
    // of SemDeDup-style clustering, graph-based ANN indexes, and
    // label-propagation QA): approximate edges from the LSH bucket
    // self-join (annTopK with the query predicate wide open — candidates
    // stay bucket-bounded, never all-pairs), banded against the exact
    // all-queries brute-force twin (s02's declared-quadratic role). The
    // k·n edge frame is the output; recall floor 20% (measured 35/36/40%
    // at sf0.001/0.01/0.1 on the near-uniform synthetic vectors — the
    // s03 hard case; DedupSpec carries the >= 0.8 planted-structure
    // bound).
    "s13_knn_graph" -> ((s, dir) => {
      val e = emb(s, dir)
      val ann = SimilaritySearch.annTopK(e, "vec_id", "embedding",
        isQuery = lit(true), k = 3)
      val exact = SimilaritySearch.bruteForceTopK(e, "vec_id", "embedding",
        isQuery = lit(true), k = 3)
      SimilaritySearch.recallBand(exact, ann, floorBp = 2000)
    }),


    // Metadata-filtered vector search: top-k within the query's label
    // group; the filter is the hash-join key, not a post-filter (see
    // SimilaritySearch.filteredTopK).
    "s08_filtered_topk" -> ((s, dir) =>
      SimilaritySearch.filteredTopK(emb(s, dir), "vec_id", "embedding",
        filterCol = "label", isQuery = col("vec_id") < 10, k = 5)),


    // s14: SemDeDup over the kNN-graph ARTIFACT (the s13 product made a
    // consumer): the memoized graph is built once per (session, dir)
    // over the s05-convention twinned corpus and the dedup pass reads
    // EDGES ONLY — zero vector work, the whole point of dedup-over-a-
    // built-graph. Oracle: the planted construction verbatim (the s05
    // claim on the graph path): every byte-identical twin dropped with
    // its original as keeper, nothing else dropped (natural max cosine
    // ≈ 0.6 « 0.95; a twin shares every LSH bucket with its original,
    // so the rank-1 edge at cos 1 is deterministic). Nodes the LSH left
    // edgeless are kept by definition — the output is one verdict per
    // CORPUS vector, never per edge endpoint, so the row set is
    // engine-independent.
    "s14_graph_dedup" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id"), col("embedding"))
      val aug = base.unionByName(base.filter(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      // Only the DROP rows join back (bounded by the dedup output —
      // the d09 broadcast-drop-set discipline): the corpus never
      // exchanges on id, and edgeless/kept nodes fall out of the left
      // join as keep=true.
      val drops = SimilaritySearch.knnGraphDedup(
          memoizedKnnGraph(s, dir), threshold = 0.95)
        .filter(!col("keep")).select(col("id"), col("keeper"))
      aug.select(col("vec_id").as("id"))
        .join(broadcast(drops), Seq("id"), "left")
        .select(col("id"), col("keeper").isNull.as("keep"), col("keeper"))
    }),


    // s15: connected components over the kNN-graph artifact — the
    // label-propagation consumer (the d07 clustering applied to graph
    // edges instead of Jaccard pairs): undirected ≥0.95 edges →
    // pointer-jumping components. On the planted corpus the only such
    // edges are the twin pairs, so the components are exactly ten
    // (original, twin) doubletons with the original as label — the
    // DuckDB-recomputable construction. Same memoized graph as s14:
    // build once, consume many.
    "s15_graph_components" -> ((s, dir) => {
      val g = memoizedKnnGraph(s, dir)
      val pairs = g.edges.filter(col("cos") >= 0.95)
        .select(least(col("src"), col("dst")).as("a_id"),
          greatest(col("src"), col("dst")).as("b_id"))
        .distinct()
      Dedup.connectedComponents(pairs, "a_id", "b_id")
    }),
  )

  /** Production-plan sides of the entries whose oracle form runs an exact
    * twin in-query (the round-11 banded-claim convention). At 100 TB only
    * THESE plans ship — the brute-force twin is correctness apparatus —
    * so the bench headline times these and prices the oracle form
    * separately (r11 verdict: "no wrong answers; wrong accounting").
    * Not driver-verified: the oracle claim lives on the full form in
    * [[queries]], and Round12Spec pins each override to be a sub-plan of
    * it (same ANN geometry, memoized index, k). */
  val productionOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s03_ann_lsh" -> ((s, dir) =>
      SimilaritySearch.annTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3)),
    "s04_ann_ivf" -> ((s, dir) =>
      SimilaritySearch.ivfTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3, cacheKey = Some(dir))),
    "s11_ivf_hier" -> ((s, dir) =>
      SimilaritySearch.ivfTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3, nProbe = 8,
        cacheKey = Some(dir), hier = true)),
    "s09_ann_mips" -> ((s, dir) =>
      SimilaritySearch.annMipsTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < 10, k = 3, cacheKey = Some(dir))),
    "s13_knn_graph" -> ((s, dir) =>
      SimilaritySearch.annTopK(emb(s, dir), "vec_id", "embedding",
        isQuery = lit(true), k = 3)),
  )

  val oracleSql: Map[String, String] = Map(

    // ---- round-11 banded conversions of the former no_oracle rows ----
    "s03_ann_lsh" -> AnnCosBandSql,

    // s13: the same cosine band with every vector as a query.
    "s13_knn_graph" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              scored AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
                                list_inner_product(q.v, e.v)
                                / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(e.v, e.v))) AS cos
                         FROM e q JOIN e ON e.vec_id <> q.vec_id),
              ranked AS (SELECT q_id, n_id,
                                row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
                         FROM scored)
         SELECT q_id, string_agg(CAST(n_id AS VARCHAR), ',' ORDER BY rnk) AS exact_ids,
                CAST(1 AS BIGINT) AS recall_floor_met
         FROM ranked WHERE rnk <= 3 GROUP BY q_id""",

    "s04_ann_ivf" -> AnnCosBandSql,

    "s11_ivf_hier" -> AnnCosBandSql,

    // s15: components over ≥0.95 graph edges = exactly the ten planted
    // (original, twin) doubletons, labeled by the original (the smaller
    // id). Nodes in no qualifying edge emit no row (the d07 convention).
    "s15_graph_components" ->
      """WITH q AS (SELECT vec_id FROM embeddings WHERE vec_id < 10)
         SELECT vec_id AS id, vec_id AS cluster FROM q
         UNION ALL
         SELECT vec_id + 100000 AS id, vec_id AS cluster FROM q""",

    // s14: the planted construction verbatim (the s05 oracle claim made
    // on the graph-dedup path): one verdict per corpus vector, twins
    // (+100000) dropped to their originals, everything else kept.
    "s14_graph_dedup" ->
      """WITH ids AS (SELECT vec_id FROM embeddings
                      UNION ALL
                      SELECT vec_id + 100000 FROM embeddings WHERE vec_id < 10)
         SELECT vec_id AS id,
                vec_id < 100000 AS keep,
                CASE WHEN vec_id >= 100000 THEN vec_id - 100000 END AS keeper
         FROM ids""",

    // s09: the same band over the INNER-PRODUCT ranking (s07's order).
    "s09_ann_mips" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
              scored AS (SELECT q_id, e.vec_id AS n_id,
                                list_inner_product(qv, e.v) AS ip
                         FROM q JOIN e ON e.vec_id <> q_id),
              ranked AS (SELECT q_id, n_id,
                                row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, n_id) AS rnk
                         FROM scored)
         SELECT q_id, string_agg(CAST(n_id AS VARCHAR), ',' ORDER BY rnk) AS exact_ids,
                CAST(1 AS BIGINT) AS recall_floor_met
         FROM ranked WHERE rnk <= 3 GROUP BY q_id""",

    // s10: the planted byte-identical twin construction, twin-in-top-3
    // pinned at 1 (identical PQ codes => minimal ADC distance; identical
    // cell => always probed).
    "s10_ivf_pq" ->
      """SELECT CAST(vec_id AS BIGINT) AS q_id,
                CAST(vec_id + 100000 AS BIGINT) AS twin_id,
                CAST(1 AS BIGINT) AS twin_in_top3
         FROM embeddings WHERE vec_id < 10""",

    // s17: an appended identical twin retrieves its original through the
    // frozen-codebook ADC — pinned, like s10, because the twin shares
    // its original's codes and cell by construction.
    "s17_pq_append_probe" ->
      """SELECT CAST(vec_id AS BIGINT) AS orig_id,
                CAST(vec_id + 200000 AS BIGINT) AS q_id,
                CAST(1 AS BIGINT) AS orig_in_top3
         FROM embeddings WHERE vec_id < 10""",

    // s05: at threshold 0.95 the corpus has no natural pairs (max
    // natural cosine ~ 0.6), so the semantic-dedup drop set IS the
    // planted construction — recomputed verbatim here. The hash compare
    // is the planted-recall-1 / zero-false-drops claim.
    "s05_semantic_dedup" ->
      """SELECT CAST(vec_id + 100000 AS BIGINT) AS dup_id,
                CAST(vec_id AS BIGINT) AS keeper
         FROM embeddings WHERE vec_id < 25""",

    // Sparse cosine: trigram multiset counts, df-capped vocabulary,
    // integer dot/norms, sqrt+divide+round(4) — both engines IEEE.
    "s12_sparse_cosine" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                    FROM documents),
              g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 2),
                             i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS term
                    FROM w WHERE len(ws) >= 3),
              tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                     FROM g GROUP BY 1, 2),
              voc AS (SELECT term FROM tf GROUP BY 1 HAVING count(*) <= 256),
              k AS (SELECT tf.* FROM tf JOIN voc USING (term)),
              n AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
                    FROM k GROUP BY 1),
              d AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                           CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
                    FROM k a JOIN k b ON a.term = b.term AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT a_id, b_id,
                round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4) AS cos
         FROM d JOIN n na ON d.a_id = na.doc_id
                JOIN n nb ON d.b_id = nb.doc_id
         WHERE round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4) >= 0.9""",

    // s19: the s17 pinned-twin claim through the STREAMING PQ append fold
    // (offset +300000 — identical codes and cell by construction, so a
    // correct per-microbatch, exactly-once application pins the flag).
    "s19_stream_pq_append" ->
      """SELECT CAST(vec_id AS BIGINT) AS orig_id,
                CAST(vec_id + 300000 AS BIGINT) AS q_id,
                CAST(1 AS BIGINT) AS orig_in_top3
         FROM embeddings WHERE vec_id < 10""",

    // s18: the streamed append folds the SAME rows the s16 batch append
    // does, and the nProbe = nCells probe is exact — so the oracle is
    // s16's brute-force form verbatim: stream-vs-batch equality made
    // driver-visible.
    "s18_stream_index_append" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 10 = 7),
              scored AS (SELECT q_id, e.vec_id AS n_id,
                                list_inner_product(qv, e.v)
                                / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos
                         FROM q JOIN e ON e.vec_id <> q_id),
              ranked AS (SELECT q_id, n_id, cos,
                                CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
                         FROM scored)
         SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM ranked WHERE rnk <= 3""",

    // s16: with nProbe = nCells the append-probe is exact, so the oracle
    // is the brute-force top-3 over the WHOLE corpus for the appended
    // queries — frozen-centroid assignment is invisible to a CORRECT
    // probe, which is precisely the append contract.
    "s16_index_append_probe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 10 = 7),
              scored AS (SELECT q_id, e.vec_id AS n_id,
                                list_inner_product(qv, e.v)
                                / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos
                         FROM q JOIN e ON e.vec_id <> q_id),
              ranked AS (SELECT q_id, n_id, cos,
                                CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
                         FROM scored)
         SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM ranked WHERE rnk <= 3""",

    // s20: the s01 exact form over corpus-minus-(never-indexed ∪ deleted)
    // — %10 = 7 never entered the index, %10 = 3 was tombstoned; the
    // probe at full cell coverage is exact, so ranks renumber around the
    // deleted docs.
    "s20_index_delete_probe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                    WHERE vec_id % 10 NOT IN (7, 3)),
              q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 10 = 5),
              scored AS (SELECT q_id, e.vec_id AS n_id,
                                list_inner_product(qv, e.v)
                                / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos
                         FROM q JOIN e ON e.vec_id <> q_id),
              ranked AS (SELECT q_id, n_id, cos,
                                CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
                         FROM scored)
         SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM ranked WHERE rnk <= 3""",

    "s01_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
              scored AS (SELECT q_id, e.vec_id AS n_id,
                                list_inner_product(qv, e.v)
                                / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos
                         FROM q JOIN e ON e.vec_id <> q_id),
              ranked AS (SELECT q_id, n_id, cos,
                                CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
                         FROM scored)
         SELECT q_id, n_id, round(cos, 4) AS cos, rnk FROM ranked WHERE rnk <= 5""",

    "s02_cosine_threshold" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                round(list_inner_product(a.v, b.v)
                      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 4) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_inner_product(a.v, b.v)
               / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) > 0.4""",

    "s06_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                    WHERE len(embedding) > 0),
              m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
              q AS (SELECT vec_id, maxabs,
                           CASE WHEN maxabs = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                                ELSE list_transform(v, x -> greatest(CAST(floor(x * 127.0 / maxabs) AS BIGINT), -127))
                           END AS codes
                    FROM m)
         SELECT vec_id, CAST(floor(maxabs * 10000) AS BIGINT) AS scale_fp,
                CAST(list_sum(codes) AS BIGINT) AS code_sum,
                CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS code_l1,
                CAST(list_min(codes) AS BIGINT) AS code_min,
                CAST(list_max(codes) AS BIGINT) AS code_max
         FROM q""",

    "s07_mips_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
              s AS (SELECT q_id, e.vec_id AS n_id, list_inner_product(qv, e.v) AS ip
                    FROM q JOIN e ON e.vec_id <> q_id),
              r AS (SELECT q_id, n_id, ip,
                           CAST(row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, n_id) AS BIGINT) AS rnk
                    FROM s)
         SELECT q_id, n_id, round(ip, 4) AS ip, rnk FROM r WHERE rnk <= 5""",

    "s08_filtered_topk" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e WHERE vec_id < 10),
              s AS (SELECT q_id, e.vec_id AS n_id, e.label AS label,
                           list_inner_product(qv, e.v)
                           / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos
                    FROM q JOIN e ON e.label = q_label AND e.vec_id <> q_id),
              r AS (SELECT q_id, n_id, label, cos,
                           CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rnk
                    FROM s)
         SELECT q_id, n_id, label, round(cos, 4) AS cos, rnk FROM r WHERE rnk <= 5""",
  )
}
