package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.artifacts.{ArtifactStore, Compactable, Leaves, Persisted, Tombstones}
import graft.functions.CosineSimilarity.cosineSim
import graft.functions.LshTableBuckets

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - [[bruteForceTopK]] — the exact baseline: broadcast the (small) query
  *    set against the full corpus; one scan, no shuffle of the corpus side;
  *    per-query top-k through the custom GroupTopK operator (map-side
  *    bounded heaps — only k rows per query per partition reach the
  *    shuffle). This is the right plan at any scale when |queries| is
  *    small: the corpus streams through executors once.
  *  - [[thresholdPairs]] — exact all-pairs above a cosine threshold (the
  *    oracle-checkable ground truth; O(N²), only for modest N).
  *  - [[annTopK]] — the scale path: random-hyperplane LSH bucketing turns
  *    all-pairs into per-bucket brute force. Hyperplanes are derived from a
  *    deterministic hash (no RNG state), so results are reproducible across
  *    runs and cluster layouts.
  *  - [[buildIvfIndex]]/[[probeIvf]] — IVF: build the coarse quantizer once
  *    (offline, sampled fit), probe it many times.
  */
object SimilaritySearch {

  /** Driver-visible banded-recall compare for the ANN family: the oracle
    * convention that turned the sketch ops (q35/q42/q45) green, applied
    * to approximate search. `exact` and `approx` are both (q_id, n_id,
    * …, rnk) top-k frames; the output is one row per query carrying the
    * EXACT side's neighbour list (rank order, csv — DuckDB recomputes it
    * verbatim, so the exact-twin computation is value-checked) plus an
    * aggregate `recall_floor_met` flag: 1 iff the approximate frame
    * recovered at least `floorBp`/10000 of all exact pairs. The oracle
    * emits literal 1 — a recall collapse below the declared floor
    * hash-fails every row. Everything is deterministic (hash-derived
    * hyperplanes, k-means++ seeded fits, no RNG), so the flag is stable
    * for fixed data; floors are set from measurements at sf0.001/0.01/0.1
    * with margin (see the per-query scaladoc).
    *
    * Plan shape: the flag is a two-scalar cross join (one row each side —
    * a broadcast nested loop of 1×1, not a data join) over a left-semi
    * hit count; no driver action anywhere. The approximate plan still
    * executes in full — its pairs feed the semi join. */
  def recallBand(exact: DataFrame, approx: DataFrame, floorBp: Int): DataFrame = {
    // Three consumers read the exact twin (the hit semi-join, the flag
    // aggregate, the per-query payload); checkpoint the n·k-row frame so
    // the brute-force plan executes once — material when the twin is
    // all-queries (s13: every vector × k rows).
    val ex = exact.select(col("q_id"), col("n_id"), col("rnk"))
      .localCheckpoint()
    val hits = ex.select(col("q_id"), col("n_id"))
      .join(approx.select(col("q_id"), col("n_id")).distinct(),
        Seq("q_id", "n_id"), "left_semi")
    val flag = ex.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(when(col("n_hit") * 10000 >= col("n_exact") * floorBp, lit(1L))
        .otherwise(lit(0L)).as("recall_floor_met"))
    val payload = ex.groupBy(col("q_id")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("rnk"), col("n_id")))),
        x => x.getField("n_id").cast("string")), ",").as("exact_ids"))
    payload.crossJoin(broadcast(flag))
      .select(col("q_id"), col("exact_ids"), col("recall_floor_met"))
  }

  /** Exact top-k neighbours for each query vector. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     isQuery: Column, k: Int): DataFrame =
    exactTopK(emb, idCol, vecCol, isQuery, k, cosineSim, "cos")

  /** Shared exact brute-force body (cosine and inner-product twins differ
    * ONLY in the scoring kernel — one definition keeps them from
    * drifting): broadcast the small query set against the full corpus
    * (one scan, no corpus shuffle), score, rank through GroupTopK. */
  private def exactTopK(emb: DataFrame, idCol: String, vecCol: String,
                        isQuery: Column, k: Int,
                        score: (Column, Column) => Column,
                        scoreName: String): DataFrame = {
    val q = emb.filter(isQuery).select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    val c = emb.select(col(idCol).as("n_id"), col(vecCol).as("nv"))
    // Project to the (q_id, n_id, score) triple BEFORE the top-k: the
    // bounded heap then buffers and exchanges 24-byte rows, not vector
    // payloads (the annTopK lesson applied to the exact twin).
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        score(col("qv"), col("nv")).as(scoreName))
    rankTopK(scored, scoreName, k)
      .select(col("q_id"), col("n_id"),
        round(col(scoreName), 4).as(scoreName), col("rnk"))
  }

  /** Exact top-k by raw inner product (MIPS — maximum-inner-product
    * search, the retrieval objective of dot-product-trained embedding
    * models, where vector NORM carries signal and cosine ranking is
    * wrong). Same plan as [[bruteForceTopK]] (the shared [[exactTopK]]
    * body): broadcast the small query set, stream the corpus once,
    * per-query top-k through GroupTopK.
    *
    * The sublinear path at scale is the classic norm-augmentation
    * reduction to cosine LSH ([[mipsAugment]], wired end-to-end in
    * [[annMipsTopK]]): append one coordinate sqrt(M² − ‖x‖²) to each
    * corpus vector (M = max corpus norm) and 0 to each query — then
    * cosine order against augmented vectors equals inner-product order,
    * so the hyperplane bucketing applies unchanged. Round4Spec proves the
    * rank equality on real embeddings. */
  def mipsTopK(emb: DataFrame, idCol: String, vecCol: String,
               isQuery: Column, k: Int): DataFrame =
    exactTopK(emb, idCol, vecCol, isQuery, k,
      graft.functions.DotProduct.dotProduct, "ip")

  /** Metadata-filtered vector search: exact top-k restricted to corpus
    * vectors sharing the query's `filterCol` value. The filter is NOT a
    * post-scoring predicate — it becomes the JOIN KEY, so the plan is a
    * broadcast HASH join on the metadata value (each corpus row scores
    * against only the queries of its own group), not a nested loop over
    * the corpus × queries. That is the plan that survives 100 TB: the
    * scored candidate set shrinks by the group's selectivity before any
    * similarity arithmetic runs. */
  def filteredTopK(emb: DataFrame, idCol: String, vecCol: String,
                   filterCol: String, isQuery: Column, k: Int): DataFrame = {
    val q = emb.filter(isQuery).select(col(idCol).as("q_id"),
      col(vecCol).as("qv"), col(filterCol).as("__fk"))
    val c = emb.select(col(idCol).as("n_id"), col(vecCol).as("nv"),
      col(filterCol).as(filterCol))
    val scored = c.join(broadcast(q),
        col(filterCol) === col("__fk") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col(filterCol),
        cosineSim(col("qv"), col("nv")).as("cos"))
    rankTopK(scored, "cos", k)
      .select(col("q_id"), col("n_id"), col(filterCol),
        round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Norm-augmentation (Shrivastava-Li style asymmetric transform,
    * simplified symmetric variant): corpus vector x → (x / M,
    * sqrt(1 − ‖x/M‖²)); query q → (q / ‖q‖, 0). All augmented vectors are
    * unit-norm, so cosine(aug(q), aug(x)) = q·x / (‖q‖·M) — a fixed
    * per-query positive scaling of the inner product, hence identical
    * ranking. `maxNorm` must be ≥ every corpus norm (compute once
    * offline; a stale upper bound stays correct, just less tight). */
  def mipsAugment(vec: Column, maxNorm: Double, isQuery: Boolean): Column = {
    val scaled = transform(vec, x => x.cast("double") / lit(maxNorm))
    val normSq = aggregate(scaled, lit(0.0), (acc, x) => acc + x * x)
    if (isQuery) {
      val qn = sqrt(aggregate(vec, lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      // Zero-norm guard: a zero query vector divides by zero and turns
      // every coordinate NaN (poisoning its LSH buckets); dividing by 1
      // keeps it an all-zero vector with deterministic buckets instead.
      val safeQn = when(qn === 0.0, lit(1.0)).otherwise(qn)
      concat(transform(vec, x => x.cast("double") / safeQn), array(lit(0.0)))
    } else {
      concat(scaled, array(sqrt(greatest(lit(1.0) - normSq, lit(0.0)))))
    }
  }

  /** All pairs (a_id < b_id) with cosine similarity above `threshold`.
    *
    * O(N²) by declared design: this is the exact ground-truth operator the
    * approximate paths are validated against, usable at modest N only. The
    * scale paths are [[graft.operators.Dedup.embeddingNearDups]] (bucketed
    * near-dup pairs) and [[annTopK]] (bucketed top-k). */
  def thresholdPairs(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    val a = emb.select(col(idCol).as("a_id"), col(vecCol).as("av"))
    val b = emb.select(col(idCol).as("b_id"), col(vecCol).as("bv"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", cosineSim(col("av"), col("bv")))
      .filter(col("cos") > threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
  }

  /** Hyperplane sign bits per hash table (bucket space 2^bits) and number
    * of independent tables. Multi-table LSH: a pair is a candidate when it
    * collides in ANY table — recall compounds across tables
    * (1 − (1 − p^bits)^tables) while each table's join stays selective. */
  val HyperplaneBits = 6
  val HashTables = 8

  /** Auto-sized LSH density parameters from a corpus count — the sizing
    * rule that was previously scaladoc prose, as code, so a growing corpus
    * cannot silently go quadratic behind a forgotten knob.
    *
    * Per-table bucket density is n / 2^bits and within-bucket candidate
    * pairs grow with density², so `bits` must track log2(n):
    * `bits = max(baseBits, ceil(log2(n / targetDensity)))`. The target
    * density default (16 rows/bucket/table) is calibrated from `tools/
    * Stress`: with bits pinned at 8 the bucketed dedup measured linear at
    * density ≤ 32 and super-linear at density 64, and bits = 11 (density
    * 8) restored linearity at the same corpus size — 16 sits safely
    * inside the measured-linear regime at the next doubling.
    *
    * Each extra bit multiplies a true pair's per-table collision
    * probability by p (< 1), so `tables` compensates at +2 per bit — at
    * cosine ≥ 0.99 (p ≈ 0.955) this holds miss probability ≤ ~1e-6
    * through n = 10^12 (spec-asserted across six decades). The growth is
    * the LINEAR price of quadratic avoidance: scan-side bucket rows per
    * vector = `tables`, which grows with log(n), while an undersized
    * bucket space grows candidate pairs with n²/2^bits. */
  def autoLshParams(n: Long, targetDensity: Long = 16,
                    baseBits: Int = 8, baseTables: Int = 12): (Int, Int) = {
    require(n >= 0, s"corpus count must be non-negative, got $n")
    val buckets = math.max(1L, n / math.max(1L, targetDensity))
    val bits = math.max(baseBits, ceilLog2(buckets))
    val tables = baseTables + 2 * (bits - baseBits)
    (bits, tables)
  }

  private def ceilLog2(x: Long): Int =
    if (x <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1L)

  /** Deterministic pseudo-random hyperplane matrix (bits × dim) in [-1, 1],
    * seeded by (table, bit, dim) through MurmurHash3 — stable across JVMs.
    * This is the REFERENCE definition; the hot path evaluates the same
    * matrix inside the codegen'd [[graft.functions.LshTableBuckets]]
    * expression (FunctionsSpec cross-checks the two). */
  def hyperplanes(dim: Int, bits: Int = HyperplaneBits,
                  table: Int = 0): Seq[Seq[Double]] =
    Seq.tabulate(bits, dim) { (j, d) =>
      val h = scala.util.hashing.MurmurHash3.productHash((table, j, d))
      (h % 10000) / 10000.0
    }

  /** One row per (vector, hash table): (id, vec, t, bucket). The bucket ids
    * for all tables are computed by a single codegen'd expression pass per
    * row (no shuffle — this is scan-side work), then unrolled with one
    * generator. Candidate generation downstream is an equi-join on
    * (t, bucket). */
  def lshKeyed(emb: DataFrame, idCol: String, vecCol: String,
               bits: Int = HyperplaneBits, tables: Int = HashTables): DataFrame =
    emb.select(col(idCol), col(vecCol),
      posexplode(LshTableBuckets.lshTableBuckets(col(vecCol), tables, bits))
        .as(Seq("t", "bucket")))

  /** IVF (inverted-file) index: a KMeans coarse quantizer fitted ONCE —
    * on a deterministic hash-sample of the corpus, never the full data —
    * plus the cell assignment of every corpus vector (one linear pass with
    * broadcast centroids, cached for reuse). Build once, probe many: at
    * 100 TB the build is an offline job and [[probeIvf]] is the only thing
    * on the query path. */
  final case class IvfIndex(
      centroids: Array[(Int, Array[Float])],
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      appendsSinceCompaction: Int = 0,
      cachedLeaves: Seq[DataFrame] = Nil,
      tombstones: Option[DataFrame] = None) extends Compactable {
    /** The assignment table with tombstoned ids filtered OUT — the view
      * every probe/dedup consumer reads. */
    def liveAssigned: DataFrame = Tombstones.live(assigned, idCol, tombstones)

    /** Tombstone `ids` (any frame carrying `idCol`): O(|ids|) — the
      * corpus is NOT touched; every subsequent probe excludes the ids at
      * scan time and the next [[compactIvfIndex]] drops their rows
      * physically (tombstone-at-probe, drop-at-compact — the takedown
      * verb a real training-data pipeline needs between full rebuilds).
      * Unknown ids are harmless (the anti-join just matches nothing). */
    def delete(ids: DataFrame): IvfIndex =
      copy(tombstones = Tombstones.add(tombstones, ids, idCol))

    /** Persist the index as parquet (assignments + centroids). Writes the
      * LIVE view: a saved artifact has deletions applied physically, so
      * the load side never needs a tombstone file. */
    def save(dir: String): Unit = {
      val spark = assigned.sparkSession
      import spark.implicits._
      Persisted.save(dir, "ivf_index")("assignments" -> liveAssigned,
        "centroids" -> centroids.toSeq.map { case (i, c) => (i, c.toSeq) }
          .toDF("cell", "cvec").coalesce(1))
    }
  }

  /** Load an index previously written with [[IvfIndex.save]]. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   idCol: String, vecCol: String): IvfIndex = {
    val p = Persisted.load(spark, dir, "ivf_index")
    val centroids = p.frame("centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    IvfIndex(centroids, p.frame("assignments"), idCol, vecCol)
  }

  /** The driver-local k-means fit sample of `vec` over `vecs`, shared by
    * the IVF, hier-IVF and PQ builds: a deterministic 1-in-`sampleMod`
    * hash sample on `idCol`, collected in ONE bounded job.
    *
    *  - The sample is bounded BY CONSTRUCTION, never by the caller
    *    remembering to pass `sampleMod`: with `sampleMod` ≤ 1 the modulus
    *    comes from a cheap id-only count so the expected sample lands near
    *    `maxLocalFit / 4`; small corpora derive 1 and keep the bit-exact
    *    full fit the specs pin.
    *  - An EMPTY hash sample (the modulus past the corpus count) falls
    *    back to the full frame: such a corpus is smaller than the modulus,
    *    so the full fit is cheap, and without it the whole corpus would
    *    silently vanish from the index.
    *  - More than `maxLocalFit` vectors fails loudly instead of an OOM. */
  private def fitSample(vecs: DataFrame, idCol: String, vec: Column, sampleMod: Int,
                        maxLocalFit: Int, label: String): Array[Array[Double]] = {
    val effSampleMod =
      if (sampleMod > 1) sampleMod
      else {
        val n = vecs.select(col(idCol)).count()
        math.max(1L, math.ceil(n.toDouble / (maxLocalFit / 4)).toLong).toInt
      }
    def collect(df: DataFrame): Array[Array[Double]] =
      df.select(vec).limit(maxLocalFit + 1).collect().map(_.getSeq[Double](0).toArray)
    val sampled = collect(
      if (effSampleMod <= 1) vecs
      else vecs.filter(pmod(xxhash64(col(idCol)), lit(effSampleMod)) === 0))
    val pts = if (sampled.isEmpty && effSampleMod > 1) collect(vecs) else sampled
    require(pts.length <= maxLocalFit,
      s"$label fit sample exceeds $maxLocalFit vectors — raise sampleMod " +
        "(the fit is a bounded-sample job by design)")
    pts
  }

  /** Fit the coarse quantizer on a deterministic 1-in-`sampleMod` hash-sample
    * of the corpus (sampleMod = 1 → full fit, for tiny corpora), then assign
    * every vector to its cell. The KMeans job only ever sees the sample —
    * at 100 TB that is the difference between an offline index build and an
    * iterative ML job over the whole lake. */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
                    nCells: Int = 16, sampleMod: Int = 1,
                    persist: Boolean = true,
                    maxLocalFit: Int = 250000): IvfIndex = {
    val spark = emb.sparkSession
    val vecs = emb.select(col(idCol), col(vecCol))
    // Round 12: the fit runs DRIVER-LOCAL over an auto-bounded hash sample
    // and the assignment is one codegen scan pass — the hier build's
    // discipline backported. The Spark ML path this replaces paid ~10
    // scheduled jobs of cluster latency per fit plus a non-codegen ML
    // Vector transform for the assignment, and the bench built three flat
    // indexes per corpus (s04, s05's augmented frame, s10's PQ twin) —
    // ivf_flat was the largest warmup bucket at 6-9 s for a 2000-vector
    // corpus. Centroids differ from the Spark ML fit (k-means++ seeding
    // RNG), so downstream recall floors were re-measured: every banded
    // oracle (s04/s11 40/50% floors) and spec bound (DedupSpec >= 0.8 on
    // planted clusters) holds with the prior margin.
    val pts = fitSample(vecs, idCol, transform(col(vecCol), x => x.cast("double")),
      sampleMod, maxLocalFit, "IVF")
    if (pts.isEmpty) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        vecs.schema
          .add("cell", org.apache.spark.sql.types.IntegerType, nullable = false))
      return IvfIndex(Array.empty, empty, idCol, vecCol)
    }
    // localKMeans degrades k=1 to the mean, so the tiny-corpus /
    // nCells=1 cases need no special-casing beyond what it does.
    val centers = localKMeans(pts, math.min(nCells, pts.length), seed = 42L)
    val assignedPlan =
      if (centers.length == 1)
        vecs.select(col(idCol), col(vecCol), lit(0).as("cell"))
      else assignByArgmin(vecs, idCol, vecCol, centers)
    // Only persist an index something will hold on to: a throwaway build
    // (ivfTopK without a cacheKey) would otherwise pin one cached relation
    // per call in the CacheManager with nothing ever unpersisting it.
    val leaves = new Leaves(persist)
    IvfIndex(centers.zipWithIndex.map { case (c, i) => (i, c.map(_.toFloat)) },
      leaves(assignedPlan), idCol, vecCol, cachedLeaves = leaves.owned)
  }

  /** Append a batch to an IVF index with FROZEN centroids — the ingest
    * verb every dedup-side index artifact already has (`Dedup`'s
    * gram/MinHash/LineSet/LshVec appendices): the new vectors go through
    * the SAME one-pass codegen argmin assignment the build used, against
    * the EXISTING centroid table, and the assignment tables union.
    * Append cost tracks the batch — the base corpus is never rescanned
    * and no k-means runs.
    *
    * Drift bound: frozen centroids mean cell populations skew as the
    * ingest distribution drifts from the fitted sample — probe recall
    * degrades gradually (vectors still land in their nearest EXISTING
    * cell; nothing is lost, cells just stop being balanced), it never
    * corrupts. Re-fit at compact: [[compactIvfIndex]] rebuilds from the
    * retained vectors when the operator decides drift has accumulated. */
  def appendIvfIndex(index: IvfIndex, batch: DataFrame,
                     persist: Boolean = true): IvfIndex = {
    require(index.centroids.nonEmpty,
      "cannot append to an empty IVF index — build one from the batch " +
        "(an empty build has no centroids to freeze)")
    val vecs = batch.select(col(index.idCol), col(index.vecCol))
    // cells are contiguous 0..n-1 by construction; sort so a LOADED
    // index (parquet row order is arbitrary) assigns identically
    val centers = index.centroids.sortBy(_._1).map(_._2.map(_.toDouble))
    // cache ONLY the batch frame and union lazily (the Dedup index-append
    // convention): a checkpoint of the union would rewrite the whole
    // corpus per batch, turning O(batch) ingest into O(corpus)
    val leaves = new Leaves(persist, index.cachedLeaves)
    val assignedNew = leaves(
      if (centers.length == 1)
        vecs.select(col(index.idCol), col(index.vecCol), lit(0).as("cell"))
      else assignByArgmin(vecs, index.idCol, index.vecCol, centers))
    index.copy(assigned = index.assigned.unionByName(assignedNew),
      appendsSinceCompaction = index.appendsSinceCompaction + 1,
      cachedLeaves = leaves.owned)
  }

  /** The automated ingest-fold lifecycle (the MinHashIndex
    * `appendAndMaybeCompact` contract applied to the IVF artifact):
    * append the batch, then every `compactEvery` appends re-fit via
    * [[compactIvfIndex]] — so a long-lived ingest topology's union
    * lineage stays BOUNDED at `compactEvery` no matter how many batches
    * it absorbs, and accumulated centroid drift resets on the same
    * cadence. Per-batch cost stays batch-sized; the re-fit is paid once
    * per window. */
  def appendIvfAndMaybeCompact(index: IvfIndex, batch: DataFrame,
                               nCells: Int = 0, compactEvery: Int = 16,
                               persist: Boolean = true): IvfIndex =
    Leaves.appendAndMaybeCompact(compactEvery)(appendIvfIndex(index, batch, persist))(
      compactIvfIndex(_, nCells))

  /** Re-fit at compact: rebuild the coarse quantizer from the index's own
    * retained vectors (the assignment table carries them), restoring the
    * balanced-cell property append drift erodes, and MATERIALIZE the
    * result (localCheckpoint) so the accumulated append-union lineage
    * flattens to a single scan — the once-per-window corpus rewrite the
    * amortized lifecycle pays (the MinHashIndex.compact save+reload
    * analogue, in memory). One bounded-sample fit + one assignment pass,
    * paid when the operator says so rather than on every ingest batch.
    *
    * `nCells <= 0` (the default) re-fits at the index's OWN cell count —
    * an index built at a non-default geometry keeps it through automatic
    * compaction instead of silently snapping to a constant (which would
    * also break any probe whose nProbe-covers-all-cells exactness
    * assumption was sized to the build).
    *
    * The leaves the superseded lineage owns (a base assignment it built,
    * and every per-batch append leaf) are unpersisted AFTER the rebuilt assignment
    * materializes — the MinHashIndex.compact save→unpersist→reload
    * discipline; without it each compaction window would leave
    * ~compactEvery stale cached frames pinned in the CacheManager. */
  def compactIvfIndex(index: IvfIndex, nCells: Int = 0,
                      sampleMod: Int = 1): IvfIndex = {
    val effCells =
      if (nCells > 0) nCells else math.max(1, index.centroids.length)
    // the LIVE view: tombstoned rows are dropped physically here — the
    // rebuilt index starts with an empty tombstone set (drop-at-compact)
    val rebuilt = buildIvfIndex(index.liveAssigned.drop("cell"), index.idCol,
      index.vecCol, nCells = effCells, sampleMod = sampleMod, persist = false)
    // localCheckpoint is EAGER: the old lineage is fully read before the
    // unpersist below can pull cached blocks out from under it
    val out = rebuilt.copy(assigned = rebuilt.assigned.localCheckpoint())
    index.unpersist()
    out
  }

  /** Single-level nearest-centroid assignment as ONE codegen scan pass —
    * the hier build's argmin machinery without the coarse level: the
    * centroid table rides as a literal array of (cell, ‖c‖², c) structs
    * and each row picks argmin(‖c‖² − 2·v·c), ties to the lowest cell
    * (lexicographic array_min). The vector column is bound once per row
    * (the one-element-transform pattern) so an expensive upstream alias
    * is never re-evaluated per candidate. */
  private def assignByArgmin(vecs: DataFrame, idCol: String, vecCol: String,
                             centers: Array[Array[Double]]): DataFrame = {
    import graft.functions.DotProduct.dotProduct
    val candArr = array(centers.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"),
        lit(c.foldLeft(0.0)((a, x) => a + x * x)).as("cnorm"),
        typedlit(c.toSeq).as("cvec"))
    }.toIndexedSeq: _*)
    val pick = element_at(transform(array(col(vecCol)), v =>
      array_min(transform(candArr, f =>
        struct((f.getField("cnorm") -
          lit(2.0) * dotProduct(v, f.getField("cvec"))).as("d"),
          f.getField("cell").as("k")))).getField("k")), 1)
    vecs.select(col(idCol), col(vecCol), pick.as("cell"))
  }

  /** Hierarchical (two-level) coarse-quantizer build — the SAME
    * [[IvfIndex]] artifact and probe path as [[buildIvfIndex]], with the
    * assignment cost term rewritten. The flat build assigns through one
    * KMeans transform: n·nCells kernel evaluations — and the IVF sizing
    * rule (nCells ∝ corpus, pinning per-cell population) makes that term
    * ∝ n², the one superlinear build-side curve left in the round-10
    * stress sweep (`ivf_pq_build` 44.9→119.9 s at 16×→32×). The standard
    * fix (faiss's two-level / IMI-style coarse quantizer) fits
    * k1 = ⌈√nCells⌉ top-level groups and ≈ nCells/k1 fine cells inside
    * each, so a vector locates its fine cell in k1 + nCells/k1 ≈ 2·√nCells
    * evaluations: assignment is n·2√nCells — ∝ n^1.5 under the sizing
    * rule instead of n².
    *
    * Both fit levels see only the hash-sample (the [[buildIvfIndex]]
    * discipline) — and because the sample is BOUNDED by contract, the
    * fits run DRIVER-LOCAL (deterministic k-means++/Lloyd,
    * [[localKMeans]]): one bounded collect, then zero Spark jobs until
    * the assignment pass. A Spark ML fit pays ~10 scheduled jobs of
    * cluster latency per fit; the k1+1 fits here would be hundreds —
    * measured 2-4× the whole build at sf0.1 scale. The assignment is
    * then ONE codegen scan pass with no ML transform anywhere: the
    * coarse argmin runs over a literal centroid array, the per-group
    * fine-centroid table (nCells rows total) broadcasts as a
    * LocalTableScan, and both levels pick their cell via the dot
    * identity argmin‖v−c‖² = argmin(‖c‖² − 2·v·c) inside whole-stage
    * codegen — no shuffle anywhere in the assignment plan, and the
    * non-codegen ML Vector path of the flat transform is gone entirely.
    * Fine centroids ARE the cells, so [[probeIvf]]/[[probeIvfPq]]/
    * [[IvfIndex.save]] work unchanged on the result; recall vs the flat
    * build differs only through the usual hierarchical-quantizer edge
    * loss (a vector near a coarse boundary may land in a slightly-off
    * fine cell), which nProbe absorbs.
    *
    * A coarse group the sample left empty keeps its coarse centroid as a
    * single fine cell, so the cell table always covers the whole space
    * and every corpus vector gets a cell. Distance ties break toward the
    * lowest fine-cell id (candidates are cell-ascending and the argmin
    * is strict). */
  def buildIvfIndexHier(emb: DataFrame, idCol: String, vecCol: String,
                        nCells: Int = 16, sampleMod: Int = 1,
                        persist: Boolean = true): IvfIndex =
    buildIvfIndexHierFull(emb, idCol, vecCol, nCells, sampleMod, persist).index

  /** [[buildIvfIndexHier]] plus the two internals a ground-truth spec
    * needs to recompute every assignment driver-side: the coarse
    * centroids (level 1) and each fine cell's coarse group. Package-
    * private — the artifact the production path holds is [[IvfIndex]]. */
  private[graft] final case class HierBuild(
      index: IvfIndex,
      coarseCentroids: Array[Array[Double]],
      groupOfCell: Array[Int],
      fineCentroidsD: Array[Array[Double]]) // cell-ascending, the exact
                                            // doubles assignment ran on
                                            // (index.centroids truncates
                                            // to float for the probe)

  /** Driver-local deterministic Lloyd's k-means with k-means++ seeding
    * (LCG randomness — no RNG state, reproducible across runs and
    * engines). Used by the hierarchical build, whose fit input is a
    * BOUNDED sample by contract: at that size a local fit is
    * microseconds, where a Spark ML fit pays ~10 scheduled jobs of
    * cluster latency PER fit — the k1+1 fits here would be hundreds of
    * jobs. k = 1 degrades to the mean (no Spark ML k >= 2 restriction);
    * a cluster emptied during iteration keeps its previous center. */
  private[graft] def localKMeans(pts: Array[Array[Double]], k: Int,
                                 seed: Long, iters: Int = 10): Array[Array[Double]] = {
    if (pts.isEmpty) return Array.empty
    val n = pts.length
    val dim = pts(0).length
    val kk = math.max(1, math.min(k, n))
    var state = seed * 6364136223846793005L + 1442695040888963407L
    def nextDouble(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble
    }
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ init: first center uniform, then sample proportional to
    // squared distance from the nearest chosen center.
    val centers = Array.ofDim[Array[Double]](kk)
    centers(0) = pts((nextDouble() * n).toInt.min(n - 1)).clone()
    val minD = pts.map(d2(_, centers(0)))
    var c = 1
    while (c < kk) {
      val total = minD.sum
      var pick = 0
      if (total <= 0.0) pick = (nextDouble() * n).toInt.min(n - 1)
      else {
        var r = nextDouble() * total
        var i = 0
        while (i < n - 1 && r > minD(i)) { r -= minD(i); i += 1 }
        pick = i
      }
      centers(c) = pts(pick).clone()
      var i = 0
      while (i < n) {
        val d = d2(pts(i), centers(c)); if (d < minD(i)) minD(i) = d; i += 1
      }
      c += 1
    }
    // Lloyd iterations: nearest center (first index wins ties) → means.
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < kk) {
          val d = d2(pts(i), centers(j)); if (d < bd) { bd = d; best = j }
          j += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](dim))
      val cnts = new Array[Long](kk)
      i = 0
      while (i < n) {
        val a = assign(i); cnts(a) += 1
        var d = 0
        while (d < dim) { sums(a)(d) += pts(i)(d); d += 1 }
        i += 1
      }
      var j = 0
      while (j < kk) {
        if (cnts(j) > 0) {
          var d = 0
          while (d < dim) { sums(j)(d) /= cnts(j); d += 1 }
          centers(j) = sums(j)
        } // empty cluster keeps its previous center
        j += 1
      }
      it += 1
    }
    centers
  }

  private[graft] def buildIvfIndexHierFull(
      emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, sampleMod: Int = 1,
      persist: Boolean = true,
      maxLocalFit: Int = 250000): HierBuild = {
    import graft.functions.DotProduct.dotProduct
    val spark = emb.sparkSession
    val vecs = emb.select(col(idCol), col(vecCol))
    val pts = fitSample(vecs, idCol, transform(col(vecCol), x => x.cast("double")),
      sampleMod, maxLocalFit, "hier IVF")
    if (pts.isEmpty) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        vecs.schema
          .add("cell", org.apache.spark.sql.types.IntegerType, nullable = false))
      return HierBuild(IvfIndex(Array.empty, empty, idCol, vecCol),
        Array.empty, Array.empty, Array.empty)
    }
    val fitCount = pts.length.toLong
    val k1 = math.max(1L,
      math.min(math.ceil(math.sqrt(nCells.toDouble)).toLong, fitCount)).toInt
    if (k1 < 2) {
      // Degenerate: one coarse group is no hierarchy — the flat build (n·
      // nCells with tiny fit input) is the honest plan. The HierBuild
      // metadata collapses to a single group so spec recomputation stays
      // well-defined.
      val flat = buildIvfIndex(emb, idCol, vecCol, nCells, sampleMod, persist)
      val dbl = flat.centroids.map(_._2.map(_.toDouble))
      return HierBuild(flat,
        if (dbl.isEmpty) Array.empty else Array(dbl.head),
        Array.fill(dbl.length)(0), dbl)
    }
    val k2 = math.max(1, math.ceil(nCells.toDouble / k1).toInt)
    // Both fit levels run DRIVER-LOCAL over the bounded sample: a coarse
    // k-means++, a partition of the sample by nearest coarse center, and
    // k1 fine fits — zero Spark jobs between the sample collect and the
    // one assignment pass below.
    val coarseC = localKMeans(pts, k1, seed = 42L)
    val k1Eff = coarseC.length
    val groups = Array.fill(k1Eff)(
      scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
    pts.foreach { p =>
      var best = 0; var bd = Double.MaxValue; var j = 0
      while (j < k1Eff) {
        var s = 0.0; var d = 0
        while (d < p.length && d < coarseC(j).length) {
          val dx = p(d) - coarseC(j)(d); s += dx * dx; d += 1
        }
        if (s < bd) { bd = s; best = j }
        j += 1
      }
      groups(best) += p
    }
    val fineCentroids =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Double])]
    var nextCell = 0
    (0 until k1Eff).foreach { g =>
      if (groups(g).isEmpty) {
        // A coarse group the sample left empty keeps its coarse centroid
        // as a single fine cell so the cell table covers the space.
        fineCentroids += ((g, nextCell, coarseC(g))); nextCell += 1
      } else {
        localKMeans(groups(g).toArray, k2, seed = 43L + g).foreach { c =>
          fineCentroids += ((g, nextCell, c)); nextCell += 1
        }
      }
    }
    // Per-group candidate arrays (cell, ‖c‖², c), cell-ascending so the
    // strict-< argmin breaks distance ties toward the lowest cell id.
    // ‖c‖² is a sequential left fold in double — the same accumulation
    // order the spec's driver-side recomputation uses. The grouping
    // happens DRIVER-side (the centroids are already in memory): the
    // broadcast side of the assignment join is a LocalTableScan, so the
    // whole assignment plan is scan + broadcast join + HOF — zero
    // shuffles.
    val finesDf = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val fineStruct = StructType(Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("cnorm", DoubleType, nullable = false),
        StructField("cvec", ArrayType(DoubleType, containsNull = false),
          nullable = false)))
      val schema = StructType(Seq(
        StructField("__ccell", IntegerType, nullable = false),
        StructField("fines", ArrayType(fineStruct, containsNull = false),
          nullable = false)))
      val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
      fineCentroids.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (g, cs) =>
        rows.add(Row(g, cs.sortBy(_._2).map { case (_, cell, c) =>
          Row(cell, c.foldLeft(0.0)((a, x) => a + x * x), c.toSeq)
        }))
      }
      spark.createDataFrame(rows, schema)
    }
    // Assignment is ONE scan pass, zero ML transforms: the coarse argmin
    // runs over a literal centroid array (k1 structs — broadcast-sized
    // by construction) and the fine argmin over the joined group's
    // candidate array, both via the dot identity argmin‖v−c‖² =
    // argmin(‖c‖² − 2·v·c). Two traps priced in: (1) the vector column
    // is often an ALIAS of an expensive expression (l2normalizeCol in
    // the IVF-PQ caller) that CollapseProject would inline into every
    // lambda reference — re-evaluated per CANDIDATE — so it is bound
    // ONCE per row as a lambda variable (the wordNgrams one-element-
    // transform pattern; measured 21 s → scan-speed on the 8× stress
    // point); (2) HOF lambdas are interpreted, so the distance is
    // computed once per candidate (transform → array_min over (d, cell)
    // structs, lexicographic min = smallest d, ties to the lowest cell)
    // instead of twice through a strict-< accumulator.
    def argminCell(cands: Column, v: Column, keyField: String): Column =
      array_min(transform(cands, f =>
        struct((f.getField("cnorm") -
          lit(2.0) * dotProduct(v, f.getField("cvec"))).as("d"),
          f.getField(keyField).as("k")))).getField("k")
    val coarseArr = array(coarseC.zipWithIndex.map { case (cc, i) =>
      struct(lit(i).as("ccell"),
        lit(cc.foldLeft(0.0)((a, x) => a + x * x)).as("cnorm"),
        typedlit(cc.toSeq).as("cvec"))
    }.toIndexedSeq: _*)
    def bindOnce(body: Column => Column): Column =
      element_at(transform(array(col(vecCol)), v => body(v)), 1)
    val assignedPlan = vecs
      .withColumn("__ccell", bindOnce(v => argminCell(coarseArr, v, "ccell")))
      .join(broadcast(finesDf), Seq("__ccell"))
      .select(col(idCol), col(vecCol),
        bindOnce(v => argminCell(col("fines"), v, "cell")).as("cell"))
    val leaves = new Leaves(persist)
    val assigned = leaves(assignedPlan)
    val cents = fineCentroids.toArray
      .map { case (_, cell, c) => (cell, c.map(_.toFloat)) }
      .sortBy(_._1)
    val byCell = fineCentroids.toArray.sortBy(_._2)
    HierBuild(IvfIndex(cents, assigned, idCol, vecCol, cachedLeaves = leaves.owned),
      coarseC, byCell.map(_._1), byCell.map(_._3))
  }

  /** Approximate top-k against a prebuilt [[IvfIndex]]: each query probes its
    * `nProbe` nearest cells (tiny broadcast centroid table) and scores
    * exactly within them — the search join shuffles on cell id only, and
    * recall/cost tunes via nProbe. No ML fit anywhere on this path. */
  def probeIvf(index: IvfIndex, isQuery: Column, k: Int, nProbe: Int = 4): DataFrame = {
    val idCol = index.idCol
    val vecCol = index.vecCol
    val spark = index.assigned.sparkSession
    val centDf = spark.createDataFrame(
      index.centroids.toSeq.map { case (i, c) => (i, c.toSeq) }).toDF("cell", "cvec")
    val live = index.liveAssigned
    val q = live.filter(isQuery)
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("cdist").desc, col("cell"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("cdist", cosineSim(col("qv"), col("cvec")))
      .withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= nProbe)
      .select(col("q_id"), col("qv"), col("cell"))

    val c = live.select(col(idCol).as("n_id"), col(vecCol).as("nv"), col("cell"))
    val scored = probes.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosineSim(col("qv"), col("nv")))
    rankTopK(scored, "cos", k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** [[buildIvfIndex]] memoized through [[Leaves.memoized]]: repeated
    * calls with the same corpus and nCells reuse the fitted index instead
    * of re-clustering — the online analogue of the offline save/load
    * cycle. Callers get the store's view, which owns no leaves. */
  def memoizedIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
                       nCells: Int, cacheKey: String): IvfIndex =
    Leaves.memoized("ivf_flat", emb.sparkSession, cacheKey,
        Seq(idCol, vecCol, nCells)) {
      buildIvfIndex(emb, idCol, vecCol, nCells)
    }(_.copy(cachedLeaves = Nil))

  /** Memoized [[buildIvfIndexHier]] — the [[memoizedIvfIndex]] contract
    * under its own kind, so flat and hierarchical indexes over the same
    * corpus never collide. */
  def memoizedIvfIndexHier(emb: DataFrame, idCol: String, vecCol: String,
                           nCells: Int, cacheKey: String): IvfIndex =
    Leaves.memoized("ivf_hier", emb.sparkSession, cacheKey,
        Seq(idCol, vecCol, nCells)) {
      buildIvfIndexHier(emb, idCol, vecCol, nCells)
    }(_.copy(cachedLeaves = Nil))

  /** Convenience wrapper = [[memoizedIvfIndex]] + [[probeIvf]].
    * `cacheKey` identifies the corpus (e.g. its directory); when provided,
    * repeated invocations reuse the fitted index instead of re-clustering.
    * Without a cacheKey the one-shot index is built unpersisted so nothing
    * leaks into the CacheManager. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              isQuery: Column, k: Int, nCells: Int = 16, nProbe: Int = 4,
              cacheKey: Option[String] = None,
              hier: Boolean = false): DataFrame = {
    val index = (cacheKey, hier) match {
      case (Some(key), false) => memoizedIvfIndex(emb, idCol, vecCol, nCells, key)
      case (Some(key), true)  => memoizedIvfIndexHier(emb, idCol, vecCol, nCells, key)
      case (None, false) => buildIvfIndex(emb, idCol, vecCol, nCells, persist = false)
      case (None, true)  => buildIvfIndexHier(emb, idCol, vecCol, nCells, persist = false)
    }
    probeIvf(index, isQuery, k, nProbe)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540, public method description): cluster the corpus with
    * the IVF coarse quantizer, compare pairs WITHIN each cluster only, and
    * drop every vector that has a twin above `threshold` cosine with a
    * smaller id (keeper = the smallest such partner; ties in the paper are
    * broken by centroid distance — id order here so results are
    * deterministic under re-partitioning).
    *
    * Cost is Σ|cell|² — the whole point vs [[thresholdPairs]]' N². At scale
    * nCells must grow ∝ N so cell population (and so per-cell quadratic
    * work) stays constant; the cross-cluster pairs this misses are the
    * accepted recall trade, exactly as in the minhash banding. Output: one
    * row per input vector (id, cell, keep, keeper — keeper null when kept).
    *
    * Keeper pointers are PATH-COMPRESSED before emission: with a chain
    * a<b<c where cos(a,b) and cos(b,c) clear the threshold but cos(a,c)
    * does not, the raw min-partner rule drops c with keeper b while b is
    * itself dropped — a consumer substituting keeper text for the dup would
    * reference a removed vector. Every raw keeper points to a strictly
    * smaller id, so the pointer forest is acyclic and jumping
    * keeper ← keeper(keeper) converges to a KEPT root in O(log chain)
    * rounds. The drop set is a small fraction of the corpus (it is the
    * dedup output), so the per-round self-join + checkpoint is cheap
    * relative to the Σ|cell|² pair scan above it. */
  def semanticDedup(index: IvfIndex, threshold: Double): DataFrame = {
    val idc = index.idCol
    val vc = index.vecCol
    val live = index.liveAssigned
    val a = live.select(col("cell"), col(idc).as("a_id"), col(vc).as("av"))
    val b = live.select(col("cell"), col(idc).as("b_id"), col(vc).as("bv"))
    val raw = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosineSim(col("av"), col("bv")))
      .filter(col("cos") > threshold)
      .groupBy(col("b_id").as(idc))
      .agg(min(col("a_id")).as("keeper"))
      .localCheckpoint()
    val drops = compressKeepers(raw, idc)
    live.select(col(idc), col("cell"))
      .join(drops, Seq(idc), "left")
      .select(col(idc), col("cell"),
        col("keeper").isNull.as("keep"), col("keeper"))
  }

  /** Approximate top-k: exact scoring restricted to multi-table LSH bucket
    * mates. The N×M cross join becomes an equi-join on (table, bucket) —
    * shuffle keyed on the bucket id, candidate set ∪ over tables, then one
    * distinct + window per query.
    *
    * `bits <= 0` auto-sizes density from a corpus count via
    * [[autoLshParams]] (base 6 bits × 8 tables — top-k wants denser
    * buckets than dedup, since every query must FIND k mates, not just
    * collide with its twin). `tables <= 0` is the not-passed sentinel
    * (the [[graft.operators.Dedup.embeddingNearDups]] convention —
    * `tables != default` would silently eat an explicitly passed value
    * equal to the default), resolving to [[HashTables]] on the explicit-
    * bits path and to the auto compensation on the auto path. The
    * explicit default stays bits = 6 because results at a given recall
    * target are parameter-dependent and the shipped s03 spec bounds are
    * pinned against (6, 8). */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
              isQuery: Column, k: Int,
              bits: Int = HyperplaneBits, tables: Int = 0): DataFrame = {
    val (nBits, nTables) =
      if (bits > 0) (bits, if (tables > 0) tables else HashTables)
      else {
        val (autoBits, autoTables) = autoLshParams(emb.count(),
          targetDensity = 32, baseBits = HyperplaneBits,
          baseTables = HashTables)
        // An explicitly passed `tables` survives the auto branch.
        (autoBits, if (tables > 0) tables else autoTables)
      }
    val keyed = lshKeyed(emb, idCol, vecCol, nBits, nTables)
    val q = keyed.filter(isQuery)
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"), col("t"), col("bucket"))
    val c = keyed.select(col(idCol).as("n_id"), col(vecCol).as("nv"), col("t"), col("bucket"))
    // Score INSIDE the bucket join's output projection, so the pair
    // dedup exchanges 24-byte (q_id, n_id, cos) triples instead of rows
    // carrying both vectors. A pair landing in several tables' buckets
    // re-scores once per collision (cheap, one dim-length dot), but the
    // vector payload never leaves the join task — the old dropDuplicates
    // plan shipped qv+nv through the dedup exchange, and with auto-LSH's
    // table growth that shuffle measured ~20× the triple's bytes and
    // turned the all-queries kNN-graph curve superlinear at 16×/32×
    // (stress `knn_graph_auto`). The dedup itself is a partial-
    // combinable min aggregate, not a row dedup: map-side combine
    // collapses same-partition collisions before the exchange.
    val scored = q.join(c, Seq("t", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosineSim(col("qv"), col("nv")).as("cos"))
      .groupBy(col("q_id"), col("n_id")).agg(min(col("cos")).as("cos"))
    rankTopK(scored, "cos", k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Pointer-jump `keeper ← keeper(keeper)` until every keeper is a KEPT
    * root ([[semanticDedup]]'s chain argument: every raw keeper points to
    * a strictly smaller id, so the pointer forest is acyclic and the jump
    * converges in O(log chain) rounds; `hopped` nonempty ⇔ something
    * changed). Shared by the cell-bounded ([[semanticDedup]]) and
    * graph-bounded ([[knnGraphDedup]]) dedup variants. Input: (idc,
    * keeper) rows, checkpointed. */
  private def compressKeepers(drops0: DataFrame, idc: String): DataFrame = {
    var drops = drops0
    var i = 0
    var converged = false
    while (!converged && i < 20) {
      val next = drops
        .join(drops.select(col(idc).as("kid"), col("keeper").as("kk")),
          col("keeper") === col("kid"), "left")
        .select(col(idc), coalesce(col("kk"), col("keeper")).as("keeper"),
          col("kk").isNotNull.as("hopped"))
        .localCheckpoint()
      converged = next.filter(col("hopped")).isEmpty
      drops = next.select(col(idc), col("keeper"))
      i += 1
    }
    drops
  }

  // ---- kNN graph (s13's product artifact) --------------------------------

  /** The kNN-graph artifact — s13's SHIPPABLE output (the r11 query
    * returned only the recall band): approximate directed edges
    * (src, dst, cos, rnk) from the LSH bucket self-join ([[annTopK]]
    * with the query predicate wide open), checkpoint-materialized and
    * persisted with the index-artifact lifecycle (save / load / append /
    * memoize). Declared consumers: SemDeDup-style clustering
    * ([[knnGraphDedup]] — the graph-bounded variant of [[semanticDedup]])
    * and label propagation ([[Dedup.connectedComponents]] over a
    * thresholded edge set).
    *
    * Scale shape: the edge frame is k·n rows of 24-byte triples (the
    * vector-free shuffle the round-11 fix pinned — vectors never leave
    * the bucket-join task), so the artifact is linear in the corpus and
    * orders of magnitude smaller than its input embeddings. */
  final case class KnnGraph(edges: DataFrame, k: Int) {

    /** Per-node degree + similarity envelope — the graph-quality summary
      * a build publishes (isolated nodes appear with degree 0 nowhere:
      * a node with no bucket mates emits no edges; count them by
      * anti-joining the corpus if needed). One partial-aggregated
      * shuffle on src. */
    def degreeStats: DataFrame =
      edges.groupBy(col("src"))
        .agg(count(lit(1)).as("degree"),
          max(col("cos")).as("max_cos"),
          min(col("cos")).as("min_cos"))

    def save(dir: String): Unit =
      Persisted.save(dir, "knn_graph", Map("k" -> k))("knn_edges" -> edges)
  }

  def buildKnnGraph(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int = 3, bits: Int = HyperplaneBits,
                    tables: Int = 0): KnnGraph =
    KnnGraph(
      annTopK(emb, idCol, vecCol, isQuery = lit(true), k = k,
          bits = bits, tables = tables)
        .select(col("q_id").as("src"), col("n_id").as("dst"),
          col("cos"), col("rnk"))
        .localCheckpoint(),
      k)

  def loadKnnGraph(spark: org.apache.spark.sql.SparkSession,
                   dir: String): KnnGraph = {
    val p = Persisted.load(spark, dir, "knn_graph")
    KnnGraph(p.frame("knn_edges"), p.int("k"))
  }

  /** Incremental append — the delta-ingest shape of the graph build (the
    * [[graft.operators.Dedup]] delta-index convention): edges for the NEW
    * nodes come from one LSH probe of the combined corpus (delta-bounded,
    * never old×old), and existing nodes see the delta through the REVERSE
    * of those edges (cosine is symmetric, so a (new → old) edge is an
    * (old → new) candidate at the same score) merged into their standing
    * top-k. Approximation contract: an old node only gains a delta
    * neighbour that ranked the old node in ITS top-k — the standard
    * incremental-kNN-graph trade; a periodic full rebuild restores
    * symmetric recall. */
  def appendKnnGraph(graph: KnnGraph, emb: DataFrame, idCol: String,
                     vecCol: String, isNew: Column): KnnGraph = {
    val deltaEdges = annTopK(emb, idCol, vecCol, isQuery = isNew, k = graph.k)
      .select(col("q_id").as("src"), col("n_id").as("dst"), col("cos"))
    val reversed = deltaEdges
      .select(col("dst").as("src"), col("src").as("dst"), col("cos"))
    val merged = graph.edges.select(col("src"), col("dst"), col("cos"))
      .unionByName(deltaEdges).unionByName(reversed)
      .groupBy(col("src"), col("dst")).agg(max(col("cos")).as("cos"))
      .select(col("src").as("q_id"), col("dst").as("n_id"), col("cos"))
    KnnGraph(
      rankTopK(merged, "cos", graph.k)
        .select(col("q_id").as("src"), col("n_id").as("dst"),
          col("cos"), col("rnk"))
        .localCheckpoint(),
      graph.k)
  }

  /** SemDeDup over the kNN graph instead of within-cell all-pairs — the
    * consumer the artifact exists for: drop every node with a
    * strictly-smaller neighbour above `threshold`, keeper pointers
    * path-compressed exactly as in [[semanticDedup]] (shared
    * [[compressKeepers]]). Pair coverage is graph-bounded (≤ k per node)
    * rather than cell-bounded — the trade that makes dedup over an
    * ALREADY-BUILT graph free of any further vector work. */
  def knnGraphDedup(graph: KnnGraph, threshold: Double): DataFrame = {
    val cand = graph.edges.filter(col("cos") > threshold)
    // both directions: an edge qualifies whichever endpoint ranked it
    val pairs = cand.select(least(col("src"), col("dst")).as("a_id"),
        greatest(col("src"), col("dst")).as("b_id"))
      .distinct()
    val drops = pairs.groupBy(col("b_id").as("id"))
      .agg(min(col("a_id")).as("keeper"))
      .localCheckpoint()
    val compressed = compressKeepers(drops, "id")
    // Explicit broadcast (the d09 drop-set convention): the checkpointed
    // drop set has no stats, so the planner's default is a sort-merge
    // join whose ENSURE_REQUIREMENTS exchange shuffles the node list on
    // id; the drop set is the dedup OUTPUT (bounded small), the node
    // list is corpus-sized.
    graph.edges.select(col("src").as("id")).distinct()
      .join(broadcast(compressed), Seq("id"), "left")
      .select(col("id"), col("keeper").isNull.as("keep"), col("keeper"))
  }

  /** The MIPS index artifact: the corpus' max L2 norm, the one scalar the
    * [[mipsAugment]] reduction needs. Built ONCE (a single aggregate over
    * the corpus), persisted or memoized like the IVF centroids — the probe
    * path then runs with zero driver actions. A `maxNorm` of 0.0 encodes
    * the empty/all-zero corpus (the degenerate case the probe falls back
    * to the exact path for). */
  final case class MipsIndex(maxNorm: Double) {
    /** Persist alongside the other index artifacts: the manifest alone. */
    def save(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
      Persisted.save(dir, "mips", Map("max_norm" -> maxNorm))()
  }

  /** Load an index previously written with [[MipsIndex.save]]. */
  def loadMipsIndex(spark: org.apache.spark.sql.SparkSession,
                    dir: String): MipsIndex =
    MipsIndex(Persisted.load(spark, dir, "mips").double("max_norm"))

  /** One aggregate over the corpus → the max L2 norm. Null (empty corpus)
    * maps to 0.0, the degenerate marker. */
  def buildMipsIndex(emb: DataFrame, vecCol: String): MipsIndex = {
    val norm = sqrt(aggregate(col(vecCol), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val row = emb.select(max(norm).as("m")).collect().head
    MipsIndex(if (row.isNullAt(0)) 0.0 else row.getDouble(0))
  }

  /** [[MipsIndex]] memoized in [[ArtifactStore]]. */
  def memoizedMipsIndex(emb: DataFrame, vecCol: String,
                        cacheKey: String): MipsIndex =
    ArtifactStore.get("mips", emb.sparkSession, cacheKey, Seq(vecCol)) {
      buildMipsIndex(emb, vecCol)
    }

  /** Approximate MIPS: the [[mipsAugment]] reduction wired into the LSH
    * pipeline end-to-end. Vectors are augmented to unit norm (corpus rows
    * carry the norm-completion coordinate, query rows a zero), so the
    * hyperplane buckets that approximate COSINE on the augmented space
    * approximate INNER PRODUCT on the originals; candidates are verified
    * with the exact codegen'd dot product and ranked through GroupTopK.
    * `index` carries the corpus max norm: pass a prebuilt/memoized
    * [[MipsIndex]] (`cacheKey` builds one per (session, corpus)) so the
    * probe path itself runs no driver action — at scale the index is an
    * offline artifact next to the IVF centroids. */
  def annMipsTopK(emb: DataFrame, idCol: String, vecCol: String,
                  isQuery: Column, k: Int,
                  bits: Int = HyperplaneBits, tables: Int = HashTables,
                  index: Option[MipsIndex] = None,
                  cacheKey: Option[String] = None): DataFrame = {
    import graft.functions.DotProduct.dotProduct
    // The candidate corpus is ALL rows — queries included, exactly like the
    // exact twin mipsTopK (a query may be another query's best neighbour);
    // only self-pairs are excluded, after the bucket join. So every row
    // gets the CORPUS augmentation for its candidate role, and query rows
    // additionally get the query augmentation for bucketing their probes.
    // maxNorm therefore ranges over all rows.
    val idx = index.getOrElse(cacheKey match {
      case Some(key) => memoizedMipsIndex(emb, vecCol, key)
      case None      => buildMipsIndex(emb, vecCol)
    })
    if (idx.maxNorm == 0.0)
      // Empty or all-zero corpus: every inner product is 0/undefined; the
      // exact path returns the correct (empty) answer without dividing by
      // the degenerate maxNorm.
      return mipsTopK(emb, idCol, vecCol, isQuery, k)
    val maxNorm = idx.maxNorm
    val c = emb
      .withColumn("__aug", mipsAugment(col(vecCol), maxNorm, isQuery = false))
      .select(col(idCol).as("n_id"), col(vecCol).as("nv"),
        posexplode(LshTableBuckets.lshTableBuckets(col("__aug"), tables, bits))
          .as(Seq("t", "bucket")))
    val q = emb.filter(isQuery)
      .withColumn("__aug", mipsAugment(col(vecCol), maxNorm, isQuery = true))
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"),
        posexplode(LshTableBuckets.lshTableBuckets(col("__aug"), tables, bits))
          .as(Seq("t", "bucket")))
    val candidates = q.join(c, Seq("t", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("qv"), col("n_id"), col("nv"))
      .dropDuplicates("q_id", "n_id")
    val scored = candidates.withColumn("ip", dotProduct(col("qv"), col("nv")))
    rankTopK(scored, "ip", k)
      .select(col("q_id"), col("n_id"), round(col("ip"), 4).as("ip"), col("rnk"))
  }

  // ---- product quantization (PQ / IVF-PQ) --------------------------------

  /** The PQ index artifact (Jégou et al. 2011, public method): per-subspace
    * codebooks + the corpus' m-int code words. At 100 TB this is the
    * memory story of the similarity family: a 64-dim float vector is 256
    * bytes; its PQ code at m=8 is 8 small ints — a 32× smaller scan side
    * that additionally scores via m table lookups per pair
    * ([[graft.functions.PqAdcScore]]) instead of a 64-term multiply-add.
    * Codebooks are m·k short centroids (m·k·dim/m floats ≈ one vector's
    * worth per codebook) — a broadcast-sized artifact like the IVF
    * centroid table.
    *
    * Vectors are L2-NORMALIZED before fit and encode, so ADC inner
    * product approximates cosine — the metric every exact twin here
    * ranks by; queries normalize the same way at probe time. */
  final case class PqIndex(
      codebooks: Array[Array[Array[Double]]], // [sub][code][subDim]
      codes: DataFrame,                       // (idCol, codes array<int>)
      m: Int, k: Int, subDim: Int, idCol: String,
      appendsSinceCompaction: Int = 0,
      cachedLeaves: Seq[DataFrame] = Nil,
      tombstones: Option[DataFrame] = None) extends Compactable {
    /** The code table with tombstoned ids filtered OUT — the view every
      * PQ probe reads. */
    def liveCodes: DataFrame = Tombstones.live(codes, idCol, tombstones)

    /** Tombstone `ids` — see [[IvfIndex.delete]]: O(|ids|), probes
      * exclude immediately, [[compactPqIndex]] drops physically. */
    def delete(ids: DataFrame): PqIndex =
      copy(tombstones = Tombstones.add(tombstones, ids, idCol))

    /** Persist the index as parquet (codes + codebooks + the (m, k,
      * subDim) meta the probe must reuse — explicit rather than derived
      * from the codebook rows, so an empty-corpus index round-trips).
      * Writes the LIVE code table — deletions land physically on save. */
    def save(dir: String): Unit = {
      val spark = codes.sparkSession
      import spark.implicits._
      Persisted.save(dir, "pq", Map("m" -> m, "k" -> k, "sub_dim" -> subDim))(
        "pq_codes" -> liveCodes,
        "pq_codebooks" -> codebooks.zipWithIndex.flatMap { case (cb, sub) =>
          cb.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
        }.toSeq.toDF("sub", "code", "cvec").coalesce(1))
    }
  }

  /** Load an index previously written with [[PqIndex.save]]. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                  idCol: String): PqIndex = {
    val p = Persisted.load(spark, dir, "pq")
    val (m, k, subDim) = (p.int("m"), p.int("k"), p.int("sub_dim"))
    val rows = p.frame("pq_codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val codebooks =
      if (rows.isEmpty) Array.empty[Array[Array[Double]]]
      else {
        val cb = Array.ofDim[Array[Double]](m, k)
        rows.foreach { case (sub, code, c) => cb(sub)(code) = c }
        cb
      }
    PqIndex(codebooks, p.frame("pq_codes"), m, k, subDim, idCol)
  }

  /** L2-normalize an `array<float|double>` column to array<double> (zero
    * vectors pass through unchanged — cosine against them is 0 anyway). */
  def l2normalizeCol(vec: Column): Column = {
    val n = sqrt(aggregate(vec, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    when(n === 0.0, transform(vec, x => x.cast("double")))
      .otherwise(transform(vec, x => x.cast("double") / n))
  }

  /** Fit m per-subspace codebooks on a deterministic hash-sample (the
    * [[buildIvfIndex]] discipline: the KMeans jobs only ever see the
    * sample — m small fits, never an iterative job over the lake), then
    * encode every vector in ONE map pass (m chained KMeans transforms,
    * no shuffle). dim must divide evenly into m subspaces. */
  def buildPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                   m: Int = 8, k: Int = 256, sampleMod: Int = 1,
                   persist: Boolean = true,
                   maxLocalFit: Int = 250000): PqIndex = {
    require(m >= 1 && k >= 2, s"need m >= 1 subspaces, k >= 2 codes: $m/$k")
    val normalized = emb.select(col(idCol), l2normalizeCol(col(vecCol)).as("__vn"))
    // Round 12: the m per-subspace fits run DRIVER-LOCAL over one
    // auto-bounded collected sample (the buildIvfIndex discipline) —
    // the previous shape cached an m-column ML-Vector sample frame and
    // ran m concurrent Spark ML fits over it, ~10 scheduled jobs of
    // cluster latency each even with the concurrency pool (the pq warmup
    // bucket was 3-4 s at sf0.1 for a 2000-vector corpus). One collect,
    // m deterministic k-means++ fits over driver-side slices, then the
    // unchanged single codegen'd encode pass.
    val pts = fitSample(normalized, idCol, col("__vn"), sampleMod, maxLocalFit, "PQ")
    if (pts.isEmpty) {
      val empty = emb.sparkSession.createDataFrame(
        emb.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        normalized.select(col(idCol)).schema
          .add("codes", org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType, containsNull = false)))
      return PqIndex(Array.empty, empty, m, k, 0, idCol)
    }
    val dim = pts.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val kEff = math.max(1, math.min(k, pts.length))
    val codebooks = (0 until m).map { sub =>
      localKMeans(pts.map(_.slice(sub * subDim, (sub + 1) * subDim)),
        kEff, seed = 42L + sub)
    }.toArray
    // ONE codegen'd encode pass over the normalized vectors — the m
    // chained ML transforms this replaces walked every row through the
    // boxed Vector path m times and were the dominant ivf_pq_build term
    // (≈95 s → seconds at the 32× stress point).
    val leaves = new Leaves(persist)
    val codes = leaves(normalized.select(col(idCol),
      graft.functions.PqEncode.pqEncode(col("__vn"), codebooks, subDim)
        .as("codes")))
    PqIndex(codebooks, codes, m, kEff, subDim, idCol, cachedLeaves = leaves.owned)
  }

  /** Append a batch to a PQ index with FROZEN codebooks: normalize and
    * encode the new vectors through the SAME single codegen'd
    * [[graft.functions.PqEncode]] pass the build used (no k-means — the
    * m per-subspace fits are the expensive part, and they don't run),
    * then union the code tables. Append cost tracks the batch.
    *
    * Drift bound: frozen codebooks quantize drifted vectors against the
    * fitted sample's geometry, so per-subspace quantization error grows
    * with distribution drift — ADC scores degrade gradually toward the
    * error of the worst cell, never corrupt (every vector still encodes
    * to its nearest EXISTING code per subspace). Re-fit at compact:
    * codes don't retain the original vectors, so a compact is a
    * [[buildPqIndex]] over the corpus — by design, the ingest path never
    * carries the full-precision vectors twice ([[compactPqIndex]] takes
    * the corpus frame from the caller for exactly this reason). */
  def appendPqIndex(index: PqIndex, batch: DataFrame, vecCol: String,
                    persist: Boolean = true): PqIndex = {
    require(index.codebooks.nonEmpty,
      "cannot append to an empty PQ index — build one from the batch " +
        "(an empty build has no codebooks to freeze)")
    val normalized = batch.select(col(index.idCol),
      l2normalizeCol(col(vecCol)).as("__vn"))
    // batch-only cache + lazy union (the Dedup index-append convention)
    val leaves = new Leaves(persist, index.cachedLeaves)
    val encodedNew = leaves(normalized.select(col(index.idCol),
      graft.functions.PqEncode.pqEncode(col("__vn"), index.codebooks,
        index.subDim).as("codes")))
    index.copy(codes = index.codes.unionByName(encodedNew),
      appendsSinceCompaction = index.appendsSinceCompaction + 1,
      cachedLeaves = leaves.owned)
  }

  /** Re-fit at compact, PQ side — [[compactIvfIndex]]'s analogue with one
    * deliberate signature difference: codes do NOT retain the source
    * vectors (the whole point of product quantization is never carrying
    * the full-precision floats twice), so the caller hands the corpus
    * frame — the lake's landed vectors, INCLUDING every appended batch —
    * and the compact is a fresh [[buildPqIndex]] over it at the index's
    * own (m, k) geometry (`m`/`k` <= 0 default to the fitted values), its
    * code table materialized (localCheckpoint) so the append-union
    * lineage flattens, and the superseded lineage's owned leaves
    * unpersisted afterwards. Codebook drift accumulated under frozen
    * appends resets here: the re-fit sees the ingest distribution. */
  def compactPqIndex(index: PqIndex, corpus: DataFrame, vecCol: String,
                     m: Int = 0, k: Int = 0, sampleMod: Int = 1): PqIndex = {
    val effM = if (m > 0) m else index.m
    val effK = if (k > 0) k else index.k
    // tombstones apply to the caller-supplied corpus too: a takedown
    // must not resurrect through the re-fit (drop-at-compact)
    val liveCorpus = Tombstones.live(corpus, index.idCol, index.tombstones)
    val rebuilt = buildPqIndex(liveCorpus, index.idCol, vecCol,
      m = effM, k = effK, sampleMod = sampleMod, persist = false)
    // localCheckpoint is EAGER: materialize before unpersisting the old
    // lineage (the compactIvfIndex ordering)
    val out = rebuilt.copy(codes = rebuilt.codes.localCheckpoint())
    index.unpersist()
    out
  }

  /** The automated ingest-fold lifecycle for the PQ artifact — the
    * [[appendIvfAndMaybeCompact]] contract with the corpus frame supplied
    * lazily: append the batch through the frozen codebooks, then every
    * `compactEvery` appends call [[compactPqIndex]] over `corpus()` —
    * which the caller must resolve to the landed vectors INCLUDING the
    * just-appended batch (in a foreachBatch ingest topology, the lake
    * read AFTER the batch's write commits). Union lineage stays bounded
    * at `compactEvery`; per-batch cost stays batch-sized; the re-fit is
    * paid once per window. */
  def appendPqAndMaybeCompact(index: PqIndex, batch: DataFrame,
                              vecCol: String, corpus: () => DataFrame,
                              compactEvery: Int = 16,
                              persist: Boolean = true): PqIndex =
    Leaves.appendAndMaybeCompact(compactEvery)(appendPqIndex(index, batch, vecCol, persist))(
      compactPqIndex(_, corpus(), vecCol))

  /** Per-query ADC lookup tables against a [[PqIndex]]: one row per query
    * — (q_id, lut), lut laid out [sub·k + code] as [[graft.functions
    * .PqAdcScore]] expects. m·k short dot products per query, computed
    * once and amortized over every candidate the caller scores. */
  private def pqLut(index: PqIndex, queries: DataFrame): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cbDf = index.codebooks.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
    }.toSeq.toDF("sub", "code", "cvec")
    queries.crossJoin(broadcast(cbDf))
      .withColumn("__d", graft.functions.DotProduct.dotProduct(
        slice(col("__qn"), col("sub") * index.subDim + 1, lit(index.subDim)),
        col("cvec")))
      .groupBy(col("q_id"))
      .agg(transform(
        sort_array(collect_list(struct(
          (col("sub") * index.k + col("code")).as("idx"), col("__d").as("d")))),
        s => s.getField("d")).as("lut"))
  }

  /** Brute-force ADC top-k over a [[PqIndex]] — every query scans ALL
    * code words, by design: this is the compressed-scan regime (faiss
    * IndexPQ), the right plan when the corpus' CODES fit the cluster
    * comfortably but its floats would not. The scan side carries m ints
    * per row and scores via m lookups; the query side (tiny) broadcasts,
    * so the corpus streams through once with no shuffle — same topology
    * as [[bruteForceTopK]] with a 32× smaller, cheaper-per-pair scan.
    * Cell-pruned probing on top: [[ivfPqTopK]]. */
  def pqTopK(index: PqIndex, queries: DataFrame, idCol: String,
             vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      l2normalizeCol(col(vecCol)).as("__qn"))
    val luts = pqLut(index, q)
    val scored = index.liveCodes
      .select(col(index.idCol).as("n_id"), col("codes"))
      .crossJoin(broadcast(luts))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", graft.functions.PqAdcScore.pqAdcScore(
        col("codes"), col("lut"), index.k))
    rankTopK(scored, "adc", k)
      .select(col("q_id"), col("n_id"), round(col("adc"), 4).as("adc"), col("rnk"))
  }

  /** IVF-PQ: the coarse quantizer prunes to `nProbe` cells per query and
    * PQ codes score the survivors — the standard composition (faiss
    * IndexIVFPQ) and the production ANN shape at 100 TB: Σ(probed cell
    * sizes) candidate rows per query instead of N, each candidate 8
    * bytes of codes instead of 256 of floats, scored by m lookups. Both
    * index halves build on the SAME normalized frame (cells and codes
    * must describe the same geometry); `cacheKey` memoizes both. */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                isQuery: Column, k: Int, nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, kCodes: Int = 256,
                cacheKey: Option[String] = None,
                sampleMod: Int = 1,
                hierCells: Boolean = false): DataFrame = {
    val normalized = emb.select(col(idCol), col(vecCol),
      l2normalizeCol(col(vecCol)).as("__vn"))
    val ivf = (cacheKey, hierCells) match {
      case (Some(key), false) =>
        memoizedIvfIndex(normalized, idCol, "__vn", nCells, key + "#pqcells")
      case (Some(key), true) =>
        memoizedIvfIndexHier(normalized, idCol, "__vn", nCells, key + "#pqcells")
      case (None, false) =>
        buildIvfIndex(normalized, idCol, "__vn", nCells,
          sampleMod = sampleMod, persist = false)
      case (None, true) =>
        buildIvfIndexHier(normalized, idCol, "__vn", nCells,
          sampleMod = sampleMod, persist = false)
    }
    val pq = cacheKey match {
      case Some(key) => memoizedPqIndex(normalized, idCol, "__vn", m, kCodes, key)
      case None => buildPqIndex(normalized, idCol, "__vn", m, kCodes,
        sampleMod = sampleMod, persist = false)
    }
    probeIvfPq(ivf, pq,
      normalized.filter(isQuery).select(col(idCol).as("q_id"),
        col("__vn").as("__qn")),
      k, nProbe)
  }

  /** The probe half of [[ivfPqTopK]], against PREBUILT index halves — the
    * build-once/probe-many split every other index artifact here has
    * (the stress harness and any online serving path time exactly this).
    * `queries`: (q_id, __qn) with __qn already L2-normalized in the
    * index's geometry. */
  def probeIvfPq(ivf: IvfIndex, pq: PqIndex, queries: DataFrame,
                 k: Int, nProbe: Int = 4): DataFrame = {
    // Per-query probe cells — the probeIvf selection over the broadcast
    // centroid table (already-normalized vectors, so cosine ranks cells).
    val spark = queries.sparkSession
    val centDf = spark.createDataFrame(
      ivf.centroids.toSeq.map { case (i, c) => (i, c.toSeq) }).toDF("cell", "cvec")
    val q = queries
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("cdist").desc, col("cell"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("cdist", cosineSim(col("__qn"), col("cvec")))
      .withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= nProbe)
      .select(col("q_id"), col("cell"))
      .join(broadcast(pqLut(pq, q)), Seq("q_id"))
    val scored = probes.join(ivfPqCandidates(ivf, pq), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", graft.functions.PqAdcScore.pqAdcScore(
        col("codes"), col("lut"), pq.k))
    rankTopK(scored, "adc", k)
      .select(col("q_id"), col("n_id"), round(col("adc"), 4).as("adc"), col("rnk"))
  }

  /** The combined (cell, n_id, codes) candidate artifact — cell
    * assignments joined to code words on the id ONCE, at build time, and
    * memoized per index pair in [[ArtifactStore]] (the two frames compare
    * by reference identity). The join is corpus-sized on
    * both sides, which is exactly why it must not run per probe: the
    * round-12 32× sweep priced the probe-time form at 11.4 s for 10
    * queries, almost all of it this exchange. A production deployment
    * persists this frame as the single bucketed serving artifact;
    * in-session it is one cached join, paid on first probe (or charged to
    * the build by forcing it there — what the stress harness does). Its
    * key names no corpus, so invalidating a dir does not reach it; an
    * entry whose index frames were replaced is never read again and ages
    * out under the per-kind bound. */
  def ivfPqCandidates(ivf: IvfIndex, pq: PqIndex): DataFrame = {
    // Keyed on the UNDERLYING frames, not the index objects: a `delete`
    // copies the case class but shares `assigned`/`codes`, so a takedown
    // keeps hitting the materialized artifact; tombstones filter ON TOP
    // of it below (the artifact is rebuilt only when the corpus is —
    // at append/compact, which replace the frames).
    val base = ArtifactStore.get("ivf_pq_cand", ivf.assigned.sparkSession, "",
        Seq(ivf.assigned, pq.codes)) {
      // localCheckpoint, not cache: BOTH materializes (probes read
      // computed blocks) AND truncates the lineage. The assignment plan
      // carries the nCells-struct centroid literal — inside a many-branch
      // union (the stress corpus) the un-truncated tree costs seconds of
      // driver-side Catalyst work PER PROBE ACTION (measured ~9 s of the
      // 32× probe's 9.3 s; the executed join itself was sub-second).
      ivf.assigned
        .select(col(ivf.idCol).as("n_id"), col("cell"))
        .join(pq.codes.select(col(pq.idCol).as("n_id"), col("codes")), Seq("n_id"))
        .localCheckpoint()
    }
    val tombs = (ivf.tombstones.toSeq ++ pq.tombstones.toSeq)
      .map(t => t.select(t.columns.head).toDF("n_id"))
    if (tombs.isEmpty) base
    else base.join(broadcast(tombs.reduce(_.unionByName(_)).distinct()),
      Seq("n_id"), "left_anti")
  }

  /** [[PqIndex]] memoized through [[Leaves.memoized]], handed out as a
    * view that owns no leaves, like [[memoizedIvfIndex]]. */
  def memoizedPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                      m: Int, k: Int, cacheKey: String): PqIndex =
    Leaves.memoized("pq", emb.sparkSession, cacheKey,
        Seq(idCol, vecCol, m, k)) {
      buildPqIndex(emb, idCol, vecCol, m, k)
    }(_.copy(cachedLeaves = Nil))

  /** Shared per-query ranking tail: top-k by (score desc, n_id) through
    * the custom [[graft.plans.GroupTopK]] operator — map-side bounded
    * heaps mean only k rows per query per partition reach the shuffle,
    * where the window formulation shuffles and sorts EVERY scored
    * candidate. Emits the input columns plus long `rnk`. */
  private def rankTopK(scored: DataFrame, scoreCol: String, k: Int): DataFrame =
    graft.plans.GroupTopK.topK(scored, Seq("q_id"),
      Seq(col(scoreCol).desc, col("n_id")), k)

  /** s12: sparse lexical cosine pairs via an inverted-index join — the
    * classic all-pairs sparse similarity join (Elsayed et al. 2008's
    * MapReduce pairwise-similarity shape): document pairs whose
    * bag-of-words cosine over TERM COUNTS reaches `threshold`. The
    * lexical complement of the family's other similarity geometries —
    * d03 compares shingle SETS (Jaccard), s02 dense embeddings; this is
    * the sparse-vector dot product, computed exactly, without ever
    * materializing a vector: the corpus becomes (id, term, tf) postings,
    * the dot product is the postings self-join on the term with
    * per-pair partial sums, and norms are one per-doc aggregate.
    *
    * Scale discipline: `maxTermDocs` is the d15/d03 document-frequency
    * cap moved to the term level — a term in more than N documents
    * (stopwords — near-zero angular signal, quadratic fan-out) is
    * DROPPED FROM THE VOCABULARY: per-term join work is bounded at
    * ≤ cap² postings pairs by construction, and both the dot products
    * AND the norms are computed over the surviving vocabulary, so the
    * semantics stay internally consistent ("cosine over the informative
    * vocabulary" — mirrored verbatim in the oracle). Shuffles: the tf
    * aggregate keyed on (id, term), the postings join keyed on the term,
    * the pair aggregate keyed on (a_id, b_id), the norm aggregate keyed
    * on the id — all hash partial-combinable, no all-pairs stage.
    * cos = dot / (√n2a·√n2b): exact integer dot and norms, one IEEE
    * sqrt/divide each side, round 4 (the engine-stability convention).
    *
    * `ngram` picks the term unit: 1 = words (real-corpus default); on a
    * tiny-vocabulary corpus every WORD exceeds any sane df cap, so the
    * shipped query uses 3 — n-gram counts, the d03 shingle space with
    * multiplicity.
    *
    * PREFIX FILTERING (round 11): the df cap alone does not bound candidate volume when term df grows with
    * the corpus while staying under the cap — the round-11 32× stress
    * measured exactly that curve (Σ_t df_t² quadratic by construction,
    * wall following it: 12.7→35→81 s at 8×/16×/32×). The published
    * lossless fix is Bayardo et al. 2007's all-pairs prefix filter
    * (public method description), adapted to the symmetric join: order
    * every document's terms by (df desc, term), and let each document
    * SKIP indexing its maximal prefix S whose dot-product contribution
    * is provably below threshold — Σ_{t∈S} w[t]·maxw[t] < τ, where
    * w = tf/√n2 is the doc's normalized weight and maxw[t] the corpus
    * max of w over t (an upper bound on ANY partner's weight). For a
    * pair with cos ≥ τ the shared terms cannot all lie in either side's
    * skip set (the skipped dot alone is < τ), so joining FULL postings
    * against INDEXED postings — both orientations, then normalized to
    * a < b — finds every qualifying pair; survivors get their EXACT dot
    * recomputed over the full kept vectors (a codegen'd merge walk over
    * per-doc sorted hash/tf arrays), so the prefix filter can only ever prune, never
    * alter a value, and the unchanged s12 oracle hash-verifies the
    * losslessness at every driver run. High-df terms are skipped FIRST,
    * so the df-growing stopword band that broke the cap-only bound
    * contributes no candidates at all once the skip budget covers it —
    * at τ = 0.9 the budget is large (each skipped term costs
    * w·maxw ≈ 1/|terms|) and the measured 32× curve collapses. The
    * skip condition uses τ − 1e-9: the bound chain is exact real
    * arithmetic, the 1e-9 slack keeps double-precision summation from
    * over-skipping a boundary pair (under-skipping only costs
    * candidates, never correctness).
    *
    * Output: (a_id, b_id, cos) with a_id < b_id, cos ≥ threshold. */
  def sparseCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double,
                        maxTermDocs: Int = 256,
                        ngram: Int = 1): DataFrame = {
    val (kept, vecs) = sparseCosineBase(docs, idCol, textCol, maxTermDocs, ngram)
    // NOT materialized (round-19 A/B): vecs is nominally read three
    // times (norms in the candidate stage, full arrays on both verify
    // sides), but AQE exchange reuse dedupes the repeated aggregate at
    // runtime, and an eager localCheckpoint of the arrays REGRESSED
    // the in-suite bench (s12 1.78 -> 2.3 s median across a committed
    // triple; the interleaved A/B read within noise) — the
    // materialization job costs more than the reuse it replaces. At
    // 100 TB the standing document-vector artifact would be a
    // persisted table, not an in-query checkpoint.
    val cand = sparseCosineCandidates(kept, vecs, threshold)
    // Exact verify over the survivors: full kept vectors as parallel
    // sorted (hash, tf) arrays, dot by the codegen'd merge walk
    // (integer, the same value the cap-only postings sum produces),
    // norms from the same per-doc aggregate, same rounding. This stage dominates the stress wall (the pair join
    // ships a vector per side per candidate), so the payload is two
    // flat long arrays and the per-pair CPU is allocation-free
    // generated code, not an interpreted map HOF.
    cand
      .join(vecs.select(col("id").as("a_id"), col("ks").as("aks"),
        col("vs").as("avs"), col("n2").as("a_n2")), Seq("a_id"))
      .join(vecs.select(col("id").as("b_id"), col("ks").as("bks"),
        col("vs").as("bvs"), col("n2").as("b_n2")), Seq("b_id"))
      .withColumn("dot", graft.functions.DotSortedArrays.dotSortedArrays(
        col("aks"), col("avs"), col("bks"), col("bvs")))
      .withColumn("cos", round(col("dot").cast("double") /
        (sqrt(col("a_n2").cast("double")) * sqrt(col("b_n2").cast("double"))), 4))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Shared front of s12 and its cap-only test twin: hashed-term
    * postings and the per-doc vector artifact.
    *
    * Terms are xxhash64'd SCAN-SIDE, before the first shuffle — the d03
    * shingle discipline: every downstream exchange and sort moves 8-byte
    * keys instead of n-gram strings (measured ~2x on the stress postings
    * frame), and the original strings never leave their scan task. A
    * 64-bit collision would merge two grams corpus-wide (both engines of
    * the oracle compare would have to collide identically to hide it);
    * at 10^9 distinct grams the expected collision count is ~0.03 — the
    * same accepted trade the Jaccard family documents.
    *
    * Returns (kept, vecs): `kept` = (id, th, tf, df) postings over the
    * df-capped vocabulary, checkpointed once (four consumers); `vecs` =
    * one per-doc aggregate carrying the sorted hash/tf arrays AND the
    * squared norm — the verify artifact and the norm table are the same
    * frame, not two aggregates. */
  private[graft] def sparseCosineBase(docs: DataFrame, idCol: String, textCol: String,
                                      maxTermDocs: Int, ngram: Int): (DataFrame, DataFrame) = {
    require(maxTermDocs >= 2, s"df cap must be >= 2, got $maxTermDocs")
    val tf = docs
      .select(col(idCol).as("id"),
        explode(graft.functions.WordShingles
          .wordShingles(col(textCol), ngram, distinct = false)).as("term"))
      .select(col("id"), xxhash64(col("term")).as("th"))
      .groupBy(col("id"), col("th"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("th"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxTermDocs)
    // Materialized once (the justified-checkpoint pattern): the per-doc
    // aggregate and BOTH postings-join sides read this frame — without
    // it the corpus tokenize + tf aggregate would run three times. The
    // inner join (not semi) carries df along for the prefix ordering.
    val kept = tf.join(vocab, Seq("th")).localCheckpoint()
    // Per-doc artifact: the vector as PARALLEL SORTED ARRAYS (hash keys
    // ascending + tfs) plus the squared norm — one aggregate, one sort
    // per doc, and the shape [[graft.functions.DotSortedArrays]] walks
    // without allocating (sort_array on an array<struct> orders by the
    // first field, the hash, which is distinct within a doc).
    val vecs = kept.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("th"), col("tf")))).as("kv"),
        sum(col("tf") * col("tf")).as("n2"))
      .select(col("id"),
        transform(col("kv"), x => x.getField("th")).as("ks"),
        transform(col("kv"), x => x.getField("tf")).as("vs"),
        col("n2"))
    (kept, vecs)
  }

  /** The Bayardo prefix-filtered candidate set over [[sparseCosineBase]]'s
    * postings: (a_id, b_id) pairs, a < b, guaranteed to contain every
    * pair with cosine >= `threshold` (the skip-set bound in the
    * [[sparseCosinePairs]] scaladoc). Package-visible so the stress
    * harness can measure the candidate volume the verify stage pays. */
  private[graft] def sparseCosineCandidates(kept: DataFrame, vecs: DataFrame,
                                            threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    // Per-term max normalized weight — the partner-side upper bound the
    // skip condition needs. Keyed on the hashed term like the postings
    // join; vocabulary-sized, partial-combinable.
    val withW = kept
      .join(vecs.select(col("id"), col("n2")), Seq("id"))
      .withColumn("w", col("tf").cast("double") / sqrt(col("n2").cast("double")))
    val maxw = withW.groupBy(col("th")).agg(max(col("w")).as("maxw"))
    // Running skip budget per doc, highest-df terms first (they are the
    // least selective and the cheapest to skip). cum is the INCLUSIVE
    // running SUM w*maxw; a term is indexed from the first position where
    // the prefix through it can no longer be proven below threshold.
    val byDoc = Window.partitionBy(col("id"))
      .orderBy(col("df").desc, col("th"))
    val indexed = withW
      .join(maxw, Seq("th"))
      .withColumn("cum", sum(col("w") * col("maxw")).over(byDoc))
      .filter(col("cum") >= threshold - 1e-9)
      .select(col("th"), col("id"))
    // FULL x INDEXED candidate join (both orientations land here; the
    // least/greatest normalization + distinct collapses them). Per-term
    // fan-out = df x indexed_df — the second factor is what the prefix
    // filter shrinks to ~0 for the high-df band.
    kept.select(col("th"), col("id").as("x_id"))
      .join(indexed.select(col("th"), col("id").as("y_id")), Seq("th"))
      .filter(col("x_id") =!= col("y_id"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))
      .distinct()
  }
}