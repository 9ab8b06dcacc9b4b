package graft

import scala.io.Source

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, SimilaritySearch}
import graft.queries.{PipelineQueries, PipelineShared}

/** The one ownership rule of the appendable indexes: a build, append or
  * compact owns what it caches, `unpersist()` releases only what the index
  * owns, and a memoized index is handed out as a view that owns nothing —
  * so a chain grown from it can fold and release its own batches without
  * touching the frames the store shares with every other caller. */
class IndexLifecycleSpec extends SparkSpecBase {
  import spark.implicits._

  private def shingleSet(s: String): Seq[String] = Seq(s"${s}_0", s"${s}_1", s"${s}_2")

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** Every frame in `fs` is cached (after materializing it). */
  private def assertCached(what: String, fs: DataFrame*): Unit = fs.foreach { f =>
    f.count()
    assert(cached(f), s"$what is not cached")
  }

  /** The frames `chain` owns apart from any of `shared`: its own batches. */
  private def ownBatches(chain: Seq[DataFrame], shared: DataFrame*): Seq[DataFrame] = {
    val own = chain.filterNot(f => shared.exists(_ eq f))
    assert(own.nonEmpty, "the chain owns no batch frame — the test would pass vacuously")
    own
  }

  // ---- hierarchical IVF: the build owns the assignment it caches ----------

  private def hierEmb = (0 until 48).map { i =>
    (7000L + i, Seq.tabulate(6)(j => if (j == i % 3) 9f + (i / 3) * 0.25f else (i % 5) * 0.1f))
  }.toDF("hier_id", "hier_v")

  test("a hierarchical IVF index releases its assignment on unpersist()") {
    val idx = SimilaritySearch.buildIvfIndexHier(hierEmb, "hier_id", "hier_v", nCells = 4)
    assertCached("the hierarchical assignment", idx.assigned)
    idx.unpersist()
    assert(!cached(idx.assigned), "unpersist() left the hierarchical assignment cached")
  }

  test("invalidating a memoized hierarchical IVF index releases its assignment") {
    val key = "lifecycle://ivf-hier"
    val shared = SimilaritySearch.memoizedIvfIndexHier(hierEmb, "hier_id", "hier_v", 4, key)
    assertCached("the memoized hierarchical assignment", shared.assigned)
    PipelineQueries.invalidateDupCache(spark, key)
    assert(!cached(shared.assigned), "the invalidated hierarchical index is still cached")
  }

  // ---- a chain grown from a memoized index never releases the store's frames

  test("a MinHash chain on a memoized index folds without releasing the shared frames") {
    val key = "lifecycle://minhash"
    val docs = Seq((1L, shingleSet("ma")), (2L, shingleSet("mb"))).toDF("doc_id", "sh")
    val batch = Seq((3L, shingleSet("mc"))).toDF("doc_id", "sh")
    val shared = Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", key)
    assertCached("the shared MinHash frames", shared.bands, shared.signatures)
    Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", key)
      .appendAndMaybeCompact(batch, "sh", tmpDir("lifecycle_mh"), compactEvery = 1)
      .unpersist()
    assert(cached(shared.bands) && cached(shared.signatures),
      "folding a chain on the memoized index released the store's frames")
    val chain = shared.append(batch, "sh")
    chain.bands.count(); chain.signatures.count()
    val own = ownBatches(chain.cachedLeaves, shared.bands, shared.signatures)
    chain.unpersist()
    assert(own.forall(!cached(_)), "the chain's own batch frames survived unpersist()")
    assert(cached(shared.bands) && cached(shared.signatures))
    PipelineQueries.invalidateDupCache(spark, key)
    assert(!cached(shared.bands) && !cached(shared.signatures),
      "invalidation left the MinHash frames cached")
  }

  test("a gram chain on a memoized index folds without releasing the shared frame") {
    val key = "lifecycle://gram"
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")).toDF("doc_id", "text")
    val batch = Seq((3L, "alpha beta gamma delta epsilon and more words")).toDF("doc_id", "text")
    def memo() = Dedup.memoizedGramIndex(docs, "doc_id", "text", k = 3, maxGramDocs = 8, cacheKey = key)
    val shared = memo()
    assertCached("the shared gram frame", shared.grams)
    memo().appendAndMaybeCompact(batch, "text", tmpDir("lifecycle_gram"), compactEvery = 1)
      .unpersist()
    assert(cached(shared.grams), "folding a chain on the memoized index released the store's grams")
    val chain = shared.append(batch, "text")
    chain.grams.count()
    val own = ownBatches(chain.cachedLeaves, shared.grams)
    chain.unpersist()
    assert(own.forall(!cached(_)), "the chain's own batch frame survived unpersist()")
    assert(cached(shared.grams))
    PipelineQueries.invalidateDupCache(spark, key)
    assert(!cached(shared.grams), "invalidation left the gram frame cached")
  }

  test("a line-set chain on a memoized index folds without releasing the shared frame") {
    val key = "lifecycle://lines"
    val corpus = Seq((1L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 20).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val batch = Seq((3L, (1 to 20).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    def memo() = PipelineShared.memoizedLineSetIndex(spark, key, corpus)
    val shared = memo()
    assertCached("the shared line hashes", shared.hashes)
    memo().appendAndMaybeCompact(batch, "doc_id", "text", tmpDir("lifecycle_lines"),
      compactEvery = 1).unpersist()
    assert(cached(shared.hashes), "folding a chain on the memoized index released the store's hashes")
    val chain = shared.append(batch, "doc_id", "text")
    chain.hashes.count()
    val own = ownBatches(chain.cachedLeaves, shared.hashes)
    chain.unpersist()
    assert(own.forall(!cached(_)), "the chain's own batch frame survived unpersist()")
    assert(cached(shared.hashes))
    PipelineQueries.invalidateDupCache(spark, key)
    assert(!cached(shared.hashes), "invalidation left the line hashes cached")
  }

  test("an LSH vector chain on a memoized index releases only its own batch") {
    val key = "lifecycle://lshvec"
    val emb = (1L to 30L).map(i => (i, Seq.tabulate(4)(j => ((i * (j + 5)) % 11).toFloat + 0.25f)))
      .toDF("lv_id", "lv")
    val batch = (31L to 35L).map(i => (i, Seq.tabulate(4)(j => ((i * (j + 5)) % 11).toFloat + 0.25f)))
      .toDF("lv_id", "lv")
    val shared = Dedup.memoizedLshVecIndex(emb, "lv_id", "lv", key, bits = 4, tables = 2)
    assertCached("the shared LSH frames", shared.buckets, shared.vectors)
    val chain = shared.append(batch)
    chain.buckets.count(); chain.vectors.count()
    val own = ownBatches(chain.cachedLeaves, shared.buckets, shared.vectors)
    chain.unpersist()
    assert(own.forall(!cached(_)), "the chain's own batch frames survived unpersist()")
    assert(cached(shared.buckets) && cached(shared.vectors),
      "releasing a chain on the memoized index released the store's frames")
    PipelineQueries.invalidateDupCache(spark, key)
    assert(!cached(shared.buckets) && !cached(shared.vectors),
      "invalidation left the LSH frames cached")
  }

  // ---- one place caches an index frame --------------------------------------

  test("index code caches and releases only through graft.artifacts") {
    val dir = "src/main/scala/graft/operators"
    Seq("Dedup.scala", "SimilaritySearch.scala").foreach { name =>
      val src = Source.fromFile(s"$dir/$name", "UTF-8")
      val text = try src.mkString finally src.close()
      assert(!text.contains(".cache()"), s"$name caches a frame by hand")
      assert(!text.contains("def unpersist"), s"$name writes its own unpersist()")
    }
  }
}
