package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.artifacts.{ArtifactStore, Releasable}
import graft.multimodal.Multimodal
import graft.operators.{Dedup, SimilaritySearch, TextAnalysis}
import graft.queries.PipelineQueries
import graft.tools.BuildTimer

/** The memo every standing artifact goes through: key, bound, release,
  * invalidation, failed and nested builds, exclusive build timing, and a
  * multi-pass session that must stop building after its first pass. */
class ArtifactStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private final class Held(val id: Int) extends Releasable {
    var released = false
    def unpersist(): Unit = released = true
  }

  test("each kind evicts its least-recently-read key past the bound") {
    val kind = "test_lru"
    val max = ArtifactStore.MaxCachedArtifactDirs
    var builds = 0
    val held = scala.collection.mutable.Map.empty[Int, Held]
    def get(i: Int): Int =
      ArtifactStore.get(kind, spark, s"lru#$i") {
        builds += 1; val h = new Held(i); held(i) = h; h
      }.id
    (0 until max).foreach(get)
    assert(builds == max && ArtifactStore.size(kind) == max)
    // hot key 0 re-read (LRU refresh), then one past the bound: the
    // eldest UNTOUCHED key (1) leaves, 0 stays
    assert(get(0) == 0 && builds == max)
    get(max)
    assert(ArtifactStore.size(kind) == max, "the kind must not grow past the bound")
    assert(ArtifactStore.contains(kind, spark, "lru#0"), "recently-read entry survives")
    assert(!ArtifactStore.contains(kind, spark, "lru#1"), "least-recently-read entry evicted")
    assert(held(1).released && !held(0).released, "eviction releases only the evicted value")
    // re-reading a surviving key is still a hit
    val before = builds
    get(0); get(max)
    assert(builds == before)
    ArtifactStore.invalidate(spark, "lru")
    assert(ArtifactStore.size(kind) == 0 && held(0).released && held(max).released)
  }

  test("a build that throws caches nothing; the next get rebuilds") {
    var calls = 0
    def get(): String = ArtifactStore.get("test_throw", spark, "throw") {
      calls += 1
      if (calls == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    intercept[IllegalStateException](get())
    assert(!ArtifactStore.contains("test_throw", spark, "throw"))
    assert(get() == "built" && get() == "built" && calls == 2)
    ArtifactStore.invalidate(spark, "throw")
  }

  test("a build may get other artifacts, of its own kind or another") {
    def inner(key: String): Integer = ArtifactStore.get("test_inner", spark, key)(Integer.valueOf(1))
    val outer = ArtifactStore.get("test_outer", spark, "nest") {
      // same kind, other key: a nested update of the map being built into
      val sibling = ArtifactStore.get("test_outer", spark, "nest#sibling")(Integer.valueOf(2))
      Integer.valueOf(inner("nest").intValue + sibling.intValue)
    }
    assert(outer.intValue == 3)
    assert(ArtifactStore.contains("test_outer", spark, "nest") &&
      ArtifactStore.contains("test_outer", spark, "nest#sibling") &&
      ArtifactStore.contains("test_inner", spark, "nest"))
    ArtifactStore.invalidate(spark, "nest")
    assert(!ArtifactStore.contains("test_outer", spark, "nest#sibling"))
  }

  test("BuildTimer charges a nested span to its own label only") {
    BuildTimer.reset()
    BuildTimer.time("a") { BuildTimer.time("b") { Thread.sleep(50) } }
    val per = BuildTimer.perArtifactSeconds.toMap
    assert(per("b") >= 0.05)
    assert(per("a") < 0.01, s"outer span kept its child's time: ${per("a")}")
    assert(math.abs(BuildTimer.totalSeconds - (per("a") + per("b"))) < 1e-6)
    assert(BuildTimer.totalSeconds < 2 * per("b"), "nested time counted twice")
    BuildTimer.reset()
  }

  test("invalidateDupCache drops the bpe, avi, jpeg and wav artifacts") {
    val dir = "store://media"
    val docs = (0L until 4L).map(i => (i, s"doc $i quick brown fox")).toDF("doc_id", "text")
    def all(): Seq[AnyRef] = Seq(
      TextAnalysis.memoizedBpeMerges(docs, "text", 100, 2, dir),
      Multimodal.memoizedAviFrameMeta(docs, dir),
      Multimodal.memoizedJpegMeta(docs, dir),
      Multimodal.memoizedWavFingerprints(docs, dir))
    val kinds = Seq("bpe_merges", "avi_meta", "jpeg_meta", "wav_fp")
    def same(a: Seq[AnyRef], b: Seq[AnyRef]): Seq[String] =
      kinds.zip(a.zip(b)).collect { case (k, (x, y)) if x eq y => k }
    val first = all()
    assert(same(all(), first) == kinds, "memoized reads must hit")
    PipelineQueries.invalidateDupCache(spark, dir)
    val survived = same(all(), first)
    assert(survived.isEmpty, s"survived invalidation: ${survived.mkString(", ")}")
    PipelineQueries.invalidateDupCache(spark, dir)
  }

  test("a gram index keys on k and maxGramDocs") {
    val dir = "store://gram"
    val docs = Seq((1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away"))
      .toDF("doc_id", "text")
    val g10 = Dedup.memoizedGramIndex(docs, "doc_id", "text", k = 10, maxGramDocs = 256, cacheKey = dir)
    val g5 = Dedup.memoizedGramIndex(docs, "doc_id", "text", k = 5, maxGramDocs = 256, cacheKey = dir)
    assert(g10.k == 10 && g5.k == 5)
    assert(Dedup.memoizedGramIndex(docs, "doc_id", "text", k = 10, maxGramDocs = 256, cacheKey = dir) eq g10)
    PipelineQueries.invalidateDupCache(spark, dir)
  }

  test("BPE merges key on topWords and merges") {
    val dir = "store://bpe"
    val bpeDocs = Seq((1L, "banana bandana cabana ananas savanna")).toDF("doc_id", "text")
    assert(TextAnalysis.memoizedBpeMerges(bpeDocs, "text", 100, 8, dir).size == 8)
    assert(TextAnalysis.memoizedBpeMerges(bpeDocs, "text", 100, 4, dir).size == 4)
    PipelineQueries.invalidateDupCache(spark, dir)
  }

  test("LSH, IVF and PQ indexes keep keying on their parameters") {
    val dir = "store://vec"
    val emb = (1L to 40L).map(i => (i, Seq.tabulate(4)(j => ((i * (j + 3)) % 7).toFloat + 0.5f)))
      .toDF("vec_id", "v")
    val l1 = Dedup.memoizedLshVecIndex(emb, "vec_id", "v", dir, bits = 4, tables = 2)
    val l2 = Dedup.memoizedLshVecIndex(emb, "vec_id", "v", dir, bits = 6, tables = 2)
    assert(l1.bits == 4 && l2.bits == 6)
    assert(Dedup.memoizedLshVecIndex(emb, "vec_id", "v", dir, bits = 4, tables = 2) eq l1)
    val i2 = SimilaritySearch.memoizedIvfIndex(emb, "vec_id", "v", 2, dir)
    val i3 = SimilaritySearch.memoizedIvfIndex(emb, "vec_id", "v", 3, dir)
    assert(!(i2.assigned eq i3.assigned))
    assert(SimilaritySearch.memoizedIvfIndex(emb, "vec_id", "v", 2, dir).assigned eq i2.assigned)
    val p2 = SimilaritySearch.memoizedPqIndex(emb, "vec_id", "v", 2, 4, dir)
    val p4 = SimilaritySearch.memoizedPqIndex(emb, "vec_id", "v", 4, 4, dir)
    assert(p2.m == 2 && p4.m == 4)
    assert(SimilaritySearch.memoizedPqIndex(emb, "vec_id", "v", 2, 4, dir).codes eq p2.codes)
    PipelineQueries.invalidateDupCache(spark, dir)
  }

  test("three passes of the bench sample build only in the first") {
    // the perfbench query_sample plans, on the sf0.01 copy beside it
    val sample = Seq("q10_join_agg", "d04_minhash_lsh", "s04_ann_ivf", "s07_mips_topk",
      "t17_quality_classifier", "p17_dsir_select", "p21_bloom_decontam", "m13_wav_energy")
    val dir = new java.io.File("perfbench/data/sf0.01").getAbsolutePath
    val plans = SparkEntry.queries ++ SparkEntry.productionQueries
    def pass(): Unit = sample.foreach(n => plans(n)(spark, dir).write.format("noop").mode("overwrite").save())
    PipelineQueries.invalidateDupCache(spark, dir)
    BuildTimer.reset()
    pass()
    val entries = ArtifactStore.size
    val built = BuildTimer.perArtifactSeconds
    assert(built.nonEmpty, "the first pass built no artifact")
    pass(); pass()
    assert(ArtifactStore.size == entries)
    assert(BuildTimer.perArtifactSeconds == built)
  }

  test("Sources serves a rewritten table after its directory is invalidated") {
    val dir = tmpDir("store-source")
    def write(n: Int): Unit =
      spark.range(n).toDF("id").write.mode("overwrite").parquet(s"$dir/stale.parquet")
    write(3)
    assert(graft.sources.Sources.table(spark, dir, "stale").count() == 3)
    write(5)
    PipelineQueries.invalidateDupCache(spark, dir)
    assert(graft.sources.Sources.table(spark, dir, "stale").count() == 5,
      "a rewritten table must not be read through the old plan")
  }

  test("only ArtifactStore and Sources hand-roll a session cache") {
    val root = Paths.get("src/main/scala")
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("sparkContext.isStopped"))
      .map(p => root.relativize(p).toString).toSeq.sorted
    assert(hits == Seq("graft/artifacts/ArtifactStore.scala"),
      "memoize standing artifacts through graft.artifacts.ArtifactStore")
  }
}
