package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SimilaritySearch}
import graft.queries.{PipelineQueries, RelationalQueries}
import graft.streaming.EventStreams

/** A streaming document row for the index-refresh case. */
final case class ShingledDoc(doc_id: Long, sh: Seq[String])

/** Round-6 additions: the composed corpus build's invariants, the index
  * lifecycle (append / invalidate / streaming refresh), the q45 sketch
  * twin's error bound, and the spreadToParallelism shuffled-input guard.
  */
class Round6Spec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def shingleSet(seed: String, n: Int = 24): Seq[String] =
    (1 to n).map(i => s"${seed}_tok$i")

  // ---- m04 oracle coupling ------------------------------------------------

  test("m04 oracle ASCII assumption holds on the test corpus") {
    // The engine slices the UTF-8 BYTE payload; the m04 oracle slices
    // CHARACTERS (DuckDB 1.0 cannot substring a BLOB). They agree iff
    // every document is pure ASCII — assert that, so a future corpus with
    // multi-byte text fails HERE with a diagnosis instead of as an opaque
    // m04 hash mismatch.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val nonAscii = graft.sources.Sources.table(spark, d, "documents")
        .filter(expr("octet_length(text) <> length(text)")).count()
      assert(nonAscii == 0,
        s"$d has $nonAscii non-ASCII documents; the m04 char-based oracle " +
          "no longer matches the byte-based engine")
    }
  }

  // ---- memo-cache invalidation -------------------------------------------

  test("invalidateDupCache evicts every dir-rooted memoized index") {
    val spark2 = spark
    import spark2.implicits._
    val key = "round6://invalidate-test"
    val docs = Seq((1L, shingleSet("a")), (2L, shingleSet("b")))
      .toDF("doc_id", "sh")
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "v")

    val mh1 = Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", key + "#mhidx")
    assert(Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", key + "#mhidx") eq mh1,
      "memoized MinHash index must be reused before invalidation")
    val ivf1 = SimilaritySearch.memoizedIvfIndex(emb, "vec_id", "v", 2, key + "#aug")
    val mips1 = SimilaritySearch.memoizedMipsIndex(emb, "v", key)

    PipelineQueries.invalidateDupCache(spark, key)

    assert(!(Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", key + "#mhidx") eq mh1),
      "MinHash index survived corpus-level invalidation")
    // identity lives on the shared `assigned` frame — the memoized getter
    // hands out leaf-stripped copies (r18 ownership contract)
    assert(!(SimilaritySearch.memoizedIvfIndex(emb, "vec_id", "v", 2, key + "#aug").assigned eq ivf1.assigned),
      "IVF index survived corpus-level invalidation")
    assert(!(SimilaritySearch.memoizedMipsIndex(emb, "v", key) eq mips1),
      "MIPS index survived corpus-level invalidation")
    PipelineQueries.invalidateDupCache(spark, key)
  }

  test("invalidation is prefix-scoped: other corpora keep their indexes") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, shingleSet("a"))).toDF("doc_id", "sh")
    val keep = Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", "round6://other")
    PipelineQueries.invalidateDupCache(spark, "round6://invalidate-test")
    assert(Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", "round6://other") eq keep)
    PipelineQueries.invalidateDupCache(spark, "round6://other")
  }

  // ---- MinHashIndex append lifecycle -------------------------------------

  test("MinHashIndex.append: probe-after-append equals rebuild-from-scratch") {
    val spark2 = spark
    import spark2.implicits._
    val corpusA = Seq((1L, shingleSet("a")), (2L, shingleSet("b")))
      .toDF("doc_id", "sh")
    val batchB = Seq((3L, shingleSet("p")), (4L, shingleSet("q")))
      .toDF("doc_id", "sh")
    val probe = Seq((100L, shingleSet("p")), (101L, shingleSet("b")))
      .toDF("doc_id", "sh")

    val appended = Dedup.buildMinHashIndex(corpusA, "doc_id", "sh")
      .append(batchB, "sh")
    val rebuilt = Dedup.buildMinHashIndex(corpusA.unionByName(batchB),
      "doc_id", "sh")
    def probePairs(idx: Dedup.MinHashIndex): Set[(Long, Long, Double)] =
      Dedup.deltaNearDupsIndexed(probe, idx, "doc_id", "sh", threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val viaAppend = probePairs(appended)
    assert(viaAppend == probePairs(rebuilt),
      "appended index answers differently from a from-scratch rebuild")
    // Identical shingle sets -> identical signatures -> est 1.0: the probe
    // must see BOTH the standing corpus (101->2) and the batch (100->3).
    assert(viaAppend.map(p => (p._1, p._2)) == Set((100L, 3L), (101L, 2L)))
    appended.unpersist(); rebuilt.unpersist()
  }

  test("save(append) folds a batch without rewriting the corpus files") {
    val spark2 = spark
    import spark2.implicits._
    val out = tmpDir("mhidx_append")
    val corpusA = Seq((1L, shingleSet("a")), (2L, shingleSet("b")))
      .toDF("doc_id", "sh")
    val batchB = Seq((3L, shingleSet("p"))).toDF("doc_id", "sh")

    Dedup.buildMinHashIndex(corpusA, "doc_id", "sh", persist = false).save(out)
    def parquetFiles(): Set[String] = {
      val d = new java.io.File(s"$out/bands")
      d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val before = parquetFiles()
    assert(before.nonEmpty)

    // The ingest fold: only the batch's files are added — every standing
    // file survives byte-for-byte (append never rewrites the corpus).
    Dedup.buildMinHashIndex(batchB, "doc_id", "sh", persist = false)
      .save(out, mode = "append")
    val after = parquetFiles()
    assert(before.subsetOf(after), "append-mode save rewrote corpus files")
    assert(after.size > before.size, "append-mode save added no batch files")

    val loaded = Dedup.loadMinHashIndex(spark, out, "doc_id")
    assert(loaded.signatures.count() == 3)
    val probe = Seq((100L, shingleSet("p"))).toDF("doc_id", "sh")
    val pairs = Dedup.deltaNearDupsIndexed(probe, loaded, "doc_id", "sh", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 3L)), "probe missed the appended batch doc")
  }

  // ---- streaming index refresh -------------------------------------------

  test("deltaDedupStreamRefreshing picks up a swapped index next microbatch") {
    val spark2 = spark
    import spark2.implicits._
    val idxA = Dedup.buildMinHashIndex(
      Seq((1L, shingleSet("a"))).toDF("doc_id", "sh"), "doc_id", "sh")
    val idxB = idxA.append(Seq((2L, shingleSet("p"))).toDF("doc_id", "sh"), "sh")
    @volatile var current: Dedup.MinHashIndex = idxA

    val got = scala.collection.concurrent.TrieMap[Long, Set[(Long, Long)]]()
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[ShingledDoc](spark, 1)
    val writer = EventStreams.deltaDedupStreamRefreshing(
      ms.toDF(), "doc_id", "sh", threshold = 0.9, () => current) {
      (out, batchId) =>
        got(batchId) = out.select(col("new_id"), col("old_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val q = writer
      .option("checkpointLocation", tmpDir("refresh_ckpt"))
      .start()
    try {
      // Batch 0 probes index A: doc 100's twin (id 2) is NOT indexed yet.
      ms.addData(ShingledDoc(100L, shingleSet("p")))
      q.processAllAvailable()
      // Swap in the appended index — NO stream restart.
      current = idxB
      ms.addData(ShingledDoc(101L, shingleSet("p")))
      q.processAllAvailable()
    } finally q.stop()

    assert(got.keySet == Set(0L, 1L))
    assert(got(0L).isEmpty,
      s"batch 0 matched against an index that did not contain the twin: ${got(0L)}")
    assert(got(1L) == Set((101L, 2L)),
      "the swapped index did not take effect at the next microbatch")
    idxA.unpersist(); idxB.unpersist()
  }

  // ---- spreadToParallelism guard -----------------------------------------

  test("spreadToParallelism returns shuffle-bearing inputs unchanged") {
    val base = graft.sources.Sources.table(spark, dir, "documents")
    val shuffled = base.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    // Reference equality: the guard must bail BEFORE the eager .rdd pass,
    // not after repartitioning a frame whose shuffle already spread it.
    assert(Dedup.spreadToParallelism(shuffled) eq shuffled)
    // A shuffle join (merge hint defeats the broadcast pick) bears a
    // ShuffleExchange and must also bail.
    val smj = base.join(base.select(col("doc_id")).hint("merge"), Seq("doc_id"))
    assert(Dedup.spreadToParallelism(smj) eq smj)
  }

  test("spreadToParallelism spreads physically-narrow inputs (scan, union, broadcast join)") {
    val scan = graft.sources.Sources.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val par = spark.sparkContext.defaultParallelism
    assert(Dedup.spreadToParallelism(scan).rdd.getNumPartitions == par)
    // Unions of scans are narrow (the Stress replica shape) and must
    // still qualify.
    val union = scan.unionAll(scan.withColumn("doc_id", col("doc_id") + 1000000L))
    assert(Dedup.spreadToParallelism(union).rdd.getNumPartitions == par)
    // The guard is physical, not logical: a broadcast-join-enriched scan
    // has a Join node in its logical plan but no shuffle exchange — its
    // partitioning follows the streamed scan, so it MUST still be spread
    // (the compact-corpus pair-walk serialization this helper exists for).
    val enriched = scan.join(
      broadcast(scan.select(col("doc_id"), length(col("text")).as("len"))),
      Seq("doc_id"))
    assert(Dedup.spreadToParallelism(enriched).rdd.getNumPartitions == par)
  }

  test("qualityKeep column equals qualityFilter's keep decision") {
    val docsDf = graft.sources.Sources.table(spark, dir, "documents")
    val report = graft.operators.TextAnalysis
      .qualityFilter(docsDf, "doc_id", "text")
      .select(col("doc_id"), col("keep"))
    val inline = docsDf.select(col("doc_id"),
      graft.operators.TextAnalysis.qualityKeep(col("text")).as("keep2"))
    val drift = report.join(inline, Seq("doc_id"))
      .filter(col("keep") =!= col("keep2")).count()
    assert(drift == 0, s"$drift docs where qualityKeep drifts from qualityFilter")
  }

  // ---- q45: bounded-state percentile twin --------------------------------

  test("q45 percentile_approx tracks exact q38 within 1% relative error") {
    // Raw sketch-vs-exact bound (q45 itself now carries the exact values +
    // within-band flags, so the sketch is recomputed here for the direct
    // numeric check).
    val exact = RelationalQueries.queries("q38_percentile")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_orderstatus"))
      .agg(expr("percentile_approx(o_totalprice, 0.5, 10000)").as("m"),
           expr("percentile_approx(o_totalprice, 0.9, 10000)").as("p"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (status, (m, p90)) =>
      val (ma, p90a) = approx(status)
      assert(math.abs(ma - m) / m <= 0.01,
        s"$status median: approx $ma vs exact $m")
      assert(math.abs(p90a - p90) / p90 <= 0.01,
        s"$status p90: approx $p90a vs exact $p90")
    }
    // The query's own per-group flags must all hold.
    val flags = RelationalQueries.queries("q45_percentile_approx")(spark, dir)
      .select(col("o_orderstatus"), col("median_within_1pct"),
        col("p90_within_1pct")).collect()
    assert(flags.nonEmpty &&
      flags.forall(r => r.getLong(1) == 1L && r.getLong(2) == 1L),
      "q45 within-1pct flag cleared for some status")
  }

  // ---- p10: composition invariants ---------------------------------------

  test("p10 corpus build: stage invariants hold on sf0.001") {
    val out = PipelineQueries.queries("p10_corpus_build")(spark, dir)
      .collect()
    assert(out.nonEmpty, "composed corpus build produced an empty corpus")
    val ids = out.map(_.getLong(0)).toSet
    assert(ids.size == out.length, "duplicate doc_ids in the final corpus")

    // Survivors must satisfy the upstream gates they claim to have passed:
    // every emitted doc is a t08 keeper and a d09 cluster keeper.
    val keepers = graft.operators.TextAnalysis
      .qualityFilter(graft.sources.Sources.table(spark, dir, "documents"),
        "doc_id", "text")
      .filter(col("keep")).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(keepers), "a quality-rejected doc reached the corpus")

    // Per-language token budget: total admitted tokens stay within
    // budget + one straddling document (the admission rule).
    val byLang = out.groupBy(_.getString(1))
    byLang.foreach { case (lang, rows) =>
      val total = rows.map(_.getLong(2)).sum
      val maxDoc = rows.map(_.getLong(2)).max
      assert(total - maxDoc < 3000L,
        s"$lang admitted $total tokens against a 3000 budget")
    }

    // Pack ids are a contiguous prefix sum: every pack below the last is
    // "full" in the sense that adding its successor's first doc would
    // cross the 2048 boundary — equivalently pack ids are non-decreasing
    // in doc_id order with no gaps.
    val packs = out.sortBy(_.getLong(0)).map(_.getLong(3))
    assert(packs.head == 0L)
    packs.sliding(2).foreach { case Array(a, b) =>
      assert(b == a || b == a + 1,
        s"pack id jumped $a -> $b: ids must advance by at most one in doc order")
    }
    assert(packs.toSet == (packs.min to packs.max).toSet,
      "pack ids have gaps")
  }
}
