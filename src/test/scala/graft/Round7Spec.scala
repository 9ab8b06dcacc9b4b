package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, JoinStrategies, SimilaritySearch}
import graft.queries.{PipelineQueries, PipelineShared}
import graft.PlanLedger.allNodes

/** Round-7 additions: the automated MinHashIndex compaction lifecycle
  * (bounded lineage, probe invariance, full cache release), the `#`
  * -boundary invalidation fix, the salted-join spread proof, the p10
  * exchange-ledger audit + scale-linearity check, the foreachBatch replay
  * idempotence recipe, and the m04 byte-slicing non-ASCII ground truth.
  * Also: the s16–s19 query-path appends leave no cached batch leaf and no
  * ingest directory behind.
  */
class Round7Spec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def shingleSet(seed: String, n: Int = 24): Seq[String] =
    (1 to n).map(i => s"${seed}_tok$i")

  // ---- MinHashIndex: automated append compaction -------------------------

  test("appendAndMaybeCompact bounds lineage and preserves probe results") {
    val spark2 = spark
    import spark2.implicits._
    val out = tmpDir("mhidx_compact")
    val probe = Seq((100L, shingleSet("b2")), (101L, shingleSet("a")))
      .toDF("doc_id", "sh")
    def probePairs(idx: Dedup.MinHashIndex): Set[(Long, Long)] =
      Dedup.deltaNearDupsIndexed(probe, idx, "doc_id", "sh", threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    var idx = Dedup.buildMinHashIndex(
      Seq((1L, shingleSet("a"))).toDF("doc_id", "sh"), "doc_id", "sh")
    // Five appends with compactEvery = 3: append #3 must fold the union
    // lineage flat; #4/#5 re-deepen from the flat base. Depth never
    // exceeds compactEvery; the bare append would reach 10 unions
    // (2 frames x 5 batches).
    (1 to 5).foreach { i =>
      val batch = Seq((1L + i, shingleSet(s"b$i"))).toDF("doc_id", "sh")
      val beforeProbe = probePairs(idx)
      idx = idx.appendAndMaybeCompact(batch, "sh", out, compactEvery = 3)
      assert(idx.unionDepth <= 3, s"append $i: lineage depth ${idx.unionDepth}")
      // Everything probeable before the append is still probeable after
      // it — in particular ACROSS the compaction boundary at i = 3.
      assert(probePairs(idx).intersect(beforeProbe) == beforeProbe,
        s"append $i lost standing pairs")
      assert(idx.appendsSinceCompaction == (if (i % 3 == 0) 0 else i % 3))
    }
    assert(idx.signatures.count() == 6, "a doc vanished across compaction")
    assert(probePairs(idx) == Set((100L, 3L), (101L, 1L)))
    // The compacted generation is a real artifact: reloading it from disk
    // answers identically for the docs it covers (appends 4 and 5 are
    // in-memory only until the next fold).
    val reloaded = Dedup.loadMinHashIndex(spark, out, "doc_id")
    assert(reloaded.signatures.count() == 4)
    // The generation covers docs 1..4 — including doc 3 ("b2"), so both
    // probes answer from disk alone.
    assert(probePairs(reloaded) == Set((100L, 3L), (101L, 1L)))
    idx.unpersist()
  }

  test("unpersist on an appended index releases every cached constituent") {
    val spark2 = spark
    import spark2.implicits._
    val base = Dedup.buildMinHashIndex(
      Seq((1L, shingleSet("a"))).toDF("doc_id", "sh"), "doc_id", "sh")
    val appended = base
      .append(Seq((2L, shingleSet("b"))).toDF("doc_id", "sh"), "sh")
      .append(Seq((3L, shingleSet("c"))).toDF("doc_id", "sh"), "sh")
    // Materialize so the cache levels are real, then release.
    appended.bands.count(); appended.signatures.count()
    val constituents =
      Seq(base.bands, base.signatures) ++ appended.cachedLeaves
    assert(constituents.exists(_.storageLevel != StorageLevel.NONE),
      "nothing was cached — the leak test would pass vacuously")
    appended.unpersist()
    constituents.foreach { f =>
      assert(f.storageLevel == StorageLevel.NONE,
        "a cached constituent survived unpersist() — the append leak")
    }
  }

  // ---- invalidation matches on the # boundary, not a string prefix -------

  test("invalidation spares a sibling corpus sharing a character prefix") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, shingleSet("a"))).toDF("doc_id", "sh")
    val mhCorp = Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", "r7://corp")
    val mhSib = Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", "r7://corpus")
    val mhSub = Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", "r7://corp#mhidx")
    PipelineQueries.invalidateDupCache(spark, "r7://corp")
    // Exact key + "#"-suffixed keys evicted; the sibling corpus survives.
    assert(!(Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", "r7://corp") eq mhCorp))
    assert(Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", "r7://corpus") eq mhSib)
    assert(!(Dedup.memoizedMinHashIndex(docs, "doc_id", "sh", "r7://corp#mhidx") eq mhSub))
    PipelineQueries.invalidateDupCache(spark, "r7://corp")
    PipelineQueries.invalidateDupCache(spark, "r7://corpus")

    val emb = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "v")
    val ivfCorp = SimilaritySearch.memoizedIvfIndex(emb, "vec_id", "v", 2, "r7i://corp")
    val ivfSib = SimilaritySearch.memoizedIvfIndex(emb, "vec_id", "v", 2, "r7i://corpus")
    PipelineQueries.invalidateDupCache(spark, "r7i://corp")
    // the memoized getter hands out leaf-stripped COPIES (r18 ownership
    // contract), so instance identity lives on the shared `assigned`
    // frame, not the case-class wrapper
    assert(!(SimilaritySearch.memoizedIvfIndex(emb, "vec_id", "v", 2, "r7i://corp").assigned eq ivfCorp.assigned))
    assert(SimilaritySearch.memoizedIvfIndex(emb, "vec_id", "v", 2, "r7i://corpus").assigned eq ivfSib.assigned)
    PipelineQueries.invalidateDupCache(spark, "r7i://corp")
    PipelineQueries.invalidateDupCache(spark, "r7i://corpus")
  }

  // ---- q46: the salt actually spreads the hot key ------------------------

  test("saltedJoin shuffles on the salt column (the skew-spread proof)") {
    val spark2 = spark
    import spark2.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 20% hot key 0, the q46 shape.
      val ev = spark.range(0, 2000)
        .select($"id".as("event_id"),
          when($"id" % 5 === 0, 0L).otherwise($"id").as("skew_key"))
      val dim = ev.groupBy($"skew_key").agg(count(lit(1)).as("key_events"))
      val joined = JoinStrategies.saltedJoin(ev, dim, Seq("skew_key"), numSalts = 8)
      assert(joined.count() == 2000)
      // The big side's exchange must hash on (skew_key, salt) — WITHOUT
      // the salt attribute the hot key still lands in one reduce task and
      // the operator is a no-op wearing a disguise.
      val saltedExchanges = PlanLedger.shuffleKeyNames(joined.queryExecution.executedPlan)
        .map(_.toSet)
        .filter(names => names.contains("skew_key") && names.exists(_.contains("salt")))
      assert(saltedExchanges.size >= 2,
        s"expected both join sides to shuffle on (skew_key, salt):\n" +
          joined.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("8 salts land the hot key in >= 4 of 32 reduce partitions") {
    val spark2 = spark
    import spark2.implicits._
    // Exactly the partition assignment HashPartitioning computes:
    // pmod(murmur3(key, salt), numPartitions). The hot key (0) with
    // salts 0..7 must scatter — this is the arithmetic fact the salted
    // exchange above relies on.
    val parts = spark.range(0, 8)
      .select(pmod(hash(lit(0L), $"id"), lit(32)).as("p"))
      .distinct().count()
    assert(parts >= 4, s"8 salts reached only $parts of 32 partitions")
  }

  // ---- p10: exchange ledger + scale linearity ----------------------------

  test("p10 exchange ledger: no corpus shuffle is keyed on doc_id") {
    val base = graft.sources.Sources.table(spark, dir, "documents")
    val clusters = PipelineShared.dupPairsAndClusters(spark, dir)._2
    // The shipped composition, checkpoints included: every execution it
    // runs (the survivors and budget localCheckpoints, then the collect)
    // is audited, so a stage behind a checkpoint is seen too. The
    // memoized clusters above are built before the capture opens.
    val runs = PlanLedger.captureHintedBroadcasts(spark) {
      assert(PipelineShared.corpusBuildFromSurvivors(
        PipelineShared.dedupSurvivorsWithSplit(base, clusters), budget = 3000L)
        .collect().nonEmpty)
    }
    val keyed = PlanLedger.hashKeys(runs)
    // The documented stage ledger. Hash exchanges may only key on:
    //   __h              p03 contamination hash equi-join
    //   lang             p06 language histogram (partial-agg'd, ~|langs|)
    //   lang, __sub      p07 sub-bucketed running sum
    //   __bkt            p02 pack-bucket scan
    // SinglePartition / range exchanges carry only post-aggregate
    // scalar-or-bucket-count frames (p06's min, p07/p02 offset ladders).
    // Above all: NOTHING may shuffle the corpus on doc_id — the dedup
    // drop set and contaminated-id set join as broadcast semi/anti.
    val allowed = Set(Set("__h"), Set("lang"), Set("lang", "__sub"), Set("__bkt"))
    keyed.foreach { case (names, run) =>
      assert(allowed.contains(names),
        s"unexpected corpus shuffle on $names in ${run.action}:\n${run.plan}")
      assert(!names.contains("doc_id"), s"corpus shuffled on doc_id")
    }
  }

  test("p10 output scales linearly: 2x corpus + 2x budget => ~2x tokens and packs") {
    val base = graft.sources.Sources.table(spark, dir, "documents")
    // Replica perturbation: UPPERCASE every non-stopword. This is exactly
    // quality-gate-neutral (token count, per-word lengths, and the
    // case-sensitive stopword count are all unchanged, so t08 keeps the
    // same docs per replica) yet makes replicas shingle-disjoint (word
    // shingles are case-sensitive: only all-stopword 3-grams survive,
    // jaccard far below 0.2 — no manufactured cross-replica clusters) and
    // md5-distinct (no manufactured cross-replica contamination). The
    // dedup/contamination drops therefore scale 2x, not O(replicas^2).
    def replicated(k: Int): DataFrame = {
      require(k <= 2, "every i>0 replica gets the same case-flip")
      (0 until k).map { i =>
        val d = base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        if (i == 0) d
        else {
          val stopArr = array(
            graft.operators.TextAnalysis.StopEn.map(lit): _*)
          d.withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "),
              w => when(array_contains(stopArr, w), w).otherwise(upper(w)))))
        }
      }.reduce(_ unionByName _)
    }
    def clustersOf(docs: DataFrame): DataFrame =
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", "n_chars",
            threshold = 0.2,
            maxBucketSize = Some(PipelineShared.D03BucketCap))
          .localCheckpoint(),
        "a_id", "b_id")
    def measure(k: Int): (Long, Long) = {
      val docs = replicated(k)
      val out = PipelineShared
        .corpusBuildFromSurvivors(
          PipelineShared.dedupSurvivorsWithSplit(docs, clustersOf(docs)), budget = 3000L * k)
        .agg(sum(col("n_tokens")).cast("long"),
          (max(col("pack_id")) + 1).cast("long"))
        .collect().head
      (out.getLong(0), out.getLong(1))
    }
    val (tok1, packs1) = measure(1)
    val (tok2, packs2) = measure(2)
    val tokRatio = tok2.toDouble / tok1
    val packRatio = packs2.toDouble / packs1
    assert(tokRatio > 1.6 && tokRatio < 2.4,
      s"admitted tokens grew ${tokRatio}x for a 2x corpus + 2x budget")
    assert(packRatio > 1.5 && packRatio < 2.5,
      s"packs grew ${packRatio}x for a 2x corpus + 2x budget")
  }

  test("p13 exchange ledger and epoch invariants") {
    val base = graft.sources.Sources.table(spark, dir, "documents")
    val clusters = PipelineShared.dupPairsAndClusters(spark, dir)._2
    val runs = PlanLedger.captureHintedBroadcasts(spark) {
      assert(PipelineShared.corpusBuildV2FromSurvivors(
        PipelineShared.dedupSurvivorsWithSplit(base, clusters), budget = 3000L)
        .collect().nonEmpty)
    }
    val keyed = PlanLedger.hashKeys(runs)
    // Ledger = p10's allowlist + the gram stage: its broadcast probe's
    // matched rows aggregate per (train doc, gram) for the distinct count.
    // Still NOTHING shuffles the corpus on doc_id alone — the gram-drop id
    // set joins back as a broadcast anti like the other two drop sets, and
    // p12's epoch explode is map-only (adds no exchange at all).
    val allowed = Set(Set("__h"), Set("lang"), Set("lang", "__sub"),
      Set("__bkt"), Set("gram"), Set("train_id", "gram"), Set("train_id"))
    keyed.foreach { case (names, run) =>
      assert(allowed.contains(names),
        s"unexpected corpus shuffle on $names in ${run.action}:\n${run.plan}")
      assert(names != Set("doc_id"), s"corpus shuffled on doc_id")
    }
    // Epoch invariants on the real output: repeats in 1..4, epochs dense
    // per doc, and the doc-level frame equals p10's shape semantics
    // (every admitted doc appears exactly `repeats` times).
    val rows = PipelineShared.corpusBuildV2FromSurvivors(
      PipelineShared.dedupSurvivorsWithSplit(base, clusters), budget = 3000L)
      .select(col("doc_id"), col("repeats"), col("epoch_idx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (id, rs) =>
      val rep = rs.head._2
      assert(rep >= 1L && rep <= 4L, s"doc $id repeats $rep out of range")
      assert(rs.map(_._3).sorted.toSeq == (1L to rep),
        s"doc $id epochs not dense 1..$rep")
    }
  }

  // ---- query-path appends: throwaway batches, no leftovers ------------------

  private def runPlans(names: String*): Seq[Long] =
    names.map(n => PipelineQueries.queries(n)(spark, dir).count())

  test("s16, s17 and s19 leave no cached batch leaf once their artifacts are invalidated") {
    def uncheckpointed: Set[Int] = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed).map(_.id).toSet
    val before = uncheckpointed
    runPlans("s16_index_append_probe", "s17_pq_append_probe", "s19_stream_pq_append")
    PipelineQueries.invalidateDupCache(spark, dir)
    val leaked = uncheckpointed -- before
    assert(leaked.isEmpty, s"${leaked.size} persistent RDDs outlived invalidation: $leaked")
  }

  test("s18 and s19 remove their stream ingest directories") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def ingestDirs: Set[String] = tmp.listFiles().map(_.getName)
      .filter(n => n.startsWith("s18_ingest") || n.startsWith("s19_ingest")).toSet
    val before = ingestDirs
    val Seq(s18, s19) = runPlans("s18_stream_index_append", "s19_stream_pq_append")
    assert(ingestDirs -- before == Set.empty[String], "a run left its ingest directory behind")
    // the streamed appends still answer what their batch twins do
    val Seq(s16, s17) = runPlans("s16_index_append_probe", "s17_pq_append_probe")
    assert(s18 == s16 && s19 == s17 && s18 > 0 && s19 > 0, s"rows: $s18/$s16, $s19/$s17")
  }

  // ---- foreachBatch replay idempotence -----------------------------------

  test("idempotentPairSink: a replayed microbatch lands no duplicate pairs") {
    val spark2 = spark
    import spark2.implicits._
    val out = tmpDir("idem_sink")
    val corpus = Seq((1L, shingleSet("a")), (2L, shingleSet("b")))
      .toDF("doc_id", "sh")
    val idx = Dedup.buildMinHashIndex(corpus, "doc_id", "sh")
    val batch = Seq((100L, shingleSet("a")), (101L, shingleSet("b")))
      .toDF("doc_id", "sh")
    val pairs = Dedup.deltaNearDupsIndexed(batch, idx, "doc_id", "sh", 0.9)
    val sink = graft.streaming.EventStreams.idempotentPairSink(out)
    sink(pairs, 0L)
    val once = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id"))).toSet
    assert(once == Set((100L, 1L), (101L, 2L)))
    // The at-least-once crash path: same batchId delivered again. The
    // batch's partition is overwritten, not appended — the read-back set
    // (and row COUNT) are unchanged.
    sink(pairs, 0L)
    val replayed = spark.read.parquet(out)
    assert(replayed.count() == once.size, "replay appended duplicate pairs")
    // A genuinely new batch still appends (the cross-batch contract).
    sink(pairs.withColumn("new_id", col("new_id") + 50L), 1L)
    assert(spark.read.parquet(out).count() == 2L * once.size)
    idx.unpersist()
  }

  // ---- m04: byte-slicing ground truth beyond ASCII -----------------------

  test("sampleFrames slices BYTES: non-ASCII ground truth") {
    val spark2 = spark
    import spark2.implicits._
    // Multi-byte text: 2-byte (é), 3-byte (€) and 4-byte (𝄞) code points,
    // so char-based slicing would disagree with every frame boundary.
    val texts = Seq(
      (1L, "héllo wörld € mūsic 𝄞 " * 8),
      (2L, "ascii only payload here " * 8),
      (3L, "héllo wörld € mūsic 𝄞 " * 8)) // byte-identical twin of doc 1
    val media = graft.multimodal.Multimodal.asMediaTable(
      texts.toDF("doc_id", "text")
        .withColumn("lang", lit("xx")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text"))))
    val frames = graft.multimodal.Multimodal
      .sampleFrames(media, frameBytes = 16, stride = 2)
      .collect()
    // Driver-side ground truth over the UTF-8 BYTES — the same contract a
    // real demuxer has (codecs address octets, never "characters").
    val expected = texts.flatMap { case (id, text) =>
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      (0 until bytes.length / 16 by 2).map { f =>
        (id, f, bytes.slice(f * 16, (f + 1) * 16).toSeq)
      }
    }.toSet
    assert(frames.map(f => (f.doc_id, f.frame_idx, f.frame.toSeq)).toSet
      == expected)
    // And the overlap operator sees the byte-identical twin through the
    // multi-byte frames: docs 1 and 3 share ALL their frames.
    val fp = frames.toSeq.toDS().toDF()
      .select(col("doc_id"), md5(col("frame")).as("frame_md5"))
    val overlap = graft.multimodal.Multimodal
      .frameOverlap(fp, "doc_id", "frame_md5")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val framesPerDoc = expected.count(_._1 == 1L).toLong
    assert(overlap == Set((1L, 3L, framesPerDoc)))
  }

  // ---- p11: n-gram-overlap decontamination -------------------------------

  test("ngramContamination flags a quoted eval passage, not whole-doc similarity") {
    val spark2 = spark
    import spark2.implicits._
    val evalText = (1 to 13).map(i => s"ev$i").mkString(" ") // exactly 13 tokens
    val docs = Seq(
      // Train doc quoting the eval passage verbatim inside unrelated text:
      // the leak p03 (whole-doc md5) and p05 (whole-doc near-dup) miss.
      (1L, s"${(1 to 40).map(i => s"tr$i").mkString(" ")} $evalText ${(41 to 80).map(i => s"tr$i").mkString(" ")}", "train"),
      // Unrelated train doc — must not be flagged.
      (2L, (1 to 60).map(i => s"other$i").mkString(" "), "train"),
      // Train doc sharing only a 12-token prefix of the passage: under the
      // 13-gram rule that is NOT contamination.
      (3L, s"${(1 to 30).map(i => s"pre$i").mkString(" ")} ${(1 to 12).map(i => s"ev$i").mkString(" ")}", "train"),
      (100L, evalText, "test"),
      (101L, s"$evalText trailing words here", "valid"))
      .toDF("doc_id", "text", "split")
    val out = graft.operators.Sampling
      .ngramContamination(docs, "doc_id", "text", "split", n = 13)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Doc 1 shares exactly ONE distinct 13-gram (the passage) with docs
    // 100 and 101; first_eval_id is the deterministic min. Docs 2/3 clean.
    assert(rows.toSet == Set((1L, 1L, 100L)))
    // The eval grams are broadcast: corpus-side scan must hash-join a
    // broadcast relation, never shuffle the train grams to a sort-merge.
    out.queryExecution.toRdd.count()
    val bhj = allNodes(out.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, "expected the eval gram set to be broadcast")
  }

  test("epochRepeat: boundary weights exact, epochs dense, placement-independent") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, 0L), (2L, 10000L), (3L, 5000L), (4L, 3333L))
      .toDF("doc_id", "w_bp")
    val out = graft.operators.Sampling.epochRepeat(docs, "doc_id", "w_bp", maxEpochs = 4)
    val rows = out.select($"doc_id", $"repeats", $"epoch_idx")
      .as[(Long, Long, Long)].collect()
    val byDoc = rows.groupBy(_._1)
    // Weight 0 => exactly 1 epoch; weight 10000 => exactly maxEpochs —
    // the interpolation endpoints are deterministic, no Bernoulli at all.
    assert(byDoc(1L).map(_._2).toSet == Set(1L) && byDoc(1L).length == 1)
    assert(byDoc(2L).map(_._2).toSet == Set(4L) && byDoc(2L).length == 4)
    // Interior weights: base DIV is a floor, the Bernoulli adds at most 1,
    // and epoch_idx is dense 1..repeats for every doc.
    for ((id, rs) <- byDoc) {
      val rep = rs.head._2
      assert(rs.forall(_._2 == rep), s"doc $id repeat count not constant")
      assert(rs.map(_._3).sorted.toSeq == (1L to rep), s"doc $id epochs not dense")
      assert(rep >= 1L && rep <= 4L)
    }
    // Placement independence: a repartitioned input yields the identical
    // multiset (the repeat decision is pure content arithmetic).
    val shuffled = graft.operators.Sampling
      .epochRepeat(docs.repartition(7), "doc_id", "w_bp", maxEpochs = 4)
      .select($"doc_id", $"repeats", $"epoch_idx")
      .as[(Long, Long, Long)].collect()
    assert(shuffled.sorted.toSeq == rows.sorted.toSeq)
  }

  test("ngramContamination: sub-n documents are filtered before the HOF") {
    val spark2 = spark
    import spark2.implicits._
    // 12 tokens on both sides: no side can form a 13-gram — and the
    // size(ws) >= n guard must keep sequence(1, size-12) from producing a
    // descending range (Spark's sequence(1, 0) is [1, 0], not empty).
    val docs = Seq(
      (1L, (1 to 12).map(i => s"w$i").mkString(" "), "train"),
      (2L, (1 to 12).map(i => s"w$i").mkString(" "), "test"))
      .toDF("doc_id", "text", "split")
    assert(graft.operators.Sampling
      .ngramContamination(docs, "doc_id", "text", "split", n = 13).count() == 0L)
  }
}
