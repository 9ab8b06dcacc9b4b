package graft

import org.apache.spark.sql.functions._

import graft.PlanLedger.{allNodes, shuffleKeyNames}

/** Round 10c: the paragraph-dedup family (d22 corpus keep-first, d23
  * ingest-time clean over the standing [[graft.operators.Dedup.LineSetIndex]])
  * and d24 soft-dedup sampling weights — ground truth on handcrafted
  * corpora, artifact lifecycle, and plan-shape audits.
  */
class Round10cSpec extends SparkSpecBase {

  private def df(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- d22: corpus-wide paragraph dedup ---------------------------------

  test("paragraphDedup: keep-first across and within documents, rebuild, empty survivors") {
    val docs = df(Seq(
      (1L, "a b c d"),   // both lines original
      (2L, "a b x y"),   // line 0 duplicates doc 1's line 0
      (3L, "c d c d"),   // both lines duplicate doc 1's line 1
      (4L, "e f e f"))) // in-doc repeat: first copy keeps
    val got = graft.operators.Dedup
      .paragraphDedup(docs, "doc_id", "text", lineTokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 2L, 0L, "a b c d"),
      (2L, 2L, 1L, "x y"),
      (3L, 2L, 2L, ""),
      (4L, 2L, 1L, "e f")), s"got ${got.toSeq}")
  }

  test("paragraphDedup: partial tail window is its own line; empty docs drop") {
    val docs = df(Seq((1L, "a b c"), (2L, "c"), (3L, "")))
    val got = graft.operators.Dedup
      .paragraphDedup(docs, "doc_id", "text", lineTokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    // doc 1 = ["a b", "c"]; doc 2 = ["c"] duplicates doc 1's tail line.
    assert(got.toSeq === Seq(
      (1L, 2L, 0L, "a b c"),
      (2L, 1L, 1L, "")), s"got ${got.toSeq}")
  }

  test("d22 plan: no all-pairs stage; shuffles keyed on the line hash and the doc id only") {
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.operators.Dedup.paragraphDedup(docs, "doc_id", "text")
    out.queryExecution.toRdd.count()
    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      s"winner selection must be the hash equi-join, never all-pairs:\n" +
        s"${out.queryExecution.executedPlan}")
    assert(!nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "keep-first must be the partial-combinable min-struct aggregate, " +
        s"never a corpus window:\n${out.queryExecution.executedPlan}")
    shuffleKeyNames(out).foreach { names =>
      assert(names.forall(Set("h", "doc_id")),
        s"d22 shuffles line rows on the hash and the rebuild on the id, got $names")
    }
  }

  // ---- d23: ingest-time paragraph clean ---------------------------------

  private val cleanCorpus = Seq((1L, "a b c d"))
  private val cleanBatch = Seq(
    (10L, "a b x y"),        // "a b" in corpus; "x y" first batch copy
    (11L, "x y c d q r"))    // "x y" batch dup; "c d" in corpus; "q r" new

  test("ingestParagraphClean: corpus precedence, then within-batch keep-first") {
    val idx = graft.operators.Dedup.buildLineSetIndex(
      df(cleanCorpus), "doc_id", "text", lineTokens = 2, persist = false)
    val got = graft.operators.Dedup
      .ingestParagraphClean(df(cleanBatch), idx, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (10L, 2L, 1L, 0L, "x y"),
      (11L, 3L, 1L, 1L, "q r")), s"got ${got.toSeq}")
  }

  test("LineSetIndex: save/load roundtrip preserves geometry and membership") {
    val dir = tmpDir("lineset")
    graft.operators.Dedup.buildLineSetIndex(
      df(cleanCorpus), "doc_id", "text", lineTokens = 2, persist = false).save(dir)
    val loaded = graft.operators.Dedup.loadLineSetIndex(spark, dir)
    assert(loaded.lineTokens === 2, "window width must ride in the artifact")
    val got = graft.operators.Dedup
      .ingestParagraphClean(df(cleanBatch), loaded, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(4))).sortBy(_._1)
    assert(got.toSeq === Seq((10L, "x y"), (11L, "q r")))
  }

  test("LineSetIndex: append folds an admitted batch in; compact restores distinctness") {
    val dir = tmpDir("lineset-c")
    val idx0 = graft.operators.Dedup.buildLineSetIndex(
      df(cleanCorpus), "doc_id", "text", lineTokens = 2, persist = false)
    // Admit batch doc 10's CLEANED text (the ingest-fold contract) and a
    // line that already exists in the corpus (tests compact's re-distinct).
    val idx1 = idx0.append(df(Seq((10L, "x y a b"))), "doc_id", "text",
      persist = false)
    // A second batch arriving after the fold: "x y" must now be corpus-cut.
    val got1 = graft.operators.Dedup
      .ingestParagraphClean(df(Seq((20L, "x y n n"))), idx1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
    assert(got1.toSeq === Seq((20L, 1L, "n n")), s"got ${got1.toSeq}")
    // Compact: "a b" was stored twice (corpus + append); afterwards the
    // flat artifact holds each hash once and probes identically.
    val idx2 = idx1.compact(dir, persist = false)
    assert(idx2.hashes.count() ===
      idx2.hashes.distinct().count(), "compact must restore global distinctness")
    val got2 = graft.operators.Dedup
      .ingestParagraphClean(df(Seq((21L, "x y a b p q"))), idx2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
    assert(got2.toSeq === Seq((21L, 2L, "p q")), s"got ${got2.toSeq}")
  }

  test("d23 plan: batch-sized probe — no corpus text scan, no all-pairs, hash/id shuffles only") {
    val all = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val delta = all.filter(pmod(col("doc_id"), lit(10)) === 7)
    val corpus = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val idx = graft.operators.Dedup.buildLineSetIndex(
      corpus, "doc_id", "text", persist = false)
    val out = graft.operators.Dedup.ingestParagraphClean(delta, idx, "doc_id", "text")
    out.queryExecution.toRdd.count()
    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      s"membership must be the hash equi-join:\n${out.queryExecution.executedPlan}")
    shuffleKeyNames(out).foreach { names =>
      assert(names.forall(Set("h", "doc_id")),
        s"d23 shuffles line rows on the hash and the rebuild on the id, got $names")
    }
  }

  // ---- d24: soft-dedup sampling weights ---------------------------------

  test("softDedupWeights: integer-bp discount per cluster, singletons at full weight") {
    val s = spark
    import s.implicits._
    val docs = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (6L, 6L), (7L, 6L))
      .toDF("id", "cluster")
    val got = graft.operators.Dedup
      .softDedupWeights(docs, clusters, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 3L, 3333L), (2L, 3L, 3333L), (3L, 3L, 3333L),
      (4L, 1L, 10000L), (5L, 1L, 10000L),
      (6L, 2L, 5000L), (7L, 2L, 5000L), (8L, 1L, 10000L)),
      s"got ${got.toSeq}")
  }

  test("softDedupWeights composes with epochRepeat: duplicated docs earn fewer epochs") {
    val s = spark
    import s.implicits._
    // epochRepeat targets weight_bp x (maxEpochs - 1) + 10000: at 3 epochs
    // a pair-cluster doc (5000 bp) lands exactly 2 repeats, a singleton
    // (10000 bp) exactly 3 — integral targets, so fully deterministic.
    val docs = (1L to 3L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster")
    val weights = graft.operators.Dedup.softDedupWeights(docs, clusters, "doc_id")
    val got = graft.operators.Sampling
      .epochRepeat(weights, "doc_id", "weight_bp", maxEpochs = 3)
      .groupBy(col("doc_id")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 2L), (2L, 2L), (3L, 3L)), s"got ${got.toSeq}")
  }

  // ---- t19: perplexity buckets ------------------------------------------

  test("perplexityBuckets: tertile partition per language, score-ordered, head never empty") {
    val s = spark
    import s.implicits._
    // 9 docs per language with graded repetition of the high-frequency
    // bigram "a a": more repetition = higher LM score. Languages get
    // disjoint vocabularies so their score distributions differ and the
    // cuts must be computed per-language to partition correctly.
    def doc(lang: String, i: Int): (Long, String, String) = {
      val common = Seq.fill(i + 1)(s"${lang}a").mkString(" ")
      val unique = (1 to (10 - i)).map(j => s"${lang}u${i}_$j").mkString(" ")
      ((lang.hashCode.toLong << 8) + i, s"$common $unique", lang)
    }
    val docs = (1 to 9).flatMap(i => Seq(doc("en", i), doc("fr", i)))
      .toDF("doc_id", "text", "lang")
    val got = graft.operators.TextAnalysis
      .perplexityBuckets(docs, "doc_id", "text", "lang")
      .collect()
      .map(r => (r.getString(1), r.getDouble(3), r.getString(4)))
    assert(got.length === 18)
    for (lang <- Seq("en", "fr")) {
      val byBucket = got.filter(_._1 == lang).groupBy(_._3)
        .view.mapValues(_.map(_._2).toSeq).toMap
      assert(byBucket.keySet === Set("head", "middle", "tail"),
        s"$lang: 9 distinct scores must split 3/3/3, got ${byBucket.keySet}")
      assert(byBucket("head").size === 3 && byBucket("middle").size === 3 &&
        byBucket("tail").size === 3, s"$lang: got $byBucket")
      assert(byBucket("head").min >= byBucket("middle").max,
        s"$lang: head scores must dominate middle: $byBucket")
      assert(byBucket("middle").min >= byBucket("tail").max,
        s"$lang: middle scores must dominate tail: $byBucket")
    }
  }

  test("t19 plan: cut table joins as broadcast hash; only t14's scalar vocab cross join is nested-loop") {
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.operators.TextAnalysis
      .perplexityBuckets(docs, "doc_id", "text", "lang")
    out.queryExecution.toRdd.count()
    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      s"no cartesian stage:\n${out.queryExecution.executedPlan}")
    // The single tolerated nested-loop is the 1-row vocab scalar
    // broadcast inside lmLikelihoodScore (a Cross of a 1-row aggregate —
    // the t14 plan); everything else must be a hash equi-join.
    val bnl = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.size <= 1 && bnl.forall(_.joinType.sql == "CROSS"),
      s"only the scalar vocab cross join may be nested-loop:\n" +
        s"${out.queryExecution.executedPlan}")
    val cutJoin = nodes.exists {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.leftKeys.exists(_.references.exists(_.name == "lang"))
      case _ => false
    }
    assert(cutJoin, "the |langs|-row cut table must broadcast-hash-join on lang")
  }

  // ---- p18: training-shard manifest -------------------------------------

  test("shardManifest: complete, contiguous zero-based positions, deterministic, order-invariant") {
    val s = spark
    import s.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val m1 = graft.operators.Packing.shardManifest(docs, "doc_id", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Every doc exactly once, shards in range.
    assert(m1.map(_._1).sorted.toSeq === (1L to 200L))
    assert(m1.forall(r => r._2 >= 0 && r._2 < 8))
    // Positions within each shard are 0..size-1 with no gaps.
    m1.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq,
        s"shard $shard positions must be contiguous from 0")
    }
    // Deterministic and independent of physical input order.
    val m2 = graft.operators.Packing
      .shardManifest(docs.orderBy(col("doc_id").desc).repartition(7), "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(m1.sortBy(_._1).toSeq === m2.sortBy(_._1).toSeq,
      "the manifest is a pure function of ids, never of physical placement")
  }

  test("shardManifest: within-shard order is the md5 order, not ingest order") {
    val s = spark
    import s.implicits._
    val docs = (1L to 50L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val m = graft.operators.Packing.shardManifest(docs, "doc_id", nShards = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._2)
    assert(m.map(_._1).toSeq !== (1L to 50L).toSeq,
      "a shuffled shard must not replay ingest order")
    // The order IS rank by md5(id): recompute driver-side and compare.
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(l: Long): String = md.digest(l.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want = (1L to 50L).sortBy(i => (hex(i), i))
    assert(m.map(_._1).toSeq === want.toSeq)
  }

  // ---- s12: sparse lexical cosine pairs ---------------------------------

  test("sparseCosinePairs: exact hand-computed cosines over trigram counts") {
    val docs = df(Seq(
      (1L, "a b c a b c a b c"), // tf: "a b c":3, "b c a":2, "c a b":2, n2=17
      (2L, "a b c a b c a b c"), // identical -> cos 1.0 with doc 1
      (3L, "a b c x y z")))      // shares "a b c" once: dot=3, n2=4
    val got = graft.operators.SimilaritySearch
      .sparseCosinePairs(docs, "doc_id", "text", threshold = 0.3, ngram = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))
    // 3 / (sqrt(17) * sqrt(4)) = 0.36380... -> 0.3638
    assert(got.toSeq === Seq(
      (1L, 2L, 1.0), (1L, 3L, 0.3638), (2L, 3L, 0.3638)), s"got ${got.toSeq}")
  }

  test("sparseCosinePairs: the df cap drops stopword-like terms from the vocabulary") {
    val docs = df(Seq(
      (1L, "a b c a b c a b c"),
      (2L, "a b c a b c a b c"),
      (3L, "a b c x y z")))
    // cap 2: "a b c" (df 3) leaves the vocabulary; docs 1/2 still match
    // on their df-2 terms at cos 1.0, doc 3 has no surviving shared term.
    val got = graft.operators.SimilaritySearch
      .sparseCosinePairs(docs, "doc_id", "text", threshold = 0.3,
        maxTermDocs = 2, ngram = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0)), s"got ${got.toSeq}")
  }

  test("s12 plan: postings equi-join only — no all-pairs stage; term/id-keyed shuffles") {
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.operators.SimilaritySearch
      .sparseCosinePairs(docs, "doc_id", "text", threshold = 0.9, ngram = 3)
    out.queryExecution.toRdd.count()
    val nodes = allNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
      n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      s"candidate generation must be the postings equi-join:\n" +
        s"${out.queryExecution.executedPlan}")
    shuffleKeyNames(out).foreach { names =>
      // "th" = the xxhash64'd term key (round 11: grams hash scan-side, so
      // no exchange ever moves an n-gram string).
      assert(names.forall(Set("id", "th", "a_id", "b_id")),
        s"s12 shuffles postings and pair/norm aggregates only, got $names")
    }
  }

  // ---- p19: shard checksums ---------------------------------------------

  test("shardChecksums: order-free, partition-invariant, flips on any single-doc change") {
    val s = spark
    import s.implicits._
    val docs = (1L to 100L).map(i => (i, s"content of document $i")).toDF("doc_id", "text")
    val base = graft.operators.Packing
      .shardChecksums(docs, "doc_id", "text", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(base.map(_._2).sum === 100L, "every doc lands in exactly one shard")
    // Physical order and partitioning must not matter (xor is order-free).
    val shuffled = graft.operators.Packing
      .shardChecksums(docs.orderBy(col("doc_id").desc).repartition(7),
        "doc_id", "text", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(base.toSeq === shuffled.toSeq)
    // A one-document edit flips exactly that document's shard checksum.
    val edited = docs.withColumn("text",
      when(col("doc_id") === 42L, lit("tampered")).otherwise(col("text")))
    val after = graft.operators.Packing
      .shardChecksums(edited, "doc_id", "text", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val changed = base.zip(after).filter { case (a, b) => a._3 != b._3 }
    assert(changed.size === 1, s"exactly one shard checksum must flip: $changed")
    assert(base.zip(after).forall { case (a, b) => a._2 == b._2 },
      "counts are untouched by a content edit")
  }

  // ---- t20: C4 blocklist filter -----------------------------------------

  test("blocklistFilter: occurrences counted, C4 zero-hit keep, empty docs keep") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "ok words here"),
      (2L, "bad bad ok"),   // duplicate occurrences both count
      (3L, ""),              // no tokens: must still emit, keep
      (4L, "bad")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .blocklistFilter(docs, "doc_id", "text", Seq("bad", "worse").toDF("word"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 3L, 0L, true),
      (2L, 3L, 2L, false),
      (3L, 0L, 0L, true),
      (4L, 1L, 1L, false)), s"got ${got.toSeq}")
  }

  // ---- m07: perceptual dedup apply --------------------------------------

  test("perceptualDedupApply: re-encoded copies drop, originals and singletons survive") {
    val s = spark
    import s.implicits._
    val M = graft.multimodal.Multimodal
    def payload(seed: Char): String =
      (0 until 128).map(i => (('a' + ((seed + i * 7) % 20)).toChar)).mkString
    val docs = Seq(
      (1L, payload('a')), (2L, payload('q')),
      (3L, "short")) // < 64 bytes: no frames, never pairs, must survive
      .toDF("doc_id", "text")
    val media = M.asMediaTable(docs)
    val planted = M.reencodeStub(media.filter(col("doc_id") <= 2), shift = 1,
      idOffset = 1000L)
    val pop = media.unionByName(planted).toDF().select(col("doc_id"))
    val frames = M.sampleFrames(media.unionByName(planted), 64, 4).toDF()
      .select(col("doc_id"),
        graft.functions.DHash64.dhash64(col("frame")).as("fp"))
    val pairs = M.frameOverlap(frames, "doc_id", "fp")
    assert(pairs.count() === 2L, "each re-encode must pair with its original only")
    val got = M.perceptualDedupApply(pop, "doc_id", pairs)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 2L, 3L),
      s"originals + the frameless doc survive, re-encodes drop; got ${got.toSeq}")
  }

  // ---- m08: perceptual near-dup pairs -----------------------------------

  test("frameNearOverlap: a lossy re-encode pairs with its original where exact matching misses") {
    val s = spark
    import s.implicits._
    val M = graft.multimodal.Multimodal
    // Bytes 30/31/32 = 'b','a','b': the lossy +2 bump at position 31
    // flips exactly the two adjacent gradient signs (98>97 -> 98>99 and
    // 97>98 -> 99>98), so fp' differs from fp by Hamming 2 — inside the
    // banding tolerance, outside exact equality.
    val payload = { val a = Array.fill(128)('m'); a(30) = 'b'; a(31) = 'a'; a(32) = 'b'; new String(a) }
    val docs = Seq((1L, payload)).toDF("doc_id", "text")
    val media = M.asMediaTable(docs)
    val lossy = M.reencodeLossyStub(media, idOffset = 100L)
    val frames = M.sampleFrames(media.unionByName(lossy), 64, 4).toDF()
      .select(col("doc_id"),
        graft.functions.DHash64.dhash64(col("frame")).as("fp"))
    assert(M.frameOverlap(frames, "doc_id", "fp").count() === 0L,
      "the exact matcher must miss the lossy copy (fingerprints differ)")
    val near = M.frameNearOverlap(frames, "doc_id", "fp", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(near.toSeq === Seq((1L, 101L, 1L)),
      s"the banded matcher must recover the pair; got ${near.toSeq}")
    // Tighter tolerance than the flip count must reject it again.
    assert(M.frameNearOverlap(frames, "doc_id", "fp", maxHamming = 1)
      .count() === 0L, "Hamming-2 pair must fail a maxHamming=1 verify")
  }

  // ---- q48: funnel analysis ---------------------------------------------

  test("funnelStages: ordered steps within window, greedy first-anchor, no-view users at stage 0") {
    val s = spark
    import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val W = 60000000L // 60s in micros
    val events = Seq(
      // u1: full funnel inside the window
      (1L, ts(0), 1L, "view"), (2L, ts(30), 1L, "click"), (3L, ts(59), 1L, "purchase"),
      // u2: click lands outside the window of the first view
      (4L, ts(0), 2L, "view"), (5L, ts(61), 2L, "click"),
      // u3: no view at all — later steps can never fire
      (6L, ts(0), 3L, "click"), (7L, ts(1), 3L, "purchase"),
      // u4: a pre-funnel purchase is ignored; the funnel then completes
      (8L, ts(0), 4L, "purchase"), (9L, ts(1), 4L, "view"),
      (10L, ts(2), 4L, "click"), (11L, ts(3), 4L, "purchase"),
      // u5: the greedy anchor is the FIRST view — the second view does
      // not re-anchor, so the late click misses (documented semantics)
      (12L, ts(0), 5L, "view"), (13L, ts(50), 5L, "view"), (14L, ts(70), 5L, "click"),
      // u6: only irrelevant events — excluded from the output entirely
      (15L, ts(0), 6L, "error"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.operators.Sessionize
      .funnelStages(events, "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"), W)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 3L), (2L, 1L), (3L, 0L), (4L, 3L), (5L, 1L)),
      s"got ${got.toSeq}")
  }

}
