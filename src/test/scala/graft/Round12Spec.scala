package graft

import org.apache.spark.sql.functions._

import graft.operators.{Sampling, SimilaritySearch}

/** Round-12 cost-debt wave: the t21 one-pass char-stats expression, the
  * aggregate Bloom build (+ sharded variant past 2³⁰ bits), the p22
  * flagged-sliver materialization, the kNN-graph product artifact, and
  * the bench's production-vs-oracle-form accounting. */
class Round12Spec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // ---- t21: CharDiversityStats -------------------------------------------

  /** The round-11 nested-HOF formulation, kept here as the reference twin
    * the compiled expression is pinned against. */
  private def hofStats(textCol: String) = {
    val cs = filter(split(col(textCol), ""), c => c =!= lit(""))
    struct(
      size(cs).cast("long").as("n_chars"),
      size(array_distinct(cs)).cast("long").as("n_kinds"),
      aggregate(
        transform(array_distinct(cs),
          c => size(filter(cs, x => x === c)).cast("long")),
        lit(0L), (a, x) => a + x * x).as("coll"))
  }

  test("char_diversity_stats equals the HOF formulation on the corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(9)) === 0, expr("repeat('aa ', 60)"))
          .otherwise(col("text")).as("text"))
    val both = docs.select(col("doc_id"),
        graft.functions.CharDiversityStats.charDiversityStats(col("text")).as("e"),
        hofStats("text").as("h"))
      .filter(col("e.n_chars") =!= col("h.n_chars") ||
        col("e.n_kinds") =!= col("h.n_kinds") ||
        col("e.coll") =!= col("h.coll"))
    assert(both.isEmpty, s"drift: ${both.take(3).toSeq}")
  }

  test("char_diversity_stats edge cases: empty, uniform, alphabet growth") {
    val df = Seq(
      (1L, ""),                    // zero chars
      (2L, "aaaa"),                // one kind, coll = 16
      (3L, "abab"),                // two kinds, coll = 8
      (4L, "a b"),                 // space counts as a char kind
      (5L, (0 until 200).map(i => ('a' + i % 26).toChar).mkString)) // table growth
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        graft.functions.CharDiversityStats.charDiversityStats(col("text")).as("s"))
      .select(col("doc_id"), col("s.n_chars"), col("s.n_kinds"), col("s.coll"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 0L, 0L, 0L)))
    assert(got(1) == ((2L, 4L, 1L, 16L)))
    assert(got(2) == ((3L, 4L, 2L, 8L)))
    assert(got(3) == ((4L, 3L, 3L, 3L)))
    val (_, n, kinds, coll) = got(4)
    assert(n == 200L && kinds == 26L)
    // 200 = 26*7 + 18: 18 kinds appear 8x, 8 kinds appear 7x
    assert(coll == 18L * 64 + 8L * 49, s"coll=$coll")
  }

  test("char_diversity_stats counts code points, not UTF-16 units") {
    val got = Seq((1L, "😀a😀")) // 😀a😀
      .toDF("doc_id", "text")
      .select(graft.functions.CharDiversityStats.charDiversityStats(col("text")).as("s"))
      .select(col("s.n_chars"), col("s.n_kinds"), col("s.coll"))
      .as[(Long, Long, Long)].head()
    assert(got == ((3L, 2L, 5L)), s"$got")
  }

  test("t21 keeps its oracle shape through the expression swap") {
    val out = SparkEntry.queries("t21_char_diversity")(spark, dir)
    val planted = out.filter(pmod(col("doc_id"), lit(9)) === 0)
      .select(col("n_chars"), col("n_char_kinds"), col("diversity_bp"),
        col("low_diversity"))
      .distinct().as[(Long, Long, Long, Boolean)].collect()
    // repeat('aa ', 60) = 180 chars, 2 kinds ('a', ' '), coll = 120²+60²
    assert(planted.toSeq == Seq((180L, 2L,
      10000L - (120L * 120 + 60L * 60) * 10000 / (180L * 180), true)))
  }

  test("wordNgrams (codegen'd WordShingles) equals the HOF reference element-for-element") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (900001L, ""),                          // empty
        (900002L, "a b"),                       // below n
        (900003L, "a  b   c a  b   c a b c"),   // runs of spaces + repeats
        (900004L, (1 to 13).map(_ => "x").mkString(" "))) // one gram, all-dup tokens
        .toDF("doc_id", "text"))
    Seq(2, 3, 13).foreach { n =>
      val drift = docs.select(col("doc_id"),
          Sampling.wordNgrams(col("text"), n).as("e"),
          ReferenceTwins.wordNgramsHof(col("text"), n).as("h"))
        .filter(col("e") =!= col("h"))
      assert(drift.isEmpty,
        s"n=$n drift: ${drift.select(col("doc_id")).take(3).toSeq}")
    }
  }

  // ---- bloom: aggregate build + sharding ---------------------------------

  private def gramFrame(n: Int, tag: String) =
    (0 until n).map(i => s"${tag}_gram_$i").toDF("gram")

  test("the aggregate bloom build is bit-identical to the Column reference build") {
    val grams = gramFrame(4000, "agg")
    val m = 1 << 17
    val fast = Sampling.buildBloomIndex(grams, "gram", mBits = m)
    val ref = ReferenceTwins.buildBloomIndexReference(grams, "gram", mBits = m)
    assert(java.util.Arrays.equals(fast.bits, ref.bits),
      "aggregate build drifted from the bloomPositions reference")
    assert(fast.mBits == ref.mBits && fast.k == ref.k)
  }

  test("sharded bloom: 2-shard verdicts equal the unsharded filter's") {
    val grams = gramFrame(5000, "in")
    val flat = Sampling.buildBloomIndex(grams, "gram")
    val sharded = Sampling.buildShardedBloomIndex(grams, "gram", nShards = 2)
    assert(sharded.nShards == 2)
    val probes = gramFrame(5000, "in").union(gramFrame(20000, "out"))
      .select(array(col("gram")).as("gs"),
        Sampling.bloomContainsAny(flat)(array(col("gram"))).as("flat"),
        Sampling.shardedBloomContainsAny(sharded)(array(col("gram"))).as("shd"))
    // members: both must be true (one-sided error, both filters)
    val memberMiss = probes.limit(5000).filter(!col("flat") || !col("shd")).count()
    assert(memberMiss == 0L, s"$memberMiss members missed")
    // whole population: verdicts agree (both filters sized to ~3e-7 FP;
    // deterministic data, so any disagreement is a real drift)
    val disagree = probes.filter(col("flat") =!= col("shd")).count()
    assert(disagree == 0L, s"$disagree verdicts disagree")
  }

  test("sharded bloom: both shards carry load and save/load round-trips") {
    val idx = Sampling.buildShardedBloomIndex(gramFrame(8000, "s"), "gram",
      nShards = 2)
    def popcount(bits: Array[Long]) = bits.map(java.lang.Long.bitCount(_).toLong).sum
    val loads = idx.shards.map(popcount)
    assert(loads.forall(_ > 0), s"empty shard: ${loads.toSeq}")
    // the shard draw splits ~evenly (hash balance, wide margin)
    assert(loads.max < loads.min * 2, s"skewed shards: ${loads.toSeq}")
    val d = tmpDir("shbloom")
    idx.save(spark, d)
    val back = Sampling.loadShardedBloomIndex(spark, d)
    assert(back.nShards == idx.nShards && back.mBitsPerShard == idx.mBitsPerShard
      && back.k == idx.k && back.nItems == idx.nItems)
    idx.shards.zip(back.shards).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
  }

  test("sharded bloom with nShards=1 probes bit-identically to BloomContainsAny") {
    val grams = gramFrame(3000, "one")
    val flat = Sampling.buildBloomIndex(grams, "gram", mBits = 1 << 17)
    val one = Sampling.ShardedBloomIndex(Array(flat.bits), flat.mBits, flat.k,
      flat.nItems)
    val disagree = gramFrame(3000, "one").union(gramFrame(9000, "x"))
      .select(Sampling.bloomContainsAny(flat)(array(col("gram"))).as("a"),
        Sampling.shardedBloomContainsAny(one)(array(col("gram"))).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(disagree == 0L)
  }

  // ---- p22: flagged-sliver materialization -------------------------------

  test("p22 materialized equals the single-tree plan row-for-row") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("split", Sampling.assignSplit(col("doc_id")))
    val evalGrams = Sampling.evalGramTable(
      docs.filter(col("split") =!= "train"), "doc_id", "text", n = 13)
    val idx = Sampling.buildBloomIndex(evalGrams.select(col("gram")), "gram")
    val train = docs.filter(col("split") === "train")
    val mat = Sampling.bloomVerifiedContamination(train, "doc_id", "text",
      idx, evalGrams).as[(Long, Long, Long)].collect().toSet
    // The reference: p11's one-stage exact join over the same split — the
    // checkpointed bloom prefilter may only shrink the probe side, never
    // change a row.
    val tree = Sampling.ngramContamination(docs, "doc_id", "text", "split", n = 13)
      .as[(Long, Long, Long)].collect().toSet
    assert(mat == tree, s"materialization changed rows: ${mat -- tree} / ${tree -- mat}")
    assert(mat.nonEmpty, "construction must produce leaks")
  }

  // ---- kNN graph artifact ------------------------------------------------

  private def twinned = {
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    base.unionByName(base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
  }

  test("buildKnnGraph: byte-identical twins are mutual rank-1 edges; save/load round-trips") {
    val g = SimilaritySearch.buildKnnGraph(twinned, "vec_id", "embedding", k = 3)
    val edges = g.edges.as[(Long, Long, Double, Long)].collect()
    assert(edges.nonEmpty)
    // every twin's rank-1 neighbour is its original (cos = 1, smallest id
    // tie-break) — identical vectors share every LSH bucket
    val twinTop = edges.filter(e => e._1 >= 100000L && e._4 == 1L)
    assert(twinTop.length == 10, s"${twinTop.length} twin rank-1 edges")
    twinTop.foreach { case (src, dst, cos, _) =>
      assert(dst == src - 100000L && cos > 0.9999, s"($src, $dst, $cos)")
    }
    val d = tmpDir("knng")
    g.save(d)
    val back = SimilaritySearch.loadKnnGraph(spark, d)
    assert(back.k == 3)
    assert(back.edges.as[(Long, Long, Double, Long)].collect().toSet ==
      edges.toSet)
    val deg = g.degreeStats.as[(Long, Long, Double, Double)].collect()
    assert(deg.forall(r => r._2 >= 1L && r._2 <= 3L))
  }

  test("appendKnnGraph: delta twins link to their originals in BOTH directions") {
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val g0 = SimilaritySearch.buildKnnGraph(base, "vec_id", "embedding", k = 3)
    val g1 = SimilaritySearch.appendKnnGraph(g0, twinned, "vec_id", "embedding",
      isNew = col("vec_id") >= 100000L)
    val edges = g1.edges.as[(Long, Long, Double, Long)].collect()
    // delta → original: rank 1 at cos ~ 1
    val fwd = edges.filter(e => e._1 >= 100000L && e._4 == 1L)
    assert(fwd.length == 10 && fwd.forall(e => e._2 == e._1 - 100000L),
      s"fwd: ${fwd.toSeq}")
    // original → delta: the reverse merge must promote the twin to rank 1
    (0L until 10L).foreach { id =>
      val top = edges.filter(e => e._1 == id && e._4 == 1L).head
      assert(top._2 == id + 100000L && top._3 > 0.9999, s"old node $id top: $top")
    }
  }

  test("knnGraphDedup drops every planted twin to its original keeper") {
    val g = SimilaritySearch.buildKnnGraph(twinned, "vec_id", "embedding", k = 3)
    val verdicts = SimilaritySearch.knnGraphDedup(g, threshold = 0.95)
      .as[(Long, Boolean, java.lang.Long)].collect()
    val dropped = verdicts.filter(!_._2)
    assert(dropped.length == 10, s"${dropped.length} drops")
    dropped.foreach { case (id, _, keeper) =>
      assert(id >= 100000L && keeper == id - 100000L, s"($id, $keeper)")
    }
    // nothing else dropped: natural max cosine in the corpus ~ 0.6
    assert(verdicts.count(_._2) == verdicts.length - 10)
  }

  test("p23 sharded decontamination emits exactly p21's verdict frame") {
    val p21 = SparkEntry.queries("p21_bloom_decontam")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val p23 = SparkEntry.queries("p23_sharded_bloom_decontam")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(p23 == p21, s"sharding changed the verdict frame: " +
      s"${(p23 -- p21).take(3)} / ${(p21 -- p23).take(3)}")
    assert(p21.nonEmpty)
  }

  test("s14 graph dedup agrees with s05's cell-bounded drop set on the planted corpus") {
    val s14 = SparkEntry.queries("s14_graph_dedup")(spark, dir)
      .filter(!col("keep"))
      .select(col("id").as("dup_id"), col("keeper"))
      .as[(Long, Long)].collect().toSet
    // s05 augments vec_id < 25 with PERTURBED copies; s14's corpus twins
    // vec_id < 10 byte-identically — compare against the construction,
    // not s05's frame: both recipes must drop every planted copy to its
    // original.
    assert(s14 == (0L until 10L).map(i => (i + 100000L, i)).toSet, s"$s14")
  }

  test("s15 graph components are exactly the planted twin doubletons") {
    val got = SparkEntry.queries("s15_graph_components")(spark, dir)
      .as[(Long, Long)].collect().toSet
    val want = (0L until 10L).flatMap(i =>
      Seq((i, i), (i + 100000L, i))).toSet
    assert(got == want, s"${got -- want} / ${want -- got}")
  }

  test("shardedBloomDecontamStream: stateless sharded gate matches the batch verdict on replay") {
    import java.sql.Timestamp
    import graft.streaming.EventStreams
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val passage = (1 to 13).map(i => s"ev$i").mkString(" ")
    val evalGrams = Sampling.evalGramTable(
      Seq((100L, passage)).toDF("doc_id", "text"), "doc_id", "text", 13)
    val idx = Sampling.buildShardedBloomIndex(
      evalGrams.select($"gram"), "gram", nShards = 2)
    val leaky = s"${(1 to 20).map(i => s"t$i").mkString(" ")} $passage"
    val clean = (1 to 40).map(i => s"c$i").mkString(" ")
    val memStream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, String)](spark, 1)
    val q = EventStreams.shardedBloomDecontamStream(
        memStream.toDS().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", idx)
      .writeStream.outputMode("append").format("memory")
      .queryName("shbloom_out").start()
    try {
      memStream.addData((201L, ts(0), leaky), (202L, ts(1), clean))
      q.processAllAvailable()
      memStream.addData((201L, ts(2), leaky)) // replay: stateless re-derive
      q.processAllAvailable()
      val got = spark.table("shbloom_out")
        .select($"new_id", $"bloom_hit").as[(Long, Boolean)].collect().toSeq
      assert(got.count(_ == (201L, true)) == 2, s"replay verdict drifted: $got")
      assert(got.contains((202L, false)), s"clean doc flagged: $got")
    } finally q.stop()
  }

  test("connectedComponents: distributed loop ≡ driver-local union-find (forced past the bound)") {
    import graft.operators.Dedup
    // chain (multi-hop transitivity), triangle, pair, plus a star whose
    // center is the LARGEST id (forces union-toward-smaller relabeling)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
        (10L, 12L), (20L, 21L), (99L, 30L), (99L, 31L), (99L, 32L))
      .toDF("a_id", "b_id")
    val local = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, "a_id", "b_id",
        maxLocalEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == dist, s"${local.toSeq.sorted} vs ${dist.toSeq.sorted}")
    assert(local(99L) == 30L && local(4L) == 1L)
  }

  test("t23 piiSignals: hand-computed counts, clean docs scrub clean, redaction is total") {
    import graft.operators.{TextAnalysis => TA}
    val df = Seq(
      (1L, "no pii here at all"),
      (2L, "contact me at user5@example.com or +1 555-123-4567 from 10.0.0.5"),
      (3L, "two mails a@b.co and c.d@e-f.org one ip 192.168.0.1"),
      (4L, "digits 1234567 but no pii shapes"))
      .toDF("doc_id", "text")
    val got = TA.piiSignals(df, "doc_id", "text")
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        col("has_pii"))
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 0L, 0L, 0L, false)))
    assert(got(1) == ((2L, 1L, 1L, 1L, true)))
    assert(got(2) == ((3L, 2L, 0L, 1L, true)))
    assert(got(3) == ((4L, 0L, 0L, 0L, false)))
    // redaction removes every match: re-scanning the redacted text of the
    // PII docs must count zero (compute the redacted text inline)
    val redacted = df.select(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), TA.PiiEmailRe, "<EMAIL>"),
            TA.PiiPhoneRe, "<PHONE>"),
          TA.PiiIpRe, "<IP>").as("rt"))
    val residue = TA.piiSignals(redacted.withColumn("doc_id", lit(0L)),
        "doc_id", "rt")
      .filter(col("has_pii")).count()
    assert(residue == 0L, "redacted text still matches a PII pattern")
  }

  // ---- bench accounting --------------------------------------------------

  test("formatJson: oracle forms surface as twin_overhead + full-doc breakdown") {
    val results = Seq("a" -> 1.0, "b" -> 0.5, "c" -> 0.25)
    val (compact, full) = Bench.formatJson(results, Nil, "/sf",
      oracleForms = Seq("a" -> 3.0, "b" -> 1.5))
    assert(compact.contains(""""twin_overhead":3"""), compact)
    assert(full.contains(""""oracle_forms":{"a":3,"b":1.5}"""), full)
    assert(full.contains(""""twin_overhead":3"""))
    // headline value stays the production total
    assert(compact.contains(""""value":1.75"""))
    // no oracle forms -> no key
    val (c2, f2) = Bench.formatJson(results, Nil, "/sf")
    assert(!c2.contains("twin_overhead") && !f2.contains("oracle_forms"))
  }

  test("every production override points at an existing oracle query") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.productionQueries.keySet -- qs
    assert(missing.isEmpty, s"overrides without oracle forms: $missing")
  }

  test("production overrides execute and stay nonempty at sf0.001") {
    SparkEntry.productionQueries.foreach { case (name, q) =>
      assert(q(spark, dir).count() > 0, s"$name production plan is empty")
    }
  }

  // ---- round-12 late wave 3: t24 / d26 / q55 ground truth -----------------

  test("t24 encodingSignals: planted payload counts, clean docs, strip md5") {
    val payload = " caf\u00c3\u00a9 \u00e2\u0080\u0098mis\u00e2\u0080\u0099 " +
      "nb\u00c2\u00a0sp x\ufffdy bell\u0007end"
    val df = Seq((1L, "hello world" + payload), (2L, "hello world")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.encodingSignals(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // Planted: 4 mojibake digraphs; 1 replacement char; ctrl = BEL plus the
    // C1 bytes visible inside the curly-quote digraphs (0x80 x2, 0x98, 0x99).
    assert(got(0).getLong(1) == 4 && got(0).getLong(2) == 1 && got(0).getLong(3) == 5)
    assert(got(0).getBoolean(4))
    // Strip removes whole digraphs first (leftmost-first alternation), so
    // the C1 bytes inside them never strip separately.
    val strippedExpected = "hello world caf mis nbsp xy bellend"
    assert(got(0).getString(5) ==
      graft.sources.pgwire.PgWire.md5Hex(strippedExpected.getBytes("UTF-8")))
    // Clean doc: zero counts, not suspect, digest of the untouched text.
    assert(got(1).getLong(1) == 0 && got(1).getLong(2) == 0 && got(1).getLong(3) == 0)
    assert(!got(1).getBoolean(4))
    assert(got(1).getString(5) ==
      graft.sources.pgwire.PgWire.md5Hex("hello world".getBytes("UTF-8")))
  }

  test("d26 templateDedup: volatile slots collapse, threshold binds, keep-first") {
    val df = Seq(
      (10L, "order 12 confirmed today"),
      (11L, "order 999 confirmed today"),
      (12L, "order 7 confirmed today"),
      (20L, "a unique document"),
      (21L, "spaced   out    text"),
      (22L, "spaced out text") // same mask as 21 but cluster of 2 < 3
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.templateDedup(df, "doc_id", "text", minCluster = 3)
      .orderBy("doc_id").collect()
    val byId = got.map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(byId(10L) == ((true, true)), "cluster keeper survives")
    assert(byId(11L) == ((true, false)) && byId(12L) == ((true, false)))
    assert(byId(20L) == ((false, true)))
    assert(byId(21L) == ((false, true)) && byId(22L) == ((false, true)),
      "sub-threshold mask collisions stay untouched")
    // 21 and 22 share a template hash (whitespace collapse) - the mask works.
    val hashes = got.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hashes(21L) == hashes(22L) && hashes(20L) != hashes(21L))
  }

  test("q55 windowed distinct: frame-bounded variety counts by hand") {
    val df = Seq(
      (1L, 100L, "2024-01-01 00:00:01", "view"),
      (2L, 100L, "2024-01-01 00:00:02", "view"),
      (3L, 100L, "2024-01-01 00:00:03", "click"),
      (4L, 100L, "2024-01-01 00:00:04", "buy"),
      (5L, 200L, "2024-01-01 00:00:05", "view")
    ).toDF("event_id", "user_id", "ts_s", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, 0) // frame of 3 for the hand example
    val got = df.select(col("event_id"),
        size(array_distinct(collect_list(col("event_type")).over(w)))
          .cast("long").as("d"))
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 1L)),
      "frame drops event 1 by row 4: distinct(view,click,buy)=3; user 200 isolated")
  }

  test("templateAdmitStream: stream-static probe of the templated-set artifact, stateless replay") {
    import java.sql.Timestamp
    import graft.streaming.EventStreams
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val corpus = Seq(
      (1L, "order 12 confirmed today"), (2L, "order 99 confirmed today"),
      (3L, "order 7 confirmed today"), (4L, "novel prose one"),
      (5L, "novel prose two")).toDF("doc_id", "text")
    val idx = graft.operators.Dedup.buildTemplateIndex(corpus, "doc_id", "text")
    assert(idx.count() == 1, "exactly the planted template clusters")
    val memStream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, String)](spark, 1)
    val q = EventStreams.templateAdmitStream(
        memStream.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", idx)
      .writeStream.outputMode("append").format("memory")
      .queryName("tmpl_out").start()
    try {
      memStream.addData((201L, ts(0), "order 55555 confirmed today"),
        (202L, ts(1), "completely fresh text"))
      q.processAllAvailable()
      memStream.addData((201L, ts(2), "order 55555 confirmed today")) // replay
      q.processAllAvailable()
      val got = spark.table("tmpl_out")
        .select($"new_id", $"admit").as[(Long, Boolean)].collect().toSeq
      assert(got.count(_ == (201L, false)) == 2, s"template instance must be rejected on every replay: $got")
      assert(got.contains((202L, true)), s"novel doc must admit: $got")
    } finally q.stop()
  }

  test("encodingGateStream: row-local anomaly gate equals the batch verdict") {
    import java.sql.Timestamp
    import graft.streaming.EventStreams
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val dirty = "broken caf\u00c3\u00a9 text"
    val clean = "plain ascii text"
    val memStream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, String)](spark, 1)
    val q = EventStreams.encodingGateStream(
        memStream.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts")
      .writeStream.outputMode("append").format("memory")
      .queryName("enc_out").start()
    try {
      memStream.addData((301L, ts(0), dirty), (302L, ts(1), clean))
      q.processAllAvailable()
      val got = spark.table("enc_out")
        .select($"new_id", $"n_moji", $"admit").as[(Long, Long, Boolean)]
        .collect().map { case (k, v, a) => k -> ((v, a)) }.toMap
      assert(got(301L) == ((1L, false)) && got(302L) == ((0L, true)))
      // stream gate == batch op verdict on the same rows
      val batch = graft.operators.TextAnalysis.encodingSignals(
          Seq((301L, dirty), (302L, clean)).toDF("doc_id", "text"), "doc_id", "text")
        .select($"doc_id", !$"is_suspect").as[(Long, Boolean)].collect().toMap
      assert(batch(301L) == got(301L)._2 && batch(302L) == got(302L)._2)
    } finally q.stop()
  }

  test("BucketWeightSum: bucket draw is md5-identical to Sampling.hashBucket") {
    val grams = Seq("alpha", "beta gamma", "x", "", "Ünïcode tok")
    val buckets = 64
    // One-hot weight probes: w[b] = b, so the sum of a single-gram array
    // IS its bucket index.
    val w = Array.tabulate(buckets)(_.toDouble)
    val df = grams.toDF("g").select(col("g"),
      graft.functions.BucketWeightSum.bucketWeightSum(array(col("g")), w).as("viaExpr"),
      Sampling.hashBucket(col("g"), buckets).cast("double").as("viaSql"))
    df.collect().foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"bucket drift on '${r.getString(0)}'")
    }
  }

  test("row-local DSIR scoring is bit-identical to the joined reference") {
    val d = graft.sources.Sources.table(spark, dir, "documents")
    val model = Sampling.dsirModelTable(d, "text",
      isTarget = col("source") === "src0", buckets = 256)
    val a = Sampling.dsirScoreAgainst(d, "doc_id", "text", model)
      .as[(Long, Long, Long, Double)].collect().toSet
    val b = ReferenceTwins.dsirScoreAgainstJoined(d, "doc_id", "text", model)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(a == b, "integer-bp weights: the double sum must be exact")
    assert(a.nonEmpty)
  }

  test("row-local quality scoring equals the joined reference within FP reorder") {
    val d = graft.sources.Sources.table(spark, dir, "documents")
    val clf = graft.operators.TextAnalysis.trainQualityClassifier(
      d, "doc_id", "text", isSeed = col("source") === "src0", buckets = 256)
    val a = graft.operators.TextAnalysis
      .scoreQualityClassifier(d, "doc_id", "text", clf)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val b = ReferenceTwins
      .scoreQualityClassifierJoined(d, "doc_id", "text", clf)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (id, (n, q)) =>
      assert(n == b(id)._1, s"gram count drift on $id")
      // The joined form summed doubles in shuffle order (itself
      // nondeterministic); after the 4-digit round the two agree.
      assert(math.abs(q - b(id)._2) < 5e-5, s"quality drift on $id: $q vs ${b(id)._2}")
    }
  }

  test("ivfPqCandidates: one artifact per index pair, lineage CUT (the 8.10 fix)") {
    val emb = graft.sources.Sources.table(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val norm = emb.select(col("vec_id"),
      SimilaritySearch.l2normalizeCol(col("v")).as("__vn"))
    val ivf = SimilaritySearch.buildIvfIndex(norm, "vec_id", "__vn",
      nCells = 8, persist = false)
    val pq = SimilaritySearch.buildPqIndex(norm, "vec_id", "__vn",
      m = 8, k = 16, persist = false)
    val a = SimilaritySearch.ivfPqCandidates(ivf, pq)
    val b = SimilaritySearch.ivfPqCandidates(ivf, pq)
    assert(a eq b, "the combined artifact must memoize per index pair")
    // localCheckpoint truncates the plan: the artifact's lineage is a
    // materialized scan, NOT the assignment plan with its centroid
    // literal (whose per-action Catalyst cost was the 32x probe defect).
    val lineage = a.queryExecution.analyzed.toString
    assert(lineage.contains("LogicalRDD") || lineage.contains("Scan ExistingRDD"),
      s"lineage not cut:\n${lineage.take(500)}")
    assert(!lineage.contains("word_shingles") && lineage.length < 2000,
      "the artifact drags its build lineage")
    // And the probe actually serves from it.
    val q = norm.limit(2).select(col("vec_id").as("q_id"), col("__vn").as("__qn"))
    assert(SimilaritySearch.probeIvfPq(ivf, pq, q, k = 2).count() > 0)
  }
}

