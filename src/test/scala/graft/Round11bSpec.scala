package graft

import org.apache.spark.sql.functions._

import graft.operators.{Sampling, TextAnalysis}
import graft.streaming.EventStreams

/** Round-11 extension wave: Bloom decontamination (p21 + stream twin),
  * weighted reservoir (p20), char diversity (t21), code router (t22),
  * host cap (d25), kNN graph (s13), and the q51–q54 relational adds. */
class Round11bSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // ---- Bloom filter (p21) -------------------------------------------------

  private def gramFrame(n: Int, tag: String) =
    (0 until n).map(i => s"${tag}_gram_$i").toDF("gram")

  test("bloom: zero false negatives over every inserted gram") {
    val grams = gramFrame(5000, "in")
    val idx = Sampling.buildBloomIndex(grams, "gram")
    val misses = grams
      .filter(!ReferenceTwins.bloomMightContain(idx)(col("gram"))).count()
    assert(misses == 0L, s"$misses inserted grams probed false")
    // round 12: nItems is the sizing ESTIMATE (approx_count_distinct,
    // rsd 5% — deterministic for fixed data) — band, not pin
    assert(math.abs(idx.nItems - 5000L) <= 500L, s"nItems=${idx.nItems}")
  }

  test("bloom: per-gram FP rate sits far under the doc-level budget") {
    val idx = Sampling.buildBloomIndex(gramFrame(5000, "in"), "gram")
    val probes = 20000
    val fp = gramFrame(probes, "out")
      .filter(ReferenceTwins.bloomMightContain(idx)(col("gram"))).count()
    // Sized for ~3e-7 per gram; allow three orders of magnitude of
    // slack and it still guarantees <1% doc-level FP on 30-gram docs.
    assert(fp.toDouble / probes < 3e-4, s"$fp/$probes false positives")
  }

  test("bloom: auto-sizing grows the filter with the reference set") {
    val small = Sampling.buildBloomIndex(gramFrame(100, "a"), "gram")
    val big = Sampling.buildBloomIndex(gramFrame(200000, "b"), "gram")
    assert(small.mBits == (1 << 17), s"floor expected, got ${small.mBits}")
    assert(big.mBits >= 200000 * 32 && big.mBits <= 200000 * 64,
      s"m=${big.mBits} not in [32n, 64n)")
    assert(Integer.bitCount(big.mBits) == 1, "m must stay a power of two")
  }

  test("bloom: save/load roundtrip is bit-exact") {
    val idx = Sampling.buildBloomIndex(gramFrame(3000, "rt"), "gram")
    val d = tmpDir("bloom")
    idx.save(spark, d)
    val back = Sampling.loadBloomIndex(spark, d)
    assert(back.mBits == idx.mBits && back.k == idx.k &&
      back.nItems == idx.nItems)
    assert(back.nShards == 1 && java.util.Arrays.equals(back.shards(0), idx.shards(0)))
  }

  test("bloomContainsAny: the codegen'd probe equals the Column-composed reference on every doc") {
    val idx = Sampling.buildBloomIndex(gramFrame(5000, "in"), "gram")
    // Mixed population: pure members, pure non-members, mixed arrays,
    // empty arrays — the expression must agree with exists+Column per row.
    val rows = (0 until 400).map { i =>
      val grams = i % 4 match {
        case 0 => Seq(s"in_gram_${i % 5000}", s"out_gram_$i")
        case 1 => Seq(s"out_gram_$i", s"out_gram_${i + 1}")
        case 2 => Seq(s"in_gram_${(i * 7) % 5000}")
        case 3 => Seq.empty[String]
      }
      (i.toLong, grams)
    }
    val df = rows.toDF("id", "gs")
    val both = df.select($"id",
        Sampling.bloomContainsAny(idx)($"gs").as("fast"),
        exists($"gs", ReferenceTwins.bloomMightContain(idx)).as("ref"))
      .as[(Long, Boolean, Boolean)].collect()
    assert(both.forall(r => r._2 == r._3),
      s"drift: ${both.filter(r => r._2 != r._3).take(5).toSeq}")
    // And interpreted eval (no codegen) agrees too.
    val interp = graft.functions.BloomContainsAny.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(org.apache.spark.unsafe.types.UTF8String.fromString("in_gram_7"))),
      idx.shards, idx.mBits, idx.k)
    assert(interp, "inserted gram must probe true interpreted")
  }

  test("bloomDecontamination: exact leaks are always bloom-flagged, clean corpus mostly passes") {
    val passage = (1 to 13).map(i => s"ev$i").mkString(" ")
    val evalDocs = Seq((100L, passage)).toDF("doc_id", "text")
    val evalGrams = Sampling.evalGramTable(evalDocs, "doc_id", "text", 13)
    val idx = Sampling.buildBloomIndex(
      evalGrams.select($"gram"), "gram")
    val train = Seq(
      (1L, s"${(1 to 20).map(i => s"a$i").mkString(" ")} $passage tail"),
      (2L, (1 to 40).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 12).map(i => s"ev$i").mkString(" "))) // 12-token near miss
      .toDF("doc_id", "text")
    val out = Sampling.bloomDecontamination(train, "doc_id", "text",
        idx, evalGrams)
      .select($"doc_id", $"exact_hit", $"no_false_neg", $"fp_ok")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(1L, 0L, 0L), s"exact hits: ${out.toSeq}")
    assert(out.forall(_._3 == 1L), "one-sided error violated")
    assert(out.forall(_._4 == 1L), "fp ceiling tripped on a 2-doc corpus")
  }

  test("bloomDecontamStream: stateless probe matches the batch verdict, replay re-derives it") {
    import java.sql.Timestamp
    def ts(m: Long) = new Timestamp(1700000000000L + m * 60000L)
    val passage = (1 to 13).map(i => s"ev$i").mkString(" ")
    val evalGrams = Sampling.evalGramTable(
      Seq((100L, passage)).toDF("doc_id", "text"), "doc_id", "text", 13)
    val idx = Sampling.buildBloomIndex(evalGrams.select($"gram"), "gram")
    val leaky = s"${(1 to 20).map(i => s"t$i").mkString(" ")} $passage"
    val clean = (1 to 40).map(i => s"c$i").mkString(" ")
    val memStream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, String)](spark, 1)
    val q = EventStreams.bloomDecontamStream(
        memStream.toDS().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", idx)
      .writeStream.outputMode("append").format("memory")
      .queryName("bloom_out").start()
    try {
      memStream.addData((201L, ts(0), leaky), (202L, ts(1), clean))
      q.processAllAvailable()
      memStream.addData((201L, ts(2), leaky)) // replay: stateless re-derive
      q.processAllAvailable()
      val got = spark.table("bloom_out")
        .select($"new_id", $"bloom_hit").as[(Long, Boolean)].collect().toSeq
      assert(got.count(_ == (201L, true)) == 2, s"replay verdict drifted: $got")
      assert(got.contains((202L, false)), s"clean doc flagged: $got")
    } finally q.stop()
  }

  test("p22: bloom-prefiltered exact decontamination equals p11's one-stage exact") {
    val p11 = graft.SparkEntry.queries("p11_ngram_decontaminate")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    val p22 = graft.SparkEntry.queries("p22_bloom_verified_decontam")(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(p22 == p11, s"two-stage drifted: ${p22 -- p11} / ${p11 -- p22}")
    assert(p11.nonEmpty, "construction must produce leaks to verify against")
  }

  test("hostQuotaStream: FIFO cap per host, bounded state, replay-idempotent verdicts") {
    import EventStreams.{HostDoc, HostVerdict}
    val memStream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[HostDoc](spark, 1)
    val q = EventStreams.hostQuotaStream(memStream.toDS(), cap = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("quota_out").start()
    try {
      memStream.addData(HostDoc(1L, "a"), HostDoc(2L, "a"), HostDoc(3L, "a"),
        HostDoc(10L, "b"))
      q.processAllAvailable()
      memStream.addData(HostDoc(1L, "a"), HostDoc(3L, "a"), HostDoc(4L, "a"))
      q.processAllAvailable()
      val got = spark.table("quota_out").as[HostVerdict].collect()
        .map(v => (v.doc_id, v.host, v.admitted)).toSeq
      val first = got.take(4).toSet
      assert(first == Set((1L, "a", true), (2L, "a", true), (3L, "a", false),
        (10L, "b", true)), s"first batch: $first")
      val second = got.drop(4).toSet
      // Replays re-derive their original verdicts without consuming quota;
      // the genuinely new doc is rejected because the host is full.
      assert(second == Set((1L, "a", true), (3L, "a", false),
        (4L, "a", false)), s"second batch: $second")
    } finally q.stop()
  }

  // ---- weighted reservoir (p20) ------------------------------------------

  test("weightedReservoir equals the driver-local A-ES reference and ignores partitioning") {
    val rows = (1L to 400L).map(i => (i, 1L + i % 7)).toSeq
    def localKey(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(8)
      val h = java.lang.Long.parseLong(hex, 16)
      math.log((h + 1).toDouble / 4294967297.0) / w
    }
    val expect = rows.sortBy { case (id, w) => (-localKey(id, w), id) }
      .take(25).map(_._1)
    for (parts <- Seq(1, 7)) {
      val got = Sampling.weightedReservoir(
          rows.toDF("doc_id", "w").repartition(parts), "doc_id", "w", k = 25)
        .orderBy($"sel_rank").select($"doc_id").as[Long].collect().toSeq
      assert(got == expect, s"parts=$parts: $got vs $expect")
    }
  }

  // ---- char diversity (t21) ----------------------------------------------

  test("charDiversity: hand-computed Gini-Simpson values and the low flag") {
    val out = TextAnalysis.charDiversity(
        Seq((1L, "aa bb aa"), (2L, "abcdefgh")).toDF("doc_id", "text"),
        "doc_id", "text", floorBp = 5000)
      .select($"doc_id", $"n_chars", $"n_char_kinds", $"diversity_bp",
        $"low_diversity")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    // "aa bb aa": chars a×4, b×2, space×2 → coll 24, n 8 → 10000-3750.
    assert(out(0) == ((1L, 8L, 3L, 6250L, false)), out(0).toString)
    // 8 distinct chars → coll 8, n 8 → 10000 - 80000/64 = 8750.
    assert(out(1) == ((2L, 8L, 8L, 8750L, false)), out(1).toString)
    val pad = TextAnalysis.charDiversity(
        Seq((3L, ("aa " * 60).trim)).toDF("doc_id", "text"),
        "doc_id", "text")
      .select($"low_diversity").as[Boolean].head()
    assert(pad, "pad run must flag low diversity")
  }

  // ---- code router (t22) -------------------------------------------------

  test("codeSignals: the planted token stream routes code, prose stays prose") {
    val code = "for ( i = 0 ; i < n ; i ++ ) { acc += arr [ i ] ; } return acc ;"
    val out = TextAnalysis.codeSignals(
        Seq((1L, code), (2L, "plain prose words without any symbols here"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .select($"doc_id", $"n_tokens", $"sym_bp", $"num_bp", $"is_code")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 25L, 5600L, 400L, true)), out(0).toString)
    assert(out(1)._3 == 0L && !out(1)._5, out(1).toString)
  }

  // ---- host cap (d25) ----------------------------------------------------

  test("d25: no host exceeds the cap and survivors dominate their host's dropped docs") {
    val out = graft.SparkEntry.queries("d25_host_cap")(spark, dir)
      .select($"doc_id", $"host", $"quality_bp", $"rnk")
      .as[(Long, String, Long, Long)].collect()
    val byHost = out.groupBy(_._2)
    assert(byHost.values.forall(_.length <= 3), "cap exceeded")
    assert(out.forall(_._4 <= 3L))
    // rnk orders by quality desc within host (ties by doc_id).
    byHost.values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 > b._3 || (a._3 == b._3 && a._1 < b._1)
        case _ => true
      }, s"rank order broken in ${rows.toSeq}")
    }
  }

  // ---- kNN graph (s13) ---------------------------------------------------

  test("s13: bounded out-degree, no self edges, recall floor met") {
    val out = graft.SparkEntry.queries("s13_knn_graph")(spark, dir)
    assert(out.filter($"recall_floor_met" =!= 1L).count() == 0L)
    val edges = graft.operators.SimilaritySearch.annTopK(
      graft.sources.Sources.table(spark, dir, "embeddings"),
      "vec_id", "embedding", isQuery = lit(true), k = 3)
    assert(edges.filter($"q_id" === $"n_id").count() == 0L, "self edge")
    val deg = edges.groupBy($"q_id").count().agg(max($"count")).as[Long].head()
    assert(deg <= 3L, s"out-degree $deg > k")
  }

  // ---- relational adds (q51–q54) -----------------------------------------

  test("q52: integer-exact co-moments agree with Spark's streaming corr/covar/stddev") {
    val li = graft.sources.Sources.table(spark, dir, "lineitem")
    val ref = li.groupBy($"l_returnflag").agg(
        corr($"l_quantity", $"l_extendedprice").as("c"),
        covar_samp($"l_quantity", $"l_extendedprice").as("cv"),
        stddev_samp($"l_extendedprice").as("sd"))
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val got = graft.SparkEntry.queries("q52_stats_agg")(spark, dir)
      .select($"l_returnflag", $"corr_qty_price", $"covar_samp",
        $"stddev_price")
      .as[(String, Double, Double, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (flag, c, cv, sd) =>
      val (rc, rcv, rsd) = ref(flag)
      assert(math.abs(c - rc) < 1e-6, s"$flag corr $c vs $rc")
      assert(math.abs(cv - rcv) / math.abs(rcv) < 1e-6, s"$flag covar")
      assert(math.abs(sd - rsd) / rsd < 1e-6, s"$flag stddev")
    }
  }

  test("q53: the deterministic mode is the smallest most-frequent value") {
    val li = graft.sources.Sources.table(spark, dir, "lineitem")
      .select($"l_returnflag", (round($"l_quantity" * 100)).cast("long").as("qc"))
      .as[(String, Long)].collect()
    val expect = li.groupBy(_._1).map { case (f, rows) =>
      val counts = rows.groupBy(_._2).map { case (q, g) => (q, g.size) }
      val best = counts.toSeq.sortBy { case (q, n) => (-n, q) }.head
      (f, best._1.toDouble / 100.0, best._2.toLong)
    }.toSet
    val got = graft.SparkEntry.queries("q53_mode_median")(spark, dir)
      .select($"l_returnflag", $"mode_qty", $"n_modal")
      .as[(String, Double, Long)].collect().toSet
    assert(got == expect, s"$got vs $expect")
  }

  test("q54: grouping_id encodes leftmost-column-MSB and totals line up") {
    val rows = graft.SparkEntry.queries("q54_grouping_sets")(spark, dir)
      .select($"gid", $"n").as[(Long, Long)].collect()
    val total = rows.filter(_._1 == 3L)
    assert(total.length == 1, s"one grand-total row expected: ${rows.toSeq}")
    assert(rows.filter(_._1 == 0L).map(_._2).sum == total.head._2)
    assert(rows.filter(_._1 == 1L).map(_._2).sum == total.head._2)
  }
}
