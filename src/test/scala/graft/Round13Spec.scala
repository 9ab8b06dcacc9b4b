package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling}

/** Round-13 hardening wave: the sharded-bloom auto-size Int overflow, the
  * connectedComponents probe/fallback consistency gate, and the streaming
  * sharded-index save. */
class Round13Spec extends SparkSpecBase {
  import spark.implicits._

  // ---- autoBloomBits: Long arithmetic up to the 2^30 bound ---------------

  test("autoBloomBits sizes in Long: 2^25 items -> exactly 2^30 bits") {
    // Pre-round-13, highestOneBit(...).toInt << 1 overflowed Int for any
    // n with 32n ≥ 2^31 and collapsed to the 2^17 floor — a near-100% FP
    // filter in exactly the past-2^30-bits regime sharding exists for.
    assert(Sampling.autoBloomBits(1L << 25) === (1 << 30))
    assert(Sampling.autoBloomBits((1L << 24) + 1) === (1 << 30))
    assert(Sampling.autoBloomBits(1L << 24) === (1 << 29))
    assert(Sampling.autoBloomBits(1L) === (1 << 17))
    assert(Sampling.autoBloomBits(4096L) === (1 << 17))
  }

  test("autoBloomBits refuses past the single-array bound, naming the fix") {
    val e = intercept[IllegalArgumentException] {
      Sampling.autoBloomBits((1L << 25) + 1)
    }
    assert(e.getMessage.contains("shard"), e.getMessage)
    // far past the old Int-overflow point: must still throw, never floor
    val e2 = intercept[IllegalArgumentException] {
      Sampling.autoBloomBits(33600000L) // the ADVICE repro: 33.6M grams/shard
    }
    assert(e2.getMessage.contains("2^30"), e2.getMessage)
  }

  // ---- connectedComponents: gated collect + consistent probe/fallback ----

  private def edgesDf(pairs: Seq[(Long, Long)]) = pairs.toDF("a", "b")

  test("fast-path and distributed components agree, including on overflow") {
    // a 200-node chain plus a triangle and an isolated pair: deep enough
    // that plain propagation would need many rounds
    val chain = (0L until 199L).map(i => (i, i + 1))
    val extra = Seq((500L, 501L), (501L, 502L), (502L, 500L), (900L, 901L))
    val pairs = edgesDf(scala.util.Random.shuffle(chain ++ extra))
    val local = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // maxLocalEdges below the edge count forces the distributed loop —
    // the overflow path must produce the identical labeling
    val dist = Dedup.connectedComponents(pairs, "a", "b", maxLocalEdges = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === dist)
    assert((0L until 200L).forall(local(_) === 0L))
    assert(local(500L) === 500L && local(501L) === 500L && local(502L) === 500L)
    assert(local(900L) === 900L && local(901L) === 900L)
  }

  test("a nondeterministic pair frame yields one consistent labeling") {
    // rand()-filtered edges: without the internal localCheckpoint the size
    // probe and the fallback loop could read DIFFERENT edge sets. The
    // output must be a valid labeling of SOME materialized edge set —
    // every id labeled, every label ≤ the id, labels drawn from the ids.
    val pairs = edgesDf((0L until 50L).map(i => (i, i + 50L)))
      .filter(rand(7) > 0.5)
    val out = Dedup.connectedComponents(pairs, "a", "b", maxLocalEdges = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val ids = out.map(_._1).toSet
    assert(out.nonEmpty)
    out.foreach { case (id, cl) =>
      assert(cl <= id, s"label $cl > id $id")
      assert(ids.contains(cl), s"label $cl is not a member id — the probe " +
        "and fallback read different edge sets")
    }
    // each (i, i+50) edge is its own component: label(i+50) must be i
    out.filter(_._1 >= 50L).foreach { case (id, cl) =>
      assert(cl === id - 50L)
    }
  }

  // ---- streaming sharded save: multi-shard roundtrip ----------------------

  test("sharded save/load roundtrips bit-exact with per-shard write jobs") {
    val grams = (0 until 4000).map(i => s"gram_$i").toDF("gram")
    val idx = Sampling.buildBloomIndex(grams, "gram", nShards = 3,
      mBits = 1 << 17)
    val d = tmpDir("r13bloom")
    idx.save(spark, d)
    val back = Sampling.loadBloomIndex(spark, d)
    assert(back.nShards === 3 && back.mBits === idx.mBits &&
      back.k === idx.k && back.nItems === idx.nItems)
    (0 until 3).foreach { s =>
      assert(java.util.Arrays.equals(back.shards(s), idx.shards(s)),
        s"shard $s drifted through the streaming save")
    }
  }
}
