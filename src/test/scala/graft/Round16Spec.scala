package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch

/** Round 16: the similarity-side index artifacts gain the append
  * lifecycle every dedup index already has — IVF assignments extend
  * through the FROZEN centroid table, PQ codes through the FROZEN
  * codebooks, cost tracking the batch; compact refits. Planted-twin
  * construction: 4 well-separated clusters in distinct coordinate
  * subspaces, each batch vector a near-identical twin of one base
  * vector, so the correct probe answer is unambiguous. */
class Round16Spec extends SparkSpecBase {
  import spark.implicits._

  // cluster c of vector i lives in dims (2c, 2c+1); the in-cluster
  // member index spreads the secondary dim so directions stay distinct
  private def baseVec(i: Int): Seq[Float] = {
    val c = i % 4
    Seq.tabulate(8)(j =>
      if (j == 2 * c) 10f
      else if (j == 2 * c + 1) (i / 4).toFloat
      else 0f)
  }
  private def twinVec(i: Int): Seq[Float] = baseVec(i).map(_ * 1.02f)

  private def baseDf = (0 until 40).map(i => (i.toLong, baseVec(i)))
    .toDF("vec_id", "embedding")
  private def batchDf = (0 until 10).map(i => ((100 + i).toLong, twinVec(i)))
    .toDF("vec_id", "embedding")

  private def top1Map(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.filter(col("rnk") === 1).select(col("q_id"), col("n_id"))
      .as[(Long, Long)].collect().toMap

  test("IVF append: frozen centroids, batch-sized work, twins at rank 1") {
    val idx = SimilaritySearch.buildIvfIndex(baseDf, "vec_id", "embedding",
      nCells = 4)
    val app = SimilaritySearch.appendIvfIndex(idx, batchDf)
    // centroids FROZEN: identical cells and values, no re-fit
    assert(app.centroids.map(_._1).toSeq === idx.centroids.map(_._1).toSeq)
    app.centroids.zip(idx.centroids).foreach { case ((_, a), (_, b)) =>
      assert(java.util.Arrays.equals(a, b))
    }
    assert(app.assigned.count() === 50)
    // every batch vector's planted base twin at rank 1 (nProbe covers
    // all cells, so the within-cell scoring is exact cosine)
    val top1 = top1Map(SimilaritySearch.probeIvf(app,
      col("vec_id") >= 100, k = 1, nProbe = 4))
    for (i <- 0 until 10) assert(top1(100L + i) === i.toLong, s"twin of ${100 + i}")
    // probe-after-append equals rebuild-probe on the planted twins
    val rebuilt = SimilaritySearch.buildIvfIndex(
      baseDf.unionByName(batchDf), "vec_id", "embedding", nCells = 4)
    val top1R = top1Map(SimilaritySearch.probeIvf(rebuilt,
      col("vec_id") >= 100, k = 1, nProbe = 4))
    assert(top1 === top1R)
  }

  test("IVF append to a LOADED index assigns identically (cell-order invariance)") {
    val idx = SimilaritySearch.buildIvfIndex(baseDf, "vec_id", "embedding",
      nCells = 4)
    val dir = tmpDir("ivf_r16")
    idx.save(dir)
    val loaded = SimilaritySearch.loadIvfIndex(spark, dir, "vec_id", "embedding")
    def batchCells(i: SimilaritySearch.IvfIndex): Seq[(Long, Int)] =
      SimilaritySearch.appendIvfIndex(i, batchDf).assigned
        .filter(col("vec_id") >= 100)
        .select(col("vec_id"), col("cell")).as[(Long, Int)]
        .collect().sortBy(_._1).toSeq
    assert(batchCells(loaded) === batchCells(idx))
  }

  test("IVF compact refits from the retained vectors; twins survive") {
    val idx = SimilaritySearch.buildIvfIndex(baseDf, "vec_id", "embedding",
      nCells = 4)
    val app = SimilaritySearch.appendIvfIndex(idx, batchDf)
    val compacted = SimilaritySearch.compactIvfIndex(app, nCells = 4)
    assert(compacted.assigned.count() === 50)
    assert(compacted.centroids.nonEmpty)
    val top1 = top1Map(SimilaritySearch.probeIvf(compacted,
      col("vec_id") >= 100, k = 1, nProbe = 4))
    for (i <- 0 until 10) assert(top1(100L + i) === i.toLong)
  }

  test("PQ append: frozen codebooks, batch-only encode, twins through ADC") {
    val pq = SimilaritySearch.buildPqIndex(baseDf, "vec_id", "embedding",
      m = 4, k = 16)
    val app = SimilaritySearch.appendPqIndex(pq, batchDf, "embedding")
    assert(app.codebooks eq pq.codebooks) // frozen: the same fitted arrays
    assert(app.codes.count() === 50)
    // a twin normalizes to (nearly) its base vector, so it encodes to the
    // SAME codes — the appended row must match its base row code-for-code
    val codesOf = app.codes.select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    for (i <- 0 until 10)
      assert(codesOf(100L + i) === codesOf(i.toLong), s"codes of twin ${100 + i}")
    // and the ADC probe surfaces the base twin among the top hits
    val top = SimilaritySearch.pqTopK(app, batchDf, "vec_id", "embedding", k = 3)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (i <- 0 until 10)
      assert(top(100L + i).contains(i.toLong), s"ADC top-3 of twin ${100 + i}")
  }

  test("PQ append to a LOADED index encodes identically") {
    val pq = SimilaritySearch.buildPqIndex(baseDf, "vec_id", "embedding",
      m = 4, k = 16)
    val dir = tmpDir("pq_r16")
    pq.save(dir)
    val loaded = SimilaritySearch.loadPqIndex(spark, dir, "vec_id")
    def batchCodes(i: SimilaritySearch.PqIndex): Seq[(Long, Seq[Int])] =
      SimilaritySearch.appendPqIndex(i, batchDf, "embedding").codes
        .filter(col("vec_id") >= 100)
        .select(col("vec_id"), col("codes")).as[(Long, Seq[Int])]
        .collect().sortBy(_._1).toSeq
    assert(batchCodes(loaded) === batchCodes(pq))
  }

  test("appendIvfAndMaybeCompact bounds the union lineage at the window") {
    val idx = SimilaritySearch.buildIvfIndex(baseDf, "vec_id", "embedding",
      nCells = 4)
    def unionDepth(i: SimilaritySearch.IvfIndex): Int =
      i.assigned.queryExecution.analyzed.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.size
    // three appends under a window of 3: the third one compacts — the
    // counter resets, the lineage flattens, and nothing is lost
    var cur = idx
    for (k <- 1 to 2) {
      cur = SimilaritySearch.appendIvfAndMaybeCompact(cur,
        batchDf.withColumn("vec_id", col("vec_id") + lit(k * 1000L)),
        nCells = 4, compactEvery = 3)
      assert(cur.appendsSinceCompaction === k)
      assert(unionDepth(cur) > 0)
    }
    cur = SimilaritySearch.appendIvfAndMaybeCompact(cur,
      batchDf.withColumn("vec_id", col("vec_id") + lit(3000L)),
      nCells = 4, compactEvery = 3)
    assert(cur.appendsSinceCompaction === 0, "compaction resets the counter")
    assert(unionDepth(cur) === 0, "compaction flattens the union lineage")
    assert(cur.assigned.count() === 70) // 40 base + 3 × 10 batches
    // the re-fit index still answers: a 1100-batch query's rank-1 is a
    // COLLINEAR match (its base vector, which twinVec scales, or one of
    // its identical copies in the other batches — cos 1.0 either way;
    // which one wins is a float-ulp tie, so assert the set)
    val top1 = top1Map(SimilaritySearch.probeIvf(cur,
      col("vec_id").between(1100, 1109), k = 1, nProbe = 4))
    for (i <- 0 until 10)
      assert(Set(i.toLong, 2100L + i, 3100L + i).contains(top1(1100L + i)),
        s"rank-1 of ${1100 + i} was ${top1(1100L + i)}")
  }

  test("appending to an EMPTY index refuses loudly — build, don't freeze nothing") {
    val emptyIvf = SimilaritySearch.buildIvfIndex(
      baseDf.filter(lit(false)), "vec_id", "embedding", nCells = 4)
    assert(intercept[IllegalArgumentException](
      SimilaritySearch.appendIvfIndex(emptyIvf, batchDf))
      .getMessage.contains("empty IVF index"))
    val emptyPq = SimilaritySearch.buildPqIndex(
      baseDf.filter(lit(false)), "vec_id", "embedding", m = 4, k = 16)
    assert(intercept[IllegalArgumentException](
      SimilaritySearch.appendPqIndex(emptyPq, batchDf, "embedding"))
      .getMessage.contains("empty PQ index"))
  }
}
