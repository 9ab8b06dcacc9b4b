package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch
import graft.plans.GroupTopK

/** Round-11 additions: GroupTopK behavior when AQE coalesces the final
  * shuffle to a single partition, the recallBand oracle-compare helper,
  * and the bounded-by-construction hier-IVF fit sample. */
class Round11Spec extends SparkSpecBase {
  private lazy val sq = spark
  import sq.implicits._

  test("GroupTopK: AQE coalesces the tiny-corpus final shuffle to 1 partition, window-exact") {
    // A corpus of a few hundred rows under the suite's shuffle partitioning: AQE's
    // partition coalescing collapses the final GroupTopKExec's exchange
    // to ONE partition (every post-shuffle split is far below the
    // advisory target). The operator must be indifferent — its final
    // side only requires clustering on the group key, and one partition
    // trivially satisfies any clustering — and the ranks must stay
    // exactly row_number's. Round5Spec pins the many-partition/multi-
    // flush end; this pins the opposite degenerate end.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    val df = spark.range(0, 300, 1, 4)
      .select(($"id" % 7).as("g"), ($"id" * 48271 % 9991).as("v"), $"id")
    val topk = GroupTopK.topK(df, Seq("g"), Seq($"v".desc, $"id"), k = 3)
    val n = topk.queryExecution.toRdd.count()
    assert(n == 21, s"7 groups x k=3, got $n")
    // The executed (adaptive-final) plan really did coalesce to 1.
    assert(topk.queryExecution.toRdd.getNumPartitions == 1,
      s"expected AQE to coalesce the final stage to 1 partition, got " +
        s"${topk.queryExecution.toRdd.getNumPartitions}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"v".desc, $"id")
    val viaWindow = df
      .withColumn("rnk", row_number().over(w).cast("long")).filter($"rnk" <= 3)
    assert(topk.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(topk).isEmpty)
  }

  test("recallBand: floor flag flips exactly at the declared boundary, payload is rank-ordered") {
    val exact = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 20L, 1L), (2L, 21L, 2L), (2L, 22L, 3L)
    ).toDF("q_id", "n_id", "rnk")
    // approx recovers 4 of 6 exact pairs -> recall 66.67%
    val approx = Seq(
      (1L, 10L), (1L, 11L), (2L, 20L), (2L, 22L), (2L, 99L)
    ).toDF("q_id", "n_id")
    val atFloor = SimilaritySearch.recallBand(exact, approx, floorBp = 6666)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(atFloor.toSeq == Seq((1L, "10,11,12", 1L), (2L, "20,21,22", 1L)),
      s"payload must be the exact side in rank order with the flag up: ${atFloor.toSeq}")
    val overFloor = SimilaritySearch.recallBand(exact, approx, floorBp = 6700)
      .collect().map(_.getLong(2)).toSet
    assert(overFloor == Set(0L), "4/6 recall must fail a 67% floor")
    // Duplicate approx pairs must not inflate the hit count.
    val dup = approx.unionAll(approx)
    val dedup = SimilaritySearch.recallBand(exact, dup, floorBp = 6700)
      .collect().map(_.getLong(2)).toSet
    assert(dedup == Set(0L), "duplicated approx pairs must not count twice")
  }

  test("DotSortedArrays: merge-walk dot matches the HOF formulation, survives codegen") {
    val df = Seq(
      // overlapping keys, disjoint keys, empty side
      (Seq(1L, 3L, 7L), Seq(2L, 5L, 1L), Seq(3L, 7L, 9L), Seq(4L, 10L, 6L)),
      (Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L), Seq(7L, 8L)),
      (Seq.empty[Long], Seq.empty[Long], Seq(1L), Seq(9L))
    ).toDF("ak", "av", "bk", "bv")
    val got = df.select(graft.functions.DotSortedArrays
        .dotSortedArrays($"ak", $"av", $"bk", $"bv").as("dot"))
      .collect().map(_.getLong(0)).toSeq
    // key 3: 5*4 = 20, key 7: 1*10 = 10 -> 30; disjoint = 0; empty = 0
    assert(got == Seq(30L, 0L, 0L))
    // codegen path really is generated code (no fallback to interpreted):
    // a local-relation input constant-folds to LocalTableScan, so build
    // the arrays from a range — the projection must land in a
    // WholeStageCodegen span and produce the same dot at every row.
    val ranged = spark.range(0, 3)
      .select(array($"id" + 1, $"id" + 3, $"id" + 7).as("ak"),
        array(lit(2L), lit(5L), lit(1L)).as("av"),
        array($"id" + 3, $"id" + 7, $"id" + 9).as("bk"),
        array(lit(4L), lit(10L), lit(6L)).as("bv"))
      .select(graft.functions.DotSortedArrays
        .dotSortedArrays($"ak", $"av", $"bk", $"bv").as("dot"))
    val hasCodegenSpan = ranged.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty
    assert(hasCodegenSpan,
      s"expression fell out of codegen:\n${ranged.queryExecution.executedPlan}")
    assert(ranged.collect().map(_.getLong(0)).toSeq == Seq(30L, 30L, 30L))
  }

  test("sparse cosine: the prefix-filtered plan is lossless vs the cap-only exact twin") {
    // The Bayardo prefix filter may only PRUNE candidates, never change a
    // surviving pair or its cosine — on the real corpus at the shipped
    // s12 geometry the two plans must agree row-for-row. (The driver
    // oracle re-proves this at sf0.01 every round: the s12 oracle is the
    // cap-only computation in DuckDB.)
    val docs = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "documents")
    def plan(prefix: Boolean, threshold: Double, maxTermDocs: Int) =
      if (prefix) SimilaritySearch.sparseCosinePairs(docs, "doc_id", "text",
        threshold, maxTermDocs, ngram = 3)
      else ReferenceTwins.sparseCosinePairsCapOnly(docs, "doc_id", "text",
        threshold, maxTermDocs, ngram = 3)
    def pairs(prefix: Boolean) = plan(prefix, threshold = 0.9, maxTermDocs = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(prefix = false)
    val filtered = pairs(prefix = true)
    assert(exact.nonEmpty, "testdata should contain >= 0.9 sparse-cosine pairs")
    assert(filtered == exact,
      s"lost: ${exact -- filtered}; invented: ${filtered -- exact}")
    // And at a LOW threshold the skip budget shrinks toward zero — the
    // filter must degrade to completeness, not over-skip.
    def lowPairs(prefix: Boolean) = plan(prefix, threshold = 0.3, maxTermDocs = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lowPairs(prefix = true) == lowPairs(prefix = false))
  }

  test("hier IVF fit sample is bounded by construction (no require-fail past maxLocalFit)") {
    // 2,000 vectors with maxLocalFit = 100 and the DEFAULT sampleMod:
    // before round 11 this threw 'raise sampleMod'; now the build derives
    // the modulus from an id-only count and fits on a bounded sample.
    val emb = spark.range(0, 2000)
      .select($"id".as("vec_id"),
        array((0 until 8).map(i => ($"id" * (i + 1) % 97).cast("double")): _*).as("v"))
    val built = SimilaritySearch.buildIvfIndexHierFull(
      emb, "vec_id", "v", nCells = 8, persist = false, maxLocalFit = 100)
    // Every corpus vector still gets a cell (the sample bounds the FIT,
    // never the assignment).
    assert(built.index.assigned.count() == 2000)
    assert(built.index.assigned.select("cell").distinct().count() <= 8)
  }
}
