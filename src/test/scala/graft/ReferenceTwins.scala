package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, SimilaritySearch, TextAnalysis}

/** Reference formulations the shipped operators replaced, kept only as the
  * twins specs pin the shipped forms against (Round11Spec, Round11bSpec, Round12Spec,
  * HashedGramModelSpec): each computes
  * the same result the slow, obvious way. Never call them on
  * production-sized inputs. */
object ReferenceTwins {

  /** The round-7 HOF formulation of [[Sampling.wordNgrams]]. The
    * one-element-`transform` binds the token array once per row (the
    * nested-HOF re-evaluation trap — measured ~6× on p11 at sf0.1);
    * `sequence(1, k)` produces a DESCENDING `[1, 0]` when k < 1, so the
    * bound is checked before the range exists. */
  def wordNgramsHof(text: Column, n: Int): Column = {
    require(n >= 2, s"n-gram size must be >= 2, got $n")
    val ws0 = filter(split(text, " "), t => t =!= "")
    element_at(
      transform(array(ws0), ws =>
        when(size(ws) >= n,
          array_distinct(transform(
            sequence(lit(1), size(ws) - lit(n - 1)),
            i => concat_ws(" ", slice(ws, i, lit(n))))))
          .otherwise(array().cast("array<string>"))),
      1)
  }

  /** 1L << i for i in 0..63 — the variable-shift stand-in: Spark's Column
    * API only shifts by literals, so bit masks come from this 64-element
    * literal array instead (element_at is O(1) on a constant). */
  val BitMasks: Seq[Long] = (0 until 64).map(i => 1L << i)

  /** k bit positions of `gram` (Kirsch–Mitzenmacher: `h1 + i·(2·h2+1)`
    * mod m; the odd multiplier keeps the stride nonzero). Both hashes are
    * reduced mod m BEFORE the affine combine so no intermediate can
    * overflow (ANSI-safe). */
  def bloomPositions(gram: Column, mBits: Int, k: Int): Seq[Column] = {
    val m = lit(mBits.toLong)
    val h1 = pmod(xxhash64(gram), m)
    val h2 = pmod(xxhash64(gram, lit(0x9E3779B9L)), m) * 2L + 1L
    (0 until k).map(i => pmod(h1 + lit(i.toLong) * h2, m))
  }

  /** Column membership probe of a one-shard filter: true iff all k bits
    * are set. The bit array rides the plan as ONE array literal; the test
    * is element_at + bitwiseAND, fully inside whole-stage codegen. The
    * reference definition [[Sampling.bloomContainsAny]] is pinned
    * against. */
  def bloomMightContain(idx: Sampling.BloomIndex)(gram: Column): Column = {
    require(idx.nShards == 1, s"the Column reference probes one shard, got ${idx.nShards}")
    val bitsLit = typedlit(idx.shards(0).toSeq)
    val masks = typedlit(BitMasks)
    bloomPositions(gram, idx.mBits, idx.k).map { pos =>
      (element_at(bitsLit, shiftright(pos, 6).cast("int") + 1)
        .bitwiseAND(element_at(masks, pmod(pos, lit(64)).cast("int") + 1))
        ) =!= 0L
    }.reduce(_ && _)
  }

  /** The round-11 shape of [[Sampling.buildBloomIndex]]: positions fan out
    * scan-side via the Column [[bloomPositions]] and reduce to
    * (word, bit_or) rows — quadratically more row traffic than the
    * aggregate build, which must produce word-for-word equal bits. */
  def buildBloomIndexReference(grams: DataFrame, gramCol: String,
                               mBits: Int, k: Int = 16): Sampling.BloomIndex = {
    val m = mBits
    val masks = typedlit(BitMasks)
    val pos = grams.select(
      explode(array(bloomPositions(col(gramCol), m, k): _*)).as("pos"))
    val words = pos.select(
        shiftright(col("pos"), 6).cast("int").as("w"),
        element_at(masks, pmod(col("pos"), lit(64)).cast("int") + 1).as("mk"))
      .groupBy(col("w")).agg(expr("bit_or(mk)").as("bits"))
      .collect()
    val bits = new Array[Long](m / 64)
    words.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    Sampling.BloomIndex(Array(bits), m, k, grams.select(col(gramCol)).distinct().count())
  }

  /** The frame-built DSIR weight table the driver-side
    * [[Sampling.dsirModelTable]] fit replaced: `range(buckets)` left-joins
    * the gram census and cross-joins its broadcast totals (a second
    * census). (bucket, w_bp); every weight is null on a corpus without
    * grams, whose totals are null. */
  def dsirModelFrame(docs: DataFrame, textCol: String, isTarget: Column,
                     buckets: Int): DataFrame = {
    val counts = Sampling.dsirGrams(docs, textCol, isTarget.as("__t"), buckets)
      .groupBy(col("bucket")).agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("t_cnt"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("r_cnt"))
    val totals = counts.agg(sum(col("t_cnt")).as("t_total"),
      sum(col("r_cnt")).as("r_total"))
    docs.sparkSession.range(0, buckets).toDF("bucket")
      .join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("t_cnt", "r_cnt"))
      .crossJoin(broadcast(totals))
      .withColumn("w_bp",
        expr(s"CAST((t_cnt + 1) * 10000 DIV (t_total + $buckets) AS BIGINT)" +
          s" - CAST((r_cnt + 1) * 10000 DIV (r_total + $buckets) AS BIGINT)"))
      .select(col("bucket"), col("w_bp"))
  }

  /** The two-level-aggregate fit [[TextAnalysis.trainQualityClassifier]]
    * replaced: the same per-(doc, bucket) and per-doc aggregates with no
    * up-front exchange on the id, so each shuffles on its own keys. */
  def trainQualityClassifierTwoLevel(docs: DataFrame, idCol: String, textCol: String,
                                     isSeed: Column, buckets: Int): TextAnalysis.QualityClassifier =
    TextAnalysis.fitPerDoc(
      TextAnalysis.perDocGramCounts(docs.withColumn(idCol, col(idCol).cast("long")),
        idCol, textCol, isSeed, buckets).collect(),
      buckets, iters = 100, maxLocalFit = Int.MaxValue)

  /** The explode → broadcast-join → aggregate formulation
    * [[Sampling.dsirScoreAgainst]] replaced. */
  def dsirScoreAgainstJoined(docs: DataFrame, idCol: String, textCol: String,
                             model: Sampling.DsirModel): DataFrame =
    Sampling.dsirGrams(docs, textCol, lit(false).as("__t"), model.buckets, Seq(idCol))
      .join(broadcast(model.table(docs.sparkSession)),
        Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), sum(col("w_bp")).as("sum_w_bp"))
      .withColumn("dsir_w",
        round(col("sum_w_bp").cast("double") / col("n_grams").cast("double"), 4))

  /** The explode → broadcast-join → aggregate formulation
    * [[TextAnalysis.scoreQualityClassifier]] replaced. */
  def scoreQualityClassifierJoined(docs: DataFrame, idCol: String, textCol: String,
                                   clf: TextAnalysis.QualityClassifier): DataFrame =
    Sampling.dsirGrams(docs, textCol, lit(false).as("__t"), clf.buckets, Seq(idCol))
      .join(broadcast(clf.table(docs.sparkSession)),
        Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), sum(col("w")).as("__sw"))
      .select(col(idCol), col("n_grams"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(lit(clf.bias) + col("__sw") / col("n_grams").cast("double")))),
          4).as("quality"))

  /** The cap-only plan [[SimilaritySearch.sparseCosinePairs]]' prefix
    * filter prunes: every term under the df cap joins every other doc
    * holding it, so per-term work is <= cap² but candidate volume tracks
    * Σ df² wherever df sits under the cap. Same postings, norms and
    * rounding as the shipped plan. */
  def sparseCosinePairsCapOnly(docs: DataFrame, idCol: String, textCol: String,
                               threshold: Double, maxTermDocs: Int,
                               ngram: Int): DataFrame = {
    val (kept, vecs) =
      SimilaritySearch.sparseCosineBase(docs, idCol, textCol, maxTermDocs, ngram)
    val norms = vecs.select(col("id"), col("n2"))
    kept.select(col("th"), col("id").as("a_id"), col("tf").as("a_tf"))
      .join(kept.select(col("th"), col("id").as("b_id"), col("tf").as("b_tf")),
        Seq("th"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("a_tf") * col("b_tf")).as("dot"))
      .join(norms.select(col("id").as("a_id"), col("n2").as("a_n2")), Seq("a_id"))
      .join(norms.select(col("id").as("b_id"), col("n2").as("b_n2")), Seq("b_id"))
      .withColumn("cos", round(col("dot").cast("double") /
        (sqrt(col("a_n2").cast("double")) * sqrt(col("b_n2").cast("double"))), 4))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }
}
