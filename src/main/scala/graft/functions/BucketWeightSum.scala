package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Σ weights[hash_bucket(gram)] over a gram array, in one compiled pass —
  * the scoring half of every hashed-ngram linear model in the engine
  * (the t17 quality classifier, the p17 DSIR importance weights, and
  * their streaming twins).
  *
  * Replaces the explode → broadcast-join → per-doc aggregate topology:
  * that plan is correct but pays an explode to 2·tokens rows, a hash
  * probe per gram and a full exchange on the doc id — for a model that
  * is just a `buckets`-element weight vector. With the vector bound into
  * the expression (the models hold it as a dense driver-side array, one
  * weight per bucket, so a gram can never miss), scoring is row-local:
  * zero shuffles at any corpus size, and the plan composes into scans
  * and stateless streams.
  *
  * Bucket semantics replicate [[graft.operators.Sampling.hashBucket]]
  * exactly — `conv(substring(md5(gram), 1, 8), 16, 10) % buckets`, i.e.
  * the first four md5 bytes as an unsigned 32-bit value mod the bucket
  * count — so build (join topology) and apply (this expression) can
  * never disagree on feature geometry.
  *
  * Determinism note: the sum runs in ARRAY order (the join form summed in
  * shuffle-arrival order, which was never deterministic to begin with).
  * For integer-valued weights (DSIR's basis points) the double sum is
  * exact regardless of order; for real-valued weights this form is the
  * more reproducible of the two.
  */
case class BucketWeightSum(child: Expression, weights: Array[Double])
    extends UnaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "bucket_weight_sum"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bucket_weight_sum expects array<string>, got $other")
    }

  override def nullSafeEval(arr: Any): Any =
    BucketWeightSum.compute(arr.asInstanceOf[ArrayData], weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("bwsWeights", weights, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BucketWeightSum.compute($c, $wRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BucketWeightSum {

  def bucketWeightSum(grams: Column, weights: Array[Double]): Column = {
    require(weights.nonEmpty, "empty weight vector")
    org.apache.spark.sql.GraftColumnBridge.column(
      BucketWeightSum(
        org.apache.spark.sql.GraftColumnBridge.expression(grams), weights))
  }

  /** The (bucket BIGINT, `wCol`) frame view of a dense weight vector: a
    * local relation built from the array itself, so a model can be saved
    * as parquet or probed by a join without any upstream job. */
  def weightTable(spark: org.apache.spark.sql.SparkSession, weights: Array[Double],
                  wCol: String, wType: DataType = DoubleType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val rows = weights.indices.map(b => org.apache.spark.sql.Row(b.toLong, weights(b)))
    val schema = StructType(Seq(StructField("bucket", LongType, nullable = false),
      StructField(wCol, DoubleType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .select(col("bucket"), col(wCol).cast(wType).as(wCol))
  }

  /** Collect a bucket-COMPLETE (bucket, weight) table into the dense
    * vector the expression binds — how a saved model's frame comes back
    * to the driver. Validates completeness (every bucket exactly
    * once), because a missing bucket would silently change semantics vs
    * the join form (where a gram could fail to match). Driver-local and
    * bounded by construction: `buckets` rows. */
  def collectWeights(weights: org.apache.spark.sql.DataFrame, bucketCol: String,
                     wCol: String, buckets: Int): Array[Double] = {
    import org.apache.spark.sql.functions.col
    val rows = weights
      .select(col(bucketCol).cast("int"), col(wCol).cast("double")).collect()
    require(rows.length == buckets,
      s"weight table has ${rows.length} rows, expected $buckets")
    val arr = new Array[Double](buckets)
    val seen = new Array[Boolean](buckets)
    rows.foreach { r =>
      val b = r.getInt(0)
      require(b >= 0 && b < buckets && !seen(b), s"bad/duplicate bucket $b")
      seen(b) = true
      // A DSIR model saved from an EMPTY corpus by the frame-built fit
      // carries null weights (its totals were null); read it as all-zero,
      // the no-information model the driver-side fit now produces.
      arr(b) = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
    }
    arr
  }

  // One digest per task thread, reset per gram: getInstance("MD5") is a
  // provider lookup + allocation, and this sits in the scoring half of
  // every hashed-ngram model's scan — per-ROW construction was measurable
  // against the (reset + digest)-only cost. Expression evaluation is
  // single-threaded per task, so a ThreadLocal is safe.
  private val localMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One md5 per gram, first four digest bytes as an unsigned 32-bit
    * value, mod the weight-vector length (== Sampling.hashBucket). */
  def compute(arr: ArrayData, w: Array[Double]): Double = {
    val md = localMd5.get()
    val n = arr.numElements()
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        sum += w((v % w.length).toInt)
      }
      i += 1
    }
    sum
  }
}
