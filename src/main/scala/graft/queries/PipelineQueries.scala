package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Aggregated LLM-data-pipeline query registry — the driver-facing surface
  * over the per-family registries the round-11 split produced:
  * [[DedupQueries]] (d01–d25), [[SimilarityQueries]] (s01–s14),
  * [[TextQueries]] (t01–t22), [[SamplingQueries]] (p01–p23) and
  * [[MultimodalQueries]] (m01–m08), with the shared memoized-artifact
  * machinery in [[PipelineShared]]. The public members below forward to
  * [[PipelineShared]] so external callers (specs, the stress harness)
  * keep their round-10 API. */
object PipelineQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    DedupQueries.queries ++ SimilarityQueries.queries ++ TextQueries.queries ++
      SamplingQueries.queries ++ MultimodalQueries.queries

  val oracleSql: Map[String, String] =
    DedupQueries.oracleSql ++ SimilarityQueries.oracleSql ++
      TextQueries.oracleSql ++ SamplingQueries.oracleSql ++
      MultimodalQueries.oracleSql

  /** Production-plan overrides for entries whose [[queries]] form runs an
    * exact twin in-query (bench accounting — see the per-family maps). */
  val productionOverrides: Map[String, (SparkSession, String) => DataFrame] =
    DedupQueries.productionOverrides ++ SimilarityQueries.productionOverrides ++
      SamplingQueries.productionOverrides

  // ---- round-10 external API, forwarded ---------------------------------

  private[graft] val D03BucketCap: Int = PipelineShared.D03BucketCap

  private[graft] def dupPairsAndClusters(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    PipelineShared.dupPairsAndClusters(s, dir)

  /** Drop every memoized artifact of `s` keyed `dir` or `dir#…`, of every
    * kind, for a long-lived session that re-ingests a corpus directory in
    * place ([[graft.artifacts.ArtifactStore.invalidate]]). */
  def invalidateDupCache(s: SparkSession, dir: String): Unit =
    graft.artifacts.ArtifactStore.invalidate(s, dir)

  private[graft] def corpusBuild(s: SparkSession, dir: String): DataFrame =
    PipelineShared.corpusBuild(s, dir)

  private[graft] def dedupSurvivorsWithSplit(base: DataFrame, clusters: DataFrame,
                                             materialize: Boolean = true): DataFrame =
    PipelineShared.dedupSurvivorsWithSplit(base, clusters, materialize)

  private[graft] def corpusBuildFrom(base: DataFrame, clusters: DataFrame,
                                     budget: Long,
                                     materialize: Boolean = true): DataFrame =
    PipelineShared.corpusBuildFrom(base, clusters, budget, materialize)

  private[graft] def corpusBuildV2From(base: DataFrame, clusters: DataFrame,
                                       budget: Long,
                                       materialize: Boolean = true): DataFrame =
    PipelineShared.corpusBuildV2From(base, clusters, budget, materialize)

  private[graft] def corpusBuildV3From(base: DataFrame, clusters: DataFrame,
                                       budget: Long,
                                       materialize: Boolean = true): DataFrame =
    PipelineShared.corpusBuildV3From(base, clusters, budget, materialize)
}
