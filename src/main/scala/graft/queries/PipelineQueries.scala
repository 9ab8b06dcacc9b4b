package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Aggregated LLM-data-pipeline query registry — the driver-facing surface
  * over the per-family registries the round-11 split produced:
  * [[DedupQueries]] (d01–d25), [[SimilarityQueries]] (s01–s14),
  * [[TextQueries]] (t01–t22), [[SamplingQueries]] (p01–p23) and
  * [[MultimodalQueries]] (m01–m08), with the shared memoized-artifact
  * machinery in [[PipelineShared]]. */
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

  /** Drop every memoized artifact of `s` keyed `dir` or `dir#…`, of every
    * kind, for a long-lived session that re-ingests a corpus directory in
    * place ([[graft.artifacts.ArtifactStore.invalidate]]). */
  def invalidateDupCache(s: SparkSession, dir: String): Unit =
    graft.artifacts.ArtifactStore.invalidate(s, dir)
}
