package graft.artifacts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

/** The deletion lists of the delete-capable indexes (MinHash, gram, LSH
  * vector, IVF, PQ): ids are tombstoned at probe time and dropped
  * physically on the next save or compaction. */
object Tombstones {

  /** `df` without the rows whose `idCol` is tombstoned — the view every
    * probe reads. Deletion lists are takedown-sized by contract, so the
    * anti-join broadcasts them and costs one map-side filter over the
    * index scan, never a shuffle. */
  def live(df: DataFrame, idCol: String, tombstones: Option[DataFrame]): DataFrame =
    tombstones.fold(df)(t =>
      df.join(broadcast(t.select(col(idCol)).distinct()), Seq(idCol), "left_anti"))

  /** `tombstones` plus the `idCol` values of `ids`. */
  def add(tombstones: Option[DataFrame], ids: DataFrame, idCol: String): Option[DataFrame] = {
    val t = ids.select(col(idCol))
    Some(tombstones.fold(t)(_.unionByName(t)))
  }
}
