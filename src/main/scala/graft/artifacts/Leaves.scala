package graft.artifacts

import org.apache.spark.sql.{DataFrame, SparkSession}

/** An index that owns cached blocks, under the one ownership rule of the
  * appendable indexes (MinHash, gram, line-set, LSH vector, IVF, PQ):
  *
  *  - '''Own what you cache.''' A build, append or compact caches a frame
  *    only through [[Leaves]], which records it in `cachedLeaves`; an
  *    append carries the owned frames of the index it grows from.
  *  - '''Release only what you own.''' `unpersist()` releases
  *    `cachedLeaves` and nothing else. After appends a top frame is a lazy
  *    union, whose own unpersist would not reach its cached children
  *    anyway; the leaves do.
  *  - '''Memoized views own nothing.''' [[Leaves.memoized]] hands out a
  *    view with no leaves. A chain grown from it owns only its own
  *    batches, so its compactions and releases never touch the frames the
  *    store shares with every other caller; the store releases those when
  *    it drops the entry. */
trait OwnsLeaves extends Releasable {
  def cachedLeaves: Seq[DataFrame]
  final def unpersist(): Unit = cachedLeaves.foreach(_.unpersist())
}

/** An [[OwnsLeaves]] index that grows by append and folds by compact. */
trait Compactable extends OwnsLeaves {
  def appendsSinceCompaction: Int
}

/** The frames one build, append or compact caches: `leaves(df)` caches
  * `df` and records it as owned, or returns it untouched when `persist` is
  * false; [[owned]] is the `carried` leaves followed by the recorded ones. */
final class Leaves(persist: Boolean, carried: Seq[DataFrame] = Nil) {
  private var recorded = carried.toVector
  def apply(df: DataFrame): DataFrame = {
    if (persist) recorded :+= df.cache()
    df
  }
  def owned: Seq[DataFrame] = recorded
}

object Leaves {

  /** `build` memoized in [[ArtifactStore]] under `(kind, session, key,
    * params)`. The store keeps the owning index and releases its leaves on
    * invalidation or eviction; callers get `view(index)` (the index with no
    * leaves), made once per stored entry, so every hit returns the same
    * object. */
  def memoized[I <: OwnsLeaves](kind: String, session: SparkSession, key: String,
                                params: Seq[Any] = Nil)(build: => I)(view: I => I): I =
    ArtifactStore.get(kind, session, key, params)(new Shared(build, view)).view

  private final class Shared[I <: OwnsLeaves](owner: I, unowned: I => I) extends Releasable {
    val view: I = unowned(owner)
    def unpersist(): Unit = owner.unpersist()
  }

  /** The one append-and-compact fold: run `append`, then `compact` its
    * result once it has had `compactEvery` appends since the last
    * compaction, so a long-lived ingest chain's union lineage stays bounded
    * at `compactEvery` however many batches it absorbs. */
  def appendAndMaybeCompact[I <: Compactable](compactEvery: Int)(append: => I)(compact: I => I): I = {
    require(compactEvery > 0, "compactEvery must be positive")
    val appended = append
    if (appended.appendsSinceCompaction >= compactEvery) compact(appended) else appended
  }
}
