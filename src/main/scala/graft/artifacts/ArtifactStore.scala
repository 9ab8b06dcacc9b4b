package graft.artifacts

import org.apache.spark.sql.SparkSession

import graft.tools.BuildTimer

/** A memoized artifact that owns cached blocks: [[ArtifactStore]] calls
  * `unpersist()` when it drops the artifact. Checkpointed frames and
  * scalars do not implement it — their blocks go with the frame (the
  * ContextCleaner) and there is nothing to give back. */
trait Releasable {
  def unpersist(): Unit
}

/** The one in-memory memo for standing artifacts — the indexes and frames
  * the plans build once per (session, corpus) and probe many times.
  *
  *  - '''Key.''' `(kind, session, key, params)`. The session is compared by
  *    identity (a hash could be reused after GC and hand a new session a
  *    dead artifact); `kind` is the [[BuildTimer]] label; `key` names the
  *    corpus, by convention its directory, optionally `dir#suffix`;
  *    `params` holds every other build argument except the input frame,
  *    so a caller asking for different build settings never gets an
  *    artifact built with the old ones. Frames in `params` compare by
  *    identity.
  *  - '''Sweep.''' Entries of stopped sessions are dropped on every
  *    access; their blocks died with the context, so nothing is released.
  *  - '''Bound.''' Each kind keeps at most [[MaxCachedArtifactDirs]]
  *    entries, least recently read first out.
  *  - '''Invalidation.''' [[invalidate]] drops `dir` and every `dir#…` key
  *    of every kind. Matching on the `#` boundary, not a bare string
  *    prefix, spares a sibling `/data/corpus` when `/data/corp` goes.
  *  - '''Release.''' A [[Releasable]] value is unpersisted when it is
  *    invalidated or evicted.
  *  - '''Timing.''' Each build runs inside `BuildTimer.time(kind)`, whose
  *    spans are exclusive, so a build that reads another artifact is not
  *    charged for that artifact's build.
  *
  * A build may `get` another artifact: the map lock is held only to find
  * or insert an entry, never across a build; one build of a key runs at a
  * time under that entry's own lock, and callers of the same key wait
  * for it. A build that throws leaves nothing behind, so the next `get`
  * builds again. */
object ArtifactStore {

  /** Per-kind entry bound: far above any bench or test working set (at
    * most a few dirs), so a multi-dir ingest session sheds its
    * least-recently-read dir instead of growing forever. */
  private[graft] val MaxCachedArtifactDirs = 64

  private type Id = (SparkSession, String, Seq[Any])

  private final class Entry { @volatile var value: AnyRef = _ }

  /** kind → access-ordered entries; guarded by `this`. */
  private val kinds =
    scala.collection.mutable.HashMap.empty[String, java.util.LinkedHashMap[Id, Entry]]

  def get[V <: AnyRef](kind: String, session: SparkSession, key: String,
                       params: Seq[Any] = Nil)(build: => V): V = {
    val id: Id = (session, key, params.toList)
    val (entry, evicted) = synchronized {
      sweepStopped()
      val m = kinds.getOrElseUpdate(kind,
        new java.util.LinkedHashMap[Id, Entry](16, 0.75f, true))
      val hit = m.get(id)
      if (hit != null) (hit, Nil)
      else {
        val fresh = new Entry
        m.put(id, fresh)
        val out = List.newBuilder[Entry]
        while (m.size > MaxCachedArtifactDirs) {
          val eldest = m.entrySet().iterator()
          out += eldest.next().getValue
          eldest.remove()
        }
        (fresh, out.result())
      }
    }
    evicted.foreach(release)
    entry.synchronized {
      if (entry.value == null) {
        entry.value =
          try BuildTimer.time(kind)(build)
          catch {
            case t: Throwable =>
              synchronized { kinds(kind).remove(id, entry) }
              throw t
          }
      }
      entry.value.asInstanceOf[V]
    }
  }

  /** Drop every artifact of `session` keyed `dir` or `dir#…`, of every
    * kind, for a session that re-ingests a corpus directory in place. */
  def invalidate(session: SparkSession, dir: String): Unit = {
    val dropped = synchronized {
      val out = List.newBuilder[Entry]
      kinds.valuesIterator.foreach { m =>
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val (s, k, _) = e.getKey
          if ((s eq session) && (k == dir || k.startsWith(dir + "#"))) {
            out += e.getValue
            it.remove()
          }
        }
      }
      out.result()
    }
    dropped.foreach(release)
  }

  private def sweepStopped(): Unit =
    kinds.valuesIterator.foreach { m =>
      val it = m.keySet().iterator()
      while (it.hasNext) {
        if (it.next()._1.sparkContext.isStopped) it.remove()
      }
    }

  private def release(e: Entry): Unit = e.value match {
    case r: Releasable => r.unpersist()
    case _ => ()
  }

  private[graft] def size: Int = synchronized(kinds.valuesIterator.map(_.size).sum)

  private[graft] def size(kind: String): Int =
    synchronized(kinds.get(kind).fold(0)(_.size))

  private[graft] def contains(kind: String, session: SparkSession, key: String,
                              params: Seq[Any] = Nil): Boolean =
    synchronized(kinds.get(kind).exists(_.containsKey((session, key, params.toList))))
}
