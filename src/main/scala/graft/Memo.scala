package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** Central registry for every session-scoped memo map in the library,
  * giving the embedding application a LIFECYCLE for what is otherwise
  * write-once state: the shared derived artifacts (the base frames of
  * [[Tables]] and [[graft.graph.TpchGraph]], canonical edge frames,
  * triangle stats, shingle tables, signature/band frames, BPE
  * vocabularies, …) and the session-scoped user state (built ANN
  * indexes, declared vector collections, registered graph constraints).
  *
  * Why this exists: the memo maps are keyed by `(SparkSession, dataDir,
  * …)` tuples and hold strong references to columnar-cached DataFrames.
  * Without an eviction path a long-lived service that touches many data
  * dirs (or cycles sessions) accumulates cached artifacts without bound
  * and pins stopped sessions unreachable to GC. The maps register here
  * at creation, so one call can walk them all:
  *
  *  - [[clearArtifacts]] — drop the session's DERIVED artifacts and
  *    unpersist their cached frames, the base table and base graph
  *    frames included. Safe at any point: every artifact is rebuilt on
  *    demand by its owner. This is also the invalidation hook when the
  *    underlying parquet data changed — held frames snapshot the file
  *    listing, schema and (for the cached ones) the data as of first use.
  *  - [[close]] — [[clearArtifacts]] plus the session's USER STATE
  *    (ANN indexes, collection configs, constraint definitions). Call
  *    when the session is done; afterwards the session holds no
  *    library references and `SIMILAR … USING INDEX` would need a
  *    rebuild, exactly as in a fresh session.
  *
  * Registration happens in static initializers of a handful of objects,
  * so the registry is small (≈15 maps) and append-only; per-entry
  * removal is the TrieMap's atomic `remove`. A query racing a clear can
  * re-memoize immediately afterwards — the artifact is rebuilt, never
  * corrupted, the same guarantee `getOrElseUpdate` already gives two
  * racing builders.
  */
object Memo {

  private final class Reg(val map: TrieMap[Product, Any], val isState: Boolean)
  private val registry = new java.util.concurrent.CopyOnWriteArrayList[Reg]

  private def register[K <: Product, V](isState: Boolean): TrieMap[K, V] = {
    val m = TrieMap.empty[K, V]
    registry.add(new Reg(m.asInstanceOf[TrieMap[Product, Any]], isState))
    m
  }

  /** A memo map for a DERIVED artifact: safe to drop at any time, the
    * owner rebuilds on next use. Key must be a tuple whose first element
    * is the owning `SparkSession`. */
  def artifact[K <: Product, V](): TrieMap[K, V] = register[K, V](isState = false)

  /** A memo map for session-scoped USER STATE (an index the user built,
    * a collection or constraint the user declared): survives
    * [[clearArtifacts]], dropped only by [[close]]. */
  def state[K <: Product, V](): TrieMap[K, V] = register[K, V](isState = true)

  private def sessionOf(key: Product): AnyRef = key.productElement(0).asInstanceOf[AnyRef]

  // Dataset[_] (not DataFrame) in the patterns: the Row type argument is
  // erased, and unpersist doesn't need it. Best-effort: close(session)
  // AFTER session.stop() is a legitimate teardown order, and unpersist on
  // a stopped context must not abort the registry sweep — the blocks died
  // with the context; only the map entries still need dropping.
  private def unpersistValue(v: Any): Unit = {
    def drop(ds: org.apache.spark.sql.Dataset[_]): Unit =
      try { ds.unpersist(blocking = false); () }
      catch { case scala.util.control.NonFatal(_) => () }
    v match {
      case ds: org.apache.spark.sql.Dataset[_] => drop(ds)
      case p: Product => p.productIterator.foreach {
        case ds: org.apache.spark.sql.Dataset[_] => drop(ds)
        case _ => ()
      }
      case _ => ()
    }
  }

  private def clear(session: SparkSession, includeState: Boolean): Unit = {
    val it = registry.iterator()
    while (it.hasNext) {
      val reg = it.next()
      if (includeState || !reg.isState) {
        reg.map.keySet.foreach { k =>
          if (sessionOf(k) eq session) reg.map.remove(k).foreach(unpersistValue)
        }
      }
    }
  }

  /** Drop `session`'s derived artifacts and unpersist their cached
    * frames. Queries rebuild them on demand; user state (indexes,
    * collections, constraints) is untouched. */
  def clearArtifacts(session: SparkSession): Unit = clear(session, includeState = false)

  /** Drop EVERYTHING the library holds for `session` — derived
    * artifacts and user state. After this the session is as the library
    * found it. */
  def close(session: SparkSession): Unit = clear(session, includeState = true)

  /** Number of memo entries held for `session` (artifacts + state) —
    * introspection for tests and capacity monitoring. */
  def entryCount(session: SparkSession): Int = {
    var n = 0
    val it = registry.iterator()
    while (it.hasNext) {
      n += it.next().map.keySet.count(k => sessionOf(k) eq session)
    }
    n
  }
}
