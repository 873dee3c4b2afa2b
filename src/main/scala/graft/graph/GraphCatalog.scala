package graft.graph

import graft.graph.Dijkstra.Projection

import scala.collection.concurrent.TrieMap

/** Named registry of weighted graph projections — the Spark equivalent of
  * the reference's GDS graph catalog
  * (`gds.graph.project` / `gds.graph.list` / `gds.graph.drop`, the
  * reference's `database.rs:387-456`). Each entry is a
  * [[Dijkstra.Projection]] built by [[Dijkstra.project]]: a driver-side CSR
  * snapshot at or below the local threshold, a persisted GraphX graph
  * above it.
  *
  * Reference semantics preserved:
  *  - `exists` / `list` (`database.rs:387-400`)
  *  - `drop` releases and unregisters (`database.rs:402-420`)
  *  - `getOrCreate` = lazy projection build on first query
  *    (`main.rs:178-185`)
  *  - `refresh` = atomic swap: the new projection is built *before* the
  *    catalog pointer moves, so concurrent readers never observe a
  *    half-built graph (improves on the reference's drop-then-rebuild race,
  *    `database.rs:468-482`, without changing observable results).
  *
  * Snapshot pinning: a route query on a GraphX projection spans many
  * supersteps; if a refresh released the old projection mid-query, the
  * query's next superstep would recompute it from lineage whose files the
  * store may then reclaim. [[withGraph]] therefore pins the projection for
  * the duration of the callback; [[refresh]]/[[drop]] retire the old
  * instance from the catalog immediately (new queries get the new one) but
  * defer its release until the last pin is released. Pinning is a
  * driver-side refcount; releasing a CSR snapshot frees nothing.
  */
final class GraphCatalog {

  /** A projection plus its pin count. `retired` flips once the instance
    * leaves the catalog; the last unpin (or retirement itself, if
    * unpinned) releases it. All transitions synchronized on the holder. */
  private final class Holder(val projection: Projection) {
    private var pins = 0
    private var retired = false

    /** Pin iff not yet retired. A retired holder may already be released
      * (retire() releases at pins == 0), so pinning it would hand the
      * caller a graph whose cache and files may be gone. Callers must
      * re-fetch the catalog's current entry on false. */
    def tryPin(): Boolean = synchronized {
      if (retired) false else { pins += 1; true }
    }

    def unpin(): Unit = {
      val free = synchronized { pins -= 1; retired && pins == 0 }
      if (free) projection.release()
    }

    def retire(): Unit = {
      val free = synchronized { retired = true; pins == 0 }
      if (free) projection.release()
    }
  }

  private val graphs = TrieMap.empty[String, Holder]

  def list: Seq[String] = graphs.keys.toSeq.sorted

  def exists(name: String): Boolean = graphs.contains(name)

  /** The named holder, built if absent. Two racing builds keep the first
    * installed; the other is released at once, so no lease outlives it. */
  private def entry(name: String, build: () => Projection): Holder =
    graphs.getOrElse(name, {
      val h = new Holder(build())
      graphs.putIfAbsent(name, h) match {
        case Some(first) => h.retire(); first
        case None => h
      }
    })

  def getOrCreate(name: String, build: () => Projection): Projection =
    entry(name, build).projection

  /** Run `f` against the named projection with the instance pinned: a
    * concurrent refresh/drop swaps the catalog entry immediately but the
    * pinned instance stays unreleased until `f` returns.
    *
    * Lookup and pin are two steps, so a refresh/drop can retire the holder
    * in between — tryPin refuses retired holders and the loop re-fetches
    * the catalog's current entry. The loop terminates in practice: each
    * retry only repeats if ANOTHER refresh/drop lands in the lookup-to-pin
    * window, and a successful refresh installs a pinnable fresh holder. */
  def withGraph[T](name: String, build: () => Projection)(f: Projection => T): T = {
    var h = entry(name, build)
    while (!h.tryPin()) {
      // retired between lookup and pin: drop the stale mapping if it is
      // still current, then re-fetch/rebuild
      graphs.remove(name, h)
      h = entry(name, build)
    }
    try f(h.projection)
    finally h.unpin()
  }

  /** Build-then-swap; the old projection is retired after the swap and
    * released once its last in-flight query releases it. */
  def refresh(name: String, build: () => Projection): Projection = {
    val fresh = new Holder(build())
    graphs.put(name, fresh).foreach(_.retire())
    fresh.projection
  }

  def drop(name: String): Boolean =
    graphs.remove(name) match {
      case Some(h) => h.retire(); true
      case None => false
    }

  def dropAll(): Unit = list.foreach(drop)
}
