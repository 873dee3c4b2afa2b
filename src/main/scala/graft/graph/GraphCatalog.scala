package graft.graph

import org.apache.spark.graphx.Graph
import org.apache.spark.storage.StorageLevel

import scala.collection.concurrent.TrieMap

/** Named registry of materialized weighted graph projections — the Spark
  * equivalent of the reference's GDS graph catalog
  * (`gds.graph.project` / `gds.graph.list` / `gds.graph.drop`,
  * `/root/reference/src/database.rs:387-456`).
  *
  * Reference semantics preserved:
  *  - `exists` / `list` (`database.rs:387-400`)
  *  - `drop` unpersists and unregisters (`database.rs:402-420`)
  *  - `getOrCreate` = lazy projection build on first query
  *    (`main.rs:178-185`)
  *  - `refresh` = atomic swap: the new projection is materialized *before*
  *    the catalog pointer moves, so concurrent readers never observe a
  *    half-built graph (improves on the reference's drop-then-rebuild race,
  *    `database.rs:468-482`, without changing observable results).
  *
  * Snapshot pinning: a route query can span many Pregel supersteps; if a
  * refresh unpersisted the old projection mid-query, the query's next
  * superstep would silently *recompute* the graph from its lineage — which
  * reads the store tables as they are NOW, not as they were when the query
  * started (torn snapshot). [[withGraph]] therefore pins the projection
  * instance for the duration of the callback; [[refresh]]/[[drop]] retire
  * the old instance immediately from the catalog (new queries get the new
  * graph) but defer its unpersist until the last pin is released. Pinning
  * is a driver-side refcount — zero cost on the executors.
  *
  * Routes reach a projection only through [[withGraph]], and
  * [[Dijkstra.autoPath]] memoizes the collected adjacency per instance:
  * because a refresh installs a NEW instance instead of mutating the old
  * one, a memo can never serve a stale graph, and a retired instance's
  * adjacency is freed once the instance itself is unreachable.
  */
final class GraphCatalog[V, E] {

  /** A materialized projection plus its pin count. `retired` flips once the
    * instance leaves the catalog; the last unpin (or retirement itself, if
    * unpinned) unpersists. All transitions synchronized on the holder. */
  private final class Holder(val graph: Graph[V, E]) {
    private var pins = 0
    private var retired = false

    /** Pin iff not yet retired. A retired holder may already be
      * unpersisted (retire() fires the unpersist at pins == 0), so pinning
      * it would hand the caller a graph whose next superstep silently
      * recomputes from lineage against the store's CURRENT state — the
      * torn snapshot pinning exists to prevent. Callers must re-fetch the
      * catalog's current entry on false. */
    def tryPin(): Boolean = synchronized {
      if (retired) false else { pins += 1; true }
    }

    def unpin(): Unit = {
      val free = synchronized { pins -= 1; retired && pins == 0 }
      if (free) graph.unpersist(blocking = false)
    }

    def retire(): Unit = {
      val free = synchronized { retired = true; pins == 0 }
      if (free) graph.unpersist(blocking = false)
    }
  }

  private val graphs = TrieMap.empty[String, Holder]

  def list: Seq[String] = graphs.keys.toSeq.sorted

  def exists(name: String): Boolean = graphs.contains(name)

  def getOrCreate(name: String, build: () => Graph[V, E]): Graph[V, E] =
    graphs.getOrElseUpdate(name, new Holder(materialize(build()))).graph

  /** Run `f` against the named projection with the instance pinned: a
    * concurrent refresh/drop swaps the catalog entry immediately but the
    * pinned instance stays cached until `f` returns.
    *
    * Lookup and pin are two steps, so a refresh/drop can retire the holder
    * in between — tryPin refuses retired holders (whose cache may already
    * be gone) and the loop re-fetches the catalog's current entry. The
    * loop terminates in practice: each retry only repeats if ANOTHER
    * refresh/drop lands in the lookup-to-pin window, and a successful
    * refresh installs a pinnable fresh holder. */
  def withGraph[T](name: String, build: () => Graph[V, E])(f: Graph[V, E] => T): T = {
    var h = graphs.getOrElseUpdate(name, new Holder(materialize(build())))
    while (!h.tryPin()) {
      // retired between lookup and pin: drop the stale mapping if it is
      // still current, then re-fetch/rebuild
      graphs.remove(name, h)
      h = graphs.getOrElseUpdate(name, new Holder(materialize(build())))
    }
    try f(h.graph)
    finally h.unpin()
  }

  /** Build-then-swap; the old projection is retired after the swap and
    * unpersisted once its last in-flight query releases it. */
  def refresh(name: String, build: () => Graph[V, E]): Graph[V, E] = {
    val fresh = new Holder(materialize(build()))
    graphs.put(name, fresh).foreach(_.retire())
    fresh.graph
  }

  def drop(name: String): Boolean =
    graphs.remove(name) match {
      case Some(h) => h.retire(); true
      case None => false
    }

  def dropAll(): Unit = list.foreach(drop)

  /** Cache and force materialization so queries never pay projection cost.
    * Each side is persisted independently: `Graph.fromEdges` pre-assigns a
    * level to the edge RDD but can leave the derived vertex RDD unpersisted,
    * and re-persisting an already-leveled RDD throws. */
  private def materialize(g: Graph[V, E]): Graph[V, E] = {
    if (g.vertices.getStorageLevel == StorageLevel.NONE)
      g.vertices.persist(StorageLevel.MEMORY_AND_DISK)
    if (g.edges.getStorageLevel == StorageLevel.NONE)
      g.edges.persist(StorageLevel.MEMORY_AND_DISK)
    g.vertices.count() // force materialization
    g.edges.count()
    g
  }
}
