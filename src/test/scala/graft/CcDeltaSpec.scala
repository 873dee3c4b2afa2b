package graft

import graft.operators.GraphQueries
import graft.streaming.CcStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected-component maintenance under edge DELETIONS — the paths
  * insert-only maintenance cannot express: a deletion that SPLITS a
  * component into two labels, one that ISOLATES a vertex (which batch
  * q80 excludes — the store must tombstone it, not serve its stale
  * label), and delete → re-insert across a compaction. The fixture
  * cross-check is the batch q80 engine run directly on the surviving
  * edge set. */
class CcDeltaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp() =
    java.nio.file.Files.createTempDirectory("ccdelta").toString + "/store"

  private def ev(rows: Seq[(Long, Long, Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("src", "dst", "op")
  }

  private def snap(store: String): Map[Long, Long] =
    CcStream.snapshot(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("deletion splits a component; isolation tombstones; re-insert rejoins") {
    val store = tmp()
    // chain 1-2-3-4 plus separate pair 10-11
    CcStream.processBatch(
      ev(Seq((1L, 2L, 1), (2L, 3L, 1), (3L, 4L, 1), (10L, 11L, 1))), 0L, store)
    assert(snap(store) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // delete the bridge (2,3): component 1 SPLITS into {1,2} and {3,4}
    CcStream.processBatch(ev(Seq((2L, 3L, -1))), 1L, store)
    assert(snap(store) === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L),
      "split halves must get their own min labels")
    // delete (3,4): BOTH become edge-less — tombstoned, absent from serving
    CcStream.processBatch(ev(Seq((3L, 4L, -1))), 2L, store)
    assert(snap(store) === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L),
      "isolated vertices must drop from the served labeling")
    // re-insert (3,4) and bridge (2,3): the original component reassembles
    CcStream.processBatch(ev(Seq((3L, 4L, 1), (2L, 3L, 1))), 3L, store)
    assert(snap(store) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("split-then-merge: stale rows under a still-live label must not truncate the recompute") {
    val store = tmp()
    // path 10-11-12-13 (label 10) and pair 2-3 (label 2)
    CcStream.processBatch(
      ev(Seq((10L, 11L, 1), (11L, 12L, 1), (12L, 13L, 1), (2L, 3L, 1))), 0L, store)
    // delete (11,12): splits — {10,11} keep label 10, {12,13} relabel 12;
    // batch 0's stale (12,10),(13,10) rows remain under the LIVE label 10
    CcStream.processBatch(ev(Seq((11L, 12L, -1))), 1L, store)
    assert(snap(store) === Map(10L -> 10L, 11L -> 10L, 12L -> 12L, 13L -> 12L,
      2L -> 2L, 3L -> 2L))
    // the split-off half MERGES into component 2
    CcStream.processBatch(ev(Seq((13L, 2L, 1))), 2L, store)
    assert(snap(store) === Map(10L -> 10L, 11L -> 10L, 12L -> 2L, 13L -> 2L,
      2L -> 2L, 3L -> 2L))
    // touch the SURVIVING half of the split (label 10): the stale rows
    // must not pull 12/13 into the recompute without the rest of their
    // CURRENT component — an unarbitrated membership relabels them on a
    // truncated subgraph and diverges from the surviving-set batch run
    CcStream.processBatch(ev(Seq((10L, 50L, 1))), 3L, store)
    assert(snap(store) === Map(10L -> 10L, 11L -> 10L, 50L -> 10L,
      12L -> 2L, 13L -> 2L, 2L -> 2L, 3L -> 2L),
      "stale still-live-label rows truncated the affected subgraph")
  }

  test("replay of a delete batch converges; post-compaction delete still splits") {
    val store = tmp()
    CcStream.processBatch(
      ev(Seq((1L, 2L, 1), (2L, 3L, 1), (5L, 6L, 1))), 0L, store)
    CcStream.processBatch(ev(Seq((2L, 3L, -1))), 1L, store)
    val before = snap(store)
    assert(before === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L),
      "3 must tombstone (isolated by the delete)")
    CcStream.processBatch(ev(Seq((2L, 3L, -1))), 1L, store)
    assert(snap(store) === before, "replay must converge to the same labeling")
    CcStream.compact(spark, store, throughBatch = 1L)
    assert(snap(store) === before, "compaction must preserve the labeling")
    // the folded store carries only live +1 rows; a fresh delete must
    // still outrank the folded insert (negative generation) and split
    CcStream.processBatch(ev(Seq((5L, 6L, -1))), 2L, store)
    assert(snap(store) === Map(1L -> 1L, 2L -> 1L),
      "post-compaction delete must still remove the folded edge")
  }

  test("mixed fixture ≡ batch q80 on the surviving edge set (with compaction)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val pairs = Tables.t(spark, dir, "lineitem")
      .filter($"l_quantity" === 50)
      .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
      .distinct()
      .select(($"p" * 2).as("src"), ($"su" * 2 + 1).as("dst"),
        (($"p" + $"su") % 5 === 0).as("del"),
        (($"p" + $"su") % 10 === 0).as("reins"))
      .cache()
    val store = tmp()
    CcStream.processBatch(
      pairs.filter(expr("(dst div 2) % 2 = 0")).select($"src", $"dst", lit(1).as("op")),
      0L, store)
    CcStream.processBatch(
      pairs.filter(expr("(dst div 2) % 2 = 1")).select($"src", $"dst", lit(1).as("op")),
      1L, store)
    CcStream.processBatch(
      pairs.filter($"del").select($"src", $"dst", lit(-1).as("op")), 2L, store)
    CcStream.compact(spark, store, throughBatch = 2L)
    CcStream.processBatch(
      pairs.filter($"reins").select($"src", $"dst", lit(1).as("op")), 3L, store)
    // non-vacuity: the schedule must actually delete surviving-set edges
    assert(pairs.filter($"del" && !$"reins").count() > 0)
    val surviving = pairs.filter(!$"del" || $"reins")
      .select($"src", $"dst")
    val sym = surviving.union(surviving.select($"dst".as("src"), $"src".as("dst")))
    val want = GraphQueries.minLabelPropagation(sym, GraphQueries.ScaleCcRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.unpersist()
    assert(snap(store) === want, "decremental labels diverged from the surviving-set batch run")
  }
}
