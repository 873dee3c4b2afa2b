package graft

import graft.streaming.{CcStream, Stores, TriangleStream}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The round-10 restriction-first contract, asserted on the PLAN (the
  * q24 zero-exchange-spec pattern): the maintained-store ingest paths'
  * store-wide aggregates/windows must run BELOW a semi-join restriction —
  * i.e. over a delta-restricted slice — never over the raw store scan.
  * Semantics are pinned too: restriction must not change what the
  * consumers see (net edges of the touched adjacency; exact member
  * sets), including the both-endpoints-touched edge a naive two-way
  * semi-join union would double-count. */
class RestrictedScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every store-reading Aggregate/Window of `df`'s optimized plan must
    * sit above a LeftSemi restriction (subtree check — the restriction
    * runs before the shuffle the operator implies). */
  private def assertRestricted(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.optimizedPlan
    val heavy = plan.collect {
      case a: Aggregate => a: LogicalPlan
      case w: LWindow => w: LogicalPlan
    }
    assert(heavy.nonEmpty, s"$what: expected an aggregate/window in the plan")
    heavy.foreach { op =>
      val scansStore = op.collectLeaves().exists(_.toString.contains("parquet"))
      if (scansStore) {
        val restricted = op.children.exists(_.collectFirst {
          case j: Join if j.joinType == LeftSemi => j
        }.isDefined)
        assert(restricted,
          s"$what: ${op.nodeName} runs over the raw store scan — no LeftSemi below it:\n$plan")
      }
    }
  }

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/store"

  test("TriangleStream.edgesTouching: net aggregate runs over the endpoint-restricted slice") {
    import spark.implicits._
    val store = tmp("rscan-tri")
    // ± edge rows across two batches: (1,2) net-dead, (1,3) net-live,
    // (5,6) live but untouched, (1,9)+(3,9): both-endpoints-touched probes
    Stores.writeReplicaBatch(
      Seq((1L, 2L, 1), (1L, 3L, 1), (5L, 6L, 1), (1L, 9L, 1), (3L, 9L, 1))
        .toDF("a", "b", "op"), 0L, store, TriangleStream.EdgeReplicas)
    Stores.writeReplicaBatch(Seq((1L, 2L, -1)).toDF("a", "b", "op"),
      1L, store, TriangleStream.EdgeReplicas)
    val eps = Seq(1L, 3L, 9L).toDF("n")
    val got = TriangleStream.edgesTouching(spark, store, 2L, eps)
    assertRestricted(got, "edgesTouching")
    // semantics: EP-incident net-live edges only; (1,9) and (3,9) have
    // BOTH endpoints touched — each must appear exactly once
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 3L), (1L, 9L), (3L, 9L)))
  }

  test("CcStream.labelsOf/membersOf: freshest-row window and membership run node/component-restricted") {
    import spark.implicits._
    val store = tmp("rscan-cc")
    // two components (min-labels 1 and 10), two label generations: node 2
    // moved 20 → 1 in batch 1 (the stale-row case membersOf's invariant
    // argument covers)
    Stores.writeReplicaBatch(
      Seq((1L, 1L), (2L, 20L), (10L, 10L), (11L, 10L)).toDF("node", "component"),
      0L, store, CcStream.LabelReplicas)
    Stores.writeReplicaBatch(Seq((2L, 1L)).toDF("node", "component"),
      1L, store, CcStream.LabelReplicas)
    val touched = Seq(2L).toDF("node")
    val labs = CcStream.labelsOf(spark, store, touched)
    assertRestricted(labs, "labelsOf")
    assert(labs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((2L, 1L)),
      "freshest restricted row must win")
    val members = CcStream.membersOf(spark, store, touched)
    assertRestricted(members, "membersOf")
    assert(members.collect().map(_.getLong(0)).toSet === Set(1L, 2L),
      "membership must be node 2's current component only — not the stale 20, not component 10")
  }
}
