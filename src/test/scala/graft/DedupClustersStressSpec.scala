package graft

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Iteration hygiene for the connected-components operator: a 10^5-edge
  * input with a long-diameter chain (many rounds, exercising the
  * checkpoint path) must converge correctly AND leave no superseded cached
  * frames behind — at most the edges' replacement (final labels) and the
  * last checkpoint may be pinned. */
class DedupClustersStressSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  test("10^5-edge CC converges, correct labels, no cache leak") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    // 1000 star components of 100 nodes each (~99k edges, 2 rounds)...
    val stars = spark.range(100000L)
      .selectExpr("id - id % 100 AS id1", "id AS id2")
      .filter("id1 <> id2")
    // ...plus one 25-node chain (diameter 24 -> >8 rounds, 2+ checkpoints)
    val chain = spark.range(200000L, 200024L)
      .selectExpr("id AS id1", "id + 1 AS id2")
    val pairs = stars.unionByName(chain)
    assert(pairs.count() > 99000)

    val t0 = System.nanoTime()
    val labels = Dedup.dupClusters(pairs).collect()
    val secs = (System.nanoTime() - t0) / 1e9

    // correctness: every star member labeled with its hub, chain collapses
    val byNode = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byNode.size == 100000 + 25)
    assert(byNode(12345L) == 12300L && byNode(99999L) == 99900L)
    assert((200000L to 200024L).forall(byNode(_) == 200000L))

    // hygiene: superseded rounds unpersisted — only the final labels frame
    // (and possibly its checkpoint source) may remain beyond the baseline.
    // unpersist() is async; poll briefly for the block manager to settle.
    def leaked(): Int = spark.sparkContext.getPersistentRDDs.size - before
    val deadline = System.nanoTime() + 10e9.toLong
    while (leaked() > 2 && System.nanoTime() < deadline) Thread.sleep(200)
    assert(leaked() <= 2,
      s"cache leak: $before persistent RDDs before, ${leaked() + before} " +
        f"after ($secs%.1f s)")
  }

  test("a 200-diameter chain (far beyond the old 32-round wall) converges " +
      "correctly via pointer doubling") {
    // Round-8 verdict finding: the 32-round guard exited SILENTLY
    // unconverged, mislabeling any component with diameter > 32 — the
    // drifting-boilerplate chain shape web-scale near-dup graphs contain.
    // With doubling this needs ~9 rounds; with plain propagation it needs
    // 200, so this test fails on the old code (wrong labels) and would
    // fail loudly (throw) if convergence ever regressed.
    import spark.implicits._
    val chain = spark.range(500000L, 500200L)
      .selectExpr("id AS id1", "id + 1 AS id2")
    val labels = Dedup.dupClusters(chain).collect()
    val byNode = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byNode.size == 201)
    assert((500000L to 500200L).forall(byNode(_) == 500000L),
      "every chain node must carry the component-min label")
  }
}
