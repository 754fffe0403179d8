package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Round-17 hub-skew guard (VERDICT r16 #4): q213's wedge generation
  * splits a high-degree center's position range across tasks. This spec
  * pins the split path's EXACT equivalence to the unsplit one on a
  * synthetic hub graph — same rows, same scores, same ties — by running
  * adamicAdar with the hub threshold forced below the hub's degree vs
  * forced above it. */
class AaHubSplitSpec extends AnyFunSuite {

  private lazy val spark = graft.core.GraftSession.local("aa-hub-spec", 4)

  test("hub split path emits the identical wedge multiset (scores equal)") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // co-purchase orders: a hub part (100) bought with each of 40 spokes
    // (deg 100 = 40, C(40,2) = 780 wedges from one center), plus two
    // clique baskets so non-hub centers and existing-edge exclusions are
    // exercised, plus a chain basket
    val orders =
      (1L to 40L).map(i => (i, Seq(100L, i))) ++ Seq(
        (200L, Seq(1L, 2L, 3L)),
        (201L, Seq(4L, 5L, 6L, 7L)),
        (202L, Seq(1L, 8L)))
    val lineitem = orders.flatMap { case (o, parts) => parts.map(p => (o, p)) }
      .toDF("l_orderkey", "l_partkey")
    def run(hubDeg: Int) =
      graft.core.CacheScope.scoped {
        Graph.adamicAdar(spark, lineitem, topN = 1000, hubDegree = hubDeg)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSeq.sorted
      }
    val unsplit = run(Int.MaxValue) // every center takes the small path
    val split = run(3)              // every center with deg >= 3 splits
    assert(split == unsplit)
    assert(unsplit.nonEmpty)
    // the hub actually produced wedges: spokes 8+ pair only via the hub
    val viaHub = unsplit.filter { case (u, v, _, _) => u >= 8L && v >= 9L }
    assert(viaHub.nonEmpty)
  }

  test("no hub, no hub branch: the plan has no Union unless a center reaches the threshold") {
    import spark.implicits._
    val lineitem = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L))
      .toDF("l_orderkey", "l_partkey")
    def unions(hubDeg: Int) = graft.core.CacheScope.scoped {
      Graph.adamicAdar(spark, lineitem, hubDegree = hubDeg)
        .queryExecution.optimizedPlan.collect {
          case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
        }.size
    }
    assert(unions(Int.MaxValue) == 0) // max degree 3 < threshold
    assert(unions(3) == 1)            // part 3 has degree 3: hub branch
  }

  test("strided chunks cover every position exactly once with near-equal work") {
    // pure check of the strided chunking used in the hub path:
    // n = ceil(C(deg,2)/T) chunks; chunk k enumerates positions
    // i ≡ k (mod n); position i emits deg-1-i pairs
    for (deg <- Seq(2, 3, 5, 47, 100, 313); t <- Seq(1L, 7L, 100L)) {
      val pairs = deg.toLong * (deg - 1) / 2
      val n = (pairs - 1) / t + 1
      val byChunk = (0L until n).map { k =>
        (k until deg.toLong by n).map(i => deg - 1 - i).sum
      }
      // coverage: the chunk totals sum to C(deg,2) and the position sets
      // partition [0, deg)
      assert(byChunk.sum == pairs, s"deg=$deg t=$t")
      val positions = (0L until n).flatMap(k => k until deg.toLong by n)
      assert(positions.sorted == (0L until deg.toLong), s"deg=$deg t=$t")
      // balance: every chunk within ±deg of the mean (the stride bound)
      val mean = pairs.toDouble / n
      assert(byChunk.forall(c => math.abs(c - mean) <= deg.toDouble),
        s"deg=$deg t=$t chunks=$byChunk")
    }
  }
}
