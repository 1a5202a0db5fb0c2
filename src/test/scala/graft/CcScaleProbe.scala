package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ClusterOps

/** Mid-scale convergence guard for connected components: a 2k-node random
  * functional graph (windows of 1000, one hash-derived edge per node) has
  * long rho-shaped chains — the shape that exposed both the O(log²)
  * convergence of plain relax+shortcut (~50 rounds; star collapse brings
  * it to ~7) and the localCheckpoint originStats chain (round cost
  * exploding from round ~17). The `require(converged, …)` inside
  * connectedComponents fails this test if either regression returns.
  * At 1M nodes it converged in 8 rounds, 46 s (PERF.md).
  */
class CcScaleProbe extends AnyFunSuite {
  import SparkTestSession._

  test("cc converges in few rounds on a 2k-node chain-heavy random graph") {
    val n = 2000L
    val edges = spark.range(0L, n).toDF("a")
      .withColumn("b",
        (col("a") / 1000L).cast("long") * 1000L +
          pmod(xxhash64(col("a")), lit(1000L)))
      .filter(col("a") =!= col("b"))
    val nodes = spark.range(0L, n).toDF("id")
    val cc = ClusterOps.connectedComponents(edges, nodes, maxRounds = 15)
    val nComp = cc.select(countDistinct(col("component"))).head().getLong(0)
    assert(nComp > 0 && nComp < n)
  }
}
