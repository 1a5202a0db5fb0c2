package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.ClusterOps

/** One-off connected-components scale benchmark: random near-dup-shaped
  * graph of N nodes and ~N edges (a big corpus whose candidate pairs
  * arrive from LSH — many tiny clusters plus a few long chains), report
  * rounds-to-converge wall time.
  *
  * Usage: runMain graft.CcBench [nNodes] [mode]. The default mode
  * ("windows") stays below the giant-component threshold — the shape of a
  * healthy LSH candidate graph. Mode "giant" welds the first 30% of nodes
  * into ONE maximal-diameter chain (adversarial near-dup chaining, e.g.
  * boilerplate drift across a crawl): the "components are tiny" assumption
  * fails outright, and convergence must come from the star-collapse +
  * pointer-doubling path (O(log diameter) rounds), not from small size.
  */
object CcBench {

  /** Deterministic pseudo-random edges: node i links to a hash-derived
    * partner within a window of 1000 ids — cluster sizes follow the
    * random-graph regime below the giant-component threshold. The last
    * (possibly short) window wraps within itself so every partner stays
    * inside the node universe for any n. ONE definition, shared with
    * [[Bench]]'s host-speed calibration rider: calib_sec exists so
    * judges divide by it INSTEAD of re-running CcBench, which only
    * holds while the two measure the identical kernel.
    */
  def windowedEdges(spark: SparkSession, lo: Long,
      hi: Long): org.apache.spark.sql.DataFrame =
    spark.range(lo, hi).toDF("a")
      .withColumn("w0", (col("a") / 1000L).cast("long") * 1000L)
      .withColumn("wlen", least(lit(1000L), lit(hi) - col("w0")))
      .withColumn("b", col("w0") + pmod(xxhash64(col("a")), col("wlen")))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val mode = args.lift(1).getOrElse("windows")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)

    def windowed(lo: Long, hi: Long) = windowedEdges(spark, lo, hi)
    val giantN = n * 3 / 10
    val edges =
      if (mode == "giant")
        // one chain over [0, 0.3n) — worst-case diameter for its size —
        // plus the usual sub-threshold soup over the rest
        spark.range(1L, giantN).toDF("a")
          .withColumn("b", col("a") - 1L)
          .unionByName(windowed(giantN, n))
      else windowed(0L, n)
    val nodes = spark.range(0L, n).toDF("id")

    val t0 = System.nanoTime()
    val cc = ClusterOps.connectedComponents(edges, nodes)
    val (nComp, biggest) = {
      val sizes = cc.groupBy(col("component")).count()
        .agg(count(lit(1)), max(col("count"))).head()
      (sizes.getLong(0), sizes.getLong(1))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // canonical-selection probe on the SAME components: in giant mode one
    // component holds 30% of all nodes, the adversarial case for any
    // per-component sort — the max_by aggregate must stay flat where the
    // old row_number window funneled 0.3n rows into one task
    val quality = spark.range(0L, n).toDF("id")
      .withColumn("score", pmod(xxhash64(col("id")), lit(1000000L)))
    val t1 = System.nanoTime()
    val nCanon = ClusterOps.canonicalPerCluster(cc, quality).count()
    val canonSecs = (System.nanoTime() - t1) / 1e9
    require(nCanon == nComp,
      s"canonical rows $nCanon != components $nComp")
    // Locale.ROOT: a decimal comma would break the JSON line
    def f1(v: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    println(s"""{"mode":"$mode","nodes":$n,"components":$nComp,"largest":$biggest,"sec":${f1(secs)},"canon_sec":${f1(canonSecs)}}""")
    spark.stop()
  }
}
