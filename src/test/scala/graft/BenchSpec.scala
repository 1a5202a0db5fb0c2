package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the calibration rider's kernel: `calib_sec` is comparable across
  * rounds only while [[Bench.windowedEdges]] generates the same edges it
  * always has. The row counts and order-free checksums below were taken
  * from the definition the rider has timed since BENCH_r01; any rewrite
  * of the kernel fails here.
  */
class BenchSpec extends AnyFunSuite {
  import SparkTestSession._

  test("the calibration kernel's edges are pinned at both rider sizes") {
    Seq(20000L -> (19972L, BigDecimal("-766623056212956089271")),
      200000L -> (199778L, BigDecimal("2429857221565794624320")))
      .foreach { case (n, want) =>
        val r = Bench.windowedEdges(spark, 0L, n)
          .agg(count(lit(1)),
            sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")))
          .head()
        assert((r.getLong(0), BigDecimal(r.getDecimal(1))) == want, s"n=$n")
      }
  }
}
