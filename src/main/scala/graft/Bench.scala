package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Bench {

  /** Deterministic pseudo-random edges: node i links to a hash-derived
    * partner within a window of 1000 ids — cluster sizes follow the
    * random-graph regime below the giant-component threshold. The last
    * (possibly short) window wraps within itself so every partner stays
    * inside the node universe for any n. The calibration rider's kernel:
    * `calib_sec` stays comparable across rounds (BENCH_r01..r15) only
    * while this stays byte-for-byte the definition it has always been —
    * BenchSpec pins its row counts and checksums.
    */
  private[graft] def windowedEdges(spark: SparkSession, lo: Long,
      hi: Long): DataFrame =
    spark.range(lo, hi).toDF("a")
      .withColumn("w0", (col("a") / 1000L).cast("long") * 1000L)
      .withColumn("wlen", least(lit(1000L), lit(hi) - col("w0")))
      .withColumn("b", col("w0") + pmod(xxhash64(col("a")), col("wlen")))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)
    // a misspelled query name must fail loudly, not print a success-shaped
    // zero-query JSON that a regression script would record as a pass
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}; " +
        s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    // The noop sink forces full evaluation of every output column; a bare
    // count() would let Catalyst prune projections and eliminate sorts, so
    // scrub/codec/sort queries would time an empty-schema row count. A
    // failed gate says why on stderr, one line per failure, so the stdout
    // contract (the two JSON lines) keeps its exact shape.
    def run(name: String, pass: String,
        fn: (SparkSession, String) => DataFrame): Boolean =
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        true
      } catch { case e: Throwable =>
        val msg = String.valueOf(e.getMessage).replaceAll("\\s+", " ")
        System.err.println(
          s"[bench] gate=$name pass=$pass failed: ${e.getClass.getName}: $msg")
        false
      }
    // Host-speed calibration rider: ONE fixed CPU-bound kernel
    // (connected components over windowedEdges at 200k nodes, warmed
    // at 20k) timed in-session and emitted beside the results, so
    // cross-round BENCH artifacts self-normalize against host drift
    // without out-of-band calibration runs. Full-suite runs only: the
    // single-query isolation mode exists for fast regression chasing
    // and must not pay a fixed multi-second CC job per invocation
    // (its numbers are compared within one session, not across hosts).
    val calibSec: Option[Double] =
      if (args.nonEmpty) None
      else Some {
        graft.ops.ClusterOps.connectedComponents(
          windowedEdges(spark, 0L, 20000L),
          spark.range(0L, 20000L).toDF("id")).count()
        // median of three timed runs after the warm run: a one-shot
        // multi-second measurement carries JIT/GC jitter that makes the
        // normalizer itself noisy across rounds
        val runs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          graft.ops.ClusterOps.connectedComponents(
            windowedEdges(spark, 0L, 200000L),
            spark.range(0L, 200000L).toDF("id")).count()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        runs(1)
      }
    // Warmup pass: pays SparkSession/codegen/parquet-footer startup AND the
    // one-time ingest-style builds (tree labeling, fixture ingest) outside
    // the timed region — the reference likewise builds its DB before
    // serving, so steady-state query latency is the comparable number.
    // optional args: query names to run in isolation (suite contention
    // distorts single-query timings ±40% — regressions are chased here)
    val qs0 = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
    qs0.foreach { case (name, fn) => run(name, "warmup", fn) }
    val results = qs0.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = run(name, "timed", fn)
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    // 3-decimal seconds: millisecond resolution is far below run noise
    // (host drift swings gates 1.5-2x), and the shorter line maximizes
    // what survives the driver artifact's fixed tail window; Locale.ROOT,
    // because a decimal comma would break the JSON
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // a failed query reports -1, never a fake wall-clock entry
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) f3(v) else "-1.0") }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.filter(_._3).map(_._2).sum
    // calib_sec omitted entirely in single-query runs — an in-band
    // sentinel like -1 would flow through a normalizer's division as
    // silent garbage, where a missing key fails unmistakably
    val calibField =
      calibSec.map(c => s""","calib_sec":${f3(c)}""").getOrElse("")
    // Two lines, full first and compact LAST. The driver's artifact
    // preserves only the final ~2000 characters of output, and the full
    // per-gate map alone is ~5 KB — a single all-in-one line (the shape
    // of rounds 1-14) gets its head truncated away and the JSON never
    // parses (BENCH_r01..r14 all carry parsed: null). So:
    //   line 1: the original contract line, everything included, for any
    //           consumer that reads the whole stream;
    //   line 2: a compact total/errors/calib/sf line (~150 chars) that
    //           fits ANY tail window whole and always parses; its own
    //           discriminator keeps a stream consumer from counting the
    //           total twice.
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"errors":$errors$calibField,"sf":"$sfDir"}""")
    println(s"""{"metric":"total_compact","value":${f3(total)},"unit":"sec","n_queries":${results.count(_._3)},"errors":$errors$calibField,"sf":"$sfDir"}""")
    spark.stop()
  }
}
