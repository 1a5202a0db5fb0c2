package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.queries.{ExtQueries, Relational, TrainingQueries, TreeQueries}

/** `gates`: a fixed set of the declared gates (`SparkEntry.queries`) over
  * the committed sf0.001 tables, one or more from each registry.
  *
  * Set-up is the first, cold pass over the set (JIT, codegen, parquet
  * footers and each gate's one-time store or fixture build); one untimed
  * passes follow. The timed passes materialize every gate to the `noop`
  * sink, as the suite bench does, in a fixed cycle whose starting gate
  * the seed picks, one pass per `PassSeconds` of `--seconds`; each gate
  * counts its best pass. Each gate's row count is observed in the same
  * execution and compared with `expected_gate_rows.tsv`; a gate that
  * throws is recorded with its exception class and message.
  *
  * Light gates are the single-query operators, whose time is mostly the
  * job floor; heavy gates are the dedup pipelines (`dd_*`).
  */
object Gates {
  val Timed: Seq[String] = Seq(
    "q1_agg", // queries.Relational
    "tree_lineage", // queries.TreeQueries
    // queries.TrainingQueries: dd_pipeline runs ClusterOps.connectedComponents
    // over the verified pairs on every execution
    "txt_tokens", "dd_pipeline", "dd_jaccard",
    "s2_taxonomy") // queries.ExtQueries

  /** Untimed passes after the set-up pass: the JIT keeps speeding the
    * gates up for several passes, and timing that drift would measure
    * compilation, not the gates. One pass, with the best of the timed
    * passes counted, keeps a run well inside its time limit on a slow host
    * (`dd_pipeline` alone takes 4.5–9 s a pass on 4 cores).
    */
  val WarmPasses = 1

  /** Seconds of `--seconds` budgeted per timed pass: `--seconds 10` runs
    * two. The count depends on `--seconds` alone, never on how fast the
    * host is, so every run takes the best of the same number of passes.
    */
  val PassSeconds = 5.0

  def heavy(gate: String): Boolean = gate.startsWith("dd_")

  def registryOf(gate: String): String =
    if (Relational.registry.contains(gate)) "queries.Relational"
    else if (TreeQueries.registry.contains(gate)) "queries.TreeQueries"
    else if (TrainingQueries.registry.contains(gate)) "queries.TrainingQueries"
    else if (ExtQueries.registry.contains(gate)) "queries.ExtQueries"
    else throw new IllegalArgumentException(s"unknown gate $gate")

  val ExpectedFile = "perfbench/expected_gate_rows.tsv"

  /** gate → expected row count at sf0.001. */
  def expected(): Map[String, Long] =
    scala.io.Source.fromFile(ExpectedFile, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split('\t')).map(f => f(0) -> f(1).toLong).toMap

  /** Run one gate to the noop sink; returns (rows, wall ns). */
  def runOnce(ctx: Ctx, gate: String, dir: String): (Long, Long) = {
    val obs = Observation(s"rows_$gate")
    val t0 = System.nanoTime()
    ctx.call(registryOf(gate)) {
      SparkEntry.queries(gate)(ctx.spark, dir)
        .observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    val ns = System.nanoTime() - t0
    (obs.get("n").asInstanceOf[Long], ns)
  }

  /** No job may outlive its gate into the next one's timing. */
  private def awaitIdle(ctx: Ctx): Unit = {
    val tracker = ctx.spark.sparkContext.statusTracker
    val until = System.nanoTime() + 60L * 1000000000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < until) Thread.sleep(5)
  }

  val DataDir = "perfbench/data/sf0.001"

  def run(ctx: Ctx, report: Report, gates: Seq[String], seconds: Double): Unit = {
    require(Files.isDirectory(Paths.get(DataDir)), s"no gate data at $DataDir")
    val dir = Paths.get(DataDir).toAbsolutePath.toString
    val want = expected()
    // the seed picks where the fixed cycle of gates starts
    val start0 = java.lang.Math.floorMod(ctx.seed, gates.size.toLong).toInt
    val order = gates.drop(start0) ++ gates.take(start0)
    val failedGates = mutable.Set.empty[String]
    def attempt(gate: String): Option[Long] = {
      val r = try {
        val (rows, ns) = runOnce(ctx, gate, dir)
        report.check(want.get(gate).contains(rows),
          s"$gate: $rows rows, expected ${want.getOrElse(gate, "no entry")}")
        if (want.get(gate).contains(rows)) Some(ns) else None
      } catch {
        case e: Throwable =>
          report.attempted += 1
          report.fail(s"$gate: ${e.getClass.getName}: ${e.getMessage}")
          None
      }
      awaitIdle(ctx)
      if (r.isEmpty) failedGates += gate
      r
    }

    val t0 = System.nanoTime()
    ctx.untraced(order.foreach(attempt))
    report.metric("setup_s", (System.nanoTime() - t0) / 1e9, "s", 1)
    report.metric("driver_heap_mb", Main.retainedHeapMb(), "MB", 1)
    ctx.untraced((1 to WarmPasses).foreach(_ => order.filterNot(failedGates).foreach(attempt)))

    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passes = math.max(1, math.round(seconds / PassSeconds).toInt)
    (1 to passes).foreach { _ =>
      order.filterNot(failedGates).foreach { g =>
        attempt(g).foreach(ns => walls.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ns / 1e6)
      }
    }
    report.facts("gate_passes") = passes
    report.facts("gate_pass_ms") = walls.toSeq.sortBy(_._1).map { case (g, xs) => g -> xs.toSeq }.toMap
    // one figure per gate: its best timed pass (noise only adds time)
    val perGate = walls.map { case (g, xs) => g -> xs.min }
    report.facts("gate_ms") = perGate.toSeq.sortBy(_._1).toMap
    val light = perGate.collect { case (g, ms) if !heavy(g) => ms }.toSeq
    val heavyMs = perGate.collect { case (g, ms) if heavy(g) => ms }.toSeq
    if (light.isEmpty || heavyMs.isEmpty) report.fail("no light or no heavy gate completed")
    else {
      report.metric("light_p50_ms", Report.median(light), "ms", light.size)
      report.metric("heavy_p50_ms", Report.median(heavyMs), "ms", heavyMs.size)
      report.metric("ops_per_s", perGate.size / (perGate.values.sum / 1e3), "1/s", perGate.size)
      report.facts("gates_total_s") = perGate.values.sum / 1e3
    }
  }
}
