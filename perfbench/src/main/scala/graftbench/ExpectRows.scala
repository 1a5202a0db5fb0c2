package graftbench

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Writes the expected row count of each benchmark gate (the file the
  * `gates` workload checks every run against) and the DuckDB oracle SQL
  * of the gates that have one, for `tools/oracle_rows.py` to cross-check.
  *
  * Usage, from the checkout root:
  * `graftbench.ExpectRows perfbench/expected_gate_rows.tsv <oracle.json>`
  */
object ExpectRows {
  def main(args: Array[String]): Unit = {
    val Array(tsv, oracleJson) = args
    val spark = GraftSession.build(Runtime.getRuntime.availableProcessors.toString)
    val ctx = new Ctx(spark, 0L, Paths.get(".bench_build/work").toAbsolutePath, None)
    val dir = Paths.get(Gates.DataDir).toAbsolutePath.toString
    val rows = Gates.Timed.sorted.map(g => g -> Gates.runOnce(ctx, g, dir)._1)
    Files.writeString(Paths.get(tsv),
      "# gate\trows\t(row count at sf0.001; see tools/oracle_rows.py)\n" +
        rows.map { case (g, n) => s"$g\t$n\n" }.mkString)
    val oracle = Gates.Timed.sorted.flatMap(g => SparkEntry.oracleSql.get(g).map(g -> _))
    Files.writeString(Paths.get(oracleJson),
      oracle.map { case (g, sql) => s"${Report.q(g)}:${Report.q(sql)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
