package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      // optional 3rd arg (a fast local loop): comma-separated gate names
      // — dump only those (plus the fixture tables + full oracle json,
      // so the DuckDB compare runs unchanged)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [gate1,gate2,...]")
        sys.exit(2)
    }
    // a misspelled gate must fail loudly, not dump nothing (Bench's rule)
    val unknown = only.getOrElse(Set.empty).filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(cpus)
    new java.io.File(outDir).mkdirs()
    // repartition(1), not coalesce(1): coalesce propagates up to the last
    // shuffle boundary, so a shuffle-free scan query would run its whole
    // parquet scan in ONE task. The extra exchange moves only the (small)
    // final result, and the driver's hash compare is row-order-insensitive.
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // the ingested Gavia fixture tables, so the api_* oracles can query the
    // same relational state the endpoints see (maps flattened to JSON)
    try graft.queries.ExtQueries.fixtureTables(spark).foreach { case (n, df) =>
      df.repartition(1).write.mode("overwrite").parquet(s"$outDir/_fixture/$n")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] fixture dump failed: ${e.getMessage}")
    }
    val fixtureAbs = new java.io.File(s"$outDir/_fixture").getAbsolutePath
    val fixtureSrcAbs =
      new java.io.File(graft.queries.ExtQueries.fixtureDir).getAbsolutePath
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in the SQL would otherwise make json.load fail
    def q(s: String): String = "\"" + graft.tree.TreeApi.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        val sql = v.replace("__FIXTURE__", fixtureAbs)
          .replace("__FIXSRC__", fixtureSrcAbs)
        s"${q(k)}: ${q(sql)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
