package graftbench

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Runs the harness end to end on small inputs and parses what it prints,
  * under a default locale whose decimal separator is a comma.
  */
class OutputSpec extends AnyFunSuite {

  private def runParsed(args: String*): (com.fasterxml.jackson.databind.JsonNode,
      com.fasterxml.jackson.databind.JsonNode) = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    val work = java.nio.file.Files.createTempDirectory("perfbench_out").toString
    val (code, lines) = try Main.run((args ++ Seq("--work", work)).toArray)
      finally Locale.setDefault(saved)
    assert(code == 0, lines.mkString("\n"))
    assert(lines.size == 2)
    (Main.json.readTree(lines.head).get("detail"), Main.json.readTree(lines.last))
  }

  private def checkResult(r: com.fasterxml.jackson.databind.JsonNode,
      names: Seq[String]): Unit = {
    assert(r.fieldNames.asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(r.get("correct").asBoolean, r.toString)
    assert(r.get("failed").asLong == 0 && r.get("attempted").asLong >= 1)
    assert(r.get("metrics").fieldNames.asScala.toSeq == names)
    names.foreach { n =>
      val m = r.get("metrics").get(n)
      assert(m.fieldNames.asScala.toSet == Set("value", "unit"), n)
      assert(m.get("value").isNumber && m.get("unit").isTextual, n)
    }
  }

  test("tol_serve prints the end-to-end metrics, each with its sample count") {
    val (detail, r) = runParsed("--workload", "tol_serve", "--seed", "5",
      "--seconds", "2", "--tips", "400")
    checkResult(r, Main.EndToEnd)
    Main.EndToEnd.foreach(n => assert(r.get("metrics").get(n).get("value").asDouble > 0, n))
    Main.EndToEnd.foreach(n => assert(detail.get("metrics").get(n).get("samples").asLong >= 1, n))
  }

  test("gates checks row counts and reports light and heavy gates") {
    val (detail, r) = runParsed("--workload", "gates", "--seed", "5", "--seconds", "0",
      "--gates", "q1_agg,dd_jaccard")
    checkResult(r, Main.EndToEnd)
    assert(detail.get("gate_ms").fieldNames.asScala.toSet == Set("q1_agg", "dd_jaccard"))
  }

  test("the traced panel reports every per-layer metric; index spans start no job") {
    val (detail, r) = runParsed("--workload", "gates", "--seed", "6", "--seconds", "2",
      "--tips", "400", "--trace", "1", "--gates", "q1_agg,tree_lineage,dd_jaccard,s2_taxonomy")
    checkResult(r, Main.PerLayer)
    val m = r.get("metrics")
    assert(m.get("tree.TreeServing.Index.nodeInfo.jobs").get("value").asDouble == 0)
    assert(m.get("tree.TreeServing.Index.mrca.jobs").get("value").asDouble == 0)
    assert(m.get("tree.TreeIngest.ingestParsed.jobs").get("value").asDouble > 0)
    assert(detail.has("traced_tol_serve") && detail.has("traced_gates"))
  }
}
