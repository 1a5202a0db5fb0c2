package graftbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.tree.Newick

class TolGenSpec extends AnyFunSuite {

  private def files(dir: Path): Map[String, Array[Byte]] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path]).map(p => p.getFileName.toString -> Files.readAllBytes(p)).toMap
    finally s.close()
  }

  test("the same seed writes byte-identical tree, taxonomy and annotations files") {
    val a = Files.createTempDirectory("tolgen_a")
    val b = Files.createTempDirectory("tolgen_b")
    val c = Files.createTempDirectory("tolgen_c")
    TolTree.generate(42, 3000, "synth").write(a)
    TolTree.generate(42, 3000, "synth").write(b)
    TolTree.generate(43, 3000, "synth").write(c)
    val (fa, fb, fc) = (files(a), files(b), files(c))
    assert(fa.keySet == Set("synth.tre", "synth_annotations.json", "synth_taxonomy.tsv"))
    fa.foreach { case (name, bytes) =>
      assert(java.util.Arrays.equals(bytes, fb(name)), s"$name differs for one seed")
      assert(!java.util.Arrays.equals(bytes, fc(name)), s"$name equal for two seeds")
    }
  }

  test("shape: exact tips, polytomies up to 60, caterpillar runs, ~30% named, fixed depth band") {
    (1 to 4).foreach { seed =>
      val t = TolTree.generate(seed, TolServe.Tips, s"synth_$seed")
      assert(t.tips == TolServe.Tips)
      assert(t.isTip.count(identity) == TolServe.Tips)
      val internal = (0 until t.size).filterNot(t.isTip)
      val degrees = internal.map(t.children(_).length)
      assert(degrees.max <= TolTree.MaxPolytomy && degrees.max > 20)
      assert(degrees.count(_ == 2) > 0.8 * internal.size)
      val named = internal.count(t.uid(_) >= 0).toDouble / internal.size
      assert(named > 0.25 && named < 0.35, s"named fraction $named")
      // the labeler's round count depends on the deepest path only
      assert(t.maxDepth > 32 && t.maxDepth <= TolTree.MaxDepth)
      assert(t.label.distinct.length == t.size)
      // a caterpillar: at least 5 nested binary nodes that each split off one tip
      def peels(v: Int) = t.children(v).length == 2 && t.isTip(t.children(v)(0))
      val longest = internal.map { v =>
        Iterator.iterate(v)(u => t.children(u)(1)).takeWhile(u => !t.isTip(u) && peels(u)).size
      }.max
      assert(longest >= 5, s"longest caterpillar run $longest")
    }
  }

  test("Newick.parse of the written tree assigns the truth's preorder ids") {
    val t = TolTree.generate(3, 2000, "synth_3")
    val parsed = Newick.parse(t.newick.trim)
    assert(parsed.map(_.parentId.toInt) == t.parent.toSeq)
    assert(parsed.map(_.label) == t.label.toSeq)
  }

  test("a taxonomy row per named node, an annotation per internal node") {
    val t = TolTree.generate(9, 2000, "synth_9")
    val rows = t.taxonomyTsv.split('\n').drop(1)
    assert(rows.length == t.uid.count(_ >= 0))
    val ann = Main.json.readTree(t.annotationsJson)
    assert(ann.get("nodes").size == t.isTip.count(!_))
    assert(ann.get("tree_id").asText == "synth_9")
    val n = ann.get("nodes").get(t.label(0))
    assert(n.has("supported_by") && n.has("conflicts_with"))
  }

  test("truth helpers: MRCA by the parent array, tip labels, cut sizes") {
    val t = TolTree.generate(5, 500, "synth_5")
    val tips = (0 until t.size).filter(t.isTip)
    assert(t.mrca(tips) == 0)
    assert(t.tipLabels(0).size == 500)
    val v = t.children(0)(0)
    assert(t.mrca(Seq(v, t.last(v))) == v)
    assert(t.cutNodes(0, 0) == 1 && t.cutNodes(0, 1) == 1 + t.children(0).length)
  }
}
