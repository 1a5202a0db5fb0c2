package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tree._

/** Golden tests mirroring the reference's ws-tests + working_notes goldens
  * (the Gavia subtree, working_notes.txt:126-130) on a from-scratch fixture
  * with the same topology, plus parser/labeler invariants.
  */
class TreeSpec extends AnyFunSuite {
  import SparkTestSession._

  import GaviaFixture.{fx, GoldenGavia}

  lazy val ingested = TreeIngest.ingest(spark,
    s"$fx/gavia.tre", s"$fx/gavia_annotations.json", s"$fx/gavia_taxonomy.tsv",
    treeId = "opentree4.1")
  lazy val nodes = ingested.nodes.persist()

  def idOf(ot: String): Long =
    nodes.filter(col("ot_node_id") === ot).select("node_id").head().getLong(0)

  test("newick parse: preorder ids, labels, child order") {
    val p = Newick.parse(
      "(ott1057044,((ott1085739,ott651474)A,(ott1057518,ott90560)B)C)R;")
    assert(p.length == 9)
    assert(p.head.label == "R" && p.head.parentId == -1)
    val labels = p.sortBy(_.nodeId).map(_.label)
    assert(labels == Seq("R", "ott1057044", "C", "A", "ott1085739", "ott651474",
      "B", "ott1057518", "ott90560"))
  }

  test("newick parse: quoted labels, branch lengths, comments") {
    val p = Newick.parse("('sp. one':0.5,two:1.25[a comment],three)'the root':2;")
    assert(p.find(_.label == "sp. one").exists(_.branchLength == 0.5))
    assert(p.find(_.label == "two").exists(_.branchLength == 1.25))
    assert(p.head.label == "the root" && p.head.branchLength == 2.0)
  }

  test("subtree newick with all labels matches the reference golden") {
    val got = TreeOps.newick(nodes, idOf("ott803675"),
      labelFormat = "name_and_id", idsForUnnamed = true)
    assert(got == GoldenGavia)
  }

  test("default subtree newick omits unnamed (mrca) labels; opt-in adds them") {
    val dflt = TreeOps.newick(nodes, idOf("ott803675"))
    assert(!dflt.contains("mrca"), dflt)
    assert(dflt.contains("Gavia_stellata_ott1057044"))
    val withIds = TreeOps.newick(nodes, idOf("ott803675"), idsForUnnamed = true)
    assert(withIds.contains("mrca"))
  }

  test("label_format name / id variants") {
    val byName = TreeOps.newick(nodes, idOf("ott803675"), labelFormat = "name")
    assert(byName == "(Gavia_stellata,((Gavia_arctica,Gavia_pacifica)," +
      "(Gavia_immer,Gavia_adamsii)))Gavia;")
    val byId = TreeOps.newick(nodes, idOf("ott803675"), labelFormat = "id",
      idsForUnnamed = true)
    assert(byId == "(ott1057044,((ott1085739,ott651474)mrcaott651474ott1085739," +
      "(ott1057518,ott90560)mrcaott90560ott1057518)mrcaott90560ott651474)ott803675;")
  }

  test("labeling invariants: root, tips, intervals") {
    val root = nodes.filter(col("parent_id") === -1L)
    assert(root.count() == 1)
    assert(root.select("tip_descendants").head().getLong(0) == 5L)
    assert(nodes.filter(col("is_leaf")).count() == 5)
    // interval nesting: every node's [pre, post] lies within its parent's
    val joined = nodes.alias("c").join(
      nodes.select(col("node_id").as("pid"), col("pre").as("ppre"),
        col("post").as("ppost")).alias("p"),
      col("c.parent_id") === col("p.pid"))
    assert(joined.filter(col("c.pre") <= col("p.ppre") ||
      col("c.post") > col("p.ppost")).count() == 0)
  }

  test("mrca: pair, set, and single-node semantics") {
    val arctica = idOf("ott1085739"); val adamsii = idOf("ott90560")
    val m1 = TreeOps.mrcaOfSet(nodes, Seq(arctica, adamsii)).head()
    assert(m1.getLong(0) == idOf("mrcaott90560ott651474"))
    // single node: MRCA is the node itself (GraphExplorer.java:643-645)
    val m2 = TreeOps.mrcaOfSet(nodes, Seq(arctica)).head()
    assert(m2.getLong(0) == arctica)
    // duplicate ids and ids absent from the tree narrow to the valid
    // distinct set (the reference's BadIds semantics) — NOT an empty
    // result from an ids.length coverage mismatch
    val m3 = TreeOps.mrcaOfSet(nodes, Seq(arctica, arctica, adamsii)).head()
    assert(m3.getLong(0) == idOf("mrcaott90560ott651474"))
    val m4 = TreeOps.mrcaOfSet(nodes, Seq(arctica, adamsii, -12345L)).head()
    assert(m4.getLong(0) == idOf("mrcaott90560ott651474"))
  }

  test("mrcaOfSet on a forest: disconnected ids yield an empty frame") {
    import spark.implicits._
    val edges = Seq(
      (11L, 10L, 0), (12L, 10L, 1),                 // tree rooted at 10
      (21L, 20L, 0), (22L, 20L, 1)                  // tree rooted at 20
    ).toDF("child_id", "parent_id", "child_ord")
    val lab = TreeLabeler.label(spark, edges)
    // ids from disconnected trees: NO common ancestor exists — the answer
    // is empty, not the deepest node covering the larger subset
    assert(TreeOps.mrcaOfSet(lab, Seq(11L, 21L)).isEmpty)
    // within one tree of the same forest frame the kernel still resolves
    assert(TreeOps.mrcaOfSet(lab, Seq(21L, 22L)).head().getLong(0) == 20L)
  }

  test("branch length parses with ignorable whitespace after the colon") {
    val p = Newick.parse("(a: 0.5,b:\t1.25)r;")
    val byLabel = p.map(n => n.label -> n.branchLength).toMap
    assert(byLabel("a") == 0.5 && byLabel("b") == 1.25)
  }

  test("mrta: nearest taxon above an unnamed mrca node") {
    val m = TreeOps.mrta(nodes, idOf("mrcaott90560ott651474"))
    assert(m.select("ot_node_id").head().getString(0) == "ott803675")
  }

  test("depth-limited subtree and tip-count guard") {
    val rootId = idOf("ott803675")
    assert(TreeOps.subtree(nodes, rootId, 1).count() == 3) // root + 2 children
    assert(TreeOps.subtreeTipCount(nodes, rootId) == 5)
    assert(TreeOps.subtreeTipCount(nodes, rootId, 1) == 2)
    val full = TreeOps.subtree(nodes, rootId)
    assert(full.count() == 9)
  }

  test("induced subtree keeps query tips, mrca, and branching ancestors") {
    val tips = Seq(idOf("ott1085739"), idOf("ott1057518"), idOf("ott90560"))
    val ind = TreeOps.induced(nodes, tips).collect()
    val kept = ind.map(_.getLong(0)).toSet
    assert(tips.toSet.subsetOf(kept))
    assert(kept.contains(idOf("mrcaott90560ott651474"))) // overall mrca = root of induced
    assert(kept.contains(idOf("mrcaott90560ott1057518"))) // branching (immer, adamsii)
    assert(!kept.contains(idOf("ott803675"))) // above the mrca: excluded
    val newick = TreeOps.inducedNewick(nodes, tips, idsForUnnamed = true)
    assert(newick == "(Gavia_arctica_ott1085739,(Gavia_immer_ott1057518," +
      "Gavia_adamsii_ott90560)mrcaott90560ott1057518)mrcaott90560ott651474;")
  }

  test("annotations land as native maps; taxonomy support injected for ott nodes") {
    val r = nodes.filter(col("ot_node_id") === "mrcaott90560ott1057518")
      .select("supported_by", "conflicts_with").head()
    assert(r.getMap[String, String](0).get("pg_01@tree1").contains("node2"))
    assert(r.getMap[String, scala.collection.Seq[String]](1).get("pg_02@tree9")
      .exists(_.toList == List("node77", "node78")))
    // ott* node gets "ott<taxonomyVersion>" -> ot_node_id appended
    val t = nodes.filter(col("ot_node_id") === "ott803675")
      .select("supported_by").head().getMap[String, String](0)
    assert(t.get("ott2.9draft12").contains("ott803675"))
    assert(t.get("pg_01@tree1").contains("node0"))
  }

  test("tree meta and source map") {
    val meta = ingested.treeMeta.head()
    assert(meta.getAs[String]("tree_id") == "opentree4.1")
    assert(meta.getAs[Long]("num_tips") == 5L)
    assert(meta.getAs[String]("root_ot_node_id") == "ott803675")
    // ingest canonicalizes raw "pg_01_tree1" to the wire form
    // "pg_01@tree1" everywhere (sources list AND source map), so blob
    // sources resolve and responses match ws-tests' check_source_id
    assert(meta.getAs[scala.collection.Seq[String]]("sources").toList ==
      List("pg_01@tree1", "ott2.9draft12"))
    val srcs = ingested.sourceMap.collect()
    assert(srcs.length == 2)
    val pg = srcs.find(_.getAs[String]("source_id") == "pg_01@tree1").get
    assert(pg.getAs[String]("git_sha") == "abc123")
    assert(pg.getAs[String]("study_id") == "pg_01")
  }

  test("taxonomy reader unpacks sourceinfo to a native map") {
    val tax = TreeIngest.readTaxonomy(spark, s"$fx/gavia_taxonomy.tsv")
    assert(tax.count() == 6)
    val g = tax.filter(col("tax_uid") === 803675L).head()
    assert(g.getAs[Map[String, String]]("tax_sources") ==
      Map("ncbi" -> "37040", "gbif" -> "2481962"))
  }

  test("newick parse: unnamed leaves with only a branch length or empty slots") {
    val p = Newick.parse("(:0.5,a);")
    assert(p.length == 3)
    assert(p.exists(n => n.label == "" && n.branchLength == 0.5 && n.parentId == 0))
    assert(p.exists(_.label == "a"))
    val q = Newick.parse("(,b);")
    assert(q.length == 3) // empty leaf is kept, not dropped
    assert(q.count(_.parentId == 0) == 2)
    val r = Newick.parse("(a,);")
    assert(r.length == 3)
  }

  test("a one-tip tree ingests as a labeled root and serves node_info") {
    // no edges at all: the labeler must still emit the root row, or the
    // root lookup in attach finds nothing
    val dir = java.nio.file.Files.createTempDirectory("graft_one_tip")
    val nwk = dir.resolve("one.tre")
    java.nio.file.Files.write(nwk, "ott803675;".getBytes("UTF-8"))
    val one = TreeIngest.ingest(spark, nwk.toString,
      s"$fx/gavia_annotations.json", s"$fx/gavia_taxonomy.tsv",
      treeId = "opentree4.1")
    val rows = one.nodes.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("parent_id") == -1L && r.getAs[Long]("depth") == 0L)
    assert(r.getAs[Long]("pre") == 0L && r.getAs[Long]("post") == 0L)
    assert(r.getAs[Boolean]("is_leaf"))
    assert(r.getAs[Long]("tip_descendants") == 1L && r.getAs[Long]("n_desc") == 1L)
    assert(r.getAs[scala.collection.Seq[Long]]("ancestors") ==
      Seq(r.getAs[Long]("node_id")))
    assert(one.edges.count() == 0L)
    assert(one.treeMeta.select("root_ot_node_id").head().getString(0) == "ott803675")
    val info = TreeServing.build(one).nodeInfo("ott803675")
    assert(info.exists(_("num_tips") == 1L), s"$info")
  }

  test("forest labeling: per-root contiguous intervals, deterministic pre") {
    import spark.implicits._
    val edges = Seq(
      (11L, 10L, 0), (12L, 10L, 1),                 // tree rooted at 10
      (21L, 20L, 0), (22L, 20L, 1), (23L, 20L, 2),  // tree rooted at 20
      (24L, 21L, 0)
    ).toDF("child_id", "parent_id", "child_ord")
    val lab = TreeLabeler.label(spark, edges).collect()
      .map(r => r.getAs[Long]("node_id") -> r).toMap
    assert(lab(10L).getAs[Long]("root_id") == 10L)
    assert(lab(24L).getAs[Long]("root_id") == 20L)
    assert(lab.values.count(_.getAs[Long]("parent_id") == -1L) == 2)
    // roots sort by id: all of tree-10's pre ranks precede tree-20's
    val maxT10 = Seq(10L, 11L, 12L).map(lab(_).getAs[Long]("pre")).max
    val minT20 = Seq(20L, 21L, 22L, 23L, 24L).map(lab(_).getAs[Long]("pre")).min
    assert(maxT10 < minT20)
    // interval containment stays within the owning tree
    val r20 = lab(20L)
    Seq(21L, 22L, 23L, 24L).foreach { n =>
      assert(lab(n).getAs[Long]("pre") > r20.getAs[Long]("pre"))
      assert(lab(n).getAs[Long]("pre") <= r20.getAs[Long]("post"))
    }
    Seq(10L, 11L, 12L).foreach { n =>
      assert(lab(n).getAs[Long]("pre") < r20.getAs[Long]("pre") ||
        lab(n).getAs[Long]("pre") > r20.getAs[Long]("post"))
    }
    assert(lab(20L).getAs[Long]("tip_descendants") == 3L)
  }

  test("newick round-trip: parse(serialize(parse(x))) preserves structure") {
    val src = "(a,(b,(c,d)e)f,g)r;"
    val p1 = Newick.parse(src)
    val children = p1.groupBy(_.parentId).map { case (k, v) =>
      k -> v.sortBy(_.childOrd).map(_.nodeId).toSeq }
    val ser = Newick.serialize(0L,
      id => children.getOrElse(id, Seq.empty),
      id => p1(id.toInt).label)
    assert(ser == src)
  }
}
