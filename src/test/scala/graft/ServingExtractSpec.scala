package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.{Random, Try}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tree._
import graft.tree.TreeIngest.Ingested

/** The capped extracts answered from the serving index ([[TreeServing
  * .Index]]) must be byte-identical to the Spark path they replace —
  * same strings, same refusals with the same messages — on the fixture
  * tree, on a two-tree store, and on random named trees whose
  * annotation maps are long enough (≥ 5 entries) that key order is at
  * stake.
  */
class ServingExtractSpec extends AnyFunSuite {
  import SparkTestSession._
  import GaviaFixture.fx

  /** (indexed, plain): the same rows as two frame instances; only the
    * first has an index, so the second keeps the Spark path.
    */
  private def twins(t: Ingested): (Ingested, Ingested) = {
    val plain = t.copy(nodes = t.nodes.select(t.nodes.columns.map(col): _*))
    TreeServing.build(t)
    assert(TreeServing.indexOf(plain.nodes).isEmpty)
    (t, plain)
  }

  /** Equal results, or equal failures (class and message). */
  private def assertSame(what: String)(served: => Any, plain: => Any): Unit = {
    val (a, b) = (Try(served), Try(plain))
    (a, b) match {
      case (scala.util.Failure(x), scala.util.Failure(y)) =>
        assert(x.getClass == y.getClass && x.getMessage == y.getMessage,
          s"$what: index threw $x, Spark path threw $y")
      case _ => assert(a == b, s"$what: index $a, Spark path $b")
    }
  }

  private val Formats = Seq("name_and_id", "name", "id")

  private def compareNewick(served: Ingested, plain: Ingested, roots: Seq[Long]): Unit =
    for (r <- roots; fmt <- Formats; unnamed <- Seq(false, true); d <- Seq(-1, 0, 2))
      assertSame(s"newick($r, $fmt, $unnamed, $d)")(
        TreeOps.newick(served.nodes, r, d, fmt, unnamed),
        TreeOps.newick(plain.nodes, r, d, fmt, unnamed))

  private def compareArguson(served: Ingested, plain: Ingested, roots: Seq[Long]): Unit =
    for (r <- roots; h <- 0 to 5)
      assertSame(s"arguson($r, $h)")(
        TreeApi.arguson(served, r, h), TreeApi.arguson(plain, r, h))

  private def compareInduced(served: Ingested, plain: Ingested,
      requests: Seq[(Seq[String], Seq[Long])]): Unit =
    for ((ids, otts) <- requests;
         (fmt, unnamed) <- Seq(("name_and_id", false), ("name", true), ("id", true)))
      assertSame(s"induced($ids, $otts, $fmt, $unnamed)")(
        TreeApi.inducedSubtree(served, ids, otts, fmt, unnamed),
        TreeApi.inducedSubtree(plain, ids, otts, fmt, unnamed))

  /** Node ids in pre order (the root first). */
  private def nodeIds(t: Ingested): Seq[Long] =
    t.nodes.orderBy("pre").select("node_id").collect().map(_.getLong(0)).toSeq

  test("Gavia: newick, induced_subtree and arguson equal the Spark path") {
    val (served, plain) = twins(TreeIngest.ingest(spark,
      s"$fx/gavia.tre", s"$fx/gavia_annotations.json", s"$fx/gavia_taxonomy.tsv",
      treeId = "opentree4.1"))
    // the root, an unnamed internal node and a tip
    val roots = Seq("ott803675", "mrcaott90560ott651474", "ott1085739")
      .map(GaviaFixture.idOf(served, _))
    compareNewick(served, plain, roots)
    compareArguson(served, plain, roots.take(2))
    compareInduced(served, plain, Seq(
      (Seq("ott1085739", "ott90560"), Nil),
      (Seq("ott1085739", "ott90560", "ottNOPE"), Seq(424242L)),
      (Nil, Seq(1085739L, 651474L, 1057044L)),
      // a query id that is an ancestor of others
      (Seq("mrcaott90560ott1057518", "ott90560", "ott1085739"), Nil),
      (Seq("ott803675", "ott1057044"), Nil),
      (Seq("ott1085739", "ott1085739"), Nil), // one distinct id: refused
      (Seq("ottNOPE"), Seq(1057044L))))
    // the cap refusal keeps its exact message
    assertSame("newick cap 2")(
      TreeOps.newick(served.nodes, roots.head, cap = 2L),
      TreeOps.newick(plain.nodes, roots.head, cap = 2L))
    intercept[IllegalArgumentException](TreeOps.newick(served.nodes, roots.head, cap = 2L))
  }

  test("two-tree store keyed by node id: extracts equal the Spark path; " +
      "ids from two trees are refused on both paths") {
    val m = TreeIngest.ingestAll(spark, Seq(
      TreeIngest.TreeSource(s"$fx/gavia.tre", s"$fx/gavia_annotations.json",
        s"$fx/gavia_taxonomy.tsv", "opentree4.1"),
      TreeIngest.TreeSource(s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
        s"$fx/gavia_taxonomy.tsv", "opentree5.0")))
    // the trees share ot ids; key every node by its node id instead
    val keyed = Ingested(
      m.nodes.withColumn("ot_node_id", concat(lit("n"), col("node_id").cast("string"))),
      m.edges, m.treeMeta, m.sourceMap)
    val (served, plain) = twins(keyed)
    val roots = served.nodes.filter(col("parent_id") === -1L).select("node_id")
      .collect().map(_.getLong(0)).toSeq
    assert(roots.size == 2)
    compareNewick(served, plain, roots)
    compareArguson(served, plain, roots)
    val byTree = served.nodes.select("node_id", "tree_id", "is_leaf").collect()
    def tips(tree: String) = byTree.filter(r => r.getString(1) == tree && r.getBoolean(2))
      .map(r => s"n${r.getLong(0)}").toSeq.sorted
    val (t1, t2) = (tips("opentree4.1"), tips("opentree5.0"))
    compareInduced(served, plain, Seq(
      (t1.take(3), Nil), (t2, Nil), (t1.take(2) :+ "nNOPE", Nil),
      (Seq(t1.head, t2.head), Nil)))
    val e = intercept[IllegalArgumentException](
      TreeApi.inducedSubtree(served, Seq(t1.head, t2.head)))
    assert(e.getMessage.endsWith("query nodes do not share a root (different trees?)"))
    // the v2 wire layer maps the refusal to a 400
    val resp = WireContract.v2Response(Map("newick" ->
      TreeApi.inducedSubtree(served, Seq(t1.head, t2.head)).newick))
    assert(resp.status == 400 && resp.message.contains(e.getMessage))
  }

  test("inducedEdges refuses root paths from two different roots") {
    val e = intercept[IllegalArgumentException](
      TreeApi.inducedEdges(Seq(5L -> Seq(0L, 5L), 12L -> Seq(9L, 12L))))
    assert(e.getMessage.endsWith("query nodes do not share a root (different trees?)"))
  }

  test("an unknown root id is an IllegalArgumentException naming it, on both paths") {
    val (served, plain) = twins(TreeIngest.ingest(spark,
      s"$fx/gavia.tre", s"$fx/gavia_annotations.json", s"$fx/gavia_taxonomy.tsv",
      treeId = "opentree4.1"))
    val bad = 987654321L
    def calls(t: Ingested) = Seq[() => Any](
      () => TreeOps.newick(t.nodes, bad),
      () => TreeOps.newick(t.nodes, bad, maxDepth = 2),
      () => TreeApi.arguson(t, bad),
      () => TreeApi.arguson(t, bad, heightLimit = -1))
    calls(served).zip(calls(plain)).zipWithIndex.foreach { case ((s, p), i) =>
      val e = intercept[IllegalArgumentException](s())
      assert(e.getMessage == s"node id $bad is not in the tree", e.getMessage)
      assertSame(s"unknown id, call $i")(s(), p())
    }
  }

  test("random named trees with long annotation maps: extracts equal the Spark path") {
    (1L to 2L).foreach { seed =>
      val (served, plain) = twins(randomIngest(seed))
      val ids = nodeIds(served)
      val rnd = new Random(seed)
      compareNewick(served, plain, ids.take(1))
      compareArguson(served, plain, Seq(ids.head, ids(1 + rnd.nextInt(ids.size - 1))))
      val ots = served.nodes.select("ot_node_id").collect().map(_.getString(0)).toSeq
      compareInduced(served, plain, Seq.fill(2)(
        (rnd.shuffle(ots).take(2 + rnd.nextInt(6)) :+ "nope", Seq(424242L))))
      // the node with seven study sources carries them all, in order
      val doc = TreeApi.arguson(served, ids.head, 5)
      assert(doc.contains((1 to 7).map(k => s""""pg_$k@tree$k":"s$k"""").mkString(",")))
    }
  }

  /** node_info (lineage included) from the index, field for field against
    * the endpoint's columns.
    */
  private def compareNodeInfo(served: Ingested, plain: Ingested, ids: Seq[String]): Unit = {
    val idx = TreeServing.indexOf(served.nodes).get
    ids.foreach { id =>
      val df = TreeApi.nodeInfo(plain, id, includeLineage = true)
      val row = df.head()
      val m = idx.nodeInfo(id, includeLineage = true).get
      assert(m.keySet == df.columns.toSet, id)
      df.columns.zipWithIndex.foreach { case (c, i) =>
        val want = row.get(i) match {
          case s: scala.collection.Seq[_] => s.toSeq
          case x => x
        }
        assert(m(c) == want, s"$id.$c: index=${m(c)} endpoint=$want")
      }
    }
  }

  private def compareMrca(served: Ingested, plain: Ingested,
      requests: Seq[(Seq[String], Seq[Long])]): Unit = {
    val idx = TreeServing.indexOf(served.nodes).get
    requests.foreach { case (ids, otts) =>
      assertSame(s"mrca($ids, $otts)")(idx.mrca(ids, otts), TreeApi.mrca(plain, ids, otts))
    }
  }

  test("random named trees and a two-tree store: node_info and mrca equal the Spark path") {
    (1L to 2L).foreach { seed =>
      val (served, plain) = twins(randomIngest(seed))
      val rnd = new Random(seed + 10)
      val rows = served.nodes.select("ot_node_id", "tax_uid").collect()
      val ots = rows.map(_.getString(0)).toSeq
      val otts = rows.filterNot(_.isNullAt(1)).map(_.getLong(1)).toSeq
      compareNodeInfo(served, plain, rnd.shuffle(ots).take(6))
      compareMrca(served, plain, Seq.fill(6)(
        (rnd.shuffle(ots).take(1 + rnd.nextInt(5)), rnd.shuffle(otts).take(rnd.nextInt(3)))) ++
        Seq((Seq("nope"), Seq(424242L)), (Seq(ots.head, "nope"), Nil)))
    }
    val m = TreeIngest.ingestAll(spark, Seq(
      TreeIngest.TreeSource(s"$fx/gavia.tre", s"$fx/gavia_annotations.json",
        s"$fx/gavia_taxonomy.tsv", "opentree4.1"),
      TreeIngest.TreeSource(s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
        s"$fx/gavia_taxonomy.tsv", "opentree5.0")))
    val (served, plain) = twins(Ingested(
      m.nodes.withColumn("ot_node_id", concat(lit("n"), col("node_id").cast("string"))),
      m.edges, m.treeMeta, m.sourceMap))
    val byTree = served.nodes.select("ot_node_id", "tree_id", "is_leaf").collect()
    def tips(tree: String) = byTree.filter(r => r.getString(1) == tree && r.getBoolean(2))
      .map(_.getString(0)).toSeq.sorted
    val (t1, t2) = (tips("opentree4.1"), tips("opentree5.0"))
    compareNodeInfo(served, plain, Seq(t1.head, t2.last))
    // the second request spans both trees: refused alike on both paths
    compareMrca(served, plain, Seq((t1.take(3), Nil), (Seq(t1.head, t2.head), Nil), (t2, Nil)))
  }

  test("build refuses a frame whose root paths it cannot climb") {
    val t = TreeIngest.ingest(spark,
      s"$fx/gavia.tre", s"$fx/gavia_annotations.json", s"$fx/gavia_taxonomy.tsv",
      treeId = "opentree4.1")
    Seq(
      t.nodes.filter(col("ot_node_id") =!= "mrcaott90560ott651474"), // an ancestor gone
      t.nodes.union(t.nodes)                                         // node ids twice
    ).foreach { nodes =>
      val e = intercept[IllegalArgumentException](TreeServing.build(nodes))
      assert(e.getMessage.contains("the serving index needs unique node ids"), e.getMessage)
      assert(TreeServing.indexOf(nodes).isEmpty)
    }
  }

  /** Ingest a random tree from generated files: a third of the nodes are
    * named taxa (some names need scrubbing and JSON escaping), a few carry
    * ott ids the taxonomy lacks, and the root is supported by seven
    * studies, so its `supported_by` map has eight entries.
    */
  private def randomIngest(seed: Long): Ingested = {
    val rnd = new Random(seed)
    val n = 30 + rnd.nextInt(30)
    val parent = Array.tabulate(n)(i => if (i == 0) -1 else rnd.nextInt(i))
    def ot(i: Int) =
      if (i % 3 == 0 || i % 7 == 1) s"ott${1000 + i}" else s"node$i"
    val kids = (0 until n).groupBy(parent(_))
    def nwk(i: Int): String = kids.get(i) match {
      case Some(cs) => cs.map(nwk).mkString("(", ",", ")") + ot(i)
      case None => ot(i)
    }
    val dir = Files.createTempDirectory("graft_serving_extract")
    def put(name: String, text: String) =
      Files.write(dir.resolve(name), text.getBytes(StandardCharsets.UTF_8)).toString
    val tax = "uid\t|\tparent_uid\t|\tname\t|\trank\t|\tsourceinfo\t|\tuniqname\t|\tflags\t|\t\n" +
      (0 until n).filter(_ % 3 == 0).map { i =>
        val name = if (i % 2 == 0) s"Taxon $i sp." else s"""Odd "q" (x)/y:$i"""
        val uniq = if (i % 4 == 0) s"Taxon $i (unique)" else ""
        s"${1000 + i}\t|\t\t|\t$name\t|\t${if (i % 5 == 0) "" else "species"}" +
          s"\t|\tncbi:$i\t|\t$uniq\t|\t\t|\t\n"
      }.mkString
    def m(entries: Seq[(String, String)]) =
      entries.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val ann = (0 until n).flatMap { i =>
      val fields = Seq(
        "supported_by" -> (
          if (i == 0) Some((1 to 7).map(k => s"pg_$k@tree$k" -> s""""s$k""""))
          else Option.when(i % 2 == 0)(
            Seq("pg_1@tree1" -> s""""n$i"""", "pg_2@tree2" -> s""""m$i""""))),
        "terminal" -> Option.when(i % 3 == 1)(Seq("pg_3@tree3" -> s""""t$i"""")),
        "partial_path_of" -> Option.when(i % 6 == 0)(Seq("pg_4@tree4" -> s""""p$i"""")),
        "resolves" -> Option.when(i % 4 == 1)(Seq("pg_5@tree5" -> s""""r$i"""")),
        "conflicts_with" -> Option.when(i % 5 == 0)(
          Seq("pg_6@tree6" -> s"""["a$i","b$i"]""", "pg_2@tree2" -> s"""["c$i"]""")),
        "resolved_by" -> Option.when(i % 8 == 3)(Seq("pg_7@tree7" -> s"""["x$i"]""")))
        .collect { case (f, Some(es)) => s""""$f":${m(es)}""" }
      Option.when(fields.nonEmpty)(s""""${ot(i)}":${fields.mkString("{", ",", "}")}""")
    }
    val sources = (1 to 7).map(k =>
      s""""pg_${k}_tree$k":{"git_sha":"sha$k","tree_id":"tree$k","study_id":"pg_$k"}""") :+
      """"ott3.0":{"taxonomy":"ott3.0"}"""
    val annJson = s"""{"tree_id":"opentree9.$seed","taxonomy_version":"3.0",""" +
      s""""num_tips":0,"sources":[],"nodes":${ann.mkString("{", ",", "}")},""" +
      s""""source_id_map":${sources.mkString("{", ",", "}")}}"""
    TreeIngest.ingest(spark, put("t.tre", nwk(0) + ";"), put("ann.json", annJson),
      put("tax.tsv", tax), s"opentree9.$seed")
  }
}
