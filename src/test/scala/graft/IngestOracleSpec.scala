package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.scalatest.funsuite.AnyFunSuite

import graft.tree.{Newick, TreeIngest, TreeStore}
import graft.tree.TreeIngest.{Ingested, TreeSource}
import graftbench.TolTree

/** The driver-side ingest against the join-based one it replaced
  * ([[JoinIngest]]): the same four tables — column names, types and
  * nullability, rows, and the order of the entries of every map — on
  * random synthetic trees, the Gavia fixtures, a multi-tree ingest and an
  * append, plus the inputs it refuses.
  */
class IngestOracleSpec extends AnyFunSuite {
  import SparkTestSession._
  import GaviaFixture.fx

  /** A value with maps as their entry lists, so order counts, and every
    * value typed (a null is not the string "null", NaN equals NaN).
    */
  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("[", ", ", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("(", ", ", ")")
    case s: String => "\"" + s + "\""
    case d: Double => s"d$d"
    case o => s"${o.getClass.getSimpleName}:$o"
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.schema.fields.map { f => f.dataType match {
      case _: MapType => map_entries(col(f.name)).as(f.name)
      case _ => col(f.name)
    }}.toIndexedSeq: _*).collect().map(render).toSeq.sorted

  /** The four tables alike; see [[assertSameTables]]. */
  private def assertSameRows(got: Ingested, want: Ingested, clue: String): Unit =
    Seq("nodes" -> ((t: Ingested) => t.nodes), "edges" -> ((t: Ingested) => t.edges),
        "tree_meta" -> ((t: Ingested) => t.treeMeta),
        "source_map" -> ((t: Ingested) => t.sourceMap)).foreach { case (name, table) =>
      val (g, w) = (table(got), table(want))
      assert(g.schema == w.schema,
        s"$clue $name schema\n${g.schema.treeString}\n${w.schema.treeString}")
      val (gr, wr) = (rows(g), rows(w))
      assert(gr.nonEmpty || name == "source_map" || name == "edges", s"$clue $name is empty")
      assert(gr == wr, s"$clue $name rows differ; first differing:\n" +
        gr.zip(wr).find(p => p._1 != p._2).getOrElse(gr.size -> wr.size))
    }

  /** One tree's tables alike, and the values served from them. */
  private def assertSameTables(got: Ingested, want: Ingested, clue: String): Unit = {
    assertSameRows(got, want, clue)
    assert(got.treeIdStr == want.treeIdStr, clue)
    assert(got.sourceBlobs == want.sourceBlobs, clue)
  }

  private def dir(): Path = Files.createTempDirectory("graft_ingest_oracle")

  private def put(d: Path, name: String, text: String): String =
    Files.write(d.resolve(name), text.getBytes(UTF_8)).toString

  /** Side files for a synthetic tree with what TolGen's leave out: maps
    * wider than four entries in shuffled key order, non-string and null
    * values, null and unknown fields, entries and taxa the tree does not
    * name, sources the source map does not know, header-like, blank and
    * CRLF-ended taxonomy lines, numbers given as strings.
    */
  private def richFiles(t: TolTree, seed: Long, d: Path): (String, String) = {
    val rnd = new Random(seed)
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.length))
    def q(s: String) = "\"" + s + "\""
    def obj(kvs: Seq[(String, String)]) =
      kvs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    def keys(n: Int) = rnd.shuffle((0 until 12).map(k => s"pg_$k@tree${k % 3}")).take(n)
    def scalar() = pick(q(s"node${rnd.nextInt(99)}"), "17", "1.50", "null",
      "[1,\"a\"]", """{"z":[2.0]}""", "1e400", q("x\\ty"))
    def entry(): String = {
      val fields = Seq(
        "supported_by" -> obj(keys(rnd.nextInt(8)).map(_ -> scalar())),
        "terminal" -> obj(keys(1 + rnd.nextInt(6)).map(_ -> scalar())),
        "partial_path_of" -> pick("null", obj(keys(5).map(_ -> scalar()))),
        "resolves" -> obj(Nil),
        "conflicts_with" -> obj(keys(rnd.nextInt(7)).map(_ ->
          pick("null", "[]", s"""["n${rnd.nextInt(9)}",null,3]"""))),
        "resolved_by" -> pick("null", obj(keys(2).map(_ -> "[\"r\"]"))),
        "was_constrained" -> pick("true", "false", "null"),
        "was_uncontested" -> pick("true", "false"),
        "unknown_field" -> pick("[1,{\"a\":2}]", "\"u\""))
      obj(rnd.shuffle(fields).take(3 + rnd.nextInt(fields.length - 2)))
    }
    val named = (0 until t.size).filter(_ => rnd.nextDouble() < 0.7)
    val nodes = rnd.shuffle(named.map(i => t.label(i) -> pick(entry(), entry(), "null")) ++
      Seq("ott999999999" -> entry(), "not_in_tree" -> entry()))
    val srcMap = (0 until 6).map(k => s"pg_${k}_tree${k % 3}" -> pick(
      obj(Seq("git_sha" -> q(f"$k%040x"), "study_id" -> q(s"pg_$k"),
        "tree_id" -> q(s"tree${k % 3}"))),
      obj(Seq("taxonomy" -> q("ott3.6"), "git_sha" -> "12")),
      obj(Seq("study_id" -> q(s"pg_$k"))), "null"))
    val meta = Seq(
      "tree_id" -> q(t.treeId),
      "date_completed" -> pick(q("2024-01-01"), "null", "20240101"),
      "taxonomy_version" -> q("3.6"),
      "num_tips" -> pick(t.tips.toString, q(s" ${t.tips} "), "null"),
      "num_source_studies" -> pick("6", "null"),
      "num_source_trees" -> q("+6"),
      "filtered_flags" -> pick("[]", "null", """["extinct",null,5,1e400,"1e400"]"""),
      "sources" -> ("[" + (srcMap.map(p => q(p._1)) ++ Seq(q("pg_77_tree9"), "null"))
        .mkString(",") + "]"),
      "source_id_map" -> obj(srcMap),
      "nodes" -> obj(nodes),
      "extra" -> """{"ignored":[1,2,3]}""")
    val ann = put(d, s"${t.treeId}_rich.json", obj(rnd.shuffle(meta)))

    val eol = pick("\n", "\r\n")
    val lines = (0 until t.size).filter(i => t.uid(i) >= 0).map { i =>
      val srcs = rnd.shuffle((0 until 7).map(k => s"s$k:${t.uid(i) * 7 + k}"))
        .take(rnd.nextInt(8)).mkString(",")
      Seq(pick(t.uid(i).toString, s" ${t.uid(i)}"),
        pick("", (t.uid(i) + 1).toString, "x"), s"Taxon ${t.uid(i)}",
        pick("species", "genus"), srcs, pick("", s"Taxon ${t.uid(i)} (uniq)"),
        pick("", "extinct,barren"), "")
        .mkString("\t|\t")
    } ++ Seq("uid\t|\tparent_uid", "", "   ", "42\t|\t\t|\tnot in tree\t|\tr\t|\t\t|\t\t|\t\t|\t",
      "abc\t|\tjunk")
    val tax = put(d, s"${t.treeId}_rich.tsv",
      ("uid\t|\tparent_uid\t|\tname\t|\trank\t|\tsourceinfo\t|\tuniqname\t|\tflags\t|\t" +:
        rnd.shuffle(lines)).mkString(eol) + eol)
    (ann, tax)
  }

  private def tolTree(seed: Long, tips: Int, id: String = null) =
    TolTree.generate(seed, tips, Option(id).getOrElse(s"synth_$seed"))

  test("random synthetic trees ingest to the join-based tables, " +
      "TolGen's side files and wider ones") {
    Seq(71L -> 2, 72L -> 3, 73L -> 57, 74L -> 400).foreach { case (seed, tips) =>
      val t = tolTree(seed, tips)
      val d = dir()
      val (nwk, ann, tax) = t.write(d)
      val parsed = Newick.parse(t.newick.trim)
      assertSameTables(
        TreeIngest.ingestParsed(spark, parsed, ann.toString, tax.toString, t.treeId),
        JoinIngest.ingestParsed(spark, parsed, ann.toString, tax.toString, t.treeId),
        s"TolGen seed=$seed")
      val (richAnn, richTax) = richFiles(t, seed, d)
      assertSameTables(
        TreeIngest.ingest(spark, nwk.toString, richAnn, richTax, t.treeId),
        JoinIngest.ingest(spark, nwk.toString, richAnn, richTax, t.treeId),
        s"rich seed=$seed")
    }
  }

  test("repeated and unnamed labels, branch lengths and a one-tip tree " +
      "ingest to the join-based tables") {
    val d = dir()
    val ann = put(d, "a.json", """{"tree_id":"t","taxonomy_version":"9",
      "nodes":{"ott5":{"supported_by":{"a":"1","b":"2","c":"3","d":"4","e":"5"}},
        "x":{"terminal":{"q":"r"}}}}""")
    val tax = put(d, "t.tsv", "5\t|\t7\t|\tFive\t|\tspecies\t|\tncbi:5\t|\t\t|\t\t|\t\n" +
      "7\t|\t\t|\tSeven\t|\tgenus\t|\t\t|\tSeven (g)\t|\t\t|\t\n")
    Seq("((ott5:0.5,ott5)x:2,(,x)ott7:1e-3)ott7;", "ott5;", "x;", "(ott5)ott7:3;")
      .foreach { nwk =>
        val path = put(d, "t.tre", nwk)
        assertSameTables(TreeIngest.ingest(spark, path, ann, tax, "t"),
          JoinIngest.ingest(spark, path, ann, tax, "t"), nwk)
      }
  }

  test("Gavia, Gavia with Gavia2 in one store, and an append ingest to the " +
      "join-based tables") {
    val g1 = TreeSource(s"$fx/gavia.tre", s"$fx/gavia_annotations.json",
      s"$fx/gavia_taxonomy.tsv", "opentree4.1")
    val g2 = TreeSource(s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
      s"$fx/gavia_taxonomy.tsv", "opentree5.0")
    def one(f: (org.apache.spark.sql.SparkSession, String, String, String, String) => Ingested) =
      f(spark, g1.newickPath, g1.annotationsPath, g1.taxonomyPath, g1.treeId)
    assertSameTables(one(TreeIngest.ingest), one(JoinIngest.ingest), "gavia")
    assertSameTables(TreeIngest.ingestOffset(spark, g2, 1000L),
      JoinIngest.ingestOffset(spark, g2, 1000L), "gavia2 shifted")

    // three trees, one a synthetic one sharing no ids with the others
    val t = tolTree(75L, 40, "synth_multi")
    val (nwk, ann, tax) = t.write(dir())
    val g3 = TreeSource(nwk.toString, ann.toString, tax.toString, t.treeId)
    def multi(m: TreeIngest.MultiIngested) =
      Ingested(m.nodes, m.edges, m.treeMeta, m.sourceMap)
    val got = TreeIngest.ingestAll(spark, Seq(g1, g2, g3))
    val want = JoinIngest.ingestAll(spark, Seq(g1, g2, g3))
    assertSameRows(multi(got), multi(want), "ingestAll")
    assert(got.treeIds == want.treeIds)
    Seq(g1, g2, g3).foreach(s =>
      assertSameTables(got.tree(s.treeId), want.tree(s.treeId), s"view ${s.treeId}"))

    // appendTree's ingest against the oracle's, appended to equal stores
    val (a, b) = (dir().toString, dir().toString)
    TreeStore.save(one(TreeIngest.ingest), a, buckets = 2)
    TreeStore.save(one(JoinIngest.ingest), b, buckets = 2)
    TreeStore.appendTree(spark, a, g2)
    val maxId = spark.read.parquet(s"$b/nodes").agg(max("node_id")).head().getLong(0)
    TreeStore.appendIngested(spark, b, JoinIngest.ingestOffset(spark, g2, maxId + 1L))
    assertSameRows(TreeStore.load(spark, a), TreeStore.load(spark, b), "appendTree")
    Seq(g1, g2).foreach(s => assertSameTables(TreeStore.loadMulti(spark, a).tree(s.treeId),
      TreeStore.loadMulti(spark, b).tree(s.treeId), s"appendTree view ${s.treeId}"))
  }

  // ---- inputs the driver-side readers refuse

  private val tree = "(ott1,(ott2,ott3)mrcaott2ott3)ott9;"
  private val goodTax = Seq(1, 2, 3, 9).map(u =>
    s"$u\t|\t\t|\tT$u\t|\tspecies\t|\tncbi:$u\t|\t\t|\t\t|\t").mkString("\n")

  private def refusal(annJson: String, taxTsv: String = goodTax,
      treeId: String = "t"): (String, String, IllegalArgumentException) = {
    val d = dir()
    val (nwk, ann, tax) = (put(d, "t.tre", tree), put(d, "a.json", annJson),
      put(d, "t.tsv", taxTsv))
    (ann, tax, intercept[IllegalArgumentException](
      TreeIngest.ingest(spark, nwk, ann, tax, treeId)))
  }

  private def assertNames(e: Exception, parts: String*): Unit =
    parts.foreach(p => assert(e.getMessage.contains(p), e.getMessage))

  test("a taxonomy uid the tree names twice is refused with the file and the uid") {
    val (_, tax, e) = refusal("""{"taxonomy_version":"1"}""",
      goodTax + "\n2\t|\t9\t|\tagain\t|\tspecies\t|\t\t|\t\t|\t\t|\t")
    assertNames(e, tax, "line 5", "uid 2", "repeats")
    // a repeat the tree does not name is a row the semi-join drops
    val d = dir()
    val tax2 = put(d, "t.tsv", goodTax + "\n8\t|\t\t|\ta\t|\tr\t|\t\t|\t\t|\t\t|\t" * 2)
    val ann2 = put(d, "a.json", """{"taxonomy_version":"1"}""")
    val nwk2 = put(d, "t.tre", tree)
    assertSameTables(TreeIngest.ingest(spark, nwk2, ann2, tax2, "t"),
      JoinIngest.ingest(spark, nwk2, ann2, tax2, "t"), "repeat outside the tree")
  }

  test("a node entry whose was_constrained is not a boolean is refused " +
      "with the file and the entry") {
    val (ann, _, e) = refusal("""{"taxonomy_version":"1",
      "nodes":{"mrcaott2ott3":{"was_constrained":"yes"}}}""")
    assertNames(e, ann, "mrcaott2ott3", "was_constrained", "not a boolean")
  }

  test("a supported_by that already holds the ott<version> key is refused; " +
      "the join-based ingest failed on it at the first action") {
    val json = """{"taxonomy_version":"1","nodes":{"ott2":{"supported_by":{"ott1":"x"}}}}"""
    val (ann, tax, e) = refusal(json)
    assertNames(e, ann, "ott2", "ott1", "supported_by")
    val nwk = put(dir(), "t.tre", tree)
    intercept[Exception](JoinIngest.ingest(spark, nwk, ann, tax, "t").nodes.collect())
  }

  test("a non-numeric num_tips is refused with the file and the field") {
    val (ann, _, e) = refusal("""{"taxonomy_version":"1","num_tips":"many"}""")
    assertNames(e, ann, "num_tips", "many")
    val (ann2, _, e2) = refusal("""{"taxonomy_version":"1","num_tips":4.5}""")
    assertNames(e2, ann2, "num_tips", "4.5")
  }

  test("an annotations tree_id that differs from the caller's is refused " +
      "with the join-based message") {
    val json = """{"tree_id":"other","taxonomy_version":"1"}"""
    val (ann, tax, e) = refusal(json)
    val nwk = put(dir(), "t.tre", tree)
    val old = intercept[IllegalArgumentException](
      JoinIngest.ingest(spark, nwk, ann, tax, "t"))
    assert(e.getMessage == old.getMessage)
    assertNames(e, "'other'", "'t'")
  }

  test("malformed side files are refused with the file and the entry") {
    Seq(
      """{"taxonomy_version":"1","nodes":{"ott1":5}}""" -> Seq("ott1", "not an object"),
      """{"taxonomy_version":"1","nodes":{"ott1":{"terminal":["a"]}}}""" ->
        Seq("ott1", "'terminal' is not an object"),
      """{"taxonomy_version":"1","nodes":{"x":{"conflicts_with":{"a":"b"}}}}""" ->
        Seq("'x'", "not an array"),
      """{"taxonomy_version":"1","tree_id":"t","tree_id":"t"}""" -> Seq("tree_id"),
      """{"taxonomy_version":"1","sources":{}}""" -> Seq("'sources' is not an array"),
      """{"nodes":{}}""" -> Seq("taxonomy_version"),
      """[1]""" -> Seq("not a JSON object"),
      """{"taxonomy_version":"1",""" -> Seq("not valid JSON")
    ).foreach { case (json, parts) =>
      val (ann, _, e) = refusal(json)
      assertNames(e, ann +: parts: _*)
    }
    Seq(
      "1\t|\t\t|\tshort" -> Seq("uid 1", "3 fields"),
      "1\t|\t\t|\tT\t|\tr\t|\tncbi:1,ncbi:2\t|\t\t|\t\t|\t" -> Seq("uid 1", "'ncbi'")
    ).foreach { case (line, parts) =>
      val (_, tax, e) = refusal("""{"taxonomy_version":"1"}""", line)
      assertNames(e, tax +: parts: _*)
    }
  }
}
