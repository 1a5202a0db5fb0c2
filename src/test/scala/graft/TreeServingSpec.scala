package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.{Failure, Random, Try}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tree._

/** The driver-side point-query index ([[TreeServing]]) must answer
  * exactly what the relational endpoints answer — same fields, same
  * bad-id partitions — and must answer WITHOUT a Spark job, far under
  * the job-scheduling floor (the reference's Lucene-hit anchor,
  * GraphBase.java:431-448).
  */
class TreeServingSpec extends AnyFunSuite {
  import SparkTestSession._
  import GaviaFixture.fx

  lazy val t = TreeIngest.ingest(spark,
    s"$fx/gavia.tre", s"$fx/gavia_annotations.json", s"$fx/gavia_taxonomy.tsv",
    treeId = "opentree4.1")
  lazy val idx = TreeServing.build(t)

  test("index covers every node through all three key spaces") {
    assert(idx.size == t.nodes.count())
    val r = t.nodes.select("node_id", "ot_node_id", "tax_uid", "pre",
      "post", "depth", "tip_descendants").collect()
    r.foreach { row =>
      val id = row.getLong(0)
      assert(idx.byNodeId(id).isDefined)
      assert(idx.byOtId(row.getString(1)).exists(_.getLong(0) == id))
      if (!row.isNullAt(2))
        assert(idx.byOttId(row.getLong(2)).exists(_.getLong(0) == id))
      assert(idx.bounds(row.getString(1)).contains(
        (row.getLong(3), row.getLong(4), row.getLong(5), row.getLong(6))))
    }
  }

  test("mrca parity with the endpoint, including bad-id partitions") {
    val requests = Seq(
      (Seq("ott1085739", "ott90560"), Seq.empty[Long]),
      (Seq("ott1085739", "ott90560", "ottNOPE"), Seq.empty[Long]),
      (Seq("ott1057044"), Seq.empty[Long]),          // single id → itself
      (Seq.empty[String], Seq(1085739L, 651474L)),   // ott-id space
      (Seq("mrcaott90560ott1057518"), Seq(1085739L, 99999999L)))
    requests.foreach { case (nodeIds, ottIds) =>
      assert(idx.mrca(nodeIds, ottIds) == TreeApi.mrca(t, nodeIds, ottIds),
        s"mismatch for $nodeIds / $ottIds")
    }
  }

  test("nodeInfo parity with the endpoint columns, lineage included") {
    Seq("ott1085739", "mrcaott90560ott1057518", "ott803675").foreach { id =>
      val df = TreeApi.nodeInfo(t, id, includeLineage = true)
      val row = df.head()
      val m = idx.nodeInfo(id, includeLineage = true).get
      df.columns.zipWithIndex.foreach { case (c, i) =>
        val got = m(c) match {
          case s: Seq[_] => s
          case x => x
        }
        val want = row.get(i) match {
          case s: scala.collection.Seq[_] => s.toSeq
          case x => x
        }
        assert(got == want, s"$id.$c: index=$got endpoint=$want")
      }
    }
    assert(idx.nodeInfo("ottNOPE").isEmpty)
  }

  test("a loaded index doubles as the descendant-rewrite's anchor " +
      "catalog: clade query over the REAL tree, zero extra collects") {
    import graft.plans.{DescendantRewrite, IntervalCatalog}
    IntervalCatalog.clear()
    IntervalCatalog.installFrom(idx) // resolver only — no Spark job
    val root = t.nodes.filter(col("parent_id") === -1L)
      .select(col("node_id")).head().getLong(0)
    val viaRewrite = t.nodes.filter(DescendantRewrite
        .descendant_of(col("ancestors"), lit(root)))
      .select(col("node_id"))
    // the rule must have found the interval through the index resolver
    assert(!viaRewrite.queryExecution.optimizedPlan.toString
      .contains("array_contains"))
    val got = viaRewrite.collect().map(_.getLong(0)).toSet
    val want = t.nodes.filter(array_contains(col("ancestors"), root))
      .select(col("node_id")).collect().map(_.getLong(0)).toSet
    assert(got == want && got.size == idx.size) // root's clade = whole tree
    IntervalCatalog.clear()
  }

  test("warm lookups stay far under the Spark job floor") {
    val ids = Seq("ott1085739", "ott90560", "ott803675", "ott1057044")
    ids.foreach(idx.nodeInfo(_)) // warm
    idx.mrca(nodeIds = ids)
    val n = 2000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      idx.nodeInfo(ids(i % 4))
      idx.mrca(nodeIds = ids)
      i += 1
    }
    val perLookupMs = (System.nanoTime() - t0) / 1e6 / (2.0 * n)
    // the job floor this path replaces is ~100-350 ms; a hash probe must
    // be orders of magnitude under it (generous bound to stay unflaky)
    assert(perLookupMs < 1.0, s"warm lookup took $perLookupMs ms")
  }

  test("build refuses a frame whose parent rows do not enclose their " +
      "children or sit one level above them") {
    Seq(
      t.nodes.withColumn("post",
        when(col("parent_id") === -1L, col("pre")).otherwise(col("post"))),
      t.nodes.withColumn("depth",
        when(col("is_leaf"), col("depth") + 1).otherwise(col("depth")))
    ).foreach { nodes =>
      val e = intercept[IllegalArgumentException](TreeServing.build(nodes))
      assert(e.getMessage.contains("the serving index needs unique node ids"), e.getMessage)
      assert(TreeServing.indexOf(nodes).isEmpty)
    }
  }

  test("a capped newick refused on a large random tree names its exact " +
      "tip count, and one tip more in the cap answers it") {
    val tr = randomIngest(90L, 3000, (i, rnd) => rnd.nextInt(i))
    val idx = TreeServing.build(tr)
    val rows = tr.nodes.select("node_id", "pre", "post", "depth", "is_leaf").collect()
    val root = rows.minBy(_.getLong(1))
    val inner = rows.filter(r => !r.getBoolean(4) && r.getLong(3) == 2L).head
    Seq(root, inner).foreach { top =>
      Seq(-1, 0, 1, 3, 6).foreach { maxDepth =>
        // the cut's leaves: nodes at the cut depth, and tips above it
        val tips = rows.count { r =>
          val below = r.getLong(3) - top.getLong(3)
          r.getLong(1) >= top.getLong(1) && r.getLong(1) <= top.getLong(2) &&
            (below == maxDepth || r.getBoolean(4) && (maxDepth < 0 || below < maxDepth))
        }.toLong
        val e = intercept[IllegalArgumentException](
          idx.newick(top.getLong(0), maxDepth, cap = tips - 1))
        assert(e.getMessage == "requirement failed: requested tree " +
          s"($tips tips) is larger than currently allowed (${tips - 1})")
        val nwk = idx.newick(top.getLong(0), maxDepth, labelFormat = "id", cap = tips)
        val parsed = Newick.parse(nwk)
        val parents = parsed.map(_.parentId).toSet
        assert(parsed.count(n => !parents(n.nodeId)) == tips)
      }
    }
  }

  test("Newick.scrub equals the JadeNode offending-character regex on " +
      "every offending character, whitespace, runs and clean labels") {
    val regex = "[\\Q\"_~`:;/[]{}|<>,.!@#$%^&*()?+=\\\\\\E\\s]+".r
    val offending = "\"_~`:;/[]{}|<>,.!@#$%^&*()?+=\\ \t\n\u000B\f\r"
    val labels = (0 until 256).map(c => s"a${c.toChar}b") ++
      offending.map(c => s"$c$c$c") ++ offending.map(c => s"x$c") ++
      Seq("", "ott1085739", "mrcaott90560ott1057518", "Gavia immer",
        "a__b", "__", "_", "a _ b", "Odd \"q\" (x)/y:3", "x\u00A0y", "Épée ü")
    labels.foreach { l =>
      assert(Newick.scrub(l) == regex.replaceAllIn(l, "_"), s"label '$l'")
    }
  }

  test("JSON escaping is unchanged: quotes, backslashes and control " +
      "characters escaped, everything else as it is") {
    def reference(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                  case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
    val strings = (0 until 128).map(c => s"a${c.toChar}b") ++
      Seq("", "plain", "Gavia immer", "ott1085739", "\"\"", "\\\\", "tab\there",
        "é ü \u2028", "pg_1@tree1")
    strings.foreach(s => assert(TreeApi.esc(s) == reference(s), s"string '$s'"))
  }

  test("induced_subtree from the index equals inducedEdges + assembleNewick " +
      "over root paths, on random trees, in every label format") {
    val shapes: Seq[(Int, Random) => Int] = Seq(
      (i, rnd) => rnd.nextInt(i),                          // bushy, unary nodes
      (i, rnd) => math.max(0, i - 1 - rnd.nextInt(3)),     // deep caterpillars
      (i, _) => (i - 1) / 2)                               // binary
    val formats = Seq(("name_and_id", false), ("name", true), ("id", true))
    shapes.zipWithIndex.foreach { case (shape, s) =>
      val seed = 70L + s
      val rnd = new Random(seed)
      val tr = randomIngest(seed, 40 + rnd.nextInt(50), shape)
      val idx = TreeServing.build(tr)
      final case class N(id: Long, ot: String, uid: Option[Long], pre: Long,
          path: Seq[Long], labels: Seq[String])
      val nodes = tr.nodes.select(Seq(col("node_id"), col("ot_node_id"),
          col("tax_uid"), col("pre"), col("ancestors")) ++
          formats.map { case (f, u) => TreeOps.formattedLabel(f, u) }: _*)
        .collect().map(r => N(r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3),
          r.getSeq[Long](4).toSeq, (5 to 7).map(r.getString)))
        .toSeq
      val byId = nodes.map(n => n.id -> n).toMap
      val byOt = nodes.map(n => n.ot -> n).toMap
      val byUid = nodes.flatMap(n => n.uid.map(_ -> n)).toMap
      def reference(ids: Seq[String], otts: Seq[Long], f: Int): TreeApi.InducedResult = {
        val found = (ids.flatMap(byOt.get) ++ otts.flatMap(byUid.get)).distinctBy(_.id)
        val (badNodes, badOtts) = (ids.filterNot(byOt.contains), otts.filterNot(byUid.contains))
        require(found.size >= 2, s"at least 2 valid ids required, got ${found.size}")
        val edges = TreeApi.inducedEdges(found.map(n => n.id -> n.path))
        val nwk = TreeOps.assembleNewick(edges.map { case (id, p, _) =>
          (id, p, byId(id).pre, byId(id).labels(f)) }.toArray)
        TreeApi.InducedResult(nwk, badNodes, badOtts, badNodes.isEmpty && badOtts.isEmpty)
      }
      // a mix of random nodes, an ancestor of one of them, repeats, unknown
      // ids, and ott ids in place of (or beside) ot ids
      def request(): (Seq[String], Seq[Long]) = {
        val picks = Seq.fill(1 + rnd.nextInt(8))(nodes(rnd.nextInt(nodes.size)))
        val anc = byId(picks.head.path(rnd.nextInt(picks.head.path.size)))
        val all = picks ++ Option.when(rnd.nextBoolean())(anc) ++
          Option.when(rnd.nextInt(3) == 0)(picks.last)
        val (asOtt, asOt) = all.partition(n => n.uid.isDefined && rnd.nextInt(3) == 0)
        (rnd.shuffle(asOt.map(_.ot) ++ Option.when(rnd.nextInt(4) == 0)("nope") ++
            Option.when(rnd.nextInt(5) == 0)(asOtt.headOption.map(_.ot)).flatten),
          rnd.shuffle(asOtt.map(_.uid.get) ++ Option.when(rnd.nextInt(4) == 0)(424242L)))
      }
      var answered = 0
      (1 to 60).foreach { _ =>
        val (ids, otts) = request()
        formats.zipWithIndex.foreach { case ((f, u), fi) =>
          val got = Try(idx.inducedSubtree(ids, otts, f, u))
          val want = Try(reference(ids, otts, fi))
          (got, want) match {
            case (Failure(a), Failure(b)) =>
              assert(a.getClass == b.getClass && a.getMessage == b.getMessage,
                s"tree $seed, $ids / $otts, $f: index threw $a, reference $b")
            case _ =>
              assert(got == want, s"tree $seed, $ids / $otts, $f")
              answered += 1
          }
        }
      }
      assert(answered >= 90, s"tree $seed: only $answered answered requests")
    }
  }

  test("repeated strings are stored once: map keys, ranks, unique_name " +
      "and the injected supported_by value") {
    val infos = t.nodes.select("ot_node_id").collect().map(_.getString(0))
      .map(idx.nodeInfo(_).get).toSeq
    def maps(f: String) = infos.flatMap(m => Option(m(f)))
      .map(_.asInstanceOf[collection.Map[String, Any]])
    // every equal string among `xs` is one object
    def oneObjectEach(what: String, xs: Seq[AnyRef]): Unit = {
      val groups = xs.groupBy(identity).values
      assert(groups.exists(_.size >= 2), s"$what: no string repeats")
      groups.foreach(g => assert(g.forall(_ eq g.head), s"$what '${g.head}'"))
    }
    oneObjectEach("supported_by key", maps("supported_by").flatMap(_.keys))
    oneObjectEach("tax_sources key", maps("tax_sources").flatMap(_.keys))
    oneObjectEach("tax_rank", infos.flatMap(m => Option(m("tax_rank").asInstanceOf[String])))
    val named = infos.filter(m => m("name") != null && m("name") == m("unique_name"))
    assert(named.nonEmpty)
    named.foreach(m => assert(m("unique_name").asInstanceOf[AnyRef] eq m("name").asInstanceOf[AnyRef]))
    // ingest injects ("ott<taxonomy version>" -> ot_node_id) for each taxon
    val injected = infos.filter(_("tax_uid") != null).map { m =>
      val sb = m("supported_by").asInstanceOf[collection.Map[String, Any]]
      (sb("ott2.9draft12").asInstanceOf[AnyRef], m("ot_node_id").asInstanceOf[AnyRef])
    }
    assert(injected.nonEmpty)
    injected.foreach { case (v, ot) => assert(v eq ot, s"$v") }
  }

  test("slot-table lookups equal plain maps under the highest-pre rule, on " +
      "random two-tree frames that share ot and ott ids, with colliding, " +
      "negative and absent ids, and refusals keep their messages") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val strMap = MapType(StringType, StringType)
    val arrMap = MapType(StringType, ArrayType(StringType))
    val schema = StructType(Seq(
      StructField("node_id", LongType, false), StructField("ot_node_id", StringType),
      StructField("name", StringType), StructField("unique_name", StringType),
      StructField("tax_uid", LongType), StructField("tax_rank", StringType),
      StructField("tax_sources", strMap), StructField("tip_descendants", LongType, false),
      StructField("depth", LongType, false), StructField("pre", LongType, false),
      StructField("post", LongType, false), StructField("supported_by", strMap),
      StructField("terminal", strMap), StructField("partial_path_of", strMap),
      StructField("resolves", strMap), StructField("conflicts_with", arrMap),
      StructField("resolved_by", arrMap), StructField("parent_id", LongType, false)))
    val fields = schema.fieldNames.dropRight(1).toSeq // the Row views' fields
    val formats = Seq(("name_and_id", false), ("name", true), ("id", true))
    (0 until 4).foreach { seed =>
      val rnd = new Random(600L + seed)
      val sizes = Seq(20 + rnd.nextInt(40), 20 + rnd.nextInt(40))
      val total = sizes.sum
      // keys whose probes start at one slot of the index's tables, and keys
      // equal modulo the table size
      val slots = new TreeServing.Slots(total)
      val width = slots.at.length.toLong
      val home = slots.home(java.lang.Long.hashCode(-77L))
      val sameHome = Iterator.from(0).map(_.toLong)
        .filter(x => slots.home(java.lang.Long.hashCode(x)) == home).take(40).toIndexedSeq
      val sameHomeOt = Iterator.from(0).map(i => s"c$i")
        .filter(x => slots.home(x.hashCode) == home).take(40).toIndexedSeq
      val congruent = (1L to 40L).map(m => 5L + m * width)
      val uidPool = sameHome ++ congruent ++ (1L to 10L).map(-_) :+ -77L
      val nodeIds = rnd.shuffle((sameHome ++ congruent ++
        (2L to 60L).map(m => -m * width - 3)).distinct).take(total).toIndexedSeq
      require(nodeIds.size == total && !nodeIds.contains(-1L))
      val sources = (1 to 6).map(i => s"pg_$i@tree$i")
      final case class N(tree: Int, nodeId: Long, parent: Int, ot: String,
          uid: Option[Long], row: Row)
      val nodes = collection.mutable.ArrayBuffer.empty[N] // in pre order
      // new ot ids probe from one slot, the last five kept absent
      val freshOt = sameHomeOt.dropRight(5).iterator ++ Iterator.from(0).map(i => s"ott$i")
      sizes.zipWithIndex.foreach { case (n, tr) =>
        val parentOf = Array.tabulate(n)(i => if (i == 0) -1 else rnd.nextInt(i))
        val kids = (1 until n).groupBy(parentOf(_))
        def tips(i: Int): Long = kids.get(i).fold(1L)(_.map(tips).sum)
        val treeA = nodes.toIndexedSeq
        def dfs(i: Int, parentPos: Int, depth: Long): Unit = {
          val pos = nodes.size
          val ot =
            if (treeA.nonEmpty && rnd.nextInt(3) == 0) treeA(rnd.nextInt(treeA.size)).ot
            else freshOt.next()
          val uid =
            if (rnd.nextInt(4) == 0) None
            else if (treeA.nonEmpty && rnd.nextInt(3) == 0) treeA(rnd.nextInt(treeA.size)).uid
            else Some(uidPool(rnd.nextInt(uidPool.size)))
          val name = if (rnd.nextInt(5) < 2) null else s"Taxon $pos (x)"
          val uniq = rnd.nextInt(3) match { case 0 => name; case 1 => null; case _ => s"u$pos" }
          val sb = if (rnd.nextInt(4) == 0) null else
            (Seq.fill(1 + rnd.nextInt(3))(sources(rnd.nextInt(6)) -> s"node${rnd.nextInt(9)}") ++
              uid.map(_ => "ott3.0" -> ot)).toMap
          val cw = if (rnd.nextBoolean()) null
            else Map(sources(rnd.nextInt(6)) -> Seq(s"node$pos", "nodeX"))
          nodes += N(tr, nodeIds(pos), parentPos, ot, uid, null)
          kids.getOrElse(i, Nil).foreach(c => dfs(c, pos, depth + 1))
          val post = nodes.size - 1L
          nodes(pos) = nodes(pos).copy(row = Row(nodeIds(pos), ot, name, uniq,
            uid.map(java.lang.Long.valueOf).orNull, Seq(null, "genus", "species")(rnd.nextInt(3)),
            uid.map(u => Map("ncbi" -> u.toString, "gbif" -> (u + 7).toString)).orNull,
            tips(i), depth, pos.toLong, post, sb, null, null, null, cw, null,
            if (parentPos < 0) -1L else nodeIds(parentPos)))
        }
        dfs(0, -1, 0L)
      }
      val frame = spark.createDataFrame(
        java.util.Arrays.asList(nodes.map(_.row).toSeq: _*), schema)
      val idx = TreeServing.build(frame)
      val labels = frame.orderBy("pre").select(formats.map { case (f, u) =>
        TreeOps.formattedLabel(f, u) }: _*).collect().map(r => (0 until 3).map(r.getString))
      val rows = frame.orderBy("pre").select(fields.map(col): _*).collect()

      // the reference: plain maps, a later (higher-pre) row replacing an
      // earlier one with the same key
      val byOt = nodes.indices.map(k => nodes(k).ot -> k).toMap
      val byUid = nodes.indices.flatMap(k => nodes(k).uid.map(_ -> k)).toMap
      val byId = nodes.indices.map(k => nodes(k).nodeId -> k).toMap
      def path(k: Int): List[Int] = // root first
        if (k < 0) Nil else path(nodes(k).parent) :+ k
      def info(k: Int): Map[String, Any] = {
        val a = fields.zip(rows(k).toSeq).toMap
        Map("ot_node_id" -> a("ot_node_id"), "name" -> a("name"),
          "unique_name" -> a("unique_name"), "tax_uid" -> a("tax_uid"),
          "tax_rank" -> a("tax_rank"), "tax_sources" -> a("tax_sources"),
          "num_tips" -> a("tip_descendants"),
          "lineage" -> path(k).reverse.tail.map(nodes(_).ot)) ++
          Seq("supported_by", "terminal", "partial_path_of", "resolves",
            "conflicts_with", "resolved_by").map(f => f -> a(f))
      }
      def taxon(k: Int) = TreeApi.TaxonBlob(rows(k).getString(2), rows(k).getString(5),
        rows(k).getString(3), nodes(k).uid)
      def refMrca(ids: Seq[String], otts: Seq[Long]): TreeApi.MrcaResult = {
        val found = ids.flatMap(byOt.get) ++ otts.flatMap(byUid.get)
        require(found.nonEmpty, "no valid node or ott ids provided")
        val common = found.map(path).reduce((a, b) => a.zip(b).takeWhile(p => p._1 == p._2).map(_._1))
        require(common.nonEmpty, "query nodes do not share a root (different trees?)")
        val m = common.last
        val nearest = path(m).reverse.find(nodes(_).uid.isDefined)
        val (badNodes, badOtts) = (ids.filterNot(byOt.contains), otts.filterNot(byUid.contains))
        val name = Option(rows(m).getString(2))
        TreeApi.MrcaResult(nodes(m).ot, name,
          if (name.isEmpty) nearest.map(nodes(_).ot) else None, badNodes, badOtts,
          ok = badNodes.isEmpty && badOtts.isEmpty,
          mrcaTaxon = if (name.isDefined) Some(taxon(m)) else None,
          nearestTaxon = nearest.map(taxon))
      }
      def refInduced(ids: Seq[String], otts: Seq[Long], f: Int): TreeApi.InducedResult = {
        val found = (ids.flatMap(byOt.get) ++ otts.flatMap(byUid.get)).distinct
        require(found.size >= 2, s"at least 2 valid ids required, got ${found.size}")
        val edges = TreeApi.inducedEdges(found.map(k => k.toLong -> path(k).map(_.toLong)))
        val nwk = TreeOps.assembleNewick(edges.map { case (k, p, _) =>
          (k, p, k, labels(k.toInt)(f)) }.toArray)
        val (badNodes, badOtts) = (ids.filterNot(byOt.contains), otts.filterNot(byUid.contains))
        TreeApi.InducedResult(nwk, badNodes, badOtts, badNodes.isEmpty && badOtts.isEmpty)
      }
      def same(what: String)(got: => Any, want: => Any): Unit = (Try(got), Try(want)) match {
        case (Failure(a), Failure(b)) =>
          assert(a.getClass == b.getClass && a.getMessage == b.getMessage,
            s"seed $seed, $what: index threw $a, reference $b")
        case (a, b) => assert(a == b, s"seed $seed, $what")
      }

      val absentOt = sameHomeOt.takeRight(5) ++ Seq("nope", "")
      val absentLong = Seq(-1L, 0L, width, -width, Long.MinValue, Long.MaxValue) ++
        Iterator.from(1000).map(_.toLong).filter(x => slots.home(java.lang.Long.hashCode(x)) == home)
          .take(5)
      (nodes.map(_.ot) ++ absentOt).distinct.foreach { ot =>
        same(s"byOtId($ot)")(idx.byOtId(ot), byOt.get(ot).map(rows(_)))
        same(s"nodeInfo($ot)")(idx.nodeInfo(ot, includeLineage = true), byOt.get(ot).map(info))
      }
      (uidPool ++ absentLong).distinct.foreach { u =>
        same(s"byOttId($u)")(idx.byOttId(u), byUid.get(u).map(rows(_)))
      }
      (nodeIds ++ absentLong).distinct.foreach { id =>
        same(s"byNodeId($id)")(idx.byNodeId(id), byId.get(id).map(rows(_)))
        same(s"interval($id)")(idx.interval(id),
          byId.get(id).map(k => (rows(k).getLong(9), rows(k).getLong(10))))
      }
      def shared[K](key: N => Option[K]) =
        nodes.filter(_.tree == 0).flatMap(key).toSet
          .intersect(nodes.filter(_.tree == 1).flatMap(key).toSet)
      assert(shared(n => Some(n.ot)).nonEmpty && shared(_.uid).nonEmpty,
        s"seed $seed: the trees share no ot or ott id")
      val refusals = collection.mutable.Set.empty[String]
      def kind(e: Throwable) = e.getMessage.replaceAll("\\d+", "N")
      (1 to 150).foreach { _ =>
        val ids = Seq.fill(rnd.nextInt(5))(
          if (rnd.nextInt(6) == 0) absentOt(rnd.nextInt(absentOt.size))
          else nodes(rnd.nextInt(nodes.size)).ot)
        val otts = Seq.fill(rnd.nextInt(4))(
          if (rnd.nextInt(6) == 0) absentLong(rnd.nextInt(absentLong.size))
          else uidPool(rnd.nextInt(uidPool.size)))
        same(s"mrca($ids, $otts)")(idx.mrca(ids, otts), refMrca(ids, otts))
        Try(refMrca(ids, otts)).failed.foreach(refusals += kind(_))
        formats.indices.foreach { f =>
          same(s"inducedSubtree($ids, $otts, ${formats(f)})")(
            idx.inducedSubtree(ids, otts, formats(f)._1, formats(f)._2),
            refInduced(ids, otts, f))
          Try(refInduced(ids, otts, f)).failed.foreach(refusals += kind(_))
        }
      }
      assert(refusals.size >= 3, s"seed $seed: refusals seen: $refusals")
    }
  }

  /** Ingest a random tree: node i > 0 hangs under `parent(i, rnd)` < i.
    * Every third node is a named taxon whose name needs scrubbing; the
    * others are unnamed, and a few of those carry an ott id the taxonomy
    * lacks.
    */
  private def randomIngest(seed: Long, n: Int,
      parent: (Int, Random) => Int): TreeIngest.Ingested = {
    val rnd = new Random(seed)
    val parents = Array.tabulate(n)(i => if (i == 0) -1 else parent(i, rnd))
    def ot(i: Int) = if (i % 3 == 0 || i % 7 == 1) s"ott${1000 + i}" else s"node$i"
    val kids = (1 until n).groupBy(parents(_))
    def nwk(i: Int): String = kids.get(i) match {
      case Some(cs) => cs.map(nwk).mkString("(", ",", ")") + ot(i)
      case None => ot(i)
    }
    val dir = Files.createTempDirectory("graft_serving_induced")
    def put(name: String, text: String) =
      Files.write(dir.resolve(name), text.getBytes(StandardCharsets.UTF_8)).toString
    val tax = "uid\t|\tparent_uid\t|\tname\t|\trank\t|\tsourceinfo\t|\tuniqname\t|\tflags\t|\t\n" +
      (0 until n).filter(_ % 3 == 0).map { i =>
        s"${1000 + i}\t|\t\t|\tTaxon  $i sp.__x\t|\tspecies\t|\tncbi:$i\t|\t\t|\t\t|\t\n"
      }.mkString
    val ann = s"""{"tree_id":"opentree8.$seed","taxonomy_version":"3.0",""" +
      s""""num_tips":0,"sources":[],"nodes":{"${ot(0)}":{"supported_by":""" +
      s"""{"pg_1@tree1":"n0"}}},"source_id_map":{"pg_1_tree1":""" +
      """{"git_sha":"sha1","tree_id":"tree1","study_id":"pg_1"}}}"""
    TreeIngest.ingest(spark, put("t.tre", nwk(0) + ";"), put("ann.json", ann),
      put("tax.tsv", tax), s"opentree8.$seed")
  }
}
