package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tree.{Newick, ParsedNode, TreeIngest, TreeLabeler, TreeOps}

/** Property tests for the invariants the reference only implies
  * (SURVEY §5): labeler correctness on random trees, MRCA algebra,
  * induced-subtree containment, newick round-trips. Trees are generated
  * from fixed seeds so failures reproduce.
  */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession._

  /** Random tree as a parent array: node i+1 gets parent in [0, i]. */
  private def randomTree(seed: Long): Array[Int] = {
    val rnd = new Random(seed)
    val n = 2 + rnd.nextInt(39)
    Array.tabulate(n - 1)(i => if (i == 0) 0 else rnd.nextInt(i + 1))
  }

  /** A parent array as newick, node i labeled `n<i>`. */
  private def newickOf(parents: Array[Int]): String = {
    val children = (0 to parents.length).map { p =>
      p.toLong -> parents.zipWithIndex.collect {
        case (pp, i) if pp == p => i + 1L }.toSeq
    }.toMap
    Newick.serialize(0L, children.getOrElse(_, Seq.empty), id => s"n$id")
  }

  private def labelTree(parents: Array[Int]) = {
    import spark.implicits._
    val edges = parents.zipWithIndex
      .map { case (p, i) => (i + 1L, p.toLong, i) } // ord = arrival order
      .toSeq.toDF("child_id", "parent_id", "child_ord")
    TreeLabeler.label(spark, edges)
  }

  test("labeler invariants hold on random trees") {
    (1L to 8L).foreach { seed =>
      val parents = randomTree(seed)
      val n = parents.length + 1
      val nodes = labelTree(parents).collect()
      assert(nodes.length == n, s"seed=$seed")
      val byId = nodes.map(r => r.getAs[Long]("node_id") -> r).toMap
      def depthOf(i: Int): Int = if (i == 0) 0 else 1 + depthOf(parents(i - 1))
      nodes.foreach { r =>
        assert(r.getAs[Long]("depth") == depthOf(r.getAs[Long]("node_id").toInt),
          s"seed=$seed node=$r")
        val anc = r.getAs[scala.collection.Seq[Long]]("ancestors")
        assert(anc.head == 0L && anc.last == r.getAs[Long]("node_id"))
        assert(anc.length == r.getAs[Long]("depth") + 1)
      }
      val root = byId(0L)
      assert(root.getAs[Long]("tip_descendants") ==
        nodes.count(_.getAs[Boolean]("is_leaf")), s"seed=$seed")
      nodes.filter(_.getAs[Long]("node_id") != 0L).foreach { r =>
        val p = byId(r.getAs[Long]("parent_id"))
        assert(r.getAs[Long]("pre") > p.getAs[Long]("pre"), s"seed=$seed")
        assert(r.getAs[Long]("post") <= p.getAs[Long]("post"), s"seed=$seed")
      }
    }
  }

  test("mrca is commutative and idempotent on random trees") {
    (11L to 15L).foreach { seed =>
      import spark.implicits._
      val parents = randomTree(seed)
      val labeled = labelTree(parents).cache()
      val n = parents.length + 1
      val ids = (0 until n by math.max(1, n / 5)).map(_.toLong)
      val pairs = ids.flatMap(a => ids.map(b => (a, b))).toDF("a", "b")
      val m = TreeOps.mrcaPairs(labeled, pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      ids.foreach { a =>
        assert(m((a, a)) == a, s"seed=$seed") // mrca(a,a) = a
        ids.foreach(b => assert(m((a, b)) == m((b, a)), s"seed=$seed"))
      }
      labeled.unpersist()
    }
  }

  test("induced subtree: kept ⊇ tips; parents are proper ancestors") {
    (21L to 25L).foreach { seed =>
      val parents = randomTree(seed)
      val labeled = labelTree(parents).cache()
      val n = parents.length + 1
      val tips = (1 until n by math.max(1, n / 4)).map(_.toLong).distinct
      if (tips.size >= 2) {
        val ind = TreeOps.induced(labeled, tips).collect()
        val kept = ind.map(_.getLong(0)).toSet
        assert(tips.toSet.subsetOf(kept), s"seed=$seed")
        val anc = labeled.select(col("node_id"), col("ancestors")).collect()
          .map(r => r.getLong(0) ->
            r.getAs[scala.collection.Seq[Long]](1).toSet).toMap
        ind.filter(_.getLong(1) != -1L).foreach { r =>
          assert(anc(r.getLong(0)).contains(r.getLong(1)) &&
            r.getLong(1) != r.getLong(0), s"seed=$seed")
        }
      }
      labeled.unpersist()
    }
  }

  test("newick round-trip preserves structure on random trees") {
    (31L to 40L).foreach { seed =>
      val parents = randomTree(seed)
      val n = parents.length + 1
      val parsed = Newick.parse(newickOf(parents))
      assert(parsed.length == n, s"seed=$seed")
      // EXACT structural identity via the n$id labels, not just the
      // child-count multiset (which a wrong-parent reattachment that
      // preserves per-parent counts would still satisfy): every parsed
      // node's (label → parent label) edge must equal the generator's
      val lbl = parsed.map(p => p.nodeId -> p.label).toMap
      val gotEdges = parsed.filter(_.parentId >= 0)
        .map(p => p.label -> lbl(p.parentId)).toSet
      val wantEdges = parents.zipWithIndex
        .map { case (p, i) => s"n${i + 1}" -> s"n$p" }.toSet
      assert(gotEdges == wantEdges, s"seed=$seed")
    }
  }

  /** The (nodeId, parentId, childOrd) edges of parsed nodes, as
    * [[TreeLabeler.label]] takes them.
    */
  private def edgesOf(parsed: Seq[ParsedNode]) = {
    import spark.implicits._
    parsed.filter(_.parentId >= 0)
      .map(p => (p.nodeId, p.parentId, p.childOrd))
      .toDF("child_id", "parent_id", "child_ord")
  }

  private def shift(parsed: IndexedSeq[ParsedNode], by: Long) =
    parsed.map(p => p.copy(nodeId = p.nodeId + by,
      parentId = if (p.parentId < 0) -1L else p.parentId + by))

  /** Both labelers on the same parsed forest: same schema, same rows. */
  private def assertSameLabels(parsed: IndexedSeq[ParsedNode], clue: String): Unit = {
    val sweep = TreeIngest.labelParsed(spark, parsed)
    val doubling = TreeLabeler.label(spark, edgesOf(parsed))
    assert(sweep.schema == doubling.schema,
      s"$clue\n${sweep.schema.treeString}\n${doubling.schema.treeString}")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      })
      .sortBy(_.head.asInstanceOf[Long])
    val got = rows(sweep)
    assert(got.length == parsed.length, clue)
    assert(got == rows(doubling), clue)
  }

  test("labelParsed equals TreeLabeler on random trees: single, id-shifted " +
      "and concatenated forests, all 11 columns") {
    def parsedTree(seed: Long) = Newick.parse(newickOf(randomTree(seed)))
    (51L to 56L).foreach { seed =>
      val a = parsedTree(seed)
      val b = parsedTree(seed + 100)
      assertSameLabels(a, s"single seed=$seed")
      // ingestOffset: one tree above an existing store's ids
      assertSameLabels(shift(a, 1000L), s"shifted seed=$seed")
      // ingestAll: trees shifted back to back into one forest
      assertSameLabels(shift(a, 7L) ++ shift(b, 7L + a.length),
        s"forest seed=$seed")
    }
  }

  test("labelParsed equals TreeLabeler on the Gavia fixtures") {
    def read(f: String) = Newick.parse(new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(s"${GaviaFixture.fx}/$f")),
      java.nio.charset.StandardCharsets.UTF_8).trim)
    val g1 = read("gavia.tre")
    val g2 = read("gavia2.tre")
    assertSameLabels(g1, "gavia")
    assertSameLabels(g1 ++ shift(g2, g1.length.toLong), "gavia + gavia2")
  }

  test("labelParsed refuses input that is not a preorder array") {
    val p = Newick.parse("((a,b)c,d)r;") // r c a b d
    val gap = p.updated(2, p(2).copy(nodeId = 9L))
    val noParent = p.updated(4, p(4).copy(parentId = 2L)) // d under a
    val swapped = p.updated(4, p(4).copy(childOrd = 0))   // d not after c
    Seq(gap -> "has id", noParent -> "not an ancestor",
        swapped -> "child_ord").foreach { case (bad, msg) =>
      val e = intercept[IllegalArgumentException](
        TreeIngest.labelParsed(spark, bad))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("count-min never undercounts on random multisets") {
    import spark.implicits._
    (51L to 54L).foreach { seed =>
      val rnd = new Random(seed)
      // small vocab + skewed repetition so narrow widths really collide
      val items = Seq.fill(500 + rnd.nextInt(500))(
        s"w${rnd.nextInt(1 + rnd.nextInt(60))}")
      val df = items.toDF("item")
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val sk = graft.ops.SketchOps.cmSketch(df, "item", depth = 3, width = 8)
      val est = graft.ops.SketchOps.cmEstimate(sk, df.distinct(), "item")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.keySet == exact.keySet, s"seed=$seed")
      est.foreach { case (k, e) =>
        assert(e >= exact(k), s"seed=$seed item=$k est=$e < ${exact(k)}")
      }
    }
  }

  test("as-of join equals the brute-force definition on random event sets") {
    import spark.implicits._
    (71L to 74L).foreach { seed =>
      val rnd = new Random(seed)
      // few keys + a coarse time grid so equal instants, shared keys, and
      // unmatched rows all actually occur
      // ids unique by construction (index-based): a duplicate id would
      // make the got/want maps collide on whichever row a Map keeps
      def side(n: Int, idBase: Long) = Seq.tabulate(n)(i =>
        (rnd.nextInt(5).toLong, idBase + i,
          rnd.nextInt(40).toLong * 60000L))
      val lRows = side(40 + rnd.nextInt(40), 0L)
      val rRows = side(40 + rnd.nextInt(40), 100000L)
      val l = lRows.toDF("k", "lid", "ms")
        .select(col("k"), col("lid"), timestamp_millis(col("ms")).as("lts"))
      val r = rRows.toDF("k", "rid", "ms")
        .select(col("k"), col("rid"), timestamp_millis(col("ms")).as("rts"))
      val got = graft.ops.TemporalOps.asofJoin(l, r, "k", "lts", "rts", "lid")
        .select(col("rid"), col("matched.lid"))
        .collect()
        .map(x => x.getLong(0) ->
          (if (x.isNullAt(1)) None else Some(x.getLong(1)))).toMap
      // brute force straight from the definition: per right row, the
      // largest (ts, lid) among left rows with same key and ts <= rts
      val want = rRows.map { case (k, rid, rms) =>
        val cands = lRows.filter(x => x._1 == k && x._3 <= rms)
        rid -> (if (cands.isEmpty) None
                else Some(cands.maxBy(x => (x._3, x._2))._2))
      }.toMap
      assert(got == want, s"seed=$seed")
      assert(got.nonEmpty, s"seed=$seed produced no right rows")
    }
  }

  test("point-in-interval join equals the brute-force definition on " +
      "random interval sets, boundary-heavy, inversions included") {
    import spark.implicits._
    (81L to 84L).foreach { seed =>
      val rnd = new Random(seed)
      // a coarse grid in ms with a 10s chunk: instants land ON chunk
      // boundaries often, intervals span 0..4 chunks, ~1/6 inverted
      def inst() = rnd.nextInt(12).toLong * 5000L
      val ivRows = Seq.tabulate(30 + rnd.nextInt(30)) { i =>
        (rnd.nextInt(4).toLong, i.toLong, inst(),
          inst() + (rnd.nextInt(6) - 1).toLong * 5000L)
      } // (k, ivid, startMs, endMs) — end may precede start
      val ptRows = Seq.tabulate(40 + rnd.nextInt(40)) { i =>
        (rnd.nextInt(4).toLong, 1000L + i, inst())
      }
      val ivs = ivRows.toDF("k", "ivid", "sms", "ems")
        .select(col("k"), col("ivid"), timestamp_millis(col("sms")).as("st"),
          timestamp_millis(col("ems")).as("en"))
      val pts = ptRows.toDF("k", "pid", "ms")
        .select(col("k"), col("pid"), timestamp_millis(col("ms")).as("t"))
      val got = graft.ops.TemporalOps.pointInIntervalJoin(
          pts, ivs, "k", "t", "st", "en", chunkSeconds = 10)
        .select(col("pid"), col("ivid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = (for {
        (pk, pid, pms) <- ptRows
        (ik, ivid, sms, ems) <- ivRows
        if ik == pk && pms >= sms && pms <= ems
      } yield (pid, ivid)).sorted
      assert(got == want, s"seed=$seed")
      assert(want.nonEmpty, s"seed=$seed produced no containments")
    }
  }

  test("interval-overlap join equals brute force on random sets — each " +
      "overlapping pair exactly once despite multi-chunk spans") {
    import spark.implicits._
    (91L to 94L).foreach { seed =>
      val rnd = new Random(seed)
      def inst() = rnd.nextInt(12).toLong * 5000L
      // spans up to 5 chunks (10s chunk) so most pairs share SEVERAL
      // chunks — the duplicate guard is what's under test
      def mk(n: Int, idBase: Long) = Seq.tabulate(n) { i =>
        val s = inst()
        (rnd.nextInt(3).toLong, idBase + i, s,
          s + (rnd.nextInt(11) - 1).toLong * 5000L)
      }
      val lRows = mk(20 + rnd.nextInt(20), 0L)
      val rRows = mk(20 + rnd.nextInt(20), 1000L)
      def df(rows: Seq[(Long, Long, Long, Long)], id: String, s: String,
          e: String) = rows.toDF("k", id, "sms", "ems")
        .select(col("k"), col(id), timestamp_millis(col("sms")).as(s),
          timestamp_millis(col("ems")).as(e))
      val got = graft.ops.TemporalOps.intervalOverlapJoin(
          df(lRows, "lid", "lst", "len"), df(rRows, "rid", "rst", "ren"),
          "k", "lst", "len", "rst", "ren", chunkSeconds = 10)
        .select(col("lid"), col("rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = (for {
        (lk, lid, ls, le) <- lRows if ls <= le
        (rk, rid, rs, re) <- rRows if rs <= re
        if lk == rk && ls <= re && rs <= le
      } yield (lid, rid)).sorted
      assert(got == want, s"seed=$seed")
      assert(got.distinct == got, s"seed=$seed emitted duplicates")
      assert(want.nonEmpty, s"seed=$seed produced no overlaps")
    }
  }

  test("span dedup keeps each distinct passage exactly once on random docs") {
    import spark.implicits._
    (61L to 64L).foreach { seed =>
      val rnd = new Random(seed)
      val docs = (0L until 40L).map { id =>
        (id, Seq.fill(3 + rnd.nextInt(30))(s"t${rnd.nextInt(6)}")
          .mkString(" "))
      }.toDF("doc_id", "text")
      val span = 1 + rnd.nextInt(3)
      val out = graft.ops.TextOps.dedupSpans(docs, "doc_id", "text", span)
        .collect()
      // distinct spans of the input, computed independently
      val spans = docs.collect().flatMap { r =>
        r.getString(1).split("\\s+").grouped(span).map(_.mkString(" "))
      }
      val agg = out.map(r => (r.getLong(2), r.getLong(3)))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      assert(agg._1 == spans.distinct.length, s"seed=$seed span=$span")
      assert(agg._1 + agg._2 == spans.length, s"seed=$seed span=$span")
      // reassembled docs contain only surviving passages, in order
      out.foreach { r =>
        if (r.getLong(3) == 0L) {
          val orig = docs.filter(col("doc_id") === r.getLong(0))
            .head().getString(1).toLowerCase.split("\\s+").mkString(" ")
          assert(r.getString(1) == orig, s"seed=$seed doc=${r.getLong(0)}")
        }
      }
    }
  }

  test("sliding-window dedup equals brute force on random docs: spans, " +
      "coverage, and keep-first strip") {
    import spark.implicits._
    (71L to 74L).foreach { seed =>
      val rnd = new Random(seed)
      // small vocab forces heavy cross-doc and within-doc repetition,
      // exercising island merging and keep-first tie-breaks hard
      val raw = (0L until 30L).map { id =>
        (id, Seq.fill(4 + rnd.nextInt(25))(s"t${rnd.nextInt(5)}")
          .mkString(" "))
      }
      val docs = raw.toDF("doc_id", "text")
      val win = 2 + rnd.nextInt(3)
      val toks: Map[Long, Array[String]] =
        raw.map { case (id, t) => id -> t.split("\\s+") }.toMap
      // brute force, computed independently driver-side: every window's
      // occurrence list over the whole corpus
      val occ = toks.toSeq.flatMap { case (id, ts) =>
        (0 to ts.length - win).map(i =>
          (ts.slice(i, i + win).mkString(" "), id, i))
      }
      val byWindow = occ.groupBy(_._1)
      val dupSites = occ.filter(o => byWindow(o._1).size >= 2)
      // expected maximal spans: union per doc of [i, i+win-1] ranges
      def merge(rs: Seq[(Long, Long)]): Seq[(Long, Long)] =
        rs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
          case (acc, (s, e)) => acc match {
            case (ps, pe) :: rest if s <= pe + 1 =>
              (ps, math.max(pe, e)) :: rest
            case _ => (s, e) :: acc
          }
        }.reverse
      val wantSpans = dupSites.groupBy(_._2).flatMap { case (id, os) =>
        merge(os.map(o => (o._3.toLong, (o._3 + win - 1).toLong)))
          .map { case (s, e) => (id, s, e) }
      }.toSet
      val gotSpans = graft.ops.TextOps
        .duplicatedSpans(docs, "doc_id", "text", win)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(gotSpans == wantSpans, s"seed=$seed win=$win")
      // coverage: summed extents per doc, zero rows for clean docs
      val wantCover = toks.map { case (id, ts) =>
        id -> wantSpans.filter(_._1 == id).toSeq
          .map(s => s._3 - s._2 + 1).sum
      }
      val gotCover = graft.ops.TextOps
        .duplicationStats(docs, "doc_id", "text", win)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(gotCover == wantCover, s"seed=$seed win=$win")
      // keep-first strip: a site survives iff it is the (doc, pos)-min
      // occurrence of its window; removed tokens = union of non-first
      // sites' ranges
      val firstOf = byWindow.map { case (w, os) =>
        w -> os.map(o => (o._2, o._3)).min
      }
      val wantStrip = toks.map { case (id, ts) =>
        val cut = dupSites.filter(o =>
            o._2 == id && firstOf(o._1) != ((id, o._3)))
          .flatMap(o => o._3 until o._3 + win).toSet
        id -> ((ts.indices.filterNot(cut).map(ts).mkString(" "),
          cut.size.toLong))
      }
      val gotStrip = graft.ops.TextOps
        .stripDuplicatedSpans(docs, "doc_id", "text", win)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3))))
        .toMap
      assert(gotStrip == wantStrip, s"seed=$seed win=$win")
    }
  }

  test("integer PageRank equals the brute-force iteration on random " +
      "directed graphs") {
    import spark.implicits._
    (81L to 84L).foreach { seed =>
      val rnd = new Random(seed)
      val n = 6 + rnd.nextInt(20)
      // random multigraph with parallel edges, sinks, and sources
      val es = Seq.fill(n * 2)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val iters = 1 + rnd.nextInt(4)
      val dm = 850
      // brute force driver-side, same integer arithmetic
      val deg = es.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
      var r = (0L until n).map(_ -> 1000000L).toMap
      (1 to iters).foreach { _ =>
        val in = es.groupBy(_._2).map { case (v, xs) =>
          v -> xs.map { case (u, _) => r(u) / deg(u) }.sum
        }
        r = (0L until n).map(v =>
          v -> ((1000L - dm) * 1000L + dm * in.getOrElse(v, 0L) / 1000L))
          .toMap
      }
      val got = graft.ops.ClusterOps.pageRank(
          es.toDF("src", "dst"),
          (0L until n).toDF("id"), iters, dm)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(got == r, s"seed=$seed n=$n iters=$iters")
      // personalized variant: teleport and initial mass on a random
      // seed subset only — brute force with the masked base
      val seedSet = (0L until n).filter(_ => rnd.nextBoolean()).toSet
      if (seedSet.nonEmpty) {
        var pr = (0L until n)
          .map(v => v -> (if (seedSet(v)) 1000000L else 0L)).toMap
        (1 to iters).foreach { _ =>
          val in = es.groupBy(_._2).map { case (v, xs) =>
            v -> xs.map { case (u, _) => pr(u) / deg(u) }.sum
          }
          pr = (0L until n).map(v =>
            v -> ((if (seedSet(v)) (1000L - dm) * 1000L else 0L)
              + dm * in.getOrElse(v, 0L) / 1000L)).toMap
        }
        val gotP = graft.ops.ClusterOps.personalizedPageRank(
            es.toDF("src", "dst"), (0L until n).toDF("id"),
            seedSet.toSeq.toDF("id"), iters, dm)
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        assert(gotP == pr, s"seed=$seed n=$n iters=$iters ppr")
      }
    }
  }

  test("batched personalized pagerank equals independent single-set " +
      "runs bit for bit") {
    // the batched kernel's whole contract: set_id rides every
    // aggregation key, so no integer ever mixes across sets — each
    // set's slice of the batched answer must be the single-set stored
    // kernel's output exactly, including the node universe
    import spark.implicits._
    val rnd = new Random(11L)
    val n = 40L
    val es = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft_pprm")
      .toString + "/g"
    graft.ops.GraphStore.save(spark, es, dir)
    val st = graft.ops.GraphStore.load(spark, dir)
    val sets = (0L until n).map(i => (i % 3L, i)).toDF("set_id", "id")
    val batched = graft.ops.ClusterOps.personalizedPageRankMultiStored(
        st, sets, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(batched.values.exists(_ > 0L))
    (0L until 3L).foreach { k =>
      val single = graft.ops.ClusterOps.personalizedPageRankStored(st,
          sets.filter(col("set_id") === k).select(col("id")), iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(batched.keySet.filter(_._1 == k).map(_._2) == single.keySet,
        s"set $k universes differ")
      assert(single.forall { case (id, rk) => batched((k, id)) == rk },
        s"set $k ranks diverged from the single-set kernel")
    }
  }

  test("malformed newick fails fast with positioned diagnostics") {
    val bad = Seq(
      "(a,(b,c);",   // stray ';' truncates the tree → unclosed '('
      "(a,b))c;",    // unbalanced ')'
      "a,b;",        // ',' outside any '('
      "(a,b)",       // truncated stream: no terminating ';'
      "(a,b",        // truncated mid-tree
      "(a:oops,b);", // unparseable branch length
      "(a:,b);",     // empty branch length token
      "(a,b);junk",  // trailing content after the terminator
      "")            // empty input
    bad.foreach { s =>
      val e = intercept[IllegalArgumentException](Newick.parse(s))
      assert(e.getMessage.contains("malformed newick"), s"input: '$s'")
    }
    // trailing whitespace/newline after ';' stays legal (file reads)
    assert(Newick.parse("(a,b);\n").length == 3)
  }

  test("random structural mutations of valid newick are rejected, never mis-parsed") {
    (71L to 78L).foreach { seed =>
      val rnd = new Random(seed)
      val ser = newickOf(randomTree(seed))
      // dropping any single paren unbalances the tree
      val parens = ser.zipWithIndex.filter(c => "()".contains(c._1)).map(_._2)
      val drop = parens(rnd.nextInt(parens.length))
      intercept[IllegalArgumentException](
        Newick.parse(ser.patch(drop, "", 1)))
      // every proper prefix lacks the terminator
      val cut = 1 + rnd.nextInt(ser.length - 1)
      intercept[IllegalArgumentException](Newick.parse(ser.take(cut)))
      // a stray ';' inserted anywhere before the end truncates or trails
      val at = rnd.nextInt(ser.length - 1)
      intercept[IllegalArgumentException](
        Newick.parse(ser.patch(at, ";", 0)))
    }
  }

  test("hostile labels round-trip through the scrub rule") {
    val hostile = Seq("sp. one", "a:b;c", "x[y]z", "w(1)", "a,b c",
      "\"quoted\"", "back\\slash", "per%cent_&_more", "tab\there")
    val lbl: Long => String =
      id => if (id == 0L) "r" else Newick.scrub(hostile(id.toInt - 1))
    val children = Map(0L -> (1 to hostile.length).map(_.toLong))
    val ser = Newick.serialize(0L, children.getOrElse(_, Seq.empty), lbl)
    val parsed = Newick.parse(ser)
    assert(parsed.length == hostile.length + 1)
    // scrubbed labels survive byte-for-byte: no structural char leaks
    // into the stream, so the parse sees exactly the serialized labels
    val got = parsed.filter(_.parentId == 0L).sortBy(_.childOrd)
      .map(_.label)
    assert(got == hostile.map(Newick.scrub))
    assert(got.forall(l => !l.exists("(),;:[]'\" \t".contains(_))))
  }

  test("grouped exact selection equals per-group sorted truth on random " +
      "multisets with random group counts") {
    import spark.implicits._
    (21L to 26L).foreach { seed =>
      val rnd = new Random(seed)
      val nGroups = 1 + rnd.nextInt(6)
      val data = (0 until nGroups).flatMap { g =>
        val sz = 1 + rnd.nextInt(120)
        // mix magnitudes and force ties
        Seq.fill(sz)(g.toLong -> (rnd.nextLong() >> rnd.nextInt(50)))
      }
      val ks = data.groupBy(_._1).map { case (g, rows) =>
        val n = rows.length
        g -> Seq(1L, (n / 2 + 1).toLong, n.toLong).distinct
      }
      val got = graft.ops.SelectOps.kthSmallestLongByGroup(
        data.toDF("g", "v"), "g", "v", ks)
      for ((g, gks) <- ks; k <- gks) {
        val sorted = data.filter(_._1 == g).map(_._2).sorted
        assert(got(g)(k) == sorted((k - 1).toInt), s"seed=$seed g=$g k=$k")
      }
    }
  }

  test("BPE expression equals the reference priority-queue encoder on " +
      "random words over the symbol alphabet") {
    import spark.implicits._
    // single-sourced reference oracle (shared with TrainingSpec and
    // BpeBench — a per-suite copy can drift)
    def refBpe(word: String): Seq[String] =
      graft.functions.Bpe.referenceEncode(word)
    val rnd = new Random(31)
    // alphabet biased toward the merge table's symbols so rules fire
    val alpha = "abcdehijklmnopqrstuvwy"
    val words = Seq.fill(300)(
      (0 until (1 + rnd.nextInt(12)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    val got = words.toDF("w")
      .select(col("w"), graft.functions.Bpe.tokensCol(col("w")).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.foreach(w => assert(got(w) == refBpe(w), s"word '$w'"))
  }

  test("distributed BPE training equals the reference trainer on random " +
      "frequency tables, and its output re-encodes consistently") {
    import spark.implicits._
    val rnd = new Random(47)
    val alpha = "abcdeklmnorstu"
    for (seed <- 0 until 5) {
      val words = (0 until 40).map { i =>
        val w = (0 until (2 + (rnd.nextInt(6))))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        (w, 1L + rnd.nextInt(20).toLong)
      }
      // distinct words (duplicate keys would double-count one side)
      val freqs = words.groupBy(_._1).map { case (w, g) =>
        (w, g.map(_._2).sum) }.toSeq
      val got = graft.functions.Bpe.train(
        freqs.toDF("w", "c"), "w", "c", nMerges = 6)
      val want = graft.functions.Bpe.referenceTrain(freqs, 6)
      assert(got == want, s"seed=$seed: $got vs $want")
    }
  }

  test("non-BMP characters are ONE symbol in expression, trainer, and " +
      "references alike (code points, never surrogate halves)") {
    import spark.implicits._
    // U+1D11E (musical G clef) is a supplementary character: Java's
    // per-char map would split it into two lone surrogates, while the
    // engines' regex '(.)' treats it as one code point
    val w = "a𝄞b"
    val got = Seq(w).toDF("t")
      .select(graft.functions.Bpe.tokensCol(col("t"))).head().getSeq[String](0)
    assert(got.contains("𝄞"), got)
    assert(got == graft.functions.Bpe.referenceEncode(w))
    // and training on a corpus containing it agrees engine-vs-reference
    val freqs = Seq((w, 5L), ("ab", 3L), ("aa", 2L))
    val trained = graft.functions.Bpe.train(
      freqs.toDF("w", "c"), "w", "c", nMerges = 2)
    assert(trained == graft.functions.Bpe.referenceTrain(freqs, 2))
  }

  test("training on the fixture corpus equals the reference trainer on " +
      "the same frequencies") {
    // SF-independent reproducibility: whatever this fixture's word
    // frequencies are, the distributed trainer and the driver-side
    // reference must induce the identical table. (The shipped literal
    // prefix is the sf0.01 instance — the txt_bpe_train gate's oracle
    // pins that cross-engine at the driver's verify SF.)
    val wf = Tables.documents(spark, sf)
      .select(explode(graft.functions.Bpe.wordsCol(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val trained = graft.functions.Bpe.train(wf, "w", "c", nMerges = 8)
    val freqs = wf.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(trained == graft.functions.Bpe.referenceTrain(freqs, 8))
  }

  test("newick branch lengths serialize with the zero→epsilon rule") {
    val s = Newick.serialize(0L,
      Map(0L -> Seq(1L, 2L)).withDefaultValue(Seq.empty),
      Map(0L -> "r", 1L -> "a", 2L -> "b"),
      Map(0L -> None, 1L -> Some(0.0), 2L -> Some(1.5)))
    assert(s == s"(a:${Newick.MinBranchLength},b:1.5)r;")
  }

  test("token-budget sampling lands within one document of every budget " +
      "on random corpora, and is invariant under repartitioning") {
    import spark.implicits._
    import graft.ops.SampleOps
    (1L to 4L).foreach { seed =>
      val rnd = new Random(seed)
      val n = 200 + rnd.nextInt(300)
      val rows = (0 until n).map { i =>
        (i.toLong, s"s${rnd.nextInt(3)}", rnd.nextInt(51).toLong)
      }
      val df = rows.toDF("id", "dom", "ntok")
      val budgets = Seq(("s0", 300L), ("s1", 0L), ("s2", 1000000L))
        .toDF("dom", "budget_tok")
      def keptOf(d: org.apache.spark.sql.DataFrame) =
        SampleOps.tokenBudgetSample(d, "id", "dom", col("ntok"),
          budgets, s"seed$seed")
          .collect().map(_.getLong(0)).toSet
      val kept = keptOf(df)
      // the kept set is a pure function of (corpus, recipe, salt):
      // physical layout must not matter
      assert(keptOf(df.repartition(7)) == kept, s"seed=$seed")
      val byId = rows.map(r => r._1 -> r).toMap
      for ((dom, budget) <- Seq("s0" -> 300L, "s1" -> 0L,
          "s2" -> 1000000L)) {
        val domRows = rows.filter(_._2 == dom)
        val keptRows = domRows.filter(r => kept.contains(r._1))
        val keptTok = keptRows.map(_._3).sum
        val total = domRows.map(_._3).sum
        if (total < budget)
          assert(keptRows.size == domRows.size,
            s"seed=$seed $dom: under-budget domain must keep everything")
        else {
          // achieved ∈ [budget, budget + max kept doc): within ONE doc
          assert(keptTok >= budget, s"seed=$seed $dom: $keptTok < $budget")
          val maxKept = (keptRows.map(_._3) :+ 0L).max
          assert(keptTok < budget + math.max(maxKept, 1L),
            s"seed=$seed $dom: $keptTok overshoots $budget by > one doc")
        }
      }
      assert(kept.forall(id => byId(id)._2 != "s1"),
        s"seed=$seed: zero budget kept a document")
    }
  }

  test("FFD epochs on random corpora: every epoch packs the SAME doc " +
      "universe FFD-validly, and no two epoch layouts coincide") {
    import spark.implicits._
    import graft.ops.PackOps
    val ctx = 128L
    (21L to 23L).foreach { seed =>
      val rnd = new Random(seed)
      val n = 150 + rnd.nextInt(150)
      val rows = (0 until n).map(i => (i.toLong, 1L + rnd.nextInt(120)))
      val nTok = rows.toMap
      val df = rows.toDF("id", "ntok")
      val epochs = (0 until 3).map { e =>
        PackOps.packFfd(df, "id", col("ntok"), ctx.toInt, s"ep$e")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(3)))
      }
      // the universe and the per-doc token counts are epoch-invariant:
      // a salt must reshuffle WHERE a document lands, never WHETHER
      epochs.foreach { ep =>
        assert(ep.map(_._1).toSet == nTok.keySet, s"seed=$seed")
        // FFD-valid: bins never overfill and offsets tile each bin
        ep.groupBy(p => (p._2, p._3)).foreach { case ((sh, bin), ps) =>
          assert(ps.map(p => nTok(p._1)).sum <= ctx,
            s"seed=$seed bin $sh/$bin overfilled")
          var off = 0L
          ps.sortBy(_._4).foreach { p =>
            assert(p._4 == off, s"seed=$seed bin $sh/$bin gaps")
            off += nTok(p._1)
          }
        }
      }
      // epoch collision = the salt is dead: every pair of epochs must
      // place at least one document differently
      val layouts = epochs.map(_.map(p => p._1 -> (p._2, p._3, p._4)).toMap)
      for (a <- layouts.indices; b <- layouts.indices if a < b)
        assert(layouts(a) != layouts(b),
          s"seed=$seed: epochs $a and $b produced identical layouts")
    }
  }

  test("drift stats are additive: per-batch folds sum to the one-shot " +
      "statistic, for any split of the corpus") {
    // the retraining-cadence meter's maintenance contract: a loop folds
    // driftStats(batch) per append (sum n / err_sum by cell) and the
    // accumulated rows must equal a full-corpus recomputation — exact
    // integers, so equality is bitwise, not approximate
    import graft.ops.VectorOps
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Tables.embeddings(spark, sf).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def statsSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val oneShot = statsSet(VectorOps.driftStats(emb, cents))
    val rnd = new Random(7)
    for (_ <- 0 until 3) {
      val cut = 1 + rnd.nextInt(298)
      val folded = VectorOps.driftStats(emb.filter(col("id") < cut), cents)
        .unionByName(
          VectorOps.driftStats(emb.filter(col("id") >= cut), cents))
        .groupBy(col("cell"))
        .agg(sum(col("n")).as("n"), sum(col("err_sum")).as("err_sum"))
      assert(statsSet(folded) == oneShot, s"cut=$cut")
    }
  }

  test("tokenizer drift stats: character conservation, OOV mass lands " +
      "on id -1, additivity over any split") {
    // the text twin of the centroid-drift contract, with expectations
    // derived INDEPENDENTLY of the meter: (1) BPE tokens partition each
    // word's characters, so Σ err_sum must equal the corpus's
    // non-whitespace character count — a law the meter cannot satisfy
    // by construction if it drops or double-counts tokens; (2) a batch
    // whose characters are disjoint from the training corpus can share
    // no token with the vocabulary, so ALL of its mass must land on the
    // OOV row; (3) per-batch folds sum to the one-shot statistic
    import graft.ops.BpeStore
    import graft.functions.Bpe
    import spark.implicits._
    val train = Seq((0L, "the cat sat on the mat"),
      (1L, "a cat and a hat"), (2L, "the rat sat")).toDF("doc_id", "text")
    // z/q never occur in the training text — disjoint by construction
    val alien = Seq((10L, "zzq qqz zz"), (11L, "qq zqz")).toDF("doc_id", "text")
    val vocab = train
      .select(explode(Bpe.tokensCol(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .withColumn("id", (row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("token"))) - 1).cast("long"))
    val st = BpeStore.Loaded(Bpe.merges, vocab)
    def nonWs(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(length(regexp_replace(col("text"), "\\s", ""))))
        .head.getLong(0)
    def statsSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    // conservation over a mixed corpus (known + alien tokens)
    val mixed = train.unionByName(alien)
    val mixedStats = BpeStore.driftStats(st, mixed, "text")
    assert(mixedStats.agg(sum(col("err_sum"))).head.getLong(0)
      == nonWs(mixed))
    // the all-alien batch: every token OOV, so the -1 row carries the
    // batch's whole character mass and no other row exists
    val alienStats = statsSet(BpeStore.driftStats(st, alien, "text"))
    assert(alienStats.map(_._1) == Set(-1L))
    assert(alienStats.head._3 == nonWs(alien))
    // the training corpus against its own vocabulary: zero OOV mass
    assert(!statsSet(BpeStore.driftStats(st, train, "text"))
      .exists(_._1 == -1L))
    // additivity: any doc split folds to the one-shot statistic
    val oneShot = statsSet(mixedStats)
    for (cut <- Seq(1L, 2L, 11L)) {
      val folded =
        BpeStore.driftStats(st, mixed.filter(col("doc_id") < cut), "text")
          .unionByName(BpeStore.driftStats(st,
            mixed.filter(col("doc_id") >= cut), "text"))
          .groupBy(col("tok_id"))
          .agg(sum(col("n")).as("n"), sum(col("err_sum")).as("err_sum"))
      assert(statsSet(folded) == oneShot, s"cut=$cut")
    }
  }

  test("PQ drift stats are additive per (subspace, code), for any " +
      "split of the corpus") {
    // the codebook twin of the centroid-drift contract: per-batch folds
    // (sum n / err_sum by (j, code)) must equal a full recomputation —
    // exact int64, so equality is bitwise
    import graft.ops.VectorOps
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // localCheckpoint: pqDriftStats collects the codebook eagerly
    // (pqBestsCol's literal inlining) — pin the trained entries once
    // instead of replaying the Lloyd round per fold
    val cb = VectorOps.pqCodebookTrained(emb, m = 4, codes = 16, dim = 64,
      iters = 1).localCheckpoint()
    def statsSet(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val oneShot = statsSet(VectorOps.pqDriftStats(emb, cb, m = 4, dim = 64))
    val rnd = new Random(11)
    for (_ <- 0 until 3) {
      val cut = 1 + rnd.nextInt(298)
      val folded =
        VectorOps.pqDriftStats(emb.filter(col("id") < cut), cb, 4, 64)
          .unionByName(
            VectorOps.pqDriftStats(emb.filter(col("id") >= cut), cb, 4, 64))
          .groupBy(col("j"), col("code"))
          .agg(sum(col("n")).as("n"), sum(col("err_sum")).as("err_sum"))
      assert(statsSet(folded) == oneShot, s"cut=$cut")
    }
  }
}
