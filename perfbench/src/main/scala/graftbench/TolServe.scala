package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.tree.{Newick, TreeApi, TreeIngest, TreeOps, TreeServing, TreeStore}

/** `tol_serve`: the tree_of_life_v3 serving role.
  *
  * Set-up ingests a seeded synthetic synthesis tree the way a deployment
  * builds its store — Newick text on disk → parse → label and join →
  * bucketed save → load → serving index → first `node_info` answered —
  * in a fresh JVM. Then one client thread sends a seeded closed-loop mix:
  * 49 of every 50 requests are point requests answered from the serving
  * index (`node_info`, half with lineage, and `mrca` of 2–20 ids, ids
  * uniform over all nodes), and every 50th is an extract through Spark
  * (`newick` of a clade whose tip count is log-uniform up to the tree
  * size, `induced_subtree` of 2–100 tips, `arguson` at height 5).
  * Extract sizes follow a golden-ratio sequence, so every seed sees the
  * same spread of sizes over its own tree.
  *
  * Every answer is checked against the generator's truth outside its
  * timed call; a wrong answer, an exception or a refusal is a failure.
  */
object TolServe {
  val Tips = 10000
  val ExtractEvery = 50
  val ArgusonHeight = 5
  /** Extract kinds per cycle: 0 newick, 1 induced_subtree, 2 arguson.
    * One arguson costs about ten newicks, so it comes once a cycle, and
    * the first three entries warm one of each kind.
    */
  private val Cycle = Array(0, 1, 2, 0, 1, 0, 1)
  /** Seconds of `--seconds` budgeted per cycle: `--seconds 10` runs two
    * cycles. The count depends on `--seconds` alone, never on how fast
    * the host is, so every run takes the same extract sizes.
    */
  val CycleSeconds = 5.0
  private val WarmPoints = 10000
  private val Phi = 0.6180339887498949

  final case class Served(tree: TolTree, t: TreeIngest.Ingested,
      idx: TreeServing.Index, storeDir: String)

  /** Set-up: ingest → store → serving index → first node_info. */
  def setup(ctx: Ctx, report: Report, tips: Int): Served = {
    val tree = TolTree.generate(ctx.seed, tips, s"synth_${ctx.seed}")
    val (nwk, ann, tax) = tree.write(ctx.work.resolve("inputs"))
    val storeDir = ctx.work.resolve("store").toAbsolutePath.toString
    report.facts("tree") = Map("tips" -> tree.tips, "nodes" -> tree.size,
      "max_depth" -> tree.maxDepth,
      "named_internal" -> (0 until tree.size).count(i => !tree.isTip(i) && tree.uid(i) >= 0))

    val t0 = System.nanoTime()
    val text = new String(Files.readAllBytes(nwk), StandardCharsets.UTF_8)
    val parsed = ctx.call("tree.Newick.parse")(Newick.parse(text.trim))
    val ing = ctx.call("tree.TreeIngest.ingestParsed")(
      TreeIngest.ingestParsed(ctx.spark, parsed, ann.toString, tax.toString, tree.treeId))
    // one bucket per core: TreeStore.save's guidance is buckets of the
    // order of the executor parallelism
    ctx.call("tree.TreeStore.save")(TreeStore.save(ing, storeDir,
      buckets = Runtime.getRuntime.availableProcessors))
    val t = ctx.call("tree.TreeStore.load")(TreeStore.load(ctx.spark, storeDir))
    val idx = ctx.call("tree.TreeServing.build")(TreeServing.build(t))
    val first = idx.nodeInfo(tree.label(tree.size / 2))
    val setupS = (System.nanoTime() - t0) / 1e9
    report.metric("setup_s", setupS, "s", 1)
    ing.nodes.unpersist(blocking = true)

    report.check(first.exists(_("num_tips") == tree.tipCount(tree.size / 2).toLong),
      s"first node_info after ingest: $first")
    checkStore(tree, t, idx, report)
    val files = Files.walk(java.nio.file.Paths.get(storeDir))
    val bytes = try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally files.close()
    report.facts("store_bytes_per_node") = bytes.toDouble / tree.size
    report.metric("driver_heap_mb", Main.retainedHeapMb(), "MB", 1)
    Served(tree, t, idx, storeDir)
  }

  /** Node count, every node's tip count, depth and interval width. */
  private def checkStore(tree: TolTree, t: TreeIngest.Ingested,
      idx: TreeServing.Index, report: Report): Unit = {
    val stored = t.nodes.count()
    report.check(stored == tree.size && idx.size == tree.size,
      s"node count: store $stored, index ${idx.size}, truth ${tree.size}")
    val bad = (0 until tree.size).filterNot { i =>
      idx.bounds(tree.label(i)).exists { case (pre, post, depth, tips) =>
        tips == tree.tipCount(i) && depth == tree.depth(i) &&
          post - pre == tree.last(i) - i
      }
    }
    report.check(bad.isEmpty, s"${bad.size} nodes with wrong tip count, depth " +
      s"or interval, first ${bad.take(3).map(tree.label).mkString(", ")}")
  }

  /** The timed closed loop, in whole cycles of seven extracts (newick and
    * induced_subtree three times each, and one arguson), each after 49
    * point requests; one cycle per `CycleSeconds` of `seconds`. Whole
    * cycles keep the share of each extract kind the same in every run.
    * With `warmUp`, one extract of each kind and 10,000 point requests run
    * untimed, so JIT and codegen stay out of the measured latencies.
    */
  def serve(ctx: Ctx, report: Report, s: Served, seconds: Double,
      warmUp: Boolean = false): Unit = {
    val tree = s.tree
    val rnd = new java.util.SplittableRandom(ctx.seed * 0x9E3779B97F4A7C15L + (if (warmUp) 5 else 17))
    val internal = (0 until tree.size).filterNot(tree.isTip).sortBy(tree.tipCount(_)).toArray
    val tipIds = (0 until tree.size).filter(tree.isTip).toArray
    val point = ArrayBuffer.empty[Double]
    val extract = Array.fill(3)(ArrayBuffer.empty[Double])
    var busyNs = 0L
    var i = 0L
    var nExtract = 0
    // the warm-up runs the first three extracts: one of each kind
    val extracts =
      if (warmUp) 3 else Cycle.length * math.max(1, math.round(seconds / CycleSeconds).toInt)
    while (nExtract < extracts) {
      try {
        if (i % ExtractEvery == ExtractEvery - 1) {
          val kind = Cycle(nExtract % Cycle.length)
          // sizes walk a golden-ratio sequence: the same spread every run
          val u = frac(0.5 + extract(kind).size * Phi)
          nExtract += 1
          val ns = kind match {
            case 0 => newickRequest(ctx, report, s, pickClade(tree, internal, u, rnd))
            case 1 => inducedRequest(ctx, report, s,
              sample(tipIds, 2 + (u * 99).toInt, rnd))
            case _ => argusonRequest(ctx, report, s, internal(rnd.nextInt(internal.length)))
          }
          extract(kind) += ns / 1e6; busyNs += ns
        } else {
          val ns =
            if (rnd.nextBoolean()) nodeInfoRequest(ctx, report, s,
              rnd.nextInt(tree.size), rnd.nextBoolean())
            else mrcaRequest(ctx, report, s,
              Seq.fill(2 + rnd.nextInt(19))(rnd.nextInt(tree.size)))
          point += ns / 1e6; busyNs += ns
        }
      } catch {
        case e: Throwable =>
          report.attempted += 1
          report.fail(s"request $i: ${e.getClass.getName}: ${e.getMessage}")
      }
      i += 1
    }
    if (warmUp) {
      // enough point requests for the JIT to compile the index paths
      (1 to WarmPoints).foreach { k =>
        if (k % 2 == 0) nodeInfoRequest(ctx, report, s, rnd.nextInt(tree.size), rnd.nextBoolean())
        else mrcaRequest(ctx, report, s, Seq.fill(2 + rnd.nextInt(19))(rnd.nextInt(tree.size)))
      }
      return
    }
    val heavy = extract.flatten.toSeq
    report.facts("extract_p50_ms_by_kind") = Seq("newick", "induced_subtree", "arguson")
      .zip(extract).collect { case (k, xs) if xs.nonEmpty => k -> Report.median(xs.toSeq) }.toMap
    if (point.isEmpty || heavy.isEmpty)
      report.fail(s"serve loop too short: ${point.size} point, ${heavy.size} extract requests")
    else {
      report.metric("light_p50_ms", Report.median(point.toSeq), "ms", point.size)
      report.metric("heavy_p50_ms", Report.median(heavy), "ms", heavy.size)
      report.metric("ops_per_s", i / (busyNs / 1e9), "1/s", i)
    }
  }

  private def frac(x: Double): Double = x - math.floor(x)

  /** A clade with about exp(u · ln(tips)) tips (log-uniform in u). */
  private def pickClade(tree: TolTree, bySize: Array[Int], u: Double,
      rnd: java.util.SplittableRandom): Int = {
    val cap = math.min(TreeOps.MaxTipsNewick, tree.tips.toLong).toDouble
    val target = math.exp(math.log(2) + u * (math.log(cap) - math.log(2)))
    var lo = 0; var hi = bySize.length
    while (lo < hi) { // first clade with tipCount >= target
      val mid = (lo + hi) >>> 1
      if (tree.tipCount(bySize(mid)) < target) lo = mid + 1 else hi = mid
    }
    var end = lo
    while (end < bySize.length && tree.tipCount(bySize(end)) <= target * 1.25) end += 1
    if (end > lo) bySize(lo + rnd.nextInt(end - lo))
    else bySize(math.min(lo, bySize.length - 1))
  }

  private def sample(xs: Array[Int], k: Int, rnd: java.util.SplittableRandom): Seq[Int] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (out.size < k) out += xs(rnd.nextInt(xs.length))
    out.toSeq
  }

  private def timed[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }

  private def nodeInfoRequest(ctx: Ctx, report: Report, s: Served, v: Int,
      lineage: Boolean): Long = {
    val tree = s.tree
    val (r, ns) = timed(ctx.call("tree.TreeServing.Index.nodeInfo")(
      s.idx.nodeInfo(tree.label(v), lineage)))
    val ok = r.exists { m =>
      m("ot_node_id") == tree.label(v) &&
        m("num_tips") == tree.tipCount(v).toLong &&
        m("name") == (if (tree.uid(v) >= 0) TolTree.nameOf(tree, v) else null) &&
        (!lineage || m("lineage") == tree.lineage(v).map(tree.label))
    }
    report.check(ok, s"node_info(${tree.label(v)}, lineage=$lineage) = $r")
    ns
  }

  private def mrcaRequest(ctx: Ctx, report: Report, s: Served, vs: Seq[Int]): Long = {
    val tree = s.tree
    val (r, ns) = timed(ctx.call("tree.TreeServing.Index.mrca")(
      s.idx.mrca(nodeIds = vs.map(tree.label))))
    val want = tree.label(tree.mrca(vs))
    report.check(r.mrcaOtId == want && r.ok, s"mrca(${vs.size} ids) = ${r.mrcaOtId}, want $want")
    ns
  }

  private def newickRequest(ctx: Ctx, report: Report, s: Served, v: Int): Long = {
    val tree = s.tree
    val ot = tree.label(v)
    val (nwk, ns) = timed {
      val (pre, post, depth, tips) = s.idx.bounds(ot).get
      val nodeId = s.idx.byOtId(ot).get.getLong(0)
      ctx.call("tree.TreeOps.newick")(TreeOps.newick(s.t.nodes, nodeId,
        labelFormat = "id", idsForUnnamed = true, knownTips = Some(tips),
        rootBounds = Some((pre, post, depth))))
    }
    val leaves = Main.newickLeaves(nwk)
    report.check(leaves.size == tree.tipCount(v) && leaves.toSet == tree.tipLabels(v) &&
      Main.newickRoot(nwk) == ot,
      s"newick($ot): ${leaves.size} leaves, want ${tree.tipCount(v)}")
    ns
  }

  private def inducedRequest(ctx: Ctx, report: Report, s: Served, vs: Seq[Int]): Long = {
    val tree = s.tree
    val labels = vs.map(tree.label)
    val (r, ns) = timed(ctx.call("tree.TreeApi.inducedSubtree")(
      TreeApi.inducedSubtree(s.t, nodeIds = labels, labelFormat = "id", idsForUnnamed = true)))
    val leaves = Main.newickLeaves(r.newick)
    val want = tree.label(tree.mrca(vs))
    report.check(r.ok && leaves.size == vs.size && leaves.toSet == labels.toSet &&
      Main.newickRoot(r.newick) == want,
      s"induced_subtree(${vs.size} tips): ${leaves.size} leaves, root ${Main.newickRoot(r.newick)}, want $want")
    ns
  }

  private def argusonRequest(ctx: Ctx, report: Report, s: Served, v: Int): Long = {
    val tree = s.tree
    val nodeId = s.idx.byOtId(tree.label(v)).get.getLong(0)
    val (doc, ns) = timed(ctx.call("tree.TreeApi.arguson")(
      TreeApi.arguson(s.t, nodeId, ArgusonHeight)))
    val root = Main.json.readTree(doc).get("arguson")
    def count(n: com.fasterxml.jackson.databind.JsonNode): Int = {
      var c = 1
      val kids = n.get("children")
      if (kids != null) kids.elements().forEachRemaining(k => c += count(k))
      c
    }
    val nodes = count(root)
    val want = tree.cutNodes(v, ArgusonHeight)
    report.check(root.get("node_id").asText == tree.label(v) &&
      root.get("num_tips").asLong == tree.tipCount(v) && nodes == want &&
      root.get("lineage").size == tree.depth(v),
      s"arguson(${tree.label(v)}): $nodes nodes, want $want")
    ns
  }

  /** Traced panel only: add a 1%-size second synthesis version. */
  def append(ctx: Ctx, report: Report, s: Served): Unit = {
    val v2 = TolTree.generate(ctx.seed + 1, math.max(2, s.tree.tips / 100),
      s"synth_${ctx.seed}_v2", uidBase = 100000000L)
    val (nwk, ann, tax) = v2.write(ctx.work.resolve("inputs"))
    ctx.call("tree.TreeStore.appendTree")(TreeStore.appendTree(ctx.spark, s.storeDir,
      TreeIngest.TreeSource(nwk.toString, ann.toString, tax.toString, v2.treeId)))
    val total = TreeStore.load(ctx.spark, s.storeDir, persistNodes = false).nodes.count()
    report.check(total == s.tree.size + v2.size,
      s"nodes after append: $total, want ${s.tree.size + v2.size}")
  }
}
