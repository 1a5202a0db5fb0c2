package graft.tree

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.tree.TreeIngest.Ingested

/** Millisecond serving — the analog of the reference's Lucene exact
  * indexes (GraphBase.java:122-186,431-448) and of its in-process pointer
  * walks (GraphExplorer.java:342-354,543-574,704-785): `node_info` / `mrca`
  * resolution and the capped extracts (`newick`, `induced_subtree`,
  * `arguson`) answer from a driver-side index with ZERO Spark jobs,
  * instead of paying the ~0.1-0.35 s job-scheduling floor per action.
  * SURVEY §7.5 names exactly this mitigation.
  *
  * The index holds one row per node over the SERVING columns only
  * (ids, taxon fields, interval labels, ancestors, annotation maps and
  * their `to_json` texts) — O(nodes × serving width) driver memory, the
  * same order as the reference's Lucene index files, which it likewise
  * holds beside the graph DB. Build pays ONE collect of the nodes table;
  * the rows are then kept in `pre` order, so a subtree is a contiguous
  * slice walked in O(output). [[build]] memoises the index per frame
  * instance, and [[TreeOps.newick]], [[TreeApi.inducedSubtree]] and
  * [[TreeApi.arguson]] find it through [[indexOf]]: once a served store is
  * indexed, its capped extracts leave the distributed path. Uncapped
  * exports (`newickTokens`, `argusonTokens`) and analytics stay
  * distributed. The index answers for the frame's contents at build time.
  */
object TreeServing {

  // field order of the one serving projection (see collectIndex())
  private val Cols = Seq("node_id", "ot_node_id", "name", "unique_name",
    "tax_uid", "tax_rank", "tax_sources", "tip_descendants", "depth",
    "pre", "post", "ancestors", "supported_by", "terminal",
    "partial_path_of", "resolves", "conflicts_with", "resolved_by",
    "parent_id")
  private val INodeId = 0; private val IOt = 1; private val IName = 2
  private val IUniq = 3; private val IUid = 4; private val IRank = 5
  private val ITipDesc = 7; private val IDepth = 8
  private val IPre = 9; private val IPost = 10; private val IAnc = 11
  private val IAnnFirst = 12 // supported_by .. resolved_by (6 fields)

  /** The released node_info annotation fields, in blob order. */
  private val AnnFields = TreeApi.ArgusonAnnFields
  private val AnnFieldNames = AnnFields.toArray
  // their to_json texts follow Cols: Spark renders each map in its stored
  // key order, which a collected Scala Map loses past four entries
  private val IJsonFirst = Cols.length

  /** @param rows one per node, sorted by `pre`: a row's index is its
    *             position in pre order
    */
  final class Index private[tree] (
      rows: Array[Row],
      byOt: java.util.HashMap[String, Int],
      byUid: java.util.HashMap[Long, Int],
      byId: java.util.HashMap[Long, Int]) {

    def size: Int = rows.length

    private val preKeys = rows.map(_.getLong(IPre))
    private def named(k: Int) = !rows(k).isNullAt(IName)
    // nearest named position at-or-after / at-or-before each position
    // (size / -1 when there is none): a subtree's first and last named
    // descendants in O(1)
    private val nextNamed = new Array[Int](rows.length)
    private val prevNamed = new Array[Int](rows.length)
    locally {
      var next = rows.length
      for (k <- rows.indices.reverse) {
        if (named(k)) next = k
        nextNamed(k) = next
      }
      var prev = -1
      for (k <- rows.indices) {
        if (named(k)) prev = k
        prevNamed(k) = prev
      }
    }

    // each row's parent position (-1 at a root) and root-path length, so
    // node_info's lineage and mrca climb Int arrays instead of hashing
    // every id of the stored ancestors arrays. Climbing from a row must
    // visit exactly its stored root path, which is checked here: the
    // ancestors array of every row is its parent's plus its own node_id,
    // and node_ids are unique (true of every ingested frame).
    private val parentAt = new Array[Int](rows.length)
    private val pathLen = new Array[Int](rows.length)
    private val otAt = rows.map(_.getString(IOt))
    locally {
      var k = 0
      while (k < rows.length) {
        val a = rows(k).getSeq[Long](IAnc)
        val ok = a != null && a.nonEmpty && byId.getOrDefault(a.last, -1) == k
        val p = if (ok && a.length > 1) byId.getOrDefault(a(a.length - 2), -1) else -1
        require(ok && (a.length == 1 || p >= 0 && rows(p).getSeq[Long](IAnc) == a.init),
          s"node_id ${rows(k).getLong(INodeId)}: the serving index needs unique node ids " +
            "and ancestors arrays that extend the parent's by the node itself")
        parentAt(k) = p
        pathLen(k) = a.length
        k += 1
      }
    }

    private def rowAt(m: java.util.HashMap[_, Int], k: Any): Option[Row] = {
      val i = m.asInstanceOf[java.util.HashMap[Any, Int]].getOrDefault(k, -1)
      if (i < 0) None else Some(rows(i))
    }
    def byOtId(ot: String): Option[Row] = rowAt(byOt, ot)
    def byOttId(uid: Long): Option[Row] = rowAt(byUid, uid)
    def byNodeId(id: Long): Option[Row] = rowAt(byId, id)

    /** (pre, post, depth, tip_descendants) of a node — the values
      * TreeOps.newick's knownTips/rootBounds parameters take, which let an
      * un-indexed frame skip the size-guard and root-resolution jobs.
      */
    def bounds(ot: String): Option[(Long, Long, Long, Long)] =
      byOtId(ot).map(r => (r.getLong(IPre), r.getLong(IPost),
        r.getLong(IDepth), r.getLong(ITipDesc)))

    /** (pre, post) by node id — the resolver
      * [[graft.plans.IntervalCatalog.installFrom]] plugs into the
      * descendant-predicate rewrite, so a loaded serving index doubles
      * as the optimizer's anchor table at zero extra driver memory.
      */
    def interval(id: Long): Option[(Long, Long)] =
      byNodeId(id).map(r => (r.getLong(IPre), r.getLong(IPost)))

    // field-for-field the blobOf of TreeApi.mrca (raw column values; the
    // ingest-time J3 rule already falls unique_name back to name)
    private def taxonOf(r: Row): Option[TreeApi.TaxonBlob] =
      Some(TreeApi.TaxonBlob(r.getString(IName), r.getString(IRank),
        r.getString(IUniq),
        if (r.isNullAt(IUid)) None else Some(r.getLong(IUid))))

    /** `node_info` (tree_of_life_v3.java:130-227) as a field map — the
      * exact column set of [[TreeApi.nodeInfo]], no Spark job. Lineage
      * (proper ancestors, nearest first) climbs the parent positions.
      *
      * This and [[mrca]] are the per-request hot path: they loop over
      * `Int` arrays rather than chaining collection operations over boxed
      * ids, so they stay fast and their compiled code shares no call
      * sites with the extracts.
      */
    def nodeInfo(otNodeId: String,
        includeLineage: Boolean = false): Option[Map[String, Any]] = {
      val k = byOt.getOrDefault(otNodeId, -1)
      if (k < 0) None
      else {
        val r = rows(k)
        val b = Map.newBuilder[String, Any]
        b += "ot_node_id" -> r.getString(IOt)
        b += "name" -> r.get(IName)
        b += "unique_name" -> r.get(IUniq)
        b += "tax_uid" -> r.get(IUid)
        b += "tax_rank" -> r.get(IRank)
        b += "tax_sources" -> r.get(6)
        b += "num_tips" -> r.getLong(ITipDesc)
        var i = 0
        while (i < AnnFieldNames.length) {
          b += AnnFieldNames(i) -> r.get(IAnnFirst + i)
          i += 1
        }
        if (includeLineage) b += "lineage" -> lineage(k)
        Some(b.result())
      }
    }

    /** ot ids of the proper ancestors of position `k`, nearest first. */
    private def lineage(k: Int): collection.Seq[String] = {
      val out = new Array[String](pathLen(k) - 1)
      var a = parentAt(k)
      var n = 0
      while (a >= 0) { out(n) = otAt(a); n += 1; a = parentAt(a) }
      collection.mutable.ArraySeq.make(out)
    }

    /** Where the root paths of positions `a0` and `b0` meet (-1 when they
      * start at different roots): the last element of their common prefix.
      */
    private def meet(a0: Int, b0: Int): Int = {
      var a = a0; var b = b0
      while (pathLen(a) > pathLen(b)) a = parentAt(a)
      while (pathLen(b) > pathLen(a)) b = parentAt(b)
      while (a != b) { a = parentAt(a); b = parentAt(b) }
      a
    }

    /** `mrca` (tree_of_life_v3.java:258-363) with the same semantics and
      * result type as [[TreeApi.mrca]], entirely on the index: resolve
      * both id spaces, take the last element of the root paths' common
      * prefix, pull the root-path attributes from the rows.
      */
    def mrca(nodeIds: Seq[String] = Nil, ottIds: Seq[Long] = Nil)
        : TreeApi.MrcaResult = {
      var found = false
      var m = -1 // the MRCA of the nodes found so far; -1 when none is shared
      def add(k: Int): Unit = if (k >= 0) {
        if (!found) m = k else if (m >= 0) m = meet(m, k)
        found = true
      }
      val ni = nodeIds.iterator
      while (ni.hasNext) add(byOt.getOrDefault(ni.next(), -1))
      val oi = ottIds.iterator
      while (oi.hasNext) add(byUid.getOrDefault(oi.next(), -1))
      require(found, "no valid node or ott ids provided")
      require(m >= 0, "query nodes do not share a root (different trees?)")
      val badNodes = nodeIds.filterNot(byOt.containsKey)
      val badOtts = ottIds.filterNot(byUid.containsKey(_))
      val mrcaRow = rows(m)
      // the deepest taxon on the common path, the rootmost of equal depths
      var nearestRow: Row = null
      var a = m
      while (a >= 0) {
        val r = rows(a)
        if (!r.isNullAt(IUid) &&
            (nearestRow == null || r.getLong(IDepth) >= nearestRow.getLong(IDepth)))
          nearestRow = r
        a = parentAt(a)
      }
      val nearest = Option(nearestRow)
      val mName = Option(mrcaRow.getString(IName))
      TreeApi.MrcaResult(
        mrcaRow.getString(IOt), mName,
        if (mName.isEmpty) nearest.map(_.getString(IOt)) else None,
        badNodes, badOtts, ok = badNodes.isEmpty && badOtts.isEmpty,
        mrcaTaxon = if (mName.isDefined) taxonOf(mrcaRow) else None,
        nearestTaxon = nearest.flatMap(taxonOf))
    }

    /** Both id spaces → (found (node_id, root path), node ids not in the
      * tree, ott ids not in the tree), as [[TreeApi.resolveIds]].
      */
    private def resolve(nodeIds: Seq[String], ottIds: Seq[Long])
        : (Seq[(Long, Seq[Long])], Seq[String], Seq[Long]) = {
      val hits = nodeIds.flatMap(byOtId) ++ ottIds.flatMap(byOttId)
      (hits.map(r => r.getLong(INodeId) -> r.getSeq[Long](IAnc).toSeq)
        .distinctBy(_._1),
        nodeIds.filterNot(byOt.containsKey), ottIds.filterNot(byUid.containsKey(_)))
    }

    private def position(nodeId: Long): Int = {
      val k = byId.getOrDefault(nodeId, -1)
      if (k < 0) throw new IllegalArgumentException(TreeOps.notInTree(nodeId))
      k
    }

    /** Last position inside the subtree at `k`: the last `pre` ≤ its
      * `post`, by binary search over the sorted `pre` keys.
      */
    private def lastPos(k: Int): Int = {
      val post = rows(k).getLong(IPost)
      var lo = k; var hi = rows.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (preKeys(mid) <= post) lo = mid + 1 else hi = mid
      }
      lo - 1
    }

    /** Walk the subtree at position `k0` in pre order, cut `maxDepth`
      * levels below it (< 0: no cut): `enter(k, open)` per node, where
      * `open` means it has children inside the cut, and `exit(k)` after
      * the children of each open node. Below the cut the walk jumps past
      * the subtree, so it costs O(output).
      */
    private def walk(k0: Int, maxDepth: Int)(enter: (Int, Boolean) => Unit)(
        exit: Int => Unit): Unit = {
      val end = lastPos(k0)
      val d0 = rows(k0).getLong(IDepth)
      val open = scala.collection.mutable.Stack.empty[Int]
      var k = k0
      while (k <= end) {
        while (open.nonEmpty && rows(open.top).getLong(IPost) < preKeys(k))
          exit(open.pop())
        val hasKids = k < end && preKeys(k + 1) <= rows(k).getLong(IPost)
        val inCut = maxDepth < 0 || rows(k).getLong(IDepth) - d0 < maxDepth
        enter(k, hasKids && inCut)
        if (hasKids && inCut) open.push(k)
        k = if (hasKids && !inCut) lastPos(k) + 1 else k + 1
      }
      while (open.nonEmpty) exit(open.pop())
    }

    /** [[TreeOps.subtreeTipCount]]: the leaves of the cut tree. */
    private def tipCount(k0: Int, maxDepth: Int): Long =
      if (maxDepth < 0) rows(k0).getLong(ITipDesc)
      else {
        val d0 = rows(k0).getLong(IDepth)
        var tips = 0L
        walk(k0, maxDepth) { (k, _) =>
          if (rows(k).getLong(IPost) == preKeys(k) ||
              rows(k).getLong(IDepth) - d0 == maxDepth) tips += 1
        }(_ => ())
        tips
      }

    /** Formatted, scrubbed label by position — [[TreeOps.formattedLabel]]
      * on the index (null where the column expression yields null).
      */
    private def labeler(format: String, idsForUnnamed: Boolean): Int => String = {
      val named: Row => String = format match {
        case "name" => _.getString(IName)
        case "id" => _.getString(IOt)
        case "name_and_id" => r =>
          if (r.isNullAt(IUid)) null else r.getString(IName) + "_ott" + r.getLong(IUid)
        case other => throw TreeOps.invalidLabelFormat(other)
      }
      k => {
        val r = rows(k)
        val l = if (!r.isNullAt(IName)) named(r)
          else if (idsForUnnamed) r.getString(IOt) else ""
        if (l == null) null else Newick.scrub(l)
      }
    }

    /** [[TreeOps.newick]] on the index, byte-identical to the Spark path
      * (without branch lengths, which the index does not hold).
      */
    def newick(rootId: Long, maxDepth: Int = -1,
        labelFormat: String = "name_and_id", idsForUnnamed: Boolean = false,
        cap: Long = TreeOps.MaxTipsNewick): String = {
      val k0 = position(rootId)
      TreeOps.requireCap(tipCount(k0, maxDepth), cap)
      val label = labeler(labelFormat, idsForUnnamed)
      val sb = new StringBuilder
      var comma = false
      walk(k0, maxDepth) { (k, open) =>
        if (comma) sb += ','
        if (open) sb += '(' else sb ++= label(k)
        comma = !open
      } { k => sb += ')'; sb ++= label(k); comma = true }
      sb += ';'
      sb.result()
    }

    /** [[TreeApi.inducedSubtree]] on the index: the same kernel
      * ([[TreeApi.inducedEdges]]) over the stored root paths.
      */
    def inducedSubtree(nodeIds: Seq[String] = Nil, ottIds: Seq[Long] = Nil,
        labelFormat: String = "name_and_id",
        idsForUnnamed: Boolean = false): TreeApi.InducedResult = {
      val (found, badNodes, badOtts) = resolve(nodeIds, ottIds)
      TreeApi.inducedResult(found, badNodes, badOtts) { kept =>
        val label = labeler(labelFormat, idsForUnnamed)
        kept.map { id => val k = position(id); (id, preKeys(k), label(k)) }
      }
    }

    /** [[TreeApi.arguson]] on the index; `sourceBlob` gives a source id's
      * source_id_map entry.
      */
    def arguson(rootId: Long, heightLimit: Int,
        sourceBlob: String => Map[String, String]): String = {
      val k0 = position(rootId)
      TreeOps.requireCap(tipCount(k0, heightLimit), TreeOps.MaxTipsArguson)
      val sources = scala.collection.mutable.SortedSet.empty[String]
      def blob(k: Int, sb: StringBuilder): Unit = {
        val r = rows(k)
        // first/last named proper descendant by pre
        val (first, last) =
          if (named(k)) (null, null)
          else {
            val end = lastPos(k)
            val f = if (k < end) nextNamed(k + 1) else rows.length
            if (f > end) (null, null)
            else (rows(f).getString(IName), rows(prevNamed(end)).getString(IName))
          }
        TreeApi.argusonBlob(sb, r.getString(IOt), r.getLong(ITipDesc),
          r.getString(IName), r.getString(IUniq), r.getString(IRank),
          if (r.isNullAt(IUid)) None else Some(r.getLong(IUid)),
          first, last, i => r.getString(IJsonFirst + i))
        AnnFields.indices.foreach { i =>
          if (!r.isNullAt(IAnnFirst + i))
            sources ++= r.getMap[String, Any](IAnnFirst + i).keys
        }
      }
      val sb = new StringBuilder
      var comma = false
      walk(k0, heightLimit) { (k, open) =>
        if (comma) sb += ','
        blob(k, sb)
        sb ++= (if (open) ",\"children\":[" else "}")
        comma = !open
      } { _ => sb ++= "]}"; comma = true }
      val lineage = new StringBuilder
      rows(k0).getSeq[Long](IAnc).dropRight(1).reverseIterator.foreach { id =>
        if (lineage.nonEmpty) lineage += ','
        blob(position(id), lineage); lineage += '}'
      }
      TreeApi.argusonDocument(sb.result(), lineage.result(), sources, sourceBlob)
    }
  }

  // one index per frame instance, held as long as the frame is: Dataset
  // does not override equals/hashCode, so the weak keys compare by identity
  private val built = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Index]())

  /** The index [[build]] made for this frame instance, if any. */
  def indexOf(nodes: DataFrame): Option[Index] = Option(built.get(nodes))

  /** Build the serving index: ONE collect of the serving projection.
    * Call it once per loaded store (the reference builds its Lucene
    * index once at ingest) and serve from the result; a second call on
    * the same frame instance returns the first index without a job.
    */
  def build(t: Ingested): Index = build(t.nodes)

  def build(nodes: DataFrame): Index = indexOf(nodes).getOrElse {
    val idx = collectIndex(nodes)
    Option(built.putIfAbsent(nodes, idx)).getOrElse(idx)
  }

  private def collectIndex(nodes: DataFrame): Index = {
    val rows = nodes.select(Cols.map(col) ++ AnnFields.map(f => to_json(col(f))): _*)
      .collect()
    java.util.Arrays.sort(rows,
      java.util.Comparator.comparingLong[Row](_.getLong(IPre)))
    val byOt = new java.util.HashMap[String, Int](rows.length * 2)
    val byUid = new java.util.HashMap[Long, Int](rows.length * 2)
    val byId = new java.util.HashMap[Long, Int](rows.length * 2)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      byId.put(r.getLong(INodeId), i)
      if (!r.isNullAt(IOt)) byOt.put(r.getString(IOt), i)
      if (!r.isNullAt(IUid)) byUid.put(r.getLong(IUid), i)
      i += 1
    }
    new Index(rows, byOt, byUid, byId)
  }
}
