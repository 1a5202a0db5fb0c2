package graft.tree

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.tree.TreeIngest.Ingested

/** Millisecond serving — the analog of the reference's Lucene exact
  * indexes (GraphBase.java:122-186,431-448) and of its in-process pointer
  * walks (GraphExplorer.java:342-354,543-574,704-785): `node_info` / `mrca`
  * resolution and the capped extracts (`newick`, `induced_subtree`,
  * `arguson`) answer from a driver-side index with ZERO Spark jobs,
  * instead of paying the ~0.1-0.35 s job-scheduling floor per action.
  * SURVEY §7.5 names exactly this mitigation.
  *
  * The index is columnar: one primitive or `String` array per serving
  * field, indexed by the node's position in `pre` order, plus each
  * node's parent position and root-path length (derived from
  * `parent_id`; the `ancestors` arrays are not collected). The
  * annotation maps are kept for `node_info` beside the `to_json` texts
  * arguson splices. The three id spaces resolve through [[Slots]] tables
  * that probe the id columns themselves, and each repeated string (map
  * keys, ranks, a unique_name equal to its name) is stored once. Driver
  * memory is O(nodes × serving width), the same order as the reference's
  * Lucene index files, which it likewise holds beside the graph DB: a
  * class-histogram diff measures 634 bytes a node on an 18.4k-node
  * synthesis tree. The index is a served store's only in-memory copy of
  * its tree ([[TreeStore.load]] caches nothing). Build pays ONE collect
  * of the nodes table. A subtree is a contiguous run of positions, so
  * every extract walks positions in O(output), and `induced_subtree`
  * keeps the query positions and the meets of their pre-order
  * neighbours. [[build]]
  * memoises the index per frame instance, and [[TreeOps.newick]],
  * [[TreeApi.inducedSubtree]] and [[TreeApi.arguson]] find it through
  * [[indexOf]]: once a served store is indexed, its capped extracts leave
  * the distributed path. Uncapped exports (`newickTokens`,
  * `argusonTokens`) and analytics stay distributed. The index answers for
  * the frame's contents at build time.
  */
object TreeServing {

  /** The released node_info annotation fields, in blob order. */
  private val AnnFields = TreeApi.ArgusonAnnFields
  private val AnnFieldNames = AnnFields.toArray

  // field order of the one serving projection (see collectIndex()): the
  // fields of the Row views byOtId/byOttId/byNodeId return, then parent_id
  // and the annotation maps' to_json texts (Spark renders each map in its
  // stored key order, which a collected Scala Map loses past four entries)
  private val RowCols = Seq("node_id", "ot_node_id", "name", "unique_name",
    "tax_uid", "tax_rank", "tax_sources", "tip_descendants", "depth",
    "pre", "post") ++ AnnFields
  private val INodeId = 0; private val IOt = 1; private val IName = 2
  private val IUniq = 3; private val IUid = 4; private val IRank = 5
  private val ITaxSources = 6; private val ITipDesc = 7; private val IDepth = 8
  private val IPre = 9; private val IPost = 10
  private val IAnnFirst = 11 // supported_by .. resolved_by (6 fields)
  private val IParent = RowCols.length
  private val IJsonFirst = IParent + 1

  /** A growable `Int` array: position lists and stacks without boxing. */
  private final class IntBuf {
    private var a = new Array[Int](16)
    var size = 0
    def +=(k: Int): Unit = {
      if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
      a(size) = k
      size += 1
    }
    def apply(i: Int): Int = a(i)
    def last: Int = a(size - 1)
    def pop(): Int = { size -= 1; a(size) }
    /** Sort ascending and drop repeats, in place. */
    def sortDistinct(): this.type = {
      java.util.Arrays.sort(a, 0, size)
      var n = 0
      var i = 0
      while (i < size) {
        if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
        i += 1
      }
      size = n
      this
    }
  }

  /** Positions by key for [[Index]]: an open-addressing table of
    * position + 1 (0 marks an empty slot), probed linearly from a
    * Fibonacci hash of the key. It stores no keys: a probe compares
    * through the index's column for that key, so a lookup allocates
    * nothing. A power of two over 4/3 of `keys` slots keeps the load at
    * or below 3/4, so every probe meets an empty slot, at 4 bytes a slot
    * (5.3 to 10.7 bytes a key).
    */
  private[graft] final class Slots(keys: Int) {
    private val bits =
      math.max(1, 32 - Integer.numberOfLeadingZeros(keys + keys / 3))
    val at = new Array[Int](1 << bits)
    /** Where the probe for a key with hash code `h` starts. */
    def home(h: Int): Int = (h * 0x9E3779B9) >>> (32 - bits)
    def next(i: Int): Int = (i + 1) & (at.length - 1)
  }

  /** What [[Index]]'s nest() calls per position, in pre order: a class,
    * because a `(Int, Boolean) => Unit` closure boxes both arguments.
    */
  private abstract class Nesting {
    def enter(k: Int, open: Boolean): Unit
    def exit(k: Int): Unit
  }

  /** @param rows one per node of the serving projection, sorted by `pre`:
    *             a row's index is its position. The rows are read into
    *             columns here and not kept.
    */
  final class Index private[tree] (rows: Array[Row], rowSchema: StructType) {

    def size: Int = nodeId.length

    private val nodeId = new Array[Long](rows.length)
    private val pre = new Array[Long](rows.length)
    private val post = new Array[Long](rows.length)
    private val depth = new Array[Long](rows.length)
    private val tipDesc = new Array[Long](rows.length)
    private val uid = new Array[Long](rows.length)
    private val noUid = new java.util.BitSet(rows.length)
    private val ot = new Array[String](rows.length)
    private val name = new Array[String](rows.length)
    private val uniq = new Array[String](rows.length)
    private val rank = new Array[String](rows.length)
    private val taxSources = new Array[AnyRef](rows.length)
    // per annotation field: the collected map and its to_json text
    private val ann = Array.fill(AnnFields.length)(new Array[AnyRef](size))
    private val annJson = Array.fill(AnnFields.length)(new Array[String](size))
    // each node's parent position (-1 at a root) and root-path length
    private val parentAt = new Array[Int](rows.length)
    private val pathLen = new Array[Int](rows.length)
    // a key repeated across rows (ot and ott ids in a multi-tree frame)
    // resolves to its highest-`pre` row: the build puts rows in pre order
    private val byOt = new Slots(rows.length)
    private val byUid = new Slots(rows.length)
    private val byId = new Slots(rows.length)

    private def otSlot(key: String): Int = {
      var i = byOt.home(key.hashCode)
      while (byOt.at(i) != 0 && ot(byOt.at(i) - 1) != key) i = byOt.next(i)
      i
    }
    /** `byUid` and `byId` hold only rows with a key in `col`. */
    private def longSlot(t: Slots, col: Array[Long], key: Long): Int = {
      var i = t.home(java.lang.Long.hashCode(key))
      while (t.at(i) != 0 && col(t.at(i) - 1) != key) i = t.next(i)
      i
    }
    // each node's position, -1 when absent
    private def otPos(key: String): Int =
      if (key == null) -1 else byOt.at(otSlot(key)) - 1
    private def uidPos(key: Long): Int = byUid.at(longSlot(byUid, uid, key)) - 1
    private def idPos(key: Long): Int = byId.at(longSlot(byId, nodeId, key)) - 1

    // Climbing parent positions from a node must visit exactly its root
    // path, and a subtree must be the positions up to the last `pre` inside
    // its [pre, post]. Both hold when node ids are unique and each parent
    // row comes before its child, is the nearest enclosing interval and
    // sits one level above it (true of every ingested frame); the open
    // intervals on `stack` find the nearest enclosing one.
    //
    // Repeated strings are stored once: ranks and the keys of the
    // annotation and tax_sources maps go through a dictionary that lives
    // for the build only; a unique_name equal to its name, and a map
    // value equal to the node's ot id (the supported_by entry ingest
    // injects for a taxon), reuse the node's own string.
    locally {
      val dict = new java.util.HashMap[String, String]
      def share(s: String): String =
        if (s == null) null else { val o = dict.putIfAbsent(s, s); if (o == null) s else o }
      def shareKeys(m: collection.Map[String, Any], own: String): AnyRef =
        if (m == null) null
        else m.map { case (key, v) => share(key) -> (if (v == own) own else v) }
      val stack = new IntBuf
      var k = 0
      while (k < rows.length) {
        val r = rows(k)
        nodeId(k) = r.getLong(INodeId)
        pre(k) = r.getLong(IPre)
        post(k) = r.getLong(IPost)
        depth(k) = r.getLong(IDepth)
        tipDesc(k) = r.getLong(ITipDesc)
        if (r.isNullAt(IUid)) noUid.set(k) else uid(k) = r.getLong(IUid)
        ot(k) = r.getString(IOt)
        name(k) = r.getString(IName)
        val u = r.getString(IUniq)
        uniq(k) = if (u != null && u == name(k)) name(k) else u
        rank(k) = share(r.getString(IRank))
        taxSources(k) = shareKeys(r.getMap[String, Any](ITaxSources), ot(k))
        var i = 0
        while (i < AnnFields.length) {
          ann(i)(k) = shareKeys(r.getMap[String, Any](IAnnFirst + i), ot(k))
          annJson(i)(k) = r.getString(IJsonFirst + i)
          i += 1
        }
        val parentId = r.getLong(IParent)
        val p = if (parentId == -1L) -1 else idPos(parentId)
        while (stack.size > 0 && post(stack.last) < pre(k)) stack.pop()
        val enclosing = if (stack.size > 0) stack.last else -1
        val idSlot = longSlot(byId, nodeId, nodeId(k))
        require(byId.at(idSlot) == 0 && p == enclosing &&
            (parentId == -1L || p >= 0 && pre(p) < pre(k) && post(k) <= post(p) &&
              depth(k) == depth(p) + 1),
          s"node_id ${nodeId(k)}: the serving index needs unique node ids, " +
            "and a parent row ahead of each child that encloses its [pre, post] " +
            "one level above it")
        byId.at(idSlot) = k + 1
        stack += k
        parentAt(k) = p
        pathLen(k) = if (p < 0) 1 else pathLen(p) + 1
        if (ot(k) != null) byOt.at(otSlot(ot(k))) = k + 1
        if (!noUid.get(k)) byUid.at(longSlot(byUid, uid, uid(k))) = k + 1
        k += 1
      }
    }

    // nearest named position at-or-after / at-or-before each position
    // (size / -1 when there is none): a subtree's first and last named
    // descendants in O(1)
    private val nextNamed = new Array[Int](size)
    private val prevNamed = new Array[Int](size)
    locally {
      var next = size
      var k = size - 1
      while (k >= 0) {
        if (name(k) != null) next = k
        nextNamed(k) = next
        k -= 1
      }
      var prev = -1
      k = 0
      while (k < size) {
        if (name(k) != null) prev = k
        prevNamed(k) = prev
        k += 1
      }
    }

    /** The node at position `k` as a Row of the serving fields, `node_id`
      * first (None when `k` < 0).
      */
    private def rowAt(k: Int): Option[Row] =
      if (k < 0) None
      else Some(new GenericRowWithSchema((Array[Any](nodeId(k), ot(k), name(k),
        uniq(k), uidOrNull(k), rank(k), taxSources(k), tipDesc(k), depth(k),
        pre(k), post(k)) ++ ann.map(_(k))), rowSchema))
    def byOtId(ot: String): Option[Row] = rowAt(otPos(ot))
    def byOttId(uid: Long): Option[Row] = rowAt(uidPos(uid))
    def byNodeId(id: Long): Option[Row] = rowAt(idPos(id))

    /** (pre, post, depth, tip_descendants) of a node — the values
      * TreeOps.newick's knownTips/rootBounds parameters take, which let an
      * un-indexed frame skip the size-guard and root-resolution jobs.
      */
    def bounds(ot: String): Option[(Long, Long, Long, Long)] = {
      val k = otPos(ot)
      if (k < 0) None else Some((pre(k), post(k), depth(k), tipDesc(k)))
    }

    /** (pre, post) by node id — the resolver
      * [[graft.plans.IntervalCatalog.installFrom]] plugs into the
      * descendant-predicate rewrite, so a loaded serving index doubles
      * as the optimizer's anchor table at zero extra driver memory.
      */
    def interval(id: Long): Option[(Long, Long)] = {
      val k = idPos(id)
      if (k < 0) None else Some((pre(k), post(k)))
    }

    private def uidOrNull(k: Int): Any = if (noUid.get(k)) null else uid(k)

    // field-for-field the blobOf of TreeApi.mrca (raw column values; the
    // ingest-time J3 rule already falls unique_name back to name)
    private def taxonOf(k: Int): TreeApi.TaxonBlob =
      TreeApi.TaxonBlob(name(k), rank(k), uniq(k),
        if (noUid.get(k)) None else Some(uid(k)))

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
      val k = otPos(otNodeId)
      if (k < 0) None
      else {
        val b = Map.newBuilder[String, Any]
        b += "ot_node_id" -> ot(k)
        b += "name" -> name(k)
        b += "unique_name" -> uniq(k)
        b += "tax_uid" -> uidOrNull(k)
        b += "tax_rank" -> rank(k)
        b += "tax_sources" -> taxSources(k)
        b += "num_tips" -> tipDesc(k)
        var i = 0
        while (i < AnnFieldNames.length) {
          b += AnnFieldNames(i) -> ann(i)(k)
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
      while (a >= 0) { out(n) = ot(a); n += 1; a = parentAt(a) }
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
      * prefix, pull the root-path attributes from the columns.
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
      while (ni.hasNext) add(otPos(ni.next()))
      val oi = ottIds.iterator
      while (oi.hasNext) add(uidPos(oi.next()))
      require(found, "no valid node or ott ids provided")
      require(m >= 0, "query nodes do not share a root (different trees?)")
      val badNodes = nodeIds.filterNot(otPos(_) >= 0)
      val badOtts = ottIds.filterNot(uidPos(_) >= 0)
      // the deepest taxon on the common path: depth falls by one per
      // parent, so the first one climbing from the MRCA
      var nearest = m
      while (nearest >= 0 && noUid.get(nearest)) nearest = parentAt(nearest)
      val mName = Option(name(m))
      TreeApi.MrcaResult(
        ot(m), mName,
        if (mName.isEmpty && nearest >= 0) Some(ot(nearest)) else None,
        badNodes, badOtts, ok = badNodes.isEmpty && badOtts.isEmpty,
        mrcaTaxon = if (mName.isDefined) Some(taxonOf(m)) else None,
        nearestTaxon = if (nearest >= 0) Some(taxonOf(nearest)) else None)
    }

    private def position(nodeId: Long): Int = {
      val k = idPos(nodeId)
      if (k < 0) throw new IllegalArgumentException(TreeOps.notInTree(nodeId))
      k
    }

    /** Last position inside the subtree at `k`: the last `pre` ≤ its
      * `post`, by binary search over the sorted `pre` column.
      */
    private def lastPos(k: Int): Int = {
      var lo = k; var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (pre(mid) <= post(k)) lo = mid + 1 else hi = mid
      }
      lo - 1
    }

    /** The subtree at position `k0` cut `maxDepth` levels below it (< 0:
      * no cut), as positions in pre order, refused with
      * [[TreeOps.requireCap]] when its leaves ([[TreeOps.subtreeTipCount]])
      * exceed `cap`. A cut subtree's leaves are counted in a first pass that
      * stores nothing, so a refusal allocates no position list. Below the
      * cut each pass jumps past each subtree, so it costs O(output).
      */
    private def cappedCut(k0: Int, maxDepth: Int, cap: Long): IntBuf = {
      val end = lastPos(k0)
      def atCut(k: Int) = maxDepth >= 0 && depth(k) - depth(k0) == maxDepth
      def next(k: Int) = if (atCut(k)) lastPos(k) + 1 else k + 1
      val tips =
        if (maxDepth < 0) tipDesc(k0)
        else {
          var n = 0L
          var k = k0
          while (k <= end) {
            if (atCut(k) || post(k) == pre(k)) n += 1
            k = next(k)
          }
          n
        }
      TreeOps.requireCap(tips, cap)
      val ks = new IntBuf
      var k = k0
      while (k <= end) { ks += k; k = next(k) }
      ks
    }

    /** Nest positions given in pre order, each under its nearest listed
      * ancestor: `to.enter(k, open)` per position, where `open` means a
      * child follows (the next position lies inside its interval), and
      * `to.exit(k)` after the children of each open position.
      */
    private def nest(ks: IntBuf, to: Nesting): Unit = {
      val open = new IntBuf
      var i = 0
      while (i < ks.size) {
        val k = ks(i)
        while (open.size > 0 && post(open.last) < pre(k)) to.exit(open.pop())
        val hasKids = i + 1 < ks.size && pre(ks(i + 1)) <= post(k)
        to.enter(k, hasKids)
        if (hasKids) open += k
        i += 1
      }
      while (open.size > 0) to.exit(open.pop())
    }

    /** The newick of positions in pre order ([[nest]]ed), as
      * [[Newick.serialize]] writes it, each label formatted and scrubbed as
      * [[TreeOps.formattedLabel]] does (null where that yields null).
      */
    private def newickOf(ks: IntBuf, format: String, idsForUnnamed: Boolean): String = {
      val nameAndId = format == "name_and_id"
      val byOtId = format == "id"
      if (!nameAndId && !byOtId && format != "name") throw TreeOps.invalidLabelFormat(format)
      def label(k: Int): String = {
        val l =
          if (name(k) == null) { if (idsForUnnamed) ot(k) else "" }
          else if (nameAndId) { if (noUid.get(k)) null else name(k) + "_ott" + uid(k) }
          else if (byOtId) ot(k)
          else name(k)
        if (l == null) null else Newick.scrub(l)
      }
      val sb = new java.lang.StringBuilder
      nest(ks, new Nesting {
        private var comma = false
        def enter(k: Int, open: Boolean): Unit = {
          if (comma) sb.append(',')
          if (open) sb.append('(') else sb.append(label(k))
          comma = !open
        }
        def exit(k: Int): Unit = { sb.append(')').append(label(k)); comma = true }
      })
      sb.append(';').toString
    }

    /** [[TreeOps.newick]] on the index, byte-identical to the Spark path
      * (without branch lengths, which the index does not hold).
      */
    def newick(rootId: Long, maxDepth: Int = -1,
        labelFormat: String = "name_and_id", idsForUnnamed: Boolean = false,
        cap: Long = TreeOps.MaxTipsNewick): String = {
      val ks = cappedCut(position(rootId), maxDepth, cap)
      newickOf(ks, labelFormat, idsForUnnamed)
    }

    /** [[TreeApi.inducedSubtree]] on the index, with the Spark path's
      * refusals in its order. With the query positions in
      * pre order, the nodes that [[TreeApi.inducedEdges]] keeps besides
      * them (the MRCA and every node where query-ward branches split) are
      * exactly the meets of pre-order neighbours, and each kept node's
      * induced parent is its nearest kept ancestor, which [[nest]] finds.
      */
    def inducedSubtree(nodeIds: Seq[String] = Nil, ottIds: Seq[Long] = Nil,
        labelFormat: String = "name_and_id",
        idsForUnnamed: Boolean = false): TreeApi.InducedResult = {
      val kept = new IntBuf
      nodeIds.foreach { id => val k = otPos(id); if (k >= 0) kept += k }
      ottIds.foreach { id => val k = uidPos(id); if (k >= 0) kept += k }
      kept.sortDistinct()
      val queries = kept.size
      require(queries >= 2, s"at least 2 valid ids required, got $queries")
      var i = 0
      while (i + 1 < queries) {
        val m = meet(kept(i), kept(i + 1))
        require(m >= 0, "query nodes do not share a root (different trees?)")
        kept += m
        i += 1
      }
      val nwk = newickOf(kept.sortDistinct(), labelFormat, idsForUnnamed)
      val badNodes = nodeIds.filterNot(otPos(_) >= 0)
      val badOtts = ottIds.filterNot(uidPos(_) >= 0)
      TreeApi.InducedResult(nwk, badNodes, badOtts,
        ok = badNodes.isEmpty && badOtts.isEmpty)
    }

    /** [[TreeApi.arguson]] on the index; `sourceBlob` gives a source id's
      * source_id_map entry.
      */
    def arguson(rootId: Long, heightLimit: Int,
        sourceBlob: String => Map[String, String]): String = {
      val k0 = position(rootId)
      val ks = cappedCut(k0, heightLimit, TreeOps.MaxTipsArguson)
      val sources = scala.collection.mutable.SortedSet.empty[String]
      def blob(k: Int, sb: StringBuilder): Unit = {
        // first/last named proper descendant by pre
        var first: String = null
        var last: String = null
        if (name(k) == null) {
          val end = lastPos(k)
          val f = if (k < end) nextNamed(k + 1) else size
          if (f <= end) { first = name(f); last = name(prevNamed(end)) }
        }
        TreeApi.argusonBlob(sb, ot(k), tipDesc(k), name(k), uniq(k), rank(k),
          if (noUid.get(k)) None else Some(uid(k)),
          first, last, annJson(_)(k))
        var i = 0
        while (i < AnnFields.length) {
          val m = ann(i)(k)
          if (m != null) sources ++= m.asInstanceOf[collection.Map[String, Any]].keys
          i += 1
        }
      }
      val sb = new StringBuilder
      nest(ks, new Nesting {
        private var comma = false
        def enter(k: Int, open: Boolean): Unit = {
          if (comma) sb += ','
          blob(k, sb)
          sb ++= (if (open) ",\"children\":[" else "}")
          comma = !open
        }
        def exit(k: Int): Unit = { sb ++= "]}"; comma = true }
      })
      val lineage = new StringBuilder
      var a = parentAt(k0)
      while (a >= 0) {
        if (lineage.nonEmpty) lineage += ','
        blob(a, lineage); lineage += '}'
        a = parentAt(a)
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
    val projection = nodes.select(RowCols.map(col) ++ Seq(col("parent_id")) ++
      AnnFields.map(f => to_json(col(f))): _*)
    val rows = projection.collect()
    java.util.Arrays.sort(rows,
      java.util.Comparator.comparingLong[Row](_.getLong(IPre)))
    new Index(rows, StructType(projection.schema.take(RowCols.length)))
  }
}
