package graft.tree

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Query operators over a labeled tree (output of [[TreeLabeler.label]] or
  * [[TreeIngest]]). Each mirrors a reference capability, re-expressed as
  * relational algebra on the interval/ancestor labels:
  *
  *  - lineage      — GraphExplorer.java:795-814 (getPathToRoot)
  *  - mrca         — GraphExplorer.java:617-650 (getDraftTreeMRCA)
  *  - mrta         — GraphExplorer.java:654-664 (nearest taxon above)
  *  - subtree      — GraphExplorer.java:543-574 (depth-limited reconstruct)
  *  - induced      — GraphExplorer.java:704-785 (getInducedSubtree)
  *  - newick       — JadeNode.java:167-195 serialization with the
  *                   label-format rules of GraphExplorer.java:673-694
  */
object TreeOps {

  /** Root-paths of the nodes matching `pred`:
    * (node_id, ancestor_id, ancestor_depth), self included; ordering
    * root→node is by ancestor_depth (W1 lineage position ordering).
    */
  def lineageWhere(nodes: DataFrame, pred: Column): DataFrame = {
    val d = nodes.select(col("node_id").as("ancestor_id"),
      col("depth").as("ancestor_depth"))
    nodes.filter(pred)
      .select(col("node_id"), explode(col("ancestors")).as("ancestor_id"))
      .join(d, "ancestor_id")
  }

  /** Pairwise MRCA: for each (a, b) row, the deepest common ancestor.
    * Ancestor arrays are root→self ordered, so common ancestors form a
    * shared prefix and the MRCA is the last element of the intersection —
    * a single codegen'd expression, no traversal, no shuffle beyond the
    * two lookups. A single-node "pair" (a = b) returns the node itself,
    * matching GraphExplorer.java:643-645.
    */
  def mrcaPairs(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val na = nodes.select(col("node_id").as("a"), col("ancestors").as("anc_a"))
    val nb = nodes.select(col("node_id").as("b"), col("ancestors").as("anc_b"))
    pairs.join(na, "a").join(nb, "b")
      .withColumn("common", array_intersect(col("anc_a"), col("anc_b")))
      .select(col("a"), col("b"),
        element_at(col("common"), size(col("common"))).as("mrca_id"))
  }

  /** MRCA of a whole id set: deepest node whose subtree covers every id.
    * Relational form of the rootward-walk kernel: explode ancestors,
    * keep ancestors common to all FOUND ids, take the deepest. Coverage
    * is compared against the count of distinct FOUND ids, not
    * `ids.length` — duplicate request ids or ids absent from the tree
    * must narrow the set to the valid distinct ids (the reference's
    * BadIds semantics, tree_of_life_v3.java:359-361), not silently
    * yield an empty result — and not against the maximal observed
    * coverage either: on a multi-root frame (forest store) with found
    * ids in disconnected trees NO ancestor covers them all, and the
    * correct answer is an empty frame, not the deepest node covering
    * the largest subset.
    */
  def mrcaOfSet(nodes: DataFrame, ids: Seq[Long]): DataFrame = {
    val exploded = nodes.filter(col("node_id").isin(ids: _*))
      .select(col("node_id"), explode(col("ancestors")).as("anc"))
    val hits = exploded
      .groupBy(col("anc")).agg(countDistinct(col("node_id")).as("n_cover"))
    val allFound = exploded.agg(countDistinct(col("node_id")).as("n_all"))
    hits.crossJoin(broadcast(allFound))
      .filter(col("n_cover") === col("n_all"))
      .join(nodes.select(col("node_id").as("anc"), col("depth")), "anc")
      .orderBy(col("depth").desc).limit(1)
      .select(col("anc").as("mrca_id"), col("depth"))
  }

  /** Nearest taxon above: walk rootward from `nodeId` to the first node
    * with a non-null tax_uid (requires a `tax_uid` column).
    */
  def mrta(nodes: DataFrame, nodeId: Long): DataFrame = {
    val anc = nodes.filter(col("node_id") === nodeId)
      .select(explode(col("ancestors")).as("anc"))
    anc.join(nodes.withColumnRenamed("node_id", "anc"), "anc")
      .filter(col("tax_uid").isNotNull)
      .orderBy(col("depth").desc).limit(1)
  }

  /** Depth-limited subtree: one interval range predicate instead of a
    * traversal (descendants(n) ≡ pre BETWEEN n.pre AND n.post). maxDepth<0
    * means unlimited (newick default; arguson default 5,
    * tree_of_life_v3.java:589-590).
    */
  def subtree(nodes: DataFrame, rootId: Long, maxDepth: Int = -1): DataFrame = {
    val root = nodes.filter(col("node_id") === rootId)
      .select(col("pre").as("r_pre"), col("post").as("r_post"),
        col("depth").as("r_depth"))
    val joined = nodes.join(broadcast(root),
      col("pre") >= col("r_pre") && col("pre") <= col("r_post"))
    val lim = if (maxDepth >= 0) joined.filter(col("depth") <= col("r_depth") + maxDepth)
              else joined
    lim.withColumn("rel_depth", col("depth") - col("r_depth"))
      .drop("r_pre", "r_post", "r_depth")
  }

  /** [[subtree]] with the root's labels already in hand (callers that
    * resolved the root row pass them as literals): a pure filter, no
    * broadcast-subquery exchange — one fewer job on interactive endpoints,
    * and the range predicate pushes down to the scan.
    */
  def subtreeByBounds(nodes: DataFrame, rPre: Long, rPost: Long,
      rDepth: Long, maxDepth: Int = -1): DataFrame = {
    val base = nodes.filter(col("pre") >= rPre && col("pre") <= rPost)
      .withColumn("rel_depth", col("depth") - rDepth)
    if (maxDepth >= 0) base.filter(col("rel_depth") <= maxDepth) else base
  }

  /** Number of tips that `subtree` would materialize — the cheap size guard
    * run before collecting (tree_of_life_v3.java:685-716): O(1) lookup when
    * unlimited (precomputed tip_descendants), else a count over the
    * depth-limited interval (leaves of the *limited* tree = nodes at the
    * depth cut plus true leaves above it).
    */
  def subtreeTipCount(nodes: DataFrame, rootId: Long, maxDepth: Int = -1): Long =
    if (maxDepth < 0) {
      nodes.filter(col("node_id") === rootId)
        .select(col("tip_descendants")).take(1).headOption
        .getOrElse(throw new IllegalArgumentException(notInTree(rootId)))
        .getLong(0)
    } else {
      subtree(nodes, rootId, maxDepth)
        .filter(col("is_leaf") || col("rel_depth") === maxDepth)
        .count()
    }

  /** Degree-pruned subtree (O3, ChildNumberEvaluator.java:25-40 with the
    * 100-children web-display threshold, GraphExplorer.java:70-71): the
    * subtree of `rootId`, but nothing *below* a node with ≥ `maxChildren`
    * children (the high-degree node itself is kept as a frontier tip).
    * Relational form: exclude any node with a high-degree proper ancestor
    * strictly inside the subtree.
    */
  def subtreePruned(nodes: DataFrame, rootId: Long, maxChildren: Long = 100,
      maxDepth: Int = -1): DataFrame = {
    val sub = subtree(nodes, rootId, maxDepth)
    val degrees = nodes.groupBy(col("parent_id")).agg(count(lit(1)).as("n_children"))
      .filter(col("n_children") >= maxChildren && col("parent_id") =!= -1L)
      .select(col("parent_id").as("hi_deg"))
    val blocked = sub
      .select(col("node_id"), explode(col("ancestors")).as("anc"))
      .filter(col("anc") =!= col("node_id") && col("anc") =!= lit(rootId))
      .join(degrees, col("anc") === col("hi_deg"), "left_semi")
      // only ancestors inside the subtree block (root-side ones don't)
      .join(sub.select(col("node_id").as("anc")), Seq("anc"), "left_semi")
      .select(col("node_id")).distinct()
    sub.join(blocked, Seq("node_id"), "left_anti")
  }

  /** First/last representative named descendant per child branch of a node
    * (W2, GraphExplorer.java:451-490: recurse until a named node is found).
    * Relational form: min/max `pre` over named nodes in each child's
    * interval — no recursion.
    */
  def representativeChildren(nodes: DataFrame, nodeId: Long): DataFrame = {
    val kids = nodes.filter(col("parent_id") === nodeId)
      .select(col("node_id").as("child_id"), col("pre").as("c_pre"),
        col("post").as("c_post"), col("child_ord"))
    val named = nodes.filter(col("name").isNotNull)
      .select(col("node_id").as("rep_id"), col("name").as("rep_name"), col("pre"))
    kids.join(named, col("pre") >= col("c_pre") && col("pre") <= col("c_post"))
      .groupBy(col("child_id"), col("child_ord"))
      .agg(min_by(col("rep_name"), col("pre")).as("first_named"),
        max_by(col("rep_name"), col("pre")).as("last_named"))
      .orderBy(col("child_ord"))
  }

  /** Induced (minimal spanning) subtree over a query set — the relational
    * formulation of GraphExplorer.java:704-785: keep the query nodes, the
    * overall MRCA, and every ancestor at/below the MRCA from which ≥2
    * distinct query-ward branches descend; re-parent each kept node to its
    * nearest kept proper ancestor. Query nodes that are ancestors of other
    * query nodes stay internal (possibly unary), matching the reference.
    *
    * @return (node_id, parent_id (-1 at induced root), is_query)
    */
  def induced(nodes: DataFrame, tips: Seq[Long]): DataFrame = {
    val tipRows = nodes.filter(col("node_id").isin(tips: _*))
    // (tip, ancestor, depth-of-ancestor, child-on-path-toward-tip): the
    // position in the root→self ancestors array IS the ancestor's depth
    // (root at 0), so the whole kernel never joins back to `nodes` for
    // depths — everything downstream derives from this one exploded frame
    val paths = tipRows.select(col("node_id").as("tip"),
        posexplode(col("ancestors")).as(Seq("pos", "anc")),
        col("ancestors"))
      .withColumn("child_on_path",
        when(col("pos") + 1 < size(col("ancestors")),
          element_at(col("ancestors"), col("pos") + 2)))
      .drop("ancestors")

    // per-ancestor cover/branch counts as WINDOW columns over the same
    // exploded frame (one exchange on `anc`; a partition holds one
    // ancestor's occurrences, at most the request size) — the per-row
    // form lets the kept flag and the parent derivation ride this one
    // frame with no joins back to aggregated side tables.
    // count(distinct) over a window is unsupported, so each count is
    // max(dense_rank) — O(p log p) per partition, where collect_set
    // would materialize the full set PER ROW (O(p²) memory on a large
    // request). null child_on_path rows (the tip's own occurrence) rank
    // first under asc_nulls_first and must not count as a branch: when
    // any exist, distinct non-nulls = max rank - 1.
    val wAnc = Window.partitionBy(col("anc"))
    val flagged = paths
      .withColumn("__rt", dense_rank().over(
        Window.partitionBy(col("anc")).orderBy(col("tip"))))
      .withColumn("__rb", dense_rank().over(
        Window.partitionBy(col("anc")).orderBy(col("child_on_path"))))
      .withColumn("n_tips", max(col("__rt")).over(wAnc))
      .withColumn("n_branch", max(col("__rb")).over(wAnc) -
        max(when(col("child_on_path").isNull, 1).otherwise(0)).over(wAnc))
      .drop("__rt", "__rb")

    // the MRCA covers every found tip (maximal n_tips, the root covers
    // all) and is the deepest such — a (cover, depth) argmax as a GLOBAL
    // window max over the SAME frame, not a separate aggregate joined
    // back: a second consumer of `flagged` would recompute the exploded
    // frame and pay the anc exchange twice (PlanSpec pins the
    // single-exchange shape). The unpartitioned window funnels through
    // one partition, which is fine for a request-bounded frame
    // (≤ |tips|·depth rows — the same rationale as the temperature
    // recipe's stats window). The tiebreak is total: equal-depth
    // ancestors have disjoint subtrees, so only one node can carry the
    // maximal cover; `anc` in the struct tail is unreachable padding.
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)

    // kept = query tips ∪ branching ancestors at/below the MRCA ∪ the
    // MRCA; each kept node's induced parent is the nearest PRECEDING kept
    // entry on its root-path (rows run root→node in `pos` order, so a
    // last() over the preceding frame is the deepest kept proper
    // ancestor) — every field is a per-anc constant, so duplicate
    // occurrences across tip-paths resolve identically
    val wPath = Window.partitionBy(col("tip")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val merged = flagged
      .withColumn("__m",
        max(struct(col("n_tips"), col("pos"), col("anc"))).over(wAll))
      .withColumn("kept", col("anc").isin(tips: _*) ||
        (col("n_branch") >= 2 && col("pos") >= col("__m.pos")) ||
        col("anc") === col("__m.anc"))
      .withColumn("ind_parent",
        last(when(col("kept") && col("pos") >= col("__m.pos"), col("anc")),
          ignoreNulls = true).over(wPath))

    val kept = merged.filter(col("kept"))
      .groupBy(col("anc").as("node_id"))
      .agg(min(col("ind_parent")).as("ind_parent"))

    nodes.join(broadcast(kept), "node_id")
      .select(col("node_id"),
        coalesce(col("ind_parent"), lit(-1L)).as("parent_id"),
        col("node_id").isin(tips: _*).as("is_query"),
        col("pre"))
  }

  // ------------------------------------------------------------- labeling

  /** Node label per the reference's format rules (GraphExplorer.java:673-694):
    * named nodes render name / ot_node_id / name_ott<uid>; unnamed nodes
    * render ot_node_id only when `idsForUnnamed` (include_all_node_labels).
    */
  def labelCol(format: String, idsForUnnamed: Boolean): Column = {
    val named = format match {
      case "name"        => col("name")
      case "id"          => col("ot_node_id")
      case "name_and_id" => concat(col("name"), lit("_ott"), col("tax_uid"))
      case other => throw invalidLabelFormat(other)
    }
    when(col("name").isNotNull, named)
      .otherwise(if (idsForUnnamed) col("ot_node_id") else lit(""))
  }

  private[tree] def invalidLabelFormat(format: String) =
    new IllegalArgumentException(
      s"Invalid 'label_format' arg: '$format'. Valid formats: \"name\", \"id\", or \"name_and_id\" (default).")

  /** Hard caps before materializing (tree_of_life_v3.java:591-592). */
  val MaxTipsNewick = 100000L
  val MaxTipsArguson = 25000L

  /** The cap refusal, one message for every capped extract and path. */
  private[tree] def requireCap(tips: Long, cap: Long): Unit =
    require(tips <= cap, s"requested tree ($tips tips) is larger than currently allowed ($cap)")

  private[tree] def notInTree(nodeId: Long): String =
    s"node id $nodeId is not in the tree"

  /** Newick of a subtree: size-guard, then driver-side assembly in `pre`
    * (tree) order. When [[TreeServing.build]] has indexed `nodes`, the
    * extract is answered from that index with no Spark job
    * ([[TreeServing.Index.newick]]), except with branch lengths, which the
    * index does not hold. Otherwise the bounded subtree is fetched by an
    * interval-filtered collect, and `knownTips` / `rootBounds` (the root
    * row's tip count and pre/post/depth, when the caller has them) skip the
    * size-guard job and the root-resolution subquery. Requires ot-columns
    * (`name`, `ot_node_id`, `tax_uid`). An id that is not in `nodes` is an
    * IllegalArgumentException.
    */
  def newick(nodes: DataFrame, rootId: Long, maxDepth: Int = -1,
      labelFormat: String = "name_and_id", idsForUnnamed: Boolean = false,
      withBranchLengths: Boolean = false, cap: Long = MaxTipsNewick,
      knownTips: Option[Long] = None,
      rootBounds: Option[(Long, Long, Long)] = None): String =
    TreeServing.indexOf(nodes) match {
      case Some(idx) if !withBranchLengths =>
        idx.newick(rootId, maxDepth, labelFormat, idsForUnnamed, cap)
      case _ =>
        sparkNewick(nodes, rootId, maxDepth, labelFormat, idsForUnnamed,
          withBranchLengths, cap, knownTips, rootBounds)
    }

  private def sparkNewick(nodes: DataFrame, rootId: Long, maxDepth: Int,
      labelFormat: String, idsForUnnamed: Boolean, withBranchLengths: Boolean,
      cap: Long, knownTips: Option[Long],
      rootBounds: Option[(Long, Long, Long)]): String = {
    // callers that already resolved the root row pass its tip count (skips
    // the size-guard job) and pre/post/depth bounds (skips the broadcast
    // subquery) — interactive endpoints count their jobs
    val tips = knownTips.getOrElse(subtreeTipCount(nodes, rootId, maxDepth))
    requireCap(tips, cap)
    val subDf = rootBounds match {
      case Some((p, q, d)) => subtreeByBounds(nodes, p, q, d, maxDepth)
      case None => subtree(nodes, rootId, maxDepth)
    }
    val base = subDf
      .withColumn("lbl", TreeOps.scrubCol(labelCol(labelFormat, idsForUnnamed)))
    val rows = (if (withBranchLengths && base.columns.contains("branch_length"))
        base.select(col("node_id"), col("parent_id"), col("pre"), col("lbl"),
          col("branch_length"))
      else base.select(col("node_id"), col("parent_id"), col("pre"), col("lbl"),
          lit(null).cast("double").as("branch_length")))
      .collect()
    if (!rows.exists(_.getLong(0) == rootId))
      throw new IllegalArgumentException(notInTree(rootId))
    val bls: Map[Long, Option[Double]] = rows.map(r => r.getLong(0) ->
      (if (withBranchLengths && !r.isNullAt(4) && !r.getDouble(4).isNaN &&
           r.getLong(0) != rootId) Some(r.getDouble(4)) else None)).toMap
    // pre-sort each sibling list ONCE: the serializer calls children(p)
    // ~2·deg+1 times per node, so sorting inside the closure would cost
    // O(deg²·log deg) on a polytomy (a 50k-child taxonomy node would pin
    // the driver for minutes)
    val byParent: Map[Long, Seq[Long]] = rows.filter(_.getLong(0) != rootId)
      .groupBy(_.getLong(1))
      .map { case (p, v) => p -> v.sortBy(_.getLong(2)).map(_.getLong(0)).toSeq }
    val children: Long => Seq[Long] = id => byParent.getOrElse(id, Nil)
    val labels = rows.map(r => r.getLong(0) -> r.getString(3)).toMap
    Newick.serialize(rootId, children, labels, bls)
  }

  /** Distributed newick assembly — the scale path past the reference's
    * 100k-tip cap (tree_of_life_v3.java:591-592), which exists only
    * because its serializer is a driver-side recursive walk
    * (JadeNode.java:167-195), as is [[newick]]'s collect.
    *
    * The newick string is the Euler tour of the subtree read off the
    * interval labels, so serialization needs no tree walk at all: each
    * node contributes an ENTRY token at sort position (pre, 0, 0) — a
    * sibling comma, then "(" for internal nodes or the payload
    * (label[:branch]) for leaves — and each internal node an EXIT token
    * at (post, 1, -depth) — ")" + payload. Exits at the same `post`
    * (a node and the ancestor chain closing on its last leaf) nest
    * innermost-first via the -depth key. One window (first-child flag),
    * one range-partitioned sort: every stage is distributed, memory per
    * task is bounded by the partition, and the result size is the only
    * scale bound — no driver walk, no cap.
    */
  def newickTokens(nodes: DataFrame, rootId: Long, maxDepth: Int = -1,
      labelFormat: String = "name_and_id", idsForUnnamed: Boolean = false,
      withBranchLengths: Boolean = false): DataFrame = {
    val sub = subtree(nodes, rootId, maxDepth)
    val lbl = coalesce(scrubCol(labelCol(labelFormat, idsForUnnamed)), lit(""))
    val bl =
      if (withBranchLengths && nodes.columns.contains("branch_length"))
        when(col("node_id") =!= rootId && col("branch_length").isNotNull &&
            !isnan(col("branch_length")),
          concat(lit(":"),
            when(col("branch_length") === 0.0, lit(Newick.MinBranchLength))
              .otherwise(col("branch_length")).cast("string")))
          .otherwise(lit(""))
      else lit("")
    val w = Window.partitionBy(col("parent_id")).orderBy(col("pre"))
    val eff = sub
      .withColumn("payload", concat(lbl, bl))
      .withColumn("is_first", row_number().over(w) === 1)
      .withColumn("eff_leaf", col("is_leaf") ||
        (if (maxDepth >= 0) col("rel_depth") === maxDepth else lit(false)))
    val comma = when(col("node_id") =!= rootId && !col("is_first"), lit(","))
      .otherwise(lit(""))
    val entry = eff.select(col("pre").as("k1"), lit(0).as("k2"),
      lit(0L).as("k3"),
      concat(comma,
        when(col("eff_leaf"), col("payload")).otherwise(lit("("))).as("token"))
    val exits = eff.filter(!col("eff_leaf")).select(col("post").as("k1"),
      lit(1).as("k2"), (-col("depth")).as("k3"),
      concat(lit(")"), col("payload")).as("token"))
    val term = eff.filter(col("node_id") === rootId).select(
      col("post").as("k1"), lit(2).as("k2"), lit(0L).as("k3"),
      lit(";").as("token"))
    entry.unionByName(exits).unionByName(term)
  }

  /** Materialize a token stream as one string: ordered collect + concat.
    * The driver holds the RESULT (unavoidable for a string return), but
    * never a tree structure — use [[newickWrite]] when even the result
    * exceeds driver memory.
    */
  def newickFromTokens(tokens: DataFrame): String =
    tokens.orderBy(col("k1"), col("k2"), col("k3"))
      .select(col("token")).collect().map(_.getString(0)).mkString

  /** Fully distributed sink: range-partitioned sort, per-partition token
    * concatenation, text parts written in partition order — part files
    * concatenated in name order (dropping the one line terminator each)
    * ARE the newick string. Nothing passes through the driver.
    */
  def newickWrite(tokens: DataFrame, path: String): Unit = {
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.orderBy(col("k1"), col("k2"), col("k3"))
      .select(col("token")).as[String]
      .mapPartitions(it => Iterator.single(it.mkString))
      .write.mode("overwrite").text(path)
  }

  /** Newick of an induced subtree result joined back to node attributes. */
  def inducedNewick(nodes: DataFrame, tips: Seq[Long],
      labelFormat: String = "name_and_id", idsForUnnamed: Boolean = false): String = {
    val ind = induced(nodes, tips)
    val rows = ind.join(nodes.select(col("node_id"), col("name"),
        col("ot_node_id"), col("tax_uid")), "node_id")
      .withColumn("lbl", TreeOps.scrubCol(labelCol(labelFormat, idsForUnnamed)))
      .select(col("node_id"), col("parent_id"), col("pre"), col("lbl"))
      .collect()
    val rootId = rows.find(_.getLong(1) == -1L).map(_.getLong(0))
      .getOrElse(throw new IllegalStateException("induced tree has no root"))
    assemble(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))), rootId)
  }

  /** Formatted + scrubbed label column (the exact string newick emits). */
  def formattedLabel(format: String, idsForUnnamed: Boolean): Column =
    scrubCol(labelCol(format, idsForUnnamed))

  private def scrubCol(c: Column): Column =
    regexp_replace(c, "[\"_~`:;/\\[\\]{}|<>,.!@#$%^&*()?+=\\\\\\s]+", "_")

  /** Driver-side assembly of (node, parent(-1 at root), pre, label) rows. */
  def assembleNewick(rows: Array[(Long, Long, Long, String)]): String = {
    val rootId = rows.find(_._2 == -1L).map(_._1)
      .getOrElse(throw new IllegalStateException("induced tree has no root"))
    assemble(rows, rootId)
  }

  /** Driver-side assembly of collected (node, parent, pre, label) rows. */
  private def assemble(rows: Array[(Long, Long, Long, String)], rootId: Long): String = {
    // sibling lists sorted once (see newick() — the closure is invoked
    // ~2·deg+1 times per node)
    val byParent: Map[Long, Seq[Long]] = rows.filter(_._1 != rootId)
      .groupBy(_._2)
      .map { case (p, v) => p -> v.sortBy(_._3).map(_._1).toSeq }
    val children: Long => Seq[Long] = id => byParent.getOrElse(id, Nil)
    val labels = rows.map(r => r._1 -> r._4).toMap
    Newick.serialize(rootId, children, labels)
  }
}
