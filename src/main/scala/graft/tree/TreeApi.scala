package graft.tree

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.tree.TreeIngest.Ingested

/** The reference's serving endpoints re-expressed over the labeled tables
  * (SURVEY §3; tree_of_life_v3.java): `about`, `node_info`, arguson
  * subtree documents, supporting-studies aggregation. The HTTP layer is
  * out of scope (SURVEY §7.5 non-goals); these return DataFrames/JSON.
  */
object TreeApi {

  /** Taxon fields of a node, as the v2/v3 blobs render them. */
  final case class TaxonBlob(name: String, rank: String, uniqueName: String,
      ottId: Option[Long])

  /** `mrca` endpoint result (tree_of_life_v3.java:258-363). `ok=false`
    * mirrors the reference's BadIdsException path: the result is still
    * computed from the valid ids, but partial-invalid input is flagged
    * (thrown-after-computing semantics, tree_of_life_v3.java:359-361).
    * `nearestTaxon` is the deepest taxon at-or-above the MRCA (== the MRCA
    * itself when it is a taxon), carried so adapters need no extra lookup.
    */
  final case class MrcaResult(
      mrcaOtId: String,
      mrcaName: Option[String],
      nearestTaxonOtId: Option[String], // set when the MRCA itself is unnamed
      nodeIdsNotInTree: Seq[String],
      ottIdsNotInTree: Seq[Long],
      ok: Boolean,
      mrcaTaxon: Option[TaxonBlob] = None,
      nearestTaxon: Option[TaxonBlob] = None)

  /** `induced_subtree` endpoint result (tree_of_life_v3.java:403-518). */
  final case class InducedResult(
      newick: String,
      nodeIdsNotInTree: Seq[String],
      ottIdsNotInTree: Seq[Long],
      ok: Boolean)

  /** Resolve request ids (ot_node_id strings and/or ott ids) against the
    * tree: (found internal node ids, node_ids not in tree, ott_ids not in
    * tree) — the P5/J6 partition of SURVEY §3.1 step 3.
    */
  def resolveIds(t: Ingested, nodeIds: Seq[String], ottIds: Seq[Long])
      : (Seq[Long], Seq[String], Seq[Long]) = {
    val (rows, badNodes, badOtts) = resolveRows(t, nodeIds, ottIds)
    (rows.map(_._1), badNodes, badOtts)
  }

  /** Resolve both id spaces in ONE job (each sequential action pays a
    * scheduling floor, and interactive endpoints chain several of these),
    * returning each found node's root-path so request-bounded kernels
    * (mrca, induced) can run driver-side like the reference's pointer
    * walks (GraphExplorer.java:617-664,704-785) instead of paying 3-5
    * distributed stages for a request-sized problem.
    */
  private def resolveRows(t: Ingested, nodeIds: Seq[String], ottIds: Seq[Long])
      : (Seq[(Long, Seq[Long])], Seq[String], Seq[Long]) = {
    val hits = t.nodes.filter(col("ot_node_id").isin(nodeIds: _*) ||
        col("tax_uid").isin(ottIds: _*))
      .select(col("ot_node_id"), col("tax_uid"), col("node_id"),
        col("ancestors")).collect()
    val byOt = hits.map(r => r.getString(0) -> r).toMap
    val byUid = hits.filter(!_.isNullAt(1))
      .map(r => r.getLong(1) -> r).toMap
    val found = (nodeIds.flatMap(byOt.get) ++ ottIds.flatMap(byUid.get))
      .map(r => r.getLong(2) -> r.getSeq[Long](3).toSeq)
      .distinctBy(_._1)
    (found, nodeIds.filterNot(byOt.contains), ottIds.filterNot(byUid.contains))
  }

  /** `mrca`: deepest node covering all valid query ids; when unnamed, also
    * the nearest taxon above it (GraphExplorer.java:617-664).
    */
  def mrca(t: Ingested, nodeIds: Seq[String] = Nil, ottIds: Seq[Long] = Nil): MrcaResult = {
    val (rows, badNodes, badOtts) = resolveRows(t, nodeIds, ottIds)
    require(rows.nonEmpty, "no valid node or ott ids provided")
    // Driver-side MRCA: ancestor arrays are root→self ordered, so the MRCA
    // of the set is the last element of the arrays' common prefix —
    // request-bounded work, exactly the reference's rootward walk. A single
    // found node yields itself (GraphExplorer.java:643-645). Job 2 fetches
    // the attributes of the MRCA's root path (depth-bounded) in one go.
    val common = rows.map(_._2).reduce { (a, b) =>
      a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1)
    }
    require(common.nonEmpty, "query nodes do not share a root (different trees?)")
    val mrcaId = common.last
    val attrs = t.nodes.filter(col("node_id").isin(common: _*))
      .select(col("node_id"), col("ot_node_id"), col("name"), col("tax_uid"),
        col("depth"), col("tax_rank"), col("unique_name"))
      .collect()
    def blobOf(r: Row) = TaxonBlob(r.getString(2), r.getString(5),
      r.getString(6), if (r.isNullAt(3)) None else Some(r.getLong(3)))
    val mrcaRow = attrs.find(_.getLong(0) == mrcaId).get
    val nearestRow = attrs.filter(!_.isNullAt(3)).sortBy(-_.getLong(4)).headOption
    val mName = Option(mrcaRow.getString(2))
    MrcaResult(
      mrcaRow.getString(1), mName,
      if (mName.isEmpty) nearestRow.map(_.getString(1)) else None,
      badNodes, badOtts, ok = badNodes.isEmpty && badOtts.isEmpty,
      mrcaTaxon = if (mName.isDefined) Some(blobOf(mrcaRow)) else None,
      nearestTaxon = nearestRow.map(blobOf))
  }

  /** Induced-subtree kernel on collected root paths — the request-bounded
    * form of [[TreeOps.induced]] (same semantics, verified equal by the
    * shared oracle): kept nodes are the query ids, the overall MRCA, and
    * every ancestor at/below the MRCA where ≥2 query-ward branches split;
    * each kept node re-parents to its nearest kept proper ancestor.
    *
    * @param paths (node_id, ancestors root→self) of the resolved query ids
    * @return (node_id, induced parent (-1 at root), is_query), unordered
    */
  def inducedEdges(paths: Seq[(Long, Seq[Long])]): Seq[(Long, Long, Boolean)] = {
    val tips = paths.map(_._1).toSet
    val arrays = paths.map(_._2)
    val depthOf = collection.mutable.Map.empty[Long, Int]
    val cover = collection.mutable.Map.empty[Long, Int]
    val branches = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    arrays.foreach { a =>
      a.indices.foreach { i =>
        val anc = a(i)
        depthOf(anc) = i
        cover(anc) = cover.getOrElse(anc, 0) + 1
        if (i + 1 < a.length)
          branches.getOrElseUpdate(anc, collection.mutable.Set.empty) += a(i + 1)
      }
    }
    val n = arrays.size
    val common = cover.collect { case (id, c) if c == n => id }
    require(common.nonEmpty, "query nodes do not share a root (different trees?)")
    val mrcaId = common.maxBy(depthOf)
    val mrcaDepth = depthOf(mrcaId)
    val kept = tips ++ branches.collect { case (id, ch)
      if ch.size >= 2 && depthOf(id) >= mrcaDepth => id } + mrcaId
    val out = collection.mutable.Map.empty[Long, (Long, Boolean)]
    arrays.foreach { a =>
      a.indices.foreach { i =>
        val id = a(i)
        if (kept(id) && !out.contains(id)) {
          val parent = (i - 1 to 0 by -1).iterator.map(a)
            .find(p => kept(p) && depthOf(p) >= mrcaDepth)
          out(id) = (parent.getOrElse(-1L), tips(id))
        }
      }
    }
    out.toSeq.map { case (id, (p, q)) => (id, p, q) }
  }

  /** `induced_subtree`: minimal spanning tree over ≥2 valid ids, as newick
    * with not-in-tree lists (tree_of_life_v3.java:403-518). Answered from
    * the serving index with no Spark job when [[TreeServing.build]] has
    * indexed `t.nodes` ([[TreeServing.Index.inducedSubtree]]); otherwise
    * two jobs: resolve (with root paths), then one attribute fetch for the
    * kept set. Ids from two different trees are an IllegalArgumentException.
    */
  def inducedSubtree(t: Ingested, nodeIds: Seq[String] = Nil,
      ottIds: Seq[Long] = Nil, labelFormat: String = "name_and_id",
      idsForUnnamed: Boolean = false): InducedResult =
    TreeServing.indexOf(t.nodes) match {
      case Some(idx) =>
        idx.inducedSubtree(nodeIds, ottIds, labelFormat, idsForUnnamed)
      case None =>
        val (rows, badNodes, badOtts) = resolveRows(t, nodeIds, ottIds)
        inducedResult(rows, badNodes, badOtts) { keptIds =>
          t.nodes.filter(col("node_id").isin(keptIds: _*))
            .withColumn("lbl",
              TreeOps.formattedLabel(labelFormat, idsForUnnamed))
            .select(col("node_id"), col("pre"), col("lbl"))
            .collect().toSeq
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        }
    }

  /** The induced newick from resolved root paths; `attrs` fetches
    * (node_id, pre, formatted label) of the kept ids.
    */
  private[tree] def inducedResult(paths: Seq[(Long, Seq[Long])],
      badNodes: Seq[String], badOtts: Seq[Long])(
      attrs: Seq[Long] => Seq[(Long, Long, String)]): InducedResult = {
    require(paths.size >= 2,
      s"at least 2 valid ids required, got ${paths.size}")
    val edges = inducedEdges(paths)
    val parentOf = edges.map(e => e._1 -> e._2).toMap
    val nwk = TreeOps.assembleNewick(attrs(edges.map(_._1))
      .map { case (id, pre, lbl) => (id, parentOf(id), pre, lbl) }.toArray)
    InducedResult(nwk, badNodes, badOtts, ok = badNodes.isEmpty && badOtts.isEmpty)
  }

  /** `about` (tree_of_life_v3.java:39-122): tree-level metadata plus the
    * root node blob.
    */
  def about(t: Ingested): DataFrame = {
    val rootBlob = t.nodes.filter(col("parent_id") === -1L)
      .select(col("ot_node_id").as("root_ot_node_id"),
        col("name").as("root_name"),
        col("unique_name").as("root_unique_name"),
        col("tax_uid").as("root_tax_uid"),
        col("tip_descendants").as("root_num_tips"))
    t.treeMeta.drop("root_ot_node_id").crossJoin(broadcast(rootBlob))
  }

  /** `node_info` (tree_of_life_v3.java:130-227): taxon blob + num_tips +
    * released annotation fields, optional lineage array ordered
    * nearest→root (W1 semantics, GraphExplorer.java:228-236).
    */
  def nodeInfo(t: Ingested, otNodeId: String, includeLineage: Boolean = false): DataFrame = {
    val base = t.nodes.filter(col("ot_node_id") === otNodeId)
      .select(col("node_id"), col("ot_node_id"), col("name"), col("unique_name"),
        col("tax_uid"), col("tax_rank"), col("tax_sources"),
        col("tip_descendants").as("num_tips"),
        col("supported_by"), col("terminal"), col("partial_path_of"),
        col("resolves"), col("conflicts_with"), col("resolved_by"))
    if (!includeLineage) base.drop("node_id")
    else {
      // lineage: proper ancestors, nearest first
      val lin = TreeOps.lineageWhere(t.nodes, col("ot_node_id") === otNodeId)
        .filter(col("ancestor_id") =!= col("node_id"))
        .join(t.nodes.select(col("node_id").as("ancestor_id"),
          col("ot_node_id").as("anc_ot_id")), "ancestor_id")
        .groupBy(col("node_id"))
        .agg(reverse(array_sort(collect_list(
          struct(col("ancestor_depth"), col("anc_ot_id"))))).as("lin_structs"))
        .select(col("node_id"),
          transform(col("lin_structs"), x => x("anc_ot_id")).as("lineage"))
      base.join(lin, Seq("node_id"), "left_outer")
        // the root has no proper ancestors: the reference returns an
        // EMPTY lineage list there (GraphExplorer.java getPathToRoot),
        // not null — the left join alone would emit null and downstream
        // JSON would render null/NPE instead of []
        .withColumn("lineage",
          coalesce(col("lineage"), array().cast("array<string>")))
        .drop("node_id")
    }
  }

  /** Supporting studies for a result subtree (A6, GraphExplorer.java:358-399):
    * distinct annotation sources over the subtree's nodes, resolved to
    * study ids through the source map (J5).
    */
  def supportingStudies(t: Ingested, rootId: Long, maxDepth: Int = -1): DataFrame = {
    val sub = TreeOps.subtree(t.nodes, rootId, maxDepth)
    sub.select(explode(map_keys(coalesce(col("supported_by"),
        map().cast("map<string,string>")))).as("source_id"))
      .distinct()
      .join(broadcast(t.sourceMap), Seq("source_id"), "left_outer")
      .select(col("source_id"), col("study_id"), col("git_sha"))
  }

  /** Released per-edge annotation fields spliced into arguson node blobs
    * (GraphExplorer.java:300-332 releasedFields).
    */
  private[tree] val ArgusonAnnFields = Seq("supported_by", "terminal",
    "partial_path_of", "resolves", "conflicts_with", "resolved_by")

  /** Arguson subtree document (S6, GraphExplorer.java:342-354): nested JSON
    * with children[] in tree order, per-node support annotations
    * (getSynthMetadataAndUniqueSources, GraphExplorer.java:300-332),
    * `descendant_name_list` for unnamed nodes (first/last representative
    * named descendant by pre order, GraphExplorer.java:450-494), a
    * lineage[] on the root, and the document-level `source_id_map` of every
    * annotation source seen (GraphExplorer.java:217-226,351-352).
    * Driver-side assembly under the 25k-tip cap, mirroring the newick path:
    * from the serving index with no Spark job when [[TreeServing.build]]
    * has indexed `t.nodes` ([[TreeServing.Index.arguson]]; the source map
    * is [[TreeIngest.Ingested.sourceBlobs]], collected once per `t`),
    * otherwise from relational fetches. An id that is not in the tree is
    * an IllegalArgumentException.
    */
  def arguson(t: Ingested, rootId: Long, heightLimit: Int = 5): String =
    TreeServing.indexOf(t.nodes) match {
      case Some(idx) => idx.arguson(rootId, heightLimit,
        s => t.sourceBlobs.getOrElse(s, Map.empty))
      case None => sparkArguson(t, rootId, heightLimit)
    }

  private def sparkArguson(t: Ingested, rootId: Long, heightLimit: Int): String = {
    val tips = TreeOps.subtreeTipCount(t.nodes, rootId, heightLimit)
    TreeOps.requireCap(tips, TreeOps.MaxTipsArguson)

    val linIds = t.nodes.filter(col("node_id") === rootId)
      .select(col("ancestors")).take(1).headOption
      .getOrElse(throw new IllegalArgumentException(TreeOps.notInTree(rootId)))
      .getSeq[Long](0).dropRight(1).reverse

    val sub = TreeOps.subtree(t.nodes, rootId, heightLimit)
      .withColumn("in_lineage", lit(false))
    val lin = t.nodes.filter(col("node_id").isin(linIds: _*))
      .withColumn("rel_depth", lit(-1L)).withColumn("in_lineage", lit(true))
    val targets = sub.select(col("node_id")).union(lin.select(col("node_id")))

    // first/last representative named descendant per target node, computed
    // relationally for all targets in one shuffle: named nodes broadcast
    // their (name, pre) to each ancestor in the target set
    val reps = t.nodes.filter(col("name").isNotNull)
      .select(col("node_id").as("d_id"), col("name").as("d_name"),
        col("pre").as("d_pre"), explode(col("ancestors")).as("node_id"))
      .filter(col("d_id") =!= col("node_id"))
      .join(broadcast(targets), Seq("node_id"), "left_semi")
      .groupBy(col("node_id"))
      .agg(min_by(col("d_name"), col("d_pre")).as("first_named"),
        max_by(col("d_name"), col("d_pre")).as("last_named"))

    val annJson = ArgusonAnnFields.map(f => to_json(col(f)).as(s"${f}_json"))
    // per-field value types differ (map<_,string> vs map<_,array>), so the
    // null-guard must stay on the keys side
    val annKeys = array_distinct(concat(ArgusonAnnFields.map(f =>
      when(col(f).isNotNull, map_keys(col(f)))
        .otherwise(array().cast("array<string>"))): _*)).as("src_keys")

    def collectRows(df: DataFrame) = df
      .join(reps, Seq("node_id"), "left_outer")
      .select(Seq(col("node_id"), col("parent_id"), col("pre"),
        col("ot_node_id"), col("name"), col("unique_name"), col("tax_rank"),
        col("tax_uid"), col("tip_descendants"), col("first_named"),
        col("last_named"), col("in_lineage"), annKeys) ++ annJson: _*)
      .collect()

    val all = collectRows(sub) ++ collectRows(lin)
    val rows = all.filter(!_.getBoolean(11))
    val linRows = all.filter(_.getBoolean(11)).map(r => r.getLong(0) -> r).toMap

    val byParent = rows.filter(_.getLong(0) != rootId)
      .groupBy(_.getLong(1)).map { case (k, v) => k -> v.sortBy(_.getLong(2)) }
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    val uniqueSources = scala.collection.mutable.SortedSet.empty[String]

    def blob(r: Row, sb: StringBuilder): Unit = {
      argusonBlob(sb, r.getString(3), r.getLong(8), r.getString(4),
        r.getString(5), r.getString(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        r.getString(9), r.getString(10), i => r.getString(13 + i))
      r.getSeq[String](12).foreach(uniqueSources += _)
    }

    // iterative nested assembly (children in pre order)
    val sb = new StringBuilder
    def build(id: Long): Unit = {
      var stack = List((id, 0))
      while (stack.nonEmpty) {
        val (nid, ci) = stack.head
        val kids = byParent.getOrElse(nid, Array.empty[Row])
        if (ci == 0) blob(byId(nid), sb)
        if (ci < kids.length) {
          sb ++= (if (ci == 0) ",\"children\":[" else ",")
          stack = (kids(ci).getLong(0), 0) :: (nid, ci + 1) :: stack.tail
        } else {
          if (kids.nonEmpty) sb += ']'
          sb += '}'
          stack = stack.tail
        }
      }
    }
    build(rootId)

    // lineage of the root, nearest first (arguson includes it)
    val linSb = new StringBuilder
    linIds.foreach { id =>
      if (linSb.nonEmpty) linSb += ','
      blob(linRows(id), linSb); linSb += '}'
    }

    argusonDocument(sb.result(), linSb.result(), uniqueSources,
      s => t.sourceBlobs.getOrElse(s, Map.empty))
  }

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  /** One arguson node blob, left open for `children` and the closing
    * brace: taxon fields for a named node, otherwise the first/last named
    * descendants; then each non-null annotation field's `to_json` text.
    */
  private[tree] def argusonBlob(sb: StringBuilder, otNodeId: String,
      numTips: Long, name: String, uniqueName: String, rank: String,
      ottId: Option[Long], firstNamed: String, lastNamed: String,
      annJson: Int => String): Unit = {
    sb ++= "{\"node_id\":\"" ++= esc(otNodeId) ++= "\""
    sb ++= ",\"num_tips\":" ++= numTips.toString
    if (name != null) {
      sb ++= ",\"taxon\":{\"name\":\"" ++= esc(name) ++= "\""
      sb ++= ",\"unique_name\":\"" ++= esc(Option(uniqueName).getOrElse(name)) ++= "\""
      if (rank != null) sb ++= ",\"rank\":\"" ++= esc(rank) ++= "\""
      ottId.foreach(id => sb ++= ",\"ott_id\":" ++= id.toString)
      sb += '}'
    } else {
      // unnamed: representative descendant names (first/last by pre)
      val names = Seq(Option(firstNamed), Option(lastNamed)).flatten.distinct
      sb ++= ",\"descendant_name_list\":["
      sb ++= names.map(n => "\"" + esc(n) + "\"").mkString(",")
      sb += ']'
    }
    // released annotation fields, already JSON via to_json
    ArgusonAnnFields.indices.foreach { i =>
      val json = annJson(i)
      if (json != null) sb ++= ",\"" ++= ArgusonAnnFields(i) ++= "\":" ++= json
    }
  }

  /** Splice the root lineage and the document-level source_id_map of the
    * (sorted) `sources` into the root object of `body`, before its close.
    */
  private[tree] def argusonDocument(body: String, lineage: String,
      sources: Iterable[String], sourceBlob: String => Map[String, String])
      : String = {
    val srcStr = sources.iterator.map { s =>
      "\"" + esc(s) + "\":{" + sourceBlob(s).toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
        .mkString(",") + "}"
    }.mkString(",")
    "{\"arguson\":" + body.patch(body.length - 1,
      ",\"lineage\":[" + lineage + "]" +
        ",\"source_id_map\":{" + srcStr + "}}", 1) + "}"
  }

  /** JSON-escape a string column: quote and backslash, matching the
    * driver `esc()` for all OTT label data (which is control-char-free;
    * the driver's \\uXXXX control-char path has no vectorized twin and is
    * unreachable for taxonomy names).
    */
  private def escCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")

  /** The arguson node blob as a single column expression — the vectorized
    * twin of the driver `blob()` builder, enabling [[argusonUncapped]].
    * Input rows need the node attribute columns plus `first_named`/
    * `last_named` (representative descendants, see [[arguson]]).
    */
  private def argusonBlobCol: org.apache.spark.sql.Column = {
    val taxon = concat(
      lit(",\"taxon\":{\"name\":\""), escCol(col("name")), lit("\""),
      lit(",\"unique_name\":\""),
      escCol(coalesce(col("unique_name"), col("name"))), lit("\""),
      when(col("tax_rank").isNotNull,
        concat(lit(",\"rank\":\""), escCol(col("tax_rank")), lit("\"")))
        .otherwise(lit("")),
      when(col("tax_uid").isNotNull,
        concat(lit(",\"ott_id\":"), col("tax_uid").cast("string")))
        .otherwise(lit("")),
      lit("}"))
    val fn = concat(lit("\""), escCol(col("first_named")), lit("\""))
    val ln = concat(lit("\""), escCol(col("last_named")), lit("\""))
    val descList = concat(lit(",\"descendant_name_list\":["),
      when(col("first_named").isNull, lit(""))
        .when(col("first_named") === col("last_named"), fn)
        .otherwise(concat_ws(",", fn, ln)),
      lit("]"))
    val ann = concat(ArgusonAnnFields.map { f =>
      when(col(f).isNotNull,
        concat(lit(s""","$f":"""), to_json(col(f)))).otherwise(lit(""))
    }: _*)
    concat(
      lit("{\"node_id\":\""), escCol(col("ot_node_id")), lit("\""),
      lit(",\"num_tips\":"), col("tip_descendants").cast("string"),
      when(col("name").isNotNull, taxon).otherwise(descList),
      ann)
  }

  /** First/last representative named descendant per target node — one
    * shuffle for the whole target set (GraphExplorer.java:450-494).
    */
  private def argusonReps(t: Ingested, targets: DataFrame): DataFrame =
    t.nodes.filter(col("name").isNotNull)
      .select(col("node_id").as("d_id"), col("name").as("d_name"),
        col("pre").as("d_pre"), explode(col("ancestors")).as("node_id"))
      .filter(col("d_id") =!= col("node_id"))
      .join(broadcast(targets), Seq("node_id"), "left_semi")
      .groupBy(col("node_id"))
      .agg(min_by(col("d_name"), col("d_pre")).as("first_named"),
        max_by(col("d_name"), col("d_pre")).as("last_named"))

  /** Distributed arguson past the reference's 25k cap — the same
    * Euler-tour tokenization as `TreeOps.newickTokens`: each node's entry
    * token at (pre,0) carries the sibling comma + blob (+ `,"children":[`
    * when it has children within the height limit), each internal exit at
    * (post,1,-depth) closes `]}`; leaves close `}` in the entry. The body
    * is then one range-partitioned sort over executor-built strings —
    * nothing walks a tree anywhere.
    */
  def argusonTokens(t: Ingested, rootId: Long, heightLimit: Int = 5): DataFrame = {
    val sub = TreeOps.subtree(t.nodes, rootId, heightLimit)
    val reps = argusonReps(t, sub.select(col("node_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("parent_id")).orderBy(col("pre"))
    val eff = sub.join(reps, Seq("node_id"), "left_outer")
      .withColumn("blob", argusonBlobCol)
      .withColumn("is_first", row_number().over(w) === 1)
      .withColumn("eff_leaf", col("is_leaf") ||
        (if (heightLimit >= 0) col("rel_depth") === heightLimit else lit(false)))
    val comma = when(col("node_id") =!= rootId && !col("is_first"), lit(","))
      .otherwise(lit(""))
    val entry = eff.select(col("pre").as("k1"), lit(0).as("k2"),
      lit(0L).as("k3"),
      concat(comma, col("blob"),
        when(col("eff_leaf"), lit("}"))
          .otherwise(lit(",\"children\":["))).as("token"))
    val exits = eff.filter(!col("eff_leaf")).select(col("post").as("k1"),
      lit(1).as("k2"), (-col("depth")).as("k3"), lit("]}").as("token"))
    entry.unionByName(exits)
  }

  /** Full arguson document via [[argusonTokens]] — no tip cap. The root
    * lineage (≤ depth rows) and the source map ride the same blob column;
    * only result-sized strings reach the driver.
    */
  def argusonUncapped(t: Ingested, rootId: Long, heightLimit: Int = 5): String = {
    val body = TreeOps.newickFromTokens(argusonTokens(t, rootId, heightLimit))

    val linIds = t.nodes.filter(col("node_id") === rootId)
      .select(col("ancestors")).head().getSeq[Long](0).dropRight(1).reverse
    val linBlobs =
      if (linIds.isEmpty) Map.empty[Long, String]
      else {
        val lin = t.nodes.filter(col("node_id").isin(linIds: _*))
        lin.join(argusonReps(t, lin.select(col("node_id"))),
            Seq("node_id"), "left_outer")
          .withColumn("blob", argusonBlobCol)
          .select(col("node_id"), col("blob")).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      }
    val linStr = linIds.map(id => linBlobs(id) + "}").mkString(",")

    // every annotation source seen in any blob (subtree + lineage)
    val annKeys = array_distinct(concat(ArgusonAnnFields.map(f =>
      when(col(f).isNotNull, map_keys(col(f)))
        .otherwise(array().cast("array<string>"))): _*))
    val scope = TreeOps.subtree(t.nodes, rootId, heightLimit)
      .select(col("node_id"))
      .union(t.nodes.filter(col("node_id").isin(linIds: _*)).select(col("node_id")))
    val srcs = t.nodes.join(scope, Seq("node_id"), "left_semi")
      .select(explode(annKeys).as("s")).distinct()
      .collect().map(_.getString(0)).sorted
    argusonDocument(body, linStr, srcs,
      s => t.sourceBlobs.getOrElse(s, Map.empty))
  }

  /** Executor-only arguson sink: the token stream written as ordered text
    * parts (see `TreeOps.newickWrite` — the writer is format-agnostic).
    * NOTE: parts carry only the subtree body; the root lineage/source-map
    * splice of [[argusonUncapped]] applies to bounded requests, which fit
    * the string path anyway.
    */
  def argusonWrite(t: Ingested, rootId: Long, path: String,
      heightLimit: Int = 5): Unit =
    TreeOps.newickWrite(argusonTokens(t, rootId, heightLimit), path)

  /** `source_tree` (tree_of_life_v3.java:829-907, S7): serve the processed
    * input source tree for a study_id + tree_id. The reference proxies
    * `files.opentreeoflife.org/preprocessed/v<version>/trees/<source>.tre`
    * over HTTP; the cluster-native equivalent is any Spark-readable base
    * path (local / HDFS / object store) with the same layout.
    */
  def sourceTree(t: Ingested, baseDir: String, studyId: String,
      treeId: String, format: String = "newick"): Map[String, Any] = {
    require(format == "newick",
      "The only currently supported format is newick.")
    // ids are caller-supplied request input interpolated into a path:
    // without this whitelist, '/' or '..' escapes the trees/ directory
    // and '*'/'{' glob-expand inside spark.read — a serving endpoint must
    // refuse both, not serve arbitrary .tre-suffixed files
    val idRe = "^[A-Za-z0-9_-]+$".r
    require(idRe.matches(studyId) && idRe.matches(treeId),
      s"Invalid source id '${studyId}_$treeId' provided.")
    val synthId = t.treeIdStr
    val version = synthId.replace("opentree", "")
    val path = s"$baseDir/v$version/trees/${studyId}_$treeId.tre"
    val spark = t.nodes.sparkSession
    // wholetext: a preprocessed newick may wrap across lines; only a
    // genuinely missing artifact means a bad id — infra faults propagate
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path)))
      throw new IllegalArgumentException(
        s"Invalid source id '${studyId}_$treeId' provided.")
    val text = spark.read.option("wholetext", "true").textFile(path)
      .head().stripLineEnd
    require(text.nonEmpty,
      s"source tree artifact '$path' exists but is empty (corrupt upload?)")
    Map("newick" -> text, "synth_id" -> synthId)
  }

  /** Transport-injectable `source_tree` — the remote half of S7. The
    * reference proxies the artifact over HTTP
    * (tree_of_life_v3.java:886-907: GET, first line, any failure →
    * "Invalid source id"); here the transport is a pluggable
    * `url => Option[body]` so the engine suite exercises the complete
    * endpoint (URL construction, id whitelist, error mapping) with a
    * hermetic fetcher, and a deployment passes [[httpFetch]] to mirror
    * the reference's proxy byte-for-byte. [[sourceTree]] remains the
    * cluster-native path for Spark-readable stores.
    */
  def sourceTreeVia(t: Ingested, fetch: String => Option[String],
      urlBase: String, studyId: String, treeId: String,
      format: String = "newick"): Map[String, Any] = {
    require(format == "newick",
      "The only currently supported format is newick.")
    val idRe = "^[A-Za-z0-9_-]+$".r
    require(idRe.matches(studyId) && idRe.matches(treeId),
      s"Invalid source id '${studyId}_$treeId' provided.")
    val synthId = t.treeIdStr
    val version = synthId.replace("opentree", "")
    val url = s"$urlBase/v$version/trees/${studyId}_$treeId.tre"
    fetch(url).map(_.stripLineEnd).filter(_.nonEmpty) match {
      case Some(tree) => Map("newick" -> tree, "synth_id" -> synthId)
      case None => throw new IllegalArgumentException(
        s"Invalid source id '${studyId}_$treeId' provided.")
    }
  }

  /** The reference's transport, one line of the .tre artifact over
    * HTTP; None on ANY failure (connect, 404, read) — the endpoint
    * maps that to the invalid-source-id error exactly as the
    * reference's empty catch block does. Driver-side request I/O, not
    * cluster work: one small artifact per API call.
    */
  def httpFetch(url: String): Option[String] =
    try {
      val conn = new java.net.URI(url).toURL.openConnection()
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(10000)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
      try Option(in.readLine()) finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `draft_trees` (tree_of_life_v3.java:778-826): per-synth-tree metadata
    * projection — synth id, dates, taxonomy version, root taxon info, size.
    */
  def draftTrees(t: Ingested): DataFrame = {
    val root = t.nodes.filter(col("parent_id") === -1L)
      .select(col("ot_node_id").as("root_node_id"),
        col("name").as("root_taxon_name"), col("tax_uid").as("root_ott_id"))
    t.treeMeta.select(col("tree_id").as("synth_id"), col("date_completed"),
      col("taxonomy_version"), col("num_tips"), col("num_source_studies"),
      col("num_source_trees"))
      .crossJoin(broadcast(root))
  }
}
