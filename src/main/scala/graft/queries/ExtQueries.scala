package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.MrcaIdCodec
import graft.ops.Multimodal
import graft.streaming.EventStreams
import graft.tree.{Nexson, TreeApi, TreeIngest, V2Adapter}

/** Extension-surface queries: batch forms of the streaming operators, the
  * custom-Expression id codec, and the multimodal metadata path.
  */
object ExtQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Sessionization (gaps-and-islands batch form; the streaming twin is
    * EventStreams.sessionize via flatMapGroupsWithState).
    */
  val evSessions: Q = (s, d) =>
    EventStreams.sessionizeBatch(Tables.events(s, d))

  /** Exactly-once dedup (batch form of EventStreams.dedupEvents): the
    * input is deliberately doubled — an at-least-once upstream — and the
    * per-type aggregate must match single-delivery numbers.
    */
  val evDedup: Q = (s, d) => {
    val e = Tables.events(s, d)
    EventStreams.dedupBatch(e.unionAll(e))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
  }

  /** v2 id codec round-trip through the native Catalyst expressions. */
  val mrcaCodec: Q = (s, d) =>
    Tables.customer(s, d).filter(col("c_custkey") < 100)
      .select(col("c_custkey"),
        MrcaIdCodec.mrca_pack(col("c_custkey"), col("c_custkey") + 1L).as("packed"))
      .select(col("c_custkey"), col("packed"),
        MrcaIdCodec.mrca_unpack_a(col("packed")).as("back_a"),
        MrcaIdCodec.mrca_unpack_b(col("packed")).as("back_b"))

  /** Multimodal metadata through the binary column + mapPartitions stub. */
  val mmMediaMeta: Q = (s, d) =>
    Multimodal.extractMeta(s, Multimodal.withMedia(Tables.documents(s, d))).toDF()

  /** Every-4th-frame sample over an id window (videos explode to rows). */
  val mmFrames: Q = (s, d) =>
    Multimodal.sampleFrames(
      Multimodal.withMedia(Tables.documents(s, d).filter(col("doc_id") < 200)),
      everyK = 4)

  /** 256-char chunk transport of every media payload with digests. */
  val mmChunks: Q = (s, d) =>
    Multimodal.chunkMedia(Multimodal.withMedia(Tables.documents(s, d)), 256)

  private val fixtureCache = new graft.SessionCache[TreeIngest.Ingested]()

  /** The Gavia fixture tree (same files the golden tests use), ingested
    * once per JVM — lets the driver's harness exercise the serving-API
    * path end-to-end (rows-only check; endpoint shapes aren't SQL).
    */
  /** Fixture dir, robust to the harness cwd (falls back to the repo's
    * absolute path when not launched from the repo root). Public: Verify
    * substitutes it into the fixture-based oracle SQL.
    */
  def fixtureDir: String = {
    val rel = "src/test/resources/fixture"
    if (new java.io.File(s"$rel/gavia.tre").exists()) rel
    else "/root/repo/src/test/resources/fixture"
  }

  private def fixture(s: SparkSession): TreeIngest.Ingested =
    fixtureCache.get(s, "gavia") {
      val fx = fixtureDir
      TreeIngest.ingest(s, s"$fx/gavia.tre", s"$fx/gavia_annotations.json",
        s"$fx/gavia_taxonomy.tsv", treeId = "opentree4.1")
    }

  private val multiCache = new graft.SessionCache[TreeIngest.MultiIngested]()

  /** Two synth-tree versions ingested into one store (the reference's
    * multi-tree data model): one forest labeling pass, per-tree views.
    */
  private def multiFixture(s: SparkSession): TreeIngest.MultiIngested =
    multiCache.get(s, "gavia_multi") {
      val fx = fixtureDir
      TreeIngest.ingestAll(s, Seq(
        TreeIngest.TreeSource(s"$fx/gavia.tre", s"$fx/gavia_annotations.json",
          s"$fx/gavia_taxonomy.tsv", "opentree4.1"),
        TreeIngest.TreeSource(s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
          s"$fx/gavia_taxonomy.tsv", "opentree5.0")))
    }

  /** Multi-tree store: per-node labels for BOTH coexisting synth trees —
    * the DuckDB oracle recomputes depth/tips per tree with a recursive CTE
    * over the dumped parent relation.
    */
  val treeMulti: Q = (s, _) =>
    multiFixture(s).nodes.select(col("tree_id"), col("ot_node_id"),
      col("depth"), col("tip_descendants"), col("is_leaf"))

  /** The ingested fixture tables, flattened for a parquet dump that DuckDB
    * can read back (map columns → JSON strings): Verify writes these under
    * `outDir/_fixture/` so every api_* gate gets a real SQL oracle.
    */
  def fixtureTables(s: SparkSession): Map[String, DataFrame] = {
    val t = fixture(s)
    Map(
      "nodes" -> t.nodes.select(
        col("node_id"), col("parent_id"), col("root_id"), col("depth"),
        col("child_ord"), col("pre"), col("post"), col("is_leaf"),
        col("tip_descendants"), col("n_desc"), col("ancestors"),
        col("ot_node_id"), col("tax_uid"), col("name"), col("unique_name"),
        col("tax_rank"), col("branch_length"),
        to_json(col("supported_by")).as("supported_by_json")),
      "edges" -> t.edges,
      "tree_meta" -> t.treeMeta,
      "source_map" -> t.sourceMap,
      "nodes_multi" -> {
        val m = multiFixture(s)
        m.nodes.alias("c")
          .join(m.nodes.select(col("node_id").as("pid"),
            col("ot_node_id").as("parent_ot")).alias("p"),
            col("c.parent_id") === col("p.pid"), "left_outer")
          .select(col("c.tree_id"), col("c.ot_node_id"), col("parent_ot"),
            col("c.depth"), col("c.tip_descendants"), col("c.is_leaf"))
      })
  }

  /** `about` endpoint over the fixture tree; array columns flattened to
    * JSON strings for the driver's pandas hash compare.
    */
  val apiAbout: Q = (s, _) =>
    TreeApi.about(fixture(s))
      .withColumn("filtered_flags", to_json(col("filtered_flags")))
      .withColumn("sources", to_json(col("sources")))

  /** `node_info` with lineage over the fixture tree — lineage exploded to
    * one row per ancestor (nearest first), the SQL-oracle-friendly shape.
    */
  val apiNodeInfo: Q = (s, _) => {
    val t = fixture(s)
    // lineage as rows directly (nearest first): one broadcast join, no
    // aggregate-then-reexplode round trip
    val tgt = t.nodes.filter(col("ot_node_id") === "ott1085739")
      .select(col("node_id"), col("ot_node_id"), col("name"),
        col("unique_name"), col("tax_uid"), col("tax_rank"),
        col("tip_descendants").as("num_tips"), col("depth"),
        posexplode(col("ancestors")).as(Seq("pos", "anc")))
      .filter(col("anc") =!= col("node_id"))
    broadcast(tgt)
      .join(t.nodes.select(col("node_id").as("anc"),
        col("ot_node_id").as("lineage_ot_id")), "anc")
      .select(col("ot_node_id"), col("name"), col("unique_name"),
        col("tax_uid"), col("tax_rank"), col("num_tips"),
        (col("depth") - 1L - col("pos")).as("lineage_pos"),
        col("lineage_ot_id"))
  }

  /** `mrca` endpoint over the fixture (rows-only): unnamed MRCA with a
    * nearest-taxon walk, plus the bad-id partition flag.
    */
  val apiMrca: Q = (s, _) => {
    import s.implicits._
    val r = TreeApi.mrca(fixture(s),
      nodeIds = Seq("ott1085739", "ott90560", "ottNOPE"))
    Seq((r.mrcaOtId, r.mrcaName.orNull, r.nearestTaxonOtId.orNull,
      r.nodeIdsNotInTree.mkString(","), r.ok))
      .toDF("mrca_ot_id", "mrca_name", "nearest_taxon", "bad_node_ids", "ok")
  }

  /** `induced_subtree` endpoint over the fixture, as the relational
    * edge-list shape (node → induced parent, is_query) so the DuckDB oracle
    * can recompute it from the ancestors arrays; the newick serialization
    * of the same kernel is locked by TreeApiSpec goldens.
    */
  val apiInduced: Q = (s, _) => {
    import s.implicits._
    val t = fixture(s)
    // run the serving endpoint (request-bounded driver kernel + newick)
    val r = TreeApi.inducedSubtree(t,
      nodeIds = Seq("ott1085739", "ott1057518", "ott90560"),
      idsForUnnamed = true)
    require(r.newick.nonEmpty && r.ok)
    // and emit its edge relation for the DuckDB oracle
    val rows = t.nodes
      .filter(col("ot_node_id").isin("ott1085739", "ott1057518", "ott90560"))
      .select(col("node_id"), col("ancestors"), col("ot_node_id")).collect()
    val edges = TreeApi.inducedEdges(
      rows.map(x => x.getLong(0) -> x.getSeq[Long](1).toSeq).toSeq)
    val ots = t.nodes.select(col("node_id"), col("ot_node_id"))
    edges.toDF("node_id", "parent_id", "is_query")
      .join(ots, "node_id")
      .join(ots.select(col("node_id").as("parent_id"),
        col("ot_node_id").as("parent_ot_id")), Seq("parent_id"), "left_outer")
      .select(col("ot_node_id"), col("parent_ot_id"), col("is_query"))
  }

  /** ot_node_id string → v2 numeric id, as a codegen'd column expression
    * (both branches rlike-guarded: ANSI mode throws on cast("") otherwise).
    */
  private def v2IdCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val mrcaPat = "^mrcaott(\\d+)ott(\\d+)$"
    when(c.rlike(mrcaPat),
      regexp_extract(c, mrcaPat, 1).cast("long") +
        lit(10000000L) * regexp_extract(c, mrcaPat, 2).cast("long"))
      .when(c.rlike("^ott\\d+$"),
        regexp_extract(c, "^ott(\\d+)$", 1).cast("long"))
  }

  /** v2 `about` flattened to one row per study_list entry. */
  val apiV2About: Q = (s, _) => {
    import s.implicits._
    val a = V2Adapter.about(fixture(s))
    val sl = a("study_list").asInstanceOf[List[Map[String, String]]]
    sl.zipWithIndex.map { case (b, i) =>
      (a("date").toString, a("num_tips").asInstanceOf[Long],
        a("num_source_studies").asInstanceOf[Long],
        a("taxonomy_version").toString, a("root_node_id").asInstanceOf[Long],
        a("root_ott_id").asInstanceOf[Long], a("root_taxon_name").toString,
        a("tree_id").toString, i.toLong,
        b.get("git_sha").orNull, b.get("study_id").orNull,
        b.get("taxonomy").orNull)
    }.toDF("date", "num_tips", "num_source_studies", "taxonomy_version",
      "root_node_id", "root_ott_id", "root_taxon_name", "tree_id",
      "source_pos", "src_git_sha", "src_study_id", "src_taxonomy")
  }

  /** v2 `subtree` — the endpoint (newick assembly) runs, and the gate emits
    * the relational node rows behind it (v2 numeric ids + the exact labels
    * the newick carries) so DuckDB can recompute them independently.
    */
  val apiV2Subtree: Q = (s, _) => {
    val t = fixture(s)
    val r = V2Adapter.subtree(t, ottId = Some(803675L))
    require(r("newick").toString.nonEmpty)
    val root = t.nodes.filter(col("tax_uid") === 803675L)
      .select(col("pre"), col("post"), col("depth")).head()
    val sub = graft.tree.TreeOps.subtreeByBounds(t.nodes,
        root.getLong(0), root.getLong(1), root.getLong(2))
      .select(col("node_id"), col("parent_id"), col("ot_node_id"),
        col("is_leaf"),
        graft.tree.TreeOps.formattedLabel("name_and_id", idsForUnnamed = false)
          .as("label"))
    sub.alias("c")
      .join(broadcast(sub.select(col("node_id").as("pid"),
        col("ot_node_id").as("p_ot")).alias("p")),
        col("c.parent_id") === col("p.pid"), "left_outer")
      .select(v2IdCol(col("c.ot_node_id")).as("v2_node_id"),
        v2IdCol(col("p_ot")).as("v2_parent_id"),
        col("c.label"), col("c.is_leaf"))
  }

  /** `draft_trees` metadata projection. */
  val apiDraftTrees: Q = (s, _) => TreeApi.draftTrees(fixture(s))

  /** v2 `graph/node_info` on an unnamed node with lineage, flattened to
    * one row per draft_tree_lineage entry.
    */
  val apiV2NodeInfo: Q = (s, _) => {
    import s.implicits._
    val info = V2Adapter.nodeInfo(fixture(s),
      nodeId = Some(90560L + 10000000L * 1057518L), includeLineage = true)
    val lin = info("draft_tree_lineage").asInstanceOf[List[Map[String, Any]]]
    lin.zipWithIndex.map { case (b, i) =>
      (info("node_id").asInstanceOf[Long], info("num_tips").asInstanceOf[Long],
        info("tree_id").toString, i.toLong,
        b("node_id").asInstanceOf[Long], b("name").toString,
        b("rank").toString, b("unique_name").toString,
        b("ott_id") match { case l: Long => Some(l); case _ => None })
    }.toDF("node_id", "num_tips", "tree_id", "lin_pos", "lin_node_id",
      "lin_name", "lin_rank", "lin_unique_name", "lin_ott_id")
  }

  private def fixtureRootId(s: SparkSession): Long =
    fixture(s).nodes.filter(col("parent_id") === -1L)
      .select(col("node_id")).head().getLong(0)

  /** S13 (taxonomy→newick) gated through the REAL product path: run
    * `TreeExports.taxonomyToNewick` (root detection, uid-ascending child
    * order, `Newick.scrub` + "_ott" labels, `Newick.serialize`), parse
    * the produced string back with `Newick.parse`, and emit one row per
    * node (label, parent_label, child_pos). The DuckDB oracle re-derives
    * the same triple from the RAW taxonomy TSV — so a regression in any
    * of scrub, child ordering, serialization, or parsing breaks the
    * hash.
    */
  val s13TaxNewick: Q = (s, _) => {
    val nwk = graft.tree.TreeExports.taxonomyToNewick(s,
      graft.tree.TreeIngest.readTaxonomy(s, s"$fixtureDir/gavia_taxonomy.tsv"))
    val parsed = graft.tree.Newick.parse(nwk)
    val labelOf = parsed.map(p => p.nodeId -> p.label).toMap
    import s.implicits._
    parsed.map { p =>
      (p.label,
        if (p.parentId < 0) None else Some(labelOf(p.parentId)),
        if (p.parentId < 0) None else Some(p.childOrd + 1))
    }.toDF("label", "parent_label", "child_pos")
  }

  /** S5 (newick sink) as a SQL-checkable token stream: the Euler-tour
    * tokenization the distributed sink sorts and writes — entry / exit /
    * terminator tokens with their (k1,k2,k3) sort keys. Id label format
    * with idsForUnnamed, so the payload is unconditionally `ot_node_id`
    * and the oracle re-derives every token from the interval labels (the
    * string-assembly twin stays golden-tested in NewickScaleSpec).
    */
  val s5NewickTokens: Q = (s, _) =>
    graft.tree.TreeOps.newickTokens(fixture(s).nodes, fixtureRootId(s),
      labelFormat = "id", idsForUnnamed = true)

  /** A2: depth-limited tip counts (leaves of the truncated tree = nodes at
    * the depth cut plus true leaves above it).
    */
  val a2DepthTips: Q = (s, _) => {
    import s.implicits._
    val t = fixture(s)
    val rid = fixtureRootId(s)
    Seq(1, 2).map(d =>
      (d.toLong, graft.tree.TreeOps.subtreeTipCount(t.nodes, rid, d)))
      .toDF("max_depth", "n_tips")
  }

  /** O3: degree-pruned subtree (nothing below a node with ≥ maxChildren
    * children; the high-degree node stays as a frontier tip).
    */
  val o3SubtreePruned: Q = (s, _) => {
    val t = fixture(s)
    graft.tree.TreeOps.subtreePruned(t.nodes, fixtureRootId(s), maxChildren = 2)
      .select(col("ot_node_id"), col("rel_depth"), col("is_leaf"))
  }

  /** A6: distinct annotation sources over a subtree resolved through the
    * source map.
    */
  val a6SupportingStudies: Q = (s, _) => {
    val t = fixture(s)
    TreeApi.supportingStudies(t, fixtureRootId(s))
  }

  /** S10: edge dump resolved to ot ids/names over the fixture tree. */
  val s10EdgeDump: Q = (s, _) => {
    val t = fixture(s)
    graft.tree.TreeExports.edgeDump(t.nodes, t.edges)
  }

  /** S11: MRP membership matrix, long form (tip × containing clade). */
  val s11Mrp: Q = (s, _) =>
    graft.tree.TreeExports.mrpMatrix(fixture(s).nodes)

  /** A9: children grouped per parent (csv-joined — arrays would defeat
    * the driver's pandas hasher, the round-1 api_* lesson).
    */
  val a9Children: Q = (s, _) =>
    fixture(s).nodes.filter(col("parent_id") =!= -1L)
      .groupBy(col("parent_id"))
      .agg(count(lit(1)).as("n_children"),
        array_join(array_sort(collect_list(col("ot_node_id"))), ",")
          .as("children_csv"))

  /** Stream-stream attribution join, batch form (same code path). */
  val evAttribution: Q = (s, d) =>
    EventStreams.attributionJoin(Tables.events(s, d))

  /** As-of join ([[graft.ops.TemporalOps.asofJoin]]): every click gains
    * the latest view AT OR BEFORE it per user — last-touch attribution,
    * where [[evAttribution]]'s range join is every-touch-in-window.
    * Clicks with no prior view surface with null view columns (the
    * "unattributed" rows a real pipeline must not silently drop). One
    * |views|+|clicks| exchange, no candidate pairs.
    */
  // shared by the two as-of gates: ONE view/click projection and ONE
  // output shape, so the union+window form and the snapshot serving
  // form can never drift apart while claiming one oracle
  private def asofSides(s: SparkSession, d: String) = {
    val ev = Tables.events(s, d)
    (ev.filter(col("event_type") === "view")
       .select(col("user_id"), col("event_id").as("view_id"),
         col("ts").as("view_ts")),
     ev.filter(col("event_type") === "click")
       .select(col("user_id"), col("event_id").as("click_id"),
         col("ts").as("click_ts")))
  }

  private def asofProject(joined: DataFrame) =
    joined.select(col("click_id"), col("user_id"),
      col("matched.view_id").as("view_id"),
      expr("(unix_micros(click_ts) - unix_micros(matched.view_ts))" +
        " div 1000000").as("lag_sec"))

  val evAsof: Q = (s, d) => {
    val (views, clicks) = asofSides(s, d)
    asofProject(graft.ops.TemporalOps.asofJoin(views, clicks,
      "user_id", "view_ts", "click_ts", "view_id"))
  }

  /** The same attribution question through the SERVING shape
    * ([[graft.ops.TemporalOps.asofSnapshot]] +
    * [[graft.ops.TemporalOps.asofJoinStreamStatic]]): the view history
    * closes into a validity-interval snapshot batch-side, clicks join
    * it STATELESSLY — the plan a click stream runs unchanged
    * (StreamingSpec proves stream==batch). Shares `ev_asof`'s oracle:
    * the two shapes must agree row for row.
    */
  val evAsofStatic: Q = (s, d) => {
    val (views, clicks) = asofSides(s, d)
    val snap = graft.ops.TemporalOps.asofSnapshot(views,
      "user_id", "view_ts", "view_id")
    asofProject(graft.ops.TemporalOps.asofJoinStreamStatic(clicks, snap,
      "user_id", "click_ts"))
  }

  /** Point-in-interval join ([[graft.ops.TemporalOps.pointInIntervalJoin]]):
    * every event assigned to the gap-session interval containing it —
    * the membership question `ev_asof` (latest-before) and
    * `ev_attribution` (window range) don't answer. Chunked equi-join,
    * never a per-key cross product; 1-hour chunks ≈ the session span.
    * Same null guard on the point side as the session builder, so the
    * two sides agree on which rows exist.
    */
  // one body for the manual and auto-width containment gates — chunk
  // width must never change the answer, and a shared body keeps the
  // points filter / session builder from drifting between the twins
  private def intervalContainmentGate(s: SparkSession, d: String,
      chunkSeconds: Option[Long]): DataFrame = {
    val ev = Tables.events(s, d)
    val points = ev
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"))
    val iv = EventStreams.sessionIntervals(Tables.events(s, d))
    val joined = chunkSeconds match {
      case Some(c) => graft.ops.TemporalOps.pointInIntervalJoin(points, iv,
        "user_id", "ts", "session_start", "session_end", chunkSeconds = c)
      case None => graft.ops.TemporalOps.pointInIntervalJoin(points, iv,
        "user_id", "ts", "session_start", "session_end")
    }
    joined.select(col("user_id"), col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ev_ts"),
      date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .as("session_start"))
  }

  val evIntervalJoin: Q = (s, d) => intervalContainmentGate(s, d, Some(3600L))

  /** The same containment question through the AUTO-tuned chunk width
    * ([[graft.ops.TemporalOps.autoChunkSeconds]]) — the knob-free form
    * a user should reach for first. Shares `ev_interval_join`'s
    * oracle: chunk width must never change the answer.
    */
  val evIntervalJoinAuto: Q = (s, d) => intervalContainmentGate(s, d, None)

  /** Interval-overlap join ([[graft.ops.TemporalOps.intervalOverlapJoin]]):
    * which browsing (view) sessions overlapped a purchase (click)
    * session, per user — interval×interval, the temporal-join member
    * `ev_interval_join`'s point×interval form can't express. Chunked
    * equi-join with the first-shared-chunk duplicate guard.
    */
  val evOverlapJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    // 24h gap: the fixture's per-user event cadence is ~1.5 days, so
    // 10-min sessions are singletons that can never overlap across
    // types — day-scale "activity episodes" are the natural intervals
    def sess(t: String, pre: String) =
      EventStreams.sessionIntervals(ev.filter(col("event_type") === t),
          gapMinutes = 1440)
        .select(col("user_id"), col("session_start").as(s"${pre}_start"),
          col("session_end").as(s"${pre}_end"))
    graft.ops.TemporalOps.intervalOverlapJoin(
        sess("view", "v"), sess("click", "c"), "user_id",
        "v_start", "v_end", "c_start", "c_end", chunkSeconds = 3600)
      .select(col("user_id"),
        date_format(col("v_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("v_start"),
        date_format(col("c_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("c_start"))
  }

  /** S2: taxonomy TSV scan (multichar "\t|\t" separator, header skip,
    * try_cast ids) — the oracle re-parses the RAW fixture file in DuckDB,
    * fully independent of the Spark ingest path.
    */
  val s2Taxonomy: Q = (s, _) =>
    TreeIngest.readTaxonomy(s, s"$fixtureDir/gavia_taxonomy.tsv")
      .select(col("tax_uid"), col("parent_uid"), col("name"),
        col("tax_rank"), col("unique_name"), col("flags"))

  /** F6: packed "src:id,src:id" sourceinfo → native map, exploded to rows;
    * oracle splits the raw string in DuckDB.
    */
  val f6TaxSources: Q = (s, _) =>
    TreeIngest.readTaxonomy(s, s"$fixtureDir/gavia_taxonomy.tsv")
      .select(col("tax_uid"), explode(col("tax_sources")).as(Seq("src", "src_id")))
      .filter(col("src") =!= "")

  /** S3/F2: annotations JSON → typed per-node columns (maps and
    * map-of-array as native types, re-serialized to JSON for the compare);
    * oracle walks the RAW JSON with DuckDB's json functions.
    */
  val s3Annotations: Q = (s, _) =>
    TreeIngest.readAnnotations(s, s"$fixtureDir/gavia_annotations.json")
      .select(col("ot_node_id"),
        to_json(col("supported_by")).as("supported_by_json"),
        to_json(col("terminal")).as("terminal_json"),
        to_json(col("partial_path_of")).as("partial_json"),
        to_json(col("resolves")).as("resolves_json"),
        to_json(col("conflicts_with")).as("conflicts_json"),
        to_json(col("resolved_by")).as("resolved_by_json"),
        col("was_constrained"), col("was_uncontested"))

  /** J3: the ingest-time tree⟕taxonomy attribute join incl. the
    * unique_name-falls-back-to-name rule; the oracle recomputes the join
    * from the raw TSV against the node id universe.
    */
  val j3AttrJoin: Q = (s, _) =>
    fixture(s).nodes.select(col("ot_node_id"), col("name"),
      col("tax_rank"), col("unique_name"), col("tax_uid"))

  /** S8: DOT statements via the distributed [[graft.tree.TreeExports
    * .dotLines]] twin; oracle rebuilds each statement string in DuckDB.
    */
  val s8DotLines: Q = (s, _) => {
    val t = fixture(s)
    graft.tree.TreeExports.dotLines(t.nodes, fixtureRootId(s))
  }

  /** F7: taxonomy-support injection — every ott* node's supported_by map
    * carries an appended "ott<taxonomy_version>" → own-id entry
    * (IngestSynthesisData.java:484-496); the oracle re-derives the merged
    * JSON from the RAW annotations + raw taxonomy_version.
    */
  val f7TaxSupport: Q = (s, _) =>
    fixture(s).nodes.select(col("ot_node_id"),
      to_json(col("supported_by")).as("supported_by_json"))

  /** S6 (arguson sink) as a SQL-checkable token stream: the Euler-tour
    * tokenization the distributed arguson assembly sorts into the nested
    * document ([[TreeApi.argusonTokens]]) — per-node JSON blobs (taxon /
    * descendant_name_list / released annotation fields), sibling commas,
    * `children` brackets, and the `]}` exits with their (k1,k2,k3) sort
    * keys. The oracle re-derives EVERY byte in DuckDB: blobs from the
    * fixture node attributes + the RAW annotations JSON (with the F7
    * taxonomy-support injection re-applied), representative descendant
    * names via arg_min/arg_max over the ancestors arrays, commas from the
    * min-pre-per-parent rule. Reference shape:
    * GraphExplorer.java:342-354,434-447.
    */
  val s6Arguson: Q = (s, _) =>
    TreeApi.argusonTokens(fixture(s), fixtureRootId(s), heightLimit = -1)

  /** P8: the released-field whitelist projection of `node_info`
    * (tree_of_life_v3.java:130-227) — the endpoint's exact column set over
    * three representative nodes (a taxon node with injected taxonomy
    * support, and the two unnamed mrca nodes carrying map and
    * map-of-array annotations), maps flattened to JSON for the compare.
    */
  val p8Whitelist: Q = (s, _) => {
    val t = fixture(s)
    Seq("ott803675", "mrcaott651474ott1085739", "mrcaott90560ott1057518")
      .map(id => TreeApi.nodeInfo(t, id))
      .reduce(_ unionByName _)
      .select(col("ot_node_id"), col("name"), col("unique_name"),
        col("tax_uid"), col("tax_rank"),
        to_json(col("tax_sources")).as("tax_sources_json"),
        col("num_tips"),
        to_json(col("supported_by")).as("supported_by_json"),
        to_json(col("terminal")).as("terminal_json"),
        to_json(col("partial_path_of")).as("partial_json"),
        to_json(col("resolves")).as("resolves_json"),
        to_json(col("conflicts_with")).as("conflicts_json"),
        to_json(col("resolved_by")).as("resolved_by_json"))
  }

  /** O4: the node-budget caps before materializing
    * (tree_of_life_v3.java:591-592) — each row runs the REAL guarded
    * call; `allowed` records whether it succeeded, so a broken guard
    * (call succeeding past its cap, or refusing under it) flips the
    * value and breaks the hash against the oracle's `n_tips <= cap`.
    */
  val o4Cap: Q = (s, _) => {
    import s.implicits._
    val t = fixture(s)
    val rid = fixtureRootId(s)
    val n = graft.tree.TreeOps.subtreeTipCount(t.nodes, rid)
    def ok(f: => Any): Boolean = scala.util.Try(f).isSuccess
    Seq(
      ("newick", graft.tree.TreeOps.MaxTipsNewick, n,
        ok(graft.tree.TreeOps.newick(t.nodes, rid))),
      ("arguson", graft.tree.TreeOps.MaxTipsArguson, n,
        ok(TreeApi.arguson(t, rid))),
      ("newick_cap2", 2L, n,
        ok(graft.tree.TreeOps.newick(t.nodes, rid, cap = 2L))))
      .toDF("op", "cap", "n_tips", "allowed")
  }

  /** S4 (graph sink): the persisted serving store, round-tripped — save
    * the ingested fixture into the bucketed [[graft.tree.TreeStore]]
    * layout once per JVM, load it back through the catalog-registered
    * bucketed tables, and emit the node rows; the oracle reads the SAME
    * rows from the independently-dumped fixture tables, so any
    * write/read infidelity (lost rows, re-typed columns, mangled maps)
    * breaks the hash.
    */
  val s4StoreRoundtrip: Q = (s, _) => {
    val dir = graft.StoreUtil.cachedStoreDir("tstore", "gavia") { p =>
      graft.tree.TreeStore.save(fixture(s), p, buckets = 8)
    }
    val t = graft.tree.TreeStore.load(s, dir)
    t.nodes.select(col("node_id"), col("parent_id"), col("depth"),
      col("pre"), col("post"), col("is_leaf"), col("tip_descendants"),
      col("ot_node_id"), col("tax_uid"), col("name"), col("unique_name"),
      to_json(col("supported_by")).as("supported_by_json"))
  }

  /** Real image decode through the multimodal partition batch: genuine
    * PNG byte streams (encoded deterministically via the JDK's ImageIO)
    * flow through [[Multimodal.extractMeta]], which decodes REAL
    * width/height with the same ImageIO — the oracle states the known
    * dimensions, so a decode that returns anything but the true pixel
    * grid fails.
    */
  val mmPngMeta: Q = (s, _) => {
    import s.implicits._
    val rows = (0 until 8).map { i =>
      Multimodal.MediaRow(i.toLong,
        Multimodal.encodePng(i % 4 + 1, i % 3 + 1, seed = i), "image")
    }
    Multimodal.extractMeta(s, rows.toDF()).toDF()
      .select(col("doc_id"), col("kind"), col("width"), col("height"),
        col("n_frames"))
  }

  /** Real JPEG bytes through the image leg: dimensions come off the
    * hand-rolled SOF marker walk ([[Multimodal.decodeJpegHeader]] —
    * header-only, no reader plugin, the AVI chunk walk's image
    * sibling), and the oracle states the encoded pixel grid, so a walk
    * that misparses any segment fails the gate. Dimensions 16×9 and up:
    * JPEG chroma subsampling is lossy about COLOR but never about the
    * frame header's size fields.
    */
  val mmJpegMeta: Q = (s, _) => {
    import s.implicits._
    val rows = (0 until 8).map { i =>
      Multimodal.MediaRow(i.toLong,
        Multimodal.encodeJpeg(16 * (i % 4 + 1), 9 * (i % 3 + 1), seed = i),
        "image")
    }
    Multimodal.extractMeta(s, rows.toDF()).toDF()
      .select(col("doc_id"), col("kind"), col("width"), col("height"),
        col("n_frames"))
  }

  /** The zero-job point-query serving path ([[graft.tree.TreeServing]],
    * the reference's Lucene-exact-hit analog): three `node_info` lookups
    * and one two-id `mrca` resolution answered entirely from the
    * driver-side hash index — the DuckDB oracle re-derives every emitted
    * field relationally (the MRCA from the dumped ancestors arrays), so
    * a stale or mis-keyed index breaks the hash.
    */
  val apiServing: Q = (s, _) => {
    import s.implicits._
    // built once per fixture frame (TreeServing.build memoises it)
    val idx = graft.tree.TreeServing.build(fixture(s))
    def shape(req: String, m: Map[String, Any]) =
      (req, m("ot_node_id").asInstanceOf[String],
        m("name").asInstanceOf[String], m("unique_name").asInstanceOf[String],
        Option(m("tax_uid")).map(_.asInstanceOf[Long]),
        m("tax_rank").asInstanceOf[String], m("num_tips").asInstanceOf[Long])
    val infos = Seq("ott1085739", "mrcaott90560ott1057518", "ott803675")
      .map(id => shape(s"info:$id", idx.nodeInfo(id).get))
    val r = idx.mrca(nodeIds = Seq("ott1085739", "ott90560"))
    require(r.ok, "serving mrca flagged bad ids on a valid request")
    val rows = infos :+ shape("mrca:ott1085739+ott90560",
      idx.nodeInfo(r.mrcaOtId).get)
    rows.toDF("req", "ot_node_id", "name", "unique_name", "tax_uid",
      "tax_rank", "num_tips")
  }

  /** Real audio-header decode through the multimodal partition batch:
    * genuine 16-bit PCM WAV byte streams (encoded deterministically via
    * the JDK's javax.sound.sampled) flow through [[Multimodal
    * .extractMeta]], which parses the REAL RIFF header — the oracle
    * states the known sample rates / channel counts / frame counts, so
    * a decode that reports anything but the true header values fails.
    */
  val mmWavMeta: Q = (s, _) => {
    import s.implicits._
    val rows = (0 until 8).map { i =>
      Multimodal.MediaRow(i.toLong,
        Multimodal.encodeWav(8000 * (i % 3 + 1), i % 2 + 1, 50 + i,
          seed = i), "audio")
    }
    Multimodal.extractMeta(s, rows.toDF()).toDF()
      .select(col("doc_id"), col("kind"), col("width").as("sample_rate"),
        col("height").as("channels"), col("n_frames"))
  }

  /** Real-video-decode gate: known-dimension AVI containers are encoded
    * ([[Multimodal.encodeAvi]]) and flow through [[Multimodal
    * .extractMeta]], which walks the REAL RIFF chunk tree to the
    * MainAVIHeader — the oracle states the known width/height/frame
    * counts, so a parse that reports anything but the true header values
    * fails. With this, all three media kinds decode real byte streams.
    */
  val mmVideoMeta: Q = (s, _) => {
    import s.implicits._
    val rows = (0 until 8).map { i =>
      Multimodal.MediaRow(i.toLong,
        Multimodal.encodeAvi(160 * (i % 4 + 1), 90 * (i % 4 + 1), 24 + i,
          usPerFrame = 33333 + i), "video")
    }
    Multimodal.extractMeta(s, rows.toDF()).toDF()
      .select(col("doc_id"), col("kind"), col("width"), col("height"),
        col("n_frames"))
  }

  /** Real-image-resize gate: known-fill PNGs ([[Multimodal.encodePng]]'s
    * deterministic (x·3163 + y·757 + seed·31) & 0xffffff pixels) are
    * rescaled by [[Multimodal.resizeImages]] (nearest-neighbor, srcX =
    * x·srcW/dstW integer floor) and the OUTPUT bytes re-decoded to a
    * pixel sum — which the oracle states in closed form over the same
    * floor arithmetic, so any deviation from the exact nearest-neighbor
    * pixel grid (wrong sampling, lossy re-encode, platform-dependent
    * filtering) breaks the hash.
    */
  val mmResize: Q = (s, _) => {
    import s.implicits._
    val rows = (0 until 8).map { i =>
      Multimodal.MediaRow(i.toLong,
        Multimodal.encodePng(8 + i, 6 + i, seed = i), "image")
    }
    Multimodal.resizeImages(rows.toDF(), dstW = 4, dstH = 3)
      .as[(Long, Array[Byte], String, Boolean)]
      .mapPartitions(_.map { case (id, bytes, _, resized) =>
        val (w, h, sum) = Multimodal.pixelSum(bytes).get
        (id, w.toLong, h.toLong, sum, resized)
      })
      .toDF("doc_id", "out_w", "out_h", "px_sum", "resized")
  }

  /** Frame sampling over REAL mixed media: a corpus of genuine PNG, WAV
    * and AVI byte streams flows through [[Multimodal.sampleFrames]] — the
    * frame counts the explode rides come from the real header decoders
    * (1 per image, PCM frames per WAV, dwTotalFrames per AVI), so the
    * oracle's closed-form row set only matches if every kind's REAL
    * decode fed the sampler through the one [[Multimodal.decodeMedia]]
    * dispatch.
    */
  val mmRealFrames: Q = (s, _) => {
    import s.implicits._
    val rows = (0 until 12).map { i =>
      (i % 3) match {
        case 0 => Multimodal.MediaRow(i.toLong,
          Multimodal.encodePng(i % 4 + 1, i % 3 + 1, seed = i), "image")
        case 1 => Multimodal.MediaRow(i.toLong,
          Multimodal.encodeWav(8000, 1, 20 + i, seed = i), "audio")
        case _ => Multimodal.MediaRow(i.toLong,
          Multimodal.encodeAvi(320, 180, 30 + i), "video")
      }
    }
    Multimodal.sampleFrames(rows.toDF(), everyK = 7)
  }

  /** SET4: ancestor-array overlap per tip pair (the bitset-intersection
    * analog); oracle via DuckDB list_intersect.
    */
  val set4AncestorOverlap: Q = (s, _) => {
    val t = fixture(s)
    val a = t.nodes.filter(col("is_leaf"))
      .select(col("ot_node_id").as("a_id"), col("ancestors").as("a_anc"))
    val b = t.nodes.filter(col("is_leaf"))
      .select(col("ot_node_id").as("b_id"), col("ancestors").as("b_anc"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_anc"), col("b_anc"))).cast("long")
          .as("n_common"))
  }

  val registry: Map[String, Q] = Map(
    "s2_taxonomy" -> s2Taxonomy,
    "f6_tax_sources" -> f6TaxSources,
    "s8_dot_lines" -> s8DotLines,
    "f7_tax_support" -> f7TaxSupport,
    "s3_annotations" -> s3Annotations,
    "j3_attr_join" -> j3AttrJoin,
    "set4_ancestor_overlap" -> set4AncestorOverlap,
    "s6_arguson" -> s6Arguson,
    "p8_whitelist" -> p8Whitelist,
    "o4_cap" -> o4Cap,
    "s4_store_roundtrip" -> s4StoreRoundtrip,
    "api_serving" -> apiServing,
    "mm_png_meta" -> mmPngMeta,
    "mm_jpeg_meta" -> mmJpegMeta,
    "mm_wav_meta" -> mmWavMeta,
    "mm_video_meta" -> mmVideoMeta,
    "mm_real_frames" -> mmRealFrames,
    "mm_resize" -> mmResize,
    "tree_multi" -> treeMulti,
    "ev_attribution" -> evAttribution,
    "ev_asof" -> evAsof,
    "ev_asof_static" -> evAsofStatic,
    "s10_edge_dump" -> s10EdgeDump,
    "s5_newick_tokens" -> s5NewickTokens,
    "s13_tax_newick" -> s13TaxNewick,
    "s11_mrp" -> s11Mrp,
    "a9_children" -> a9Children,
    "api_v2_about" -> apiV2About,
    "api_v2_subtree" -> apiV2Subtree,
    "api_draft_trees" -> apiDraftTrees,
    "api_v2_node_info" -> apiV2NodeInfo,
    "a2_depth_tips" -> a2DepthTips,
    "o3_subtree_pruned" -> o3SubtreePruned,
    "a6_supporting_studies" -> a6SupportingStudies,
    "ev_sessions" -> evSessions,
    "ev_interval_join" -> evIntervalJoin,
    "ev_interval_join_auto" -> evIntervalJoinAuto,
    "ev_overlap_join" -> evOverlapJoin,
    "ev_dedup" -> evDedup,
    "f10_mrca_codec" -> mrcaCodec,
    "mm_media_meta" -> mmMediaMeta,
    "mm_frames" -> mmFrames,
    "mm_chunks" -> mmChunks,
    "api_about" -> apiAbout,
    "api_node_info" -> apiNodeInfo,
    "api_mrca" -> apiMrca,
    "api_induced" -> apiInduced,
    "s12_nexson" -> ((s, _) =>
      Nexson.readStudy(s, s"$fixtureDir/study.nexson")
        .withColumn("child_ord", col("child_ord").cast("long"))),
    "api_v2_mrca" -> ((s, _) => {
      import s.implicits._
      val m = V2Adapter.mrca(fixture(s), nodeIds = Seq(1085739L, 90560L))
      Seq((m("mrca_node_id").asInstanceOf[Long],
        m("nearest_taxon_mrca_name").toString,
        m("nearest_taxon_mrca_ott_id").asInstanceOf[Long],
        m("tree_id").toString))
        .toDF("mrca_node_id", "nearest_taxon_mrca_name",
          "nearest_taxon_mrca_ott_id", "tree_id")
    })
  )

  /** Shared CTE: the raw taxonomy TSV re-parsed entirely in DuckDB (the
    * 1-byte-delim limit forces whole-line read + string_split on the
    * "\t|\t" separator).
    */
  private val rawTaxonomyCte =
    """raw AS (SELECT column0 AS line
      |  FROM read_csv('__FIXSRC__/gavia_taxonomy.tsv', delim=chr(1),
      |    header=false, quote='', columns={'column0':'VARCHAR'})),
      |f AS (SELECT string_split(line, chr(9)||'|'||chr(9)) AS p FROM raw
      |  WHERE NOT starts_with(line, 'uid') AND length(trim(line)) > 0)""".stripMargin

  /** The arguson blob's JSON escaping (backslash first, then quote) as
    * DuckDB SQL over an input expression — chr() codes only, because
    * backslash literals in an s-interpolated Scala string are
    * escape-processed into different SQL than the source shows.
    */
  private def jescSql(x: String): String =
    s"replace(replace($x, chr(92), chr(92)||chr(92)), chr(34), chr(92)||chr(34))"

  /** Shared CTE (plain string — the `$` JSON paths must not hit the
    * s-interpolator): every per-node annotation field extracted from the
    * RAW annotations JSON, plus the taxonomy version.
    */
  private val rawAnnCte =
    """j AS (SELECT json
      |  FROM read_json_objects('__FIXSRC__/gavia_annotations.json',
      |    format='unstructured') t(json)),
      |tv AS (SELECT json->>'$.taxonomy_version' AS tv FROM j),
      |k AS (SELECT unnest(json_keys(json, '$.nodes')) AS ot_node_id, json
      |  FROM j),
      |annx AS (SELECT ot_node_id,
      |  json_extract_string(json, '$.nodes."' || ot_node_id || '".supported_by') AS f_sb,
      |  json_extract_string(json, '$.nodes."' || ot_node_id || '".terminal') AS f_term,
      |  json_extract_string(json, '$.nodes."' || ot_node_id || '".partial_path_of') AS f_ppo,
      |  json_extract_string(json, '$.nodes."' || ot_node_id || '".resolves') AS f_res,
      |  json_extract_string(json, '$.nodes."' || ot_node_id || '".conflicts_with') AS f_cw,
      |  json_extract_string(json, '$.nodes."' || ot_node_id || '".resolved_by') AS f_rb
      |  FROM k)""".stripMargin

  // Shared DuckDB fragments for the session oracles: the guarded event
  // source and the gaps-and-islands chain (prefix+x/y/z/s), written
  // ONCE so a chain fix cannot desynchronize one oracle from
  // EventStreams.sessionIntervals. `s` holds the [st, en] interval per
  // (user, session); callers that only need `z` simply don't reference
  // it (DuckDB leaves unreferenced CTEs unevaluated).
  private val evGuardSql =
    """e AS (SELECT event_id, user_id, value, event_type,
      |    ts::TIMESTAMP AS t FROM events
      |  WHERE event_id IS NOT NULL AND ts IS NOT NULL
      |    AND user_id IS NOT NULL AND value IS NOT NULL)""".stripMargin
  private def sessChainSql(p: String, where: String, gapUs: Long): String =
    s"""${p}x AS (SELECT *, lag(epoch_us(t)) OVER
       |  (PARTITION BY user_id ORDER BY t, event_id) AS prev_us
       |  FROM e$where),
       |${p}y AS (SELECT *, CASE WHEN prev_us IS NULL
       |  OR epoch_us(t) - prev_us > $gapUs THEN 1 ELSE 0 END AS is_new
       |  FROM ${p}x),
       |${p}z AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
       |  ORDER BY t, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
       |  CURRENT ROW) AS session_idx FROM ${p}y),
       |${p}s AS (SELECT user_id, min(t) AS st, max(t) AS en
       |  FROM ${p}z GROUP BY user_id, session_idx)""".stripMargin

  // same session chain, intervals kept as timestamps, then the BETWEEN
  // containment join the chunked equi-join must reproduce — shared by
  // the manual-width and auto-width gates
  private lazy val evIntervalJoinOracle: String =
    s"WITH $evGuardSql,\n" + sessChainSql("", "", 600000000L) + "\n" +
      """SELECT e.user_id, e.event_id,
        |  strftime(e.t, '%Y-%m-%d %H:%M:%S.%f') AS ev_ts,
        |  strftime(s.st, '%Y-%m-%d %H:%M:%S.%f') AS session_start
        |FROM e JOIN s ON e.user_id = s.user_id
        |  AND e.t BETWEEN s.st AND s.en""".stripMargin

  private val evAsofOracle =
    """WITH u AS (
      |  SELECT user_id, ts::TIMESTAMP AS t, 0 AS side, event_id AS tie,
      |    event_id AS v_id, ts::TIMESTAMP AS v_ts, NULL::BIGINT AS c_id
      |  FROM events WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT user_id, ts::TIMESTAMP, 1, 0, NULL::BIGINT, NULL::TIMESTAMP,
      |    event_id
      |  FROM events WHERE event_type = 'click'),
      |m AS (SELECT user_id, t, side, c_id,
      |    last_value(v_id IGNORE NULLS) OVER w AS view_id,
      |    last_value(v_ts IGNORE NULLS) OVER w AS view_ts
      |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY t, side, tie
      |    ROWS UNBOUNDED PRECEDING))
      |SELECT c_id AS click_id, user_id, view_id,
      |  (epoch_us(t) - epoch_us(view_ts)) // 1000000 AS lag_sec
      |FROM m WHERE side = 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "s2_taxonomy" ->
      s"""WITH $rawTaxonomyCte
        |SELECT try_cast(p[1] AS BIGINT) AS tax_uid,
        |  try_cast(p[2] AS BIGINT) AS parent_uid,
        |  p[3] AS name, p[4] AS tax_rank, p[6] AS unique_name, p[7] AS flags
        |FROM f""".stripMargin,
    "f6_tax_sources" ->
      s"""WITH $rawTaxonomyCte,
        |t AS (SELECT try_cast(p[1] AS BIGINT) AS tax_uid, p[5] AS si
        |  FROM f WHERE length(p[5]) > 0),
        |u AS (SELECT tax_uid, unnest(string_split(si, ',')) AS kv FROM t)
        |SELECT tax_uid, string_split(kv, ':')[1] AS src,
        |  string_split(kv, ':')[2] AS src_id
        |FROM u""".stripMargin,
    "s3_annotations" ->
      """WITH j AS (SELECT json
        |  FROM read_json_objects('__FIXSRC__/gavia_annotations.json',
        |    format='unstructured') t(json)),
        |k AS (SELECT unnest(json_keys(json, '$.nodes')) AS ot_node_id, json
        |  FROM j),
        |e AS (SELECT ot_node_id,
        |  json_extract(json, '$.nodes."' || ot_node_id || '"') AS v FROM k)
        |SELECT ot_node_id,
        |  json_extract_string(v, '$.supported_by') AS supported_by_json,
        |  json_extract_string(v, '$.terminal') AS terminal_json,
        |  json_extract_string(v, '$.partial_path_of') AS partial_json,
        |  json_extract_string(v, '$.resolves') AS resolves_json,
        |  json_extract_string(v, '$.conflicts_with') AS conflicts_json,
        |  json_extract_string(v, '$.resolved_by') AS resolved_by_json,
        |  CAST(v->>'was_constrained' AS BOOLEAN) AS was_constrained,
        |  CAST(v->>'was_uncontested' AS BOOLEAN) AS was_uncontested
        |FROM e""".stripMargin,
    "j3_attr_join" ->
      s"""WITH $rawTaxonomyCte,
        |t AS (SELECT try_cast(p[1] AS BIGINT) AS uid, p[3] AS tname,
        |  p[4] AS trank, p[6] AS tuniq FROM f),
        |n AS (SELECT ot_node_id, tax_uid
        |  FROM read_parquet('__FIXTURE__/nodes/*.parquet'))
        |SELECT n.ot_node_id, t.tname AS name, t.trank AS tax_rank,
        |  CASE WHEN t.tuniq IS NULL OR t.tuniq = '' THEN t.tname
        |       ELSE t.tuniq END AS unique_name,
        |  n.tax_uid
        |FROM n LEFT JOIN t ON n.tax_uid = t.uid""".stripMargin,
    "s8_dot_lines" ->
      """WITH n AS (SELECT node_id, parent_id, ot_node_id
        |  FROM read_parquet('__FIXTURE__/nodes/*.parquet'))
        |SELECT '  n' || node_id || ' [label="' || ot_node_id || '"];' AS line
        |FROM n
        |UNION ALL
        |SELECT '  n' || node_id || ' -> n' || parent_id ||
        |  ' [label="SYNTHCHILDOF"];' AS line
        |FROM n WHERE parent_id <> -1""".stripMargin,
    "f7_tax_support" ->
      """WITH n AS (SELECT ot_node_id, tax_uid
        |  FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |j AS (SELECT json
        |  FROM read_json_objects('__FIXSRC__/gavia_annotations.json',
        |    format='unstructured') t(json)),
        |v AS (SELECT json->>'$.taxonomy_version' AS tv FROM j),
        |k AS (SELECT unnest(json_keys(json, '$.nodes')) AS ot_node_id, json
        |  FROM j),
        |a AS (SELECT ot_node_id, json_extract_string(json,
        |  '$.nodes."' || ot_node_id || '".supported_by') AS sb FROM k)
        |SELECT n.ot_node_id,
        |  CASE WHEN n.tax_uid IS NULL THEN a.sb
        |       WHEN a.sb IS NULL
        |         THEN '{"ott' || v.tv || '":"' || n.ot_node_id || '"}'
        |       ELSE substr(a.sb, 1, length(a.sb) - 1) ||
        |         ',"ott' || v.tv || '":"' || n.ot_node_id || '"}'
        |  END AS supported_by_json
        |FROM n LEFT JOIN a USING (ot_node_id) CROSS JOIN v""".stripMargin,
    // jesc(x): the blob's JSON escaping (backslash first, then quote) in
    // chr() form — backslash LITERALS inside an s-interpolated string are
    // escape-processed by Scala and compiled '\', '\\' down to no-op
    // needles, silently disabling the escaping (caught by review; chr(92)
    // / chr(34) cannot be touched by any host-language escaping)
    "s6_arguson" ->
      s"""WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |$rawAnnCte,
        |ann AS (SELECT n.node_id,
        |    CASE WHEN n.tax_uid IS NULL THEN x.f_sb
        |         WHEN x.f_sb IS NULL
        |           THEN '{"ott' || tv.tv || '":"' || n.ot_node_id || '"}'
        |         ELSE substr(x.f_sb, 1, length(x.f_sb) - 1) ||
        |           ',"ott' || tv.tv || '":"' || n.ot_node_id || '"}'
        |    END AS f_sb,
        |    x.f_term, x.f_ppo, x.f_res, x.f_cw, x.f_rb
        |  FROM n LEFT JOIN annx x USING (ot_node_id) CROSS JOIN tv),
        |named AS (SELECT node_id AS d_id, name AS d_name, pre AS d_pre,
        |    unnest(ancestors) AS anc FROM n WHERE name IS NOT NULL),
        |reps AS (SELECT anc AS node_id,
        |    arg_min(d_name, d_pre) AS first_named,
        |    arg_max(d_name, d_pre) AS last_named
        |  FROM named WHERE d_id <> anc GROUP BY anc),
        |b AS (SELECT n.node_id, n.parent_id, n.pre, n.post, n.depth, n.is_leaf,
        |  '{"node_id":"' || ${jescSql("n.ot_node_id")} ||
        |  '","num_tips":' || n.tip_descendants ||
        |  CASE WHEN n.name IS NOT NULL THEN
        |    ',"taxon":{"name":"' || ${jescSql("n.name")} ||
        |    '","unique_name":"' ||
        |    ${jescSql("coalesce(n.unique_name, n.name)")} || '"' ||
        |    CASE WHEN n.tax_rank IS NOT NULL THEN
        |      ',"rank":"' || ${jescSql("n.tax_rank")} || '"'
        |      ELSE '' END ||
        |    CASE WHEN n.tax_uid IS NOT NULL THEN ',"ott_id":' || n.tax_uid ELSE '' END ||
        |    '}'
        |  ELSE ',"descendant_name_list":[' ||
        |    CASE WHEN r.first_named IS NULL THEN ''
        |         WHEN r.first_named = r.last_named
        |           THEN '"' || ${jescSql("r.first_named")} || '"'
        |         ELSE '"' || ${jescSql("r.first_named")} ||
        |           '","' || ${jescSql("r.last_named")} || '"'
        |    END || ']'
        |  END ||
        |  coalesce(',"supported_by":' || a.f_sb, '') ||
        |  coalesce(',"terminal":' || a.f_term, '') ||
        |  coalesce(',"partial_path_of":' || a.f_ppo, '') ||
        |  coalesce(',"resolves":' || a.f_res, '') ||
        |  coalesce(',"conflicts_with":' || a.f_cw, '') ||
        |  coalesce(',"resolved_by":' || a.f_rb, '') AS blob
        |  FROM n LEFT JOIN reps r USING (node_id) LEFT JOIN ann a USING (node_id)),
        |root AS (SELECT node_id AS rid FROM n WHERE parent_id = -1),
        |fst AS (SELECT parent_id, min(pre) AS minpre FROM n GROUP BY 1),
        |eff AS (SELECT b.*, (b.node_id <> root.rid AND b.pre <> f2.minpre) AS needs_comma
        |  FROM b JOIN fst f2 ON b.parent_id = f2.parent_id CROSS JOIN root)
        |SELECT pre AS k1, 0 AS k2, CAST(0 AS BIGINT) AS k3,
        |  concat(CASE WHEN needs_comma THEN ',' ELSE '' END, blob,
        |    CASE WHEN is_leaf THEN '}' ELSE ',"children":[' END) AS token
        |FROM eff
        |UNION ALL
        |SELECT post, 1, -depth, ']}' FROM eff WHERE NOT is_leaf""".stripMargin,
    "p8_whitelist" ->
      s"""WITH $rawTaxonomyCte,
        |$rawAnnCte,
        |n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |req(id) AS (VALUES ('ott803675'), ('mrcaott651474ott1085739'),
        |  ('mrcaott90560ott1057518')),
        |ts AS (SELECT try_cast(p[1] AS BIGINT) AS uid,
        |  CASE WHEN p[5] IS NULL OR p[5] = '' THEN NULL ELSE
        |    '{' || array_to_string(list_transform(string_split(p[5], ','), kv ->
        |      '"' || string_split(kv, ':')[1] || '":"' ||
        |      string_split(kv, ':')[2] || '"'), ',') || '}'
        |  END AS tsj FROM f)
        |SELECT n.ot_node_id, n.name, n.unique_name, n.tax_uid, n.tax_rank,
        |  ts.tsj AS tax_sources_json, n.tip_descendants AS num_tips,
        |  n.supported_by_json,
        |  x.f_term AS terminal_json, x.f_ppo AS partial_json,
        |  x.f_res AS resolves_json, x.f_cw AS conflicts_json,
        |  x.f_rb AS resolved_by_json
        |FROM req JOIN n ON n.ot_node_id = req.id
        |LEFT JOIN annx x ON x.ot_node_id = n.ot_node_id
        |LEFT JOIN ts ON ts.uid = n.tax_uid""".stripMargin,
    "o4_cap" ->
      """WITH r AS (SELECT tip_descendants AS n
        |  FROM read_parquet('__FIXTURE__/nodes/*.parquet') WHERE parent_id = -1)
        |SELECT 'newick' AS op, CAST(100000 AS BIGINT) AS cap, n AS n_tips,
        |  n <= 100000 AS allowed FROM r
        |UNION ALL
        |SELECT 'arguson', CAST(25000 AS BIGINT), n, n <= 25000 FROM r
        |UNION ALL
        |SELECT 'newick_cap2', CAST(2 AS BIGINT), n, n <= 2 FROM r""".stripMargin,
    "s4_store_roundtrip" ->
      """SELECT node_id, parent_id, depth, pre, post, is_leaf,
        |  tip_descendants, ot_node_id, tax_uid, name, unique_name,
        |  supported_by_json
        |FROM read_parquet('__FIXTURE__/nodes/*.parquet')""".stripMargin,
    "api_serving" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |info AS (SELECT 'info:' || ot_node_id AS req, ot_node_id, name,
        |    unique_name, tax_uid, tax_rank, tip_descendants AS num_tips
        |  FROM n WHERE ot_node_id IN
        |    ('ott1085739', 'mrcaott90560ott1057518', 'ott803675')),
        |q AS (SELECT node_id, ancestors FROM n
        |  WHERE ot_node_id IN ('ott1085739', 'ott90560')),
        |x AS (SELECT node_id, unnest(ancestors) AS anc FROM q),
        |c AS (SELECT anc, count(DISTINCT node_id) AS nc FROM x GROUP BY anc),
        |m AS (SELECT c.anc FROM c JOIN n ON c.anc = n.node_id
        |  WHERE c.nc = (SELECT count(*) FROM q)
        |  ORDER BY n.depth DESC LIMIT 1)
        |SELECT 'mrca:ott1085739+ott90560' AS req, n.ot_node_id, n.name,
        |  n.unique_name, n.tax_uid, n.tax_rank,
        |  n.tip_descendants AS num_tips
        |FROM n JOIN m ON n.node_id = m.anc
        |UNION ALL SELECT * FROM info""".stripMargin,
    "mm_png_meta" ->
      """SELECT CAST(i AS BIGINT) AS doc_id, 'image' AS kind,
        |  CAST(i % 4 + 1 AS BIGINT) AS width,
        |  CAST(i % 3 + 1 AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS n_frames
        |FROM unnest(range(0, 8)) u(i)""".stripMargin,
    "mm_jpeg_meta" ->
      """SELECT CAST(i AS BIGINT) AS doc_id, 'image' AS kind,
        |  CAST(16 * (i % 4 + 1) AS BIGINT) AS width,
        |  CAST(9 * (i % 3 + 1) AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS n_frames
        |FROM unnest(range(0, 8)) u(i)""".stripMargin,
    "mm_wav_meta" ->
      """SELECT CAST(i AS BIGINT) AS doc_id, 'audio' AS kind,
        |  CAST(8000 * (i % 3 + 1) AS BIGINT) AS sample_rate,
        |  CAST(i % 2 + 1 AS BIGINT) AS channels,
        |  CAST(50 + i AS BIGINT) AS n_frames
        |FROM unnest(range(0, 8)) u(i)""".stripMargin,
    "mm_video_meta" ->
      """SELECT CAST(i AS BIGINT) AS doc_id, 'video' AS kind,
        |  CAST(160 * (i % 4 + 1) AS BIGINT) AS width,
        |  CAST(90 * (i % 4 + 1) AS BIGINT) AS height,
        |  CAST(24 + i AS BIGINT) AS n_frames
        |FROM unnest(range(0, 8)) u(i)""".stripMargin,
    "mm_resize" ->
      """SELECT CAST(i AS BIGINT) AS doc_id,
        |  CAST(4 AS BIGINT) AS out_w, CAST(3 AS BIGINT) AS out_h,
        |  CAST(sum(((x * (8 + i)) // 4 * 3163 + (y * (6 + i)) // 3 * 757
        |    + i * 31) & 16777215) AS BIGINT) AS px_sum,
        |  true AS resized
        |FROM unnest(range(0, 8)) u(i),
        |  unnest(range(0, 4)) v(x), unnest(range(0, 3)) w(y)
        |GROUP BY i""".stripMargin,
    "mm_real_frames" ->
      """WITH m AS (SELECT i,
        |    CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS kind,
        |    CASE i % 3 WHEN 0 THEN 1 WHEN 1 THEN 20 + i
        |      ELSE 30 + i END AS n
        |  FROM unnest(range(0, 12)) u(i))
        |SELECT CAST(i AS BIGINT) AS doc_id, kind, fi AS frame_idx,
        |  md5(i::VARCHAR || ':' || fi::VARCHAR) AS frame_sig
        |FROM m, unnest(range(0, n, 7)) v(fi)""".stripMargin,
    "set4_ancestor_overlap" ->
      """WITH n AS (SELECT ot_node_id, ancestors
        |  FROM read_parquet('__FIXTURE__/nodes/*.parquet') WHERE is_leaf)
        |SELECT a.ot_node_id AS a_id, b.ot_node_id AS b_id,
        |  CAST(len(list_intersect(a.ancestors, b.ancestors)) AS BIGINT)
        |    AS n_common
        |FROM n a JOIN n b ON a.ot_node_id < b.ot_node_id""".stripMargin,
    "ev_attribution" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts::TIMESTAMP AS vt
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, ts::TIMESTAMP AS ct
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id,
        |  (epoch_us(ct) - epoch_us(vt)) // 1000000 AS lag_sec
        |FROM v JOIN c ON c.user_id = v.user_id
        |  AND ct >= vt AND ct <= vt + INTERVAL 30 MINUTE""".stripMargin,
    // the same union+window formulation as the Spark operator: a shared
    // ORDER BY (t, side, tie) makes equal-instant and tie semantics
    // explicit and identical on both engines; ev_asof_static (the
    // snapshot serving shape) must agree with it row for row, so the
    // two gates share one oracle text
    "ev_asof" -> evAsofOracle,
    "ev_asof_static" -> evAsofOracle,
    "s10_edge_dump" ->
      """WITH n AS (SELECT node_id, ot_node_id, name
        |  FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |e AS (SELECT * FROM read_parquet('__FIXTURE__/edges/*.parquet'))
        |SELECT c.ot_node_id AS src_id, p.ot_node_id AS dst_id,
        |  c.name AS src_name, p.name AS dst_name, e.tree_id, e.branch_length
        |FROM e JOIN n c ON c.node_id = e.child_id
        |  JOIN n p ON p.node_id = e.parent_id""".stripMargin,
    "s11_mrp" ->
      """SELECT node_id AS tip_id, a AS clade_id
        |FROM read_parquet('__FIXTURE__/nodes/*.parquet'), unnest(ancestors) u(a)
        |WHERE is_leaf AND a <> node_id""".stripMargin,
    "s13_tax_newick" ->
      s"""WITH $rawTaxonomyCte,
        |tax AS (SELECT try_cast(p[1] AS BIGINT) AS uid,
        |  try_cast(p[2] AS BIGINT) AS puid, p[3] AS name FROM f),
        |lbl AS (SELECT uid, puid,
        |  concat(regexp_replace(coalesce(name, ''),
        |    '["_~`:;/\\[\\]{}|<>,.!@#$$%^&*()?+=\\\\\\s]+', '_', 'g'),
        |    '_ott', uid) AS label FROM tax),
        |j AS (SELECT c.uid, c.puid, c.label, par.label AS parent_label
        |  FROM lbl c LEFT JOIN lbl par ON c.puid = par.uid)
        |SELECT j.label, j.parent_label,
        |  CASE WHEN j.parent_label IS NOT NULL THEN
        |    CAST(row_number() OVER (PARTITION BY j.puid ORDER BY j.uid)
        |      AS INT) END AS child_pos
        |FROM j""".stripMargin,
    "s5_newick_tokens" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |root AS (SELECT node_id AS rid, pre AS rpre, post AS rpost
        |  FROM n WHERE parent_id = -1),
        |sub AS (SELECT n.*, root.rid FROM n, root
        |  WHERE n.pre BETWEEN root.rpre AND root.rpost),
        |fst AS (SELECT parent_id, min(pre) AS minpre FROM sub GROUP BY 1),
        |eff AS (SELECT sub.*,
        |    (sub.node_id <> sub.rid AND sub.pre <> f.minpre) AS needs_comma
        |  FROM sub JOIN fst f ON sub.parent_id = f.parent_id)
        |SELECT pre AS k1, 0 AS k2, CAST(0 AS BIGINT) AS k3,
        |  concat(CASE WHEN needs_comma THEN ',' ELSE '' END,
        |    CASE WHEN is_leaf THEN ot_node_id ELSE '(' END) AS token
        |FROM eff
        |UNION ALL
        |SELECT post, 1, -depth, concat(')', ot_node_id)
        |FROM eff WHERE NOT is_leaf
        |UNION ALL
        |SELECT rpost, 2, CAST(0 AS BIGINT), ';' FROM root""".stripMargin,
    "a9_children" ->
      """SELECT parent_id, count(*) AS n_children,
        |  string_agg(ot_node_id, ',' ORDER BY ot_node_id) AS children_csv
        |FROM read_parquet('__FIXTURE__/nodes/*.parquet')
        |WHERE parent_id <> -1
        |GROUP BY parent_id""".stripMargin,
    "ev_dedup" ->
      """WITH d AS (SELECT * FROM events UNION ALL SELECT * FROM events),
        |u AS (SELECT DISTINCT ON (event_id) event_type, value FROM d ORDER BY event_id)
        |SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM u GROUP BY event_type""".stripMargin,
    "ev_sessions" ->
      // the null exclusion mirrors sessionize/sessionizeBatch's
      // poison-row guard (no fixture nulls today; by-construction parity)
      (s"WITH $evGuardSql,\n" + sessChainSql("", "", 600000000L) + "\n" +
        """SELECT user_id, strftime(min(t), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
          |  count(*) AS n_events, round(sum(value), 2) AS sum_value
          |FROM z GROUP BY user_id, session_idx""".stripMargin),
    "ev_interval_join" -> evIntervalJoinOracle,
    // the auto-tuned form must produce the identical containment set —
    // chunk width is an execution detail, never an answer change
    "ev_interval_join_auto" -> evIntervalJoinOracle,
    "ev_overlap_join" ->
      // two per-type instances of the SAME shared session chain (24h
      // gap), then the inclusive overlap join the chunked form must
      // reproduce exactly
      (s"WITH $evGuardSql,\n" +
        sessChainSql("v", " WHERE event_type = 'view'", 86400000000L) + ",\n" +
        sessChainSql("c", " WHERE event_type = 'click'", 86400000000L) + "\n" +
        """SELECT vs.user_id,
          |  strftime(vs.st, '%Y-%m-%d %H:%M:%S.%f') AS v_start,
          |  strftime(cs.st, '%Y-%m-%d %H:%M:%S.%f') AS c_start
          |FROM vs JOIN cs ON vs.user_id = cs.user_id
          |  AND vs.st <= cs.en AND cs.st <= vs.en""".stripMargin),
    "f10_mrca_codec" ->
      """SELECT c_custkey,
        |  c_custkey + 10000000 * (c_custkey + 1) AS packed,
        |  (c_custkey + 10000000 * (c_custkey + 1)) % 10000000 AS back_a,
        |  (c_custkey + 10000000 * (c_custkey + 1)) // 10000000 AS back_b
        |FROM customer WHERE c_custkey < 100""".stripMargin,
    "mm_frames" ->
      """WITH m AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS kind,
        |    octet_length(encode(text)) AS blen
        |  FROM documents WHERE doc_id < 200),
        |f AS (SELECT doc_id, kind,
        |    CASE WHEN kind = 'image' THEN 1 ELSE blen % 1000 END AS n_frames
        |  FROM m)
        |SELECT doc_id, kind, fi AS frame_idx,
        |  md5(doc_id::VARCHAR || ':' || fi::VARCHAR) AS frame_sig
        |FROM f, unnest(range(0, n_frames, 4)) u(fi)
        |WHERE n_frames > 0""".stripMargin,
    "mm_chunks" ->
      """WITH p AS (SELECT doc_id, text AS payload FROM documents
        |  WHERE length(text) > 0)
        |SELECT doc_id, ci AS chunk_idx,
        |  CAST(length(substr(payload, CAST(ci * 256 + 1 AS INT), 256)) AS BIGINT)
        |    AS chunk_len,
        |  md5(substr(payload, CAST(ci * 256 + 1 AS INT), 256)) AS chunk_md5
        |FROM p, unnest(range(0, (length(payload) - 1) // 256 + 1)) u(ci)""".stripMargin,
    "mm_media_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS kind,
        |  octet_length(encode(text)) AS byte_len,
        |  16 * (octet_length(encode(text)) % 64 + 1) AS width,
        |  9 * (octet_length(encode(text)) % 64 + 1) AS height,
        |  CASE WHEN doc_id % 3 = 0 THEN 1
        |    ELSE octet_length(encode(text)) % 1000 END AS n_frames
        |FROM documents""".stripMargin,

    // ---- fixture-tree endpoint oracles. Verify dumps the ingested Gavia
    //      tables under outDir/_fixture and substitutes __FIXTURE__ /
    //      __FIXSRC__ with absolute paths before writing oracle_sql.json,
    //      so these run as plain DuckDB SQL against the same tables the
    //      endpoints query.
    "api_about" ->
      """SELECT m.tree_id, m.date_completed, m.taxonomy_version, m.num_tips,
        |  m.num_source_studies, m.num_source_trees,
        |  to_json(m.filtered_flags) AS filtered_flags,
        |  to_json(m.sources) AS sources,
        |  n.ot_node_id AS root_ot_node_id, n.name AS root_name,
        |  n.unique_name AS root_unique_name, n.tax_uid AS root_tax_uid,
        |  n.tip_descendants AS root_num_tips
        |FROM read_parquet('__FIXTURE__/tree_meta/*.parquet') m,
        |     read_parquet('__FIXTURE__/nodes/*.parquet') n
        |WHERE n.parent_id = -1""".stripMargin,
    "api_node_info" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |t AS (SELECT * FROM n WHERE ot_node_id = 'ott1085739'),
        |l AS (SELECT t.node_id, t.ot_node_id, t.name, t.unique_name,
        |        t.tax_uid, t.tax_rank, t.tip_descendants AS num_tips,
        |        unnest(t.ancestors) AS anc,
        |        generate_subscripts(t.ancestors, 1) AS pos,
        |        len(t.ancestors) AS la
        |      FROM t)
        |SELECT l.ot_node_id, l.name, l.unique_name, l.tax_uid, l.tax_rank,
        |  l.num_tips, CAST(l.la - 1 - l.pos AS BIGINT) AS lineage_pos,
        |  a.ot_node_id AS lineage_ot_id
        |FROM l JOIN n a ON a.node_id = l.anc
        |WHERE l.anc <> l.node_id""".stripMargin,
    "api_mrca" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |req(id) AS (VALUES ('ott1085739'), ('ott90560'), ('ottNOPE')),
        |found AS (SELECT n.node_id, n.ancestors FROM n
        |          JOIN req ON n.ot_node_id = req.id),
        |hits AS (SELECT node_id, unnest(ancestors) AS anc FROM found),
        |common AS (SELECT anc FROM hits GROUP BY anc
        |           HAVING count(DISTINCT node_id) = (SELECT count(*) FROM found)),
        |m AS (SELECT n.* FROM n JOIN common c ON n.node_id = c.anc
        |      ORDER BY n.depth DESC LIMIT 1),
        |nt AS (SELECT a.ot_node_id FROM m, n a
        |       WHERE a.tax_uid IS NOT NULL
        |         AND list_contains(m.ancestors, a.node_id)
        |       ORDER BY a.depth DESC LIMIT 1),
        |bad AS (SELECT coalesce(string_agg(req.id, ','), '') AS bad_node_ids,
        |               count(*) AS n_bad
        |        FROM req LEFT JOIN n ON n.ot_node_id = req.id
        |        WHERE n.node_id IS NULL)
        |SELECT m.ot_node_id AS mrca_ot_id, m.name AS mrca_name,
        |  CASE WHEN m.name IS NULL THEN (SELECT ot_node_id FROM nt) END
        |    AS nearest_taxon,
        |  b.bad_node_ids, b.n_bad = 0 AS ok
        |FROM m, bad b""".stripMargin,
    // MATERIALIZED CTEs: DuckDB 1.0 hits an internal binder error when the
    // unnest-derived CTEs here are inlined at multiple reference sites
    "api_induced" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |q(id) AS (VALUES ('ott1085739'), ('ott1057518'), ('ott90560')),
        |tips AS (SELECT n.* FROM n JOIN q ON n.ot_node_id = q.id),
        |paths AS MATERIALIZED (
        |  SELECT t.node_id AS tip, unnest(t.ancestors) AS anc,
        |         generate_subscripts(t.ancestors, 1) AS pos, t.ancestors AS arr
        |  FROM tips t),
        |p2 AS (SELECT tip, anc, arr[pos + 1] AS child_on_path FROM paths),
        |stats AS MATERIALIZED (
        |  SELECT p.anc, count(DISTINCT p.tip) AS n_tips,
        |         count(DISTINCT p.child_on_path) AS n_branch, d.depth
        |  FROM p2 p JOIN n d ON d.node_id = p.anc
        |  GROUP BY p.anc, d.depth),
        |m AS MATERIALIZED (
        |  SELECT anc AS mrca_id, depth AS mrca_depth FROM stats
        |  WHERE n_tips = (SELECT count(*) FROM tips)
        |  ORDER BY depth DESC LIMIT 1),
        |kept AS MATERIALIZED (SELECT DISTINCT node_id FROM (
        |    SELECT s.anc AS node_id FROM stats s, m
        |    WHERE (s.n_branch >= 2 AND s.depth >= m.mrca_depth)
        |       OR s.anc = m.mrca_id
        |    UNION ALL SELECT node_id FROM tips)),
        |kanc AS MATERIALIZED (SELECT node_id, anc, pos FROM (
        |    SELECT k.node_id AS node_id, unnest(nn.ancestors) AS anc,
        |           generate_subscripts(nn.ancestors, 1) AS pos
        |    FROM kept k JOIN n nn ON nn.node_id = k.node_id)),
        |cand AS (SELECT ka.node_id, ka.anc, ka.pos
        |         FROM kanc ka JOIN kept k2 ON ka.anc = k2.node_id
        |         CROSS JOIN m
        |         WHERE ka.anc <> ka.node_id AND ka.pos - 1 >= m.mrca_depth),
        |par AS (SELECT node_id, max(pos) AS mpos FROM cand GROUP BY node_id),
        |par2 AS (SELECT c.node_id, c.anc AS parent_id
        |         FROM cand c JOIN par p
        |           ON p.node_id = c.node_id AND p.mpos = c.pos)
        |SELECT nn.ot_node_id, pn.ot_node_id AS parent_ot_id,
        |  (nn.ot_node_id IN (SELECT id FROM q)) AS is_query
        |FROM kept k JOIN n nn ON nn.node_id = k.node_id
        |LEFT JOIN par2 ON par2.node_id = k.node_id
        |LEFT JOIN n pn ON pn.node_id = par2.parent_id""".stripMargin,
    "api_v2_mrca" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |req(id) AS (VALUES ('ott1085739'), ('ott90560')),
        |found AS (SELECT n.node_id, n.ancestors FROM n
        |          JOIN req ON n.ot_node_id = req.id),
        |hits AS (SELECT node_id, unnest(ancestors) AS anc FROM found),
        |common AS (SELECT anc FROM hits GROUP BY anc
        |           HAVING count(DISTINCT node_id) = (SELECT count(*) FROM found)),
        |m AS (SELECT n.* FROM n JOIN common c ON n.node_id = c.anc
        |      ORDER BY n.depth DESC LIMIT 1),
        |ntx AS (SELECT CASE WHEN m.name IS NOT NULL THEN m.node_id ELSE
        |          (SELECT a.node_id FROM n a
        |           WHERE a.tax_uid IS NOT NULL
        |             AND list_contains(m.ancestors, a.node_id)
        |           ORDER BY a.depth DESC LIMIT 1) END AS nid FROM m)
        |SELECT
        |  CASE WHEN m.ot_node_id LIKE 'mrcaott%' THEN
        |    CAST(regexp_extract(m.ot_node_id, 'mrcaott(\d+)ott(\d+)', 1) AS BIGINT)
        |    + 10000000 * CAST(regexp_extract(m.ot_node_id, 'mrcaott(\d+)ott(\d+)', 2) AS BIGINT)
        |  ELSE CAST(substr(m.ot_node_id, 4) AS BIGINT) END AS mrca_node_id,
        |  tn.name AS nearest_taxon_mrca_name,
        |  tn.tax_uid AS nearest_taxon_mrca_ott_id,
        |  (SELECT tree_id FROM read_parquet('__FIXTURE__/tree_meta/*.parquet'))
        |    AS tree_id
        |FROM m, ntx JOIN n tn ON tn.node_id = ntx.nid""".stripMargin,
    "api_v2_node_info" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |t AS (SELECT * FROM n WHERE ot_node_id = 'mrcaott90560ott1057518'),
        |l AS (SELECT t.ot_node_id AS self_ot, t.tip_descendants AS num_tips,
        |        unnest(t.ancestors) AS anc,
        |        generate_subscripts(t.ancestors, 1) AS pos,
        |        len(t.ancestors) AS la, t.node_id AS self
        |      FROM t)
        |SELECT
        |  CAST(regexp_extract(l.self_ot, 'mrcaott(\d+)ott(\d+)', 1) AS BIGINT)
        |    + 10000000 * CAST(regexp_extract(l.self_ot, 'mrcaott(\d+)ott(\d+)', 2) AS BIGINT)
        |    AS node_id,
        |  l.num_tips,
        |  (SELECT tree_id FROM read_parquet('__FIXTURE__/tree_meta/*.parquet'))
        |    AS tree_id,
        |  CAST(l.la - 1 - l.pos AS BIGINT) AS lin_pos,
        |  CASE WHEN a.ot_node_id LIKE 'mrcaott%' THEN
        |    CAST(regexp_extract(a.ot_node_id, 'mrcaott(\d+)ott(\d+)', 1) AS BIGINT)
        |    + 10000000 * CAST(regexp_extract(a.ot_node_id, 'mrcaott(\d+)ott(\d+)', 2) AS BIGINT)
        |  ELSE CAST(substr(a.ot_node_id, 4) AS BIGINT) END AS lin_node_id,
        |  coalesce(a.name, '') AS lin_name,
        |  CASE WHEN a.name IS NOT NULL THEN coalesce(a.tax_rank, '')
        |    ELSE '' END AS lin_rank,
        |  CASE WHEN a.name IS NOT NULL THEN coalesce(a.unique_name, '')
        |    ELSE '' END AS lin_unique_name,
        |  a.tax_uid AS lin_ott_id
        |FROM l JOIN n a ON a.node_id = l.anc
        |WHERE l.anc <> l.self""".stripMargin,
    "a2_depth_tips" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |r AS (SELECT pre, post, depth FROM n WHERE parent_id = -1),
        |d(v) AS (VALUES (1), (2))
        |SELECT CAST(d.v AS BIGINT) AS max_depth,
        |  (SELECT count(*) FROM n, r
        |   WHERE n.pre >= r.pre AND n.pre <= r.post
        |     AND n.depth - r.depth <= d.v
        |     AND (n.is_leaf OR n.depth - r.depth = d.v)) AS n_tips
        |FROM d""".stripMargin,
    "o3_subtree_pruned" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |r AS (SELECT node_id, pre, post, depth FROM n WHERE parent_id = -1),
        |sub AS MATERIALIZED (SELECT n.*, n.depth - r.depth AS rel_depth
        |  FROM n, r WHERE n.pre >= r.pre AND n.pre <= r.post),
        |deg AS (SELECT parent_id AS hi FROM n WHERE parent_id <> -1
        |  GROUP BY parent_id HAVING count(*) >= 2),
        |pairs AS MATERIALIZED (SELECT node_id, unnest(ancestors) AS anc FROM sub),
        |blocked AS (SELECT DISTINCT p.node_id
        |  FROM pairs p
        |  JOIN deg ON deg.hi = p.anc
        |  JOIN sub s2 ON s2.node_id = p.anc
        |  CROSS JOIN r
        |  WHERE p.anc <> p.node_id AND p.anc <> r.node_id)
        |SELECT s.ot_node_id, s.rel_depth, s.is_leaf FROM sub s
        |WHERE s.node_id NOT IN (SELECT node_id FROM blocked)""".stripMargin,
    "a6_supporting_studies" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |r AS (SELECT pre, post FROM n WHERE parent_id = -1),
        |sub AS (SELECT n.* FROM n, r WHERE n.pre >= r.pre AND n.pre <= r.post),
        |k AS (SELECT DISTINCT unnest(json_keys(supported_by_json)) AS source_id
        |  FROM sub WHERE supported_by_json IS NOT NULL)
        |SELECT k.source_id, sm.study_id, sm.git_sha
        |FROM k LEFT JOIN read_parquet('__FIXTURE__/source_map/*.parquet') sm
        |  ON sm.source_id = k.source_id""".stripMargin,
    "tree_multi" ->
      """WITH RECURSIVE
        |nm AS (SELECT * FROM read_parquet('__FIXTURE__/nodes_multi/*.parquet')),
        |e AS (SELECT tree_id, ot_node_id AS child, parent_ot AS parent
        |      FROM nm WHERE parent_ot IS NOT NULL),
        |roots AS (SELECT tree_id, ot_node_id FROM nm WHERE parent_ot IS NULL),
        |d(tree_id, ot, depth) AS (
        |  SELECT tree_id, ot_node_id, CAST(0 AS BIGINT) FROM roots
        |  UNION ALL
        |  SELECT e.tree_id, e.child, d.depth + 1
        |  FROM e JOIN d ON e.tree_id = d.tree_id AND e.parent = d.ot),
        |leaves AS (SELECT nm.tree_id, nm.ot_node_id FROM nm
        |  WHERE NOT EXISTS (SELECT 1 FROM e
        |    WHERE e.tree_id = nm.tree_id AND e.parent = nm.ot_node_id)),
        |anc(tree_id, leaf, a) AS (
        |  SELECT tree_id, ot_node_id, ot_node_id FROM leaves
        |  UNION ALL
        |  SELECT anc.tree_id, anc.leaf, e.parent
        |  FROM anc JOIN e ON e.tree_id = anc.tree_id AND e.child = anc.a),
        |tips AS (SELECT tree_id, a AS ot, count(*) AS tip_descendants
        |  FROM anc GROUP BY 1, 2)
        |SELECT d.tree_id, d.ot AS ot_node_id, d.depth, t.tip_descendants,
        |  EXISTS (SELECT 1 FROM leaves l
        |    WHERE l.tree_id = d.tree_id AND l.ot_node_id = d.ot) AS is_leaf
        |FROM d JOIN tips t ON t.tree_id = d.tree_id AND t.ot = d.ot""".stripMargin,
    "api_v2_about" ->
      """WITH m AS (SELECT * FROM read_parquet('__FIXTURE__/tree_meta/*.parquet')),
        |n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')
        |      WHERE parent_id = -1),
        |s AS (SELECT unnest(m.sources) AS source_id,
        |        CAST(generate_subscripts(m.sources, 1) - 1 AS BIGINT) AS source_pos
        |      FROM m)
        |SELECT m.date_completed AS date, n.tip_descendants AS num_tips,
        |  m.num_source_studies, m.taxonomy_version,
        |  CAST(substr(n.ot_node_id, 4) AS BIGINT) AS root_node_id,
        |  n.tax_uid AS root_ott_id, n.name AS root_taxon_name, m.tree_id,
        |  s.source_pos, sm.git_sha AS src_git_sha, sm.study_id AS src_study_id,
        |  sm.taxonomy AS src_taxonomy
        |FROM m, n, s
        |LEFT JOIN read_parquet('__FIXTURE__/source_map/*.parquet') sm
        |  ON sm.source_id = s.source_id""".stripMargin,
    "api_v2_subtree" ->
      """WITH n AS (SELECT * FROM read_parquet('__FIXTURE__/nodes/*.parquet')),
        |r AS (SELECT pre AS r_pre, post AS r_post FROM n WHERE tax_uid = 803675),
        |sub AS (SELECT n.* FROM n, r WHERE n.pre >= r.r_pre AND n.pre <= r.r_post),
        |v AS (SELECT node_id, parent_id, is_leaf, ot_node_id,
        |        CASE WHEN ot_node_id LIKE 'mrcaott%' THEN
        |          CAST(regexp_extract(ot_node_id, 'mrcaott(\d+)ott(\d+)', 1) AS BIGINT)
        |          + 10000000 * CAST(regexp_extract(ot_node_id, 'mrcaott(\d+)ott(\d+)', 2) AS BIGINT)
        |        ELSE CAST(substr(ot_node_id, 4) AS BIGINT) END AS v2_id,
        |        CASE WHEN name IS NOT NULL THEN
        |          regexp_replace(name || '_ott' || tax_uid,
        |            '["_~`:;/\[\]{}|<>,.!@#$%^&*()?+=\\\s]+', '_', 'g')
        |        ELSE '' END AS label
        |      FROM sub)
        |SELECT c.v2_id AS v2_node_id, p.v2_id AS v2_parent_id,
        |  c.label, c.is_leaf
        |FROM v c LEFT JOIN v p ON p.node_id = c.parent_id""".stripMargin,
    "api_draft_trees" ->
      """SELECT m.tree_id AS synth_id, m.date_completed, m.taxonomy_version,
        |  m.num_tips, m.num_source_studies, m.num_source_trees,
        |  n.ot_node_id AS root_node_id, n.name AS root_taxon_name,
        |  n.tax_uid AS root_ott_id
        |FROM read_parquet('__FIXTURE__/tree_meta/*.parquet') m,
        |     read_parquet('__FIXTURE__/nodes/*.parquet') n
        |WHERE n.parent_id = -1""".stripMargin,
    "s12_nexson" ->
      """WITH j AS (SELECT data.nexml AS nx
        |           FROM read_json_auto('__FIXSRC__/study.nexson')),
        |t AS (SELECT unnest(nx.trees.tree) AS tr, nx.otus.otu AS otus FROM j),
        |e AS (SELECT tr."@id" AS tree_id, unnest(tr.edge) AS ed,
        |             generate_subscripts(tr.edge, 1) AS ord,
        |             tr.node AS nodes, otus FROM t),
        |nm AS (SELECT unnest(nodes) AS nd FROM (SELECT DISTINCT nodes FROM e)),
        |om AS (SELECT unnest(otus) AS o FROM (SELECT DISTINCT otus FROM e)),
        |omap AS (SELECT o."@id" AS otu_id, o."@label" AS label,
        |           (SELECT CAST(m."$" AS BIGINT)
        |            FROM (SELECT unnest(o.meta) AS m)
        |            WHERE m."@property" = 'ot:ottId' LIMIT 1) AS ott_id
        |         FROM om)
        |SELECT e.tree_id, e.ed."@target" AS child, e.ed."@source" AS parent,
        |       CAST(e.ord - 1 AS BIGINT) AS child_ord,
        |       CAST(e.ed."@length" AS DOUBLE) AS branch_length,
        |       omap.label, omap.ott_id, pmap.label AS parent_label
        |FROM e
        |LEFT JOIN nm ON nm.nd."@id" = e.ed."@target"
        |LEFT JOIN omap ON omap.otu_id = nm.nd."@otu"
        |LEFT JOIN nm pm ON pm.nd."@id" = e.ed."@source"
        |LEFT JOIN omap pmap ON pmap.otu_id = pm.nd."@otu"""".stripMargin
  )
}
