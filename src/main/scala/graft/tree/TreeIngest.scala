package graft.tree

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ingest pipeline (SURVEY §2.1 S1–S4): labelled-supertree newick +
  * OTT taxonomy TSV + annotations JSON → labeled `nodes`, `edges`,
  * `tree_meta`, `source_map` DataFrames (reference flow:
  * IngestSynthesisData.java:92-143).
  *
  * Deliberate departures from the reference (SURVEY §1.3 "wart to NOT
  * replicate"): annotation maps/arrays are stored as native MapType/
  * ArrayType columns instead of `:`/`,`/`&`-packed strings
  * (IngestSynthesisData.java:460-480), and the string-encoded `tax_source`
  * ("ncbi:123,gbif:456") becomes Map[String,String] at ingest.
  */
object TreeIngest {

  final case class Ingested(
      nodes: DataFrame,    // labeled + ot attributes + annotations (persisted)
      edges: DataFrame,    // child_id, parent_id, child_ord, branch_length, tree_id
      treeMeta: DataFrame, // one row of tree-level metadata
      sourceMap: DataFrame // (source_id, git_sha, tree_id, study_id)
  ) {
    /** Synth tree id, fetched once per Ingested — serving endpoints stamp it
      * into every response and must not pay a Spark job each time.
      */
    lazy val treeIdStr: String =
      treeMeta.select(org.apache.spark.sql.functions.col("tree_id"))
        .head().getString(0)

    /** source_id → non-null blob fields, collected once (the source map is
      * request-metadata-sized; arguson / v2 about splice it per call).
      */
    lazy val sourceBlobs: Map[String, Map[String, String]] =
      sourceMap.collect().map { r =>
        r.getAs[String]("source_id") -> Seq(
          "git_sha" -> r.getAs[String]("git_sha"),
          "tree_id" -> r.getAs[String]("source_tree_id"),
          "study_id" -> r.getAs[String]("study_id"),
          "taxonomy" -> r.getAs[String]("taxonomy"))
          .filter(_._2 != null).toMap
      }.toMap
  }

  /** Per-node annotation payload (annotations JSON `nodes.{ot_node_id}`,
    * IngestSynthesisData.java:462-498). Sources of map-of-array fields keep
    * their arrays (reference flattens them into '&'-packed strings).
    */
  val annotationSchema: DataType = MapType(StringType, StructType(Seq(
    StructField("supported_by", MapType(StringType, StringType)),
    StructField("terminal", MapType(StringType, StringType)),
    StructField("partial_path_of", MapType(StringType, StringType)),
    StructField("resolves", MapType(StringType, StringType)),
    StructField("conflicts_with", MapType(StringType, ArrayType(StringType))),
    StructField("resolved_by", MapType(StringType, ArrayType(StringType))),
    StructField("was_constrained", BooleanType),
    StructField("was_uncontested", BooleanType))))

  val sourceMapSchema: DataType =
    MapType(StringType, MapType(StringType, StringType))

  /** One source synth tree for [[ingestAll]]. */
  final case class TreeSource(newickPath: String, annotationsPath: String,
      taxonomyPath: String, treeId: String)

  /** Multiple synth trees in one store (the reference's actual data model,
    * GraphExplorer.java:95-114: several synthesis versions coexist and
    * every traversal filters by tree name, DraftTreePathExpander.java:36-45).
    * Node id spaces are disjoint; the combined forest is labeled in ONE
    * pass, so pre/post intervals are globally unique with contiguous
    * per-tree blocks. `tree(id)` is the per-traversal discriminator: a
    * filtered view on which every single-tree endpoint works unchanged.
    */
  final case class MultiIngested(
      nodes: DataFrame, edges: DataFrame, treeMeta: DataFrame,
      sourceMap: DataFrame) {
    def treeIds: Seq[String] =
      treeMeta.select(col("tree_id")).collect().map(_.getString(0)).toSeq
    def tree(treeId: String): Ingested = Ingested(
      nodes.filter(col("tree_id") === treeId),
      edges.filter(col("tree_id") === treeId),
      treeMeta.filter(col("tree_id") === treeId),
      sourceMap.filter(col("tree_id") === treeId))
  }

  /** Parse the newick (driver-side: it is one string, as in the reference,
    * TreeReader.java:20-143) and label it with [[labelParsed]]: the parse
    * already holds the tree in preorder on the driver, so labeling is one
    * O(n) sweep, not the distributed pointer doubling of [[TreeLabeler]].
    */
  def ingest(spark: SparkSession, newickPath: String, annotationsPath: String,
      taxonomyPath: String, treeId: String): Ingested = {
    val parsed = Newick.parse(readWhole(spark, newickPath))
    ingestParsed(spark, parsed, annotationsPath, taxonomyPath, treeId)
  }

  private def readWhole(spark: SparkSession, path: String): String =
    spark.read.option("wholetext", "true").text(path)
      .head().getString(0).trim

  /** Ingest several synth trees into one store: disjoint node ids, one
    * forest labeling pass, per-tree attribute joins, unioned tables.
    */
  def ingestAll(spark: SparkSession, sources: Seq[TreeSource]): MultiIngested = {
    var offset = 0L
    val perTree = sources.map { src =>
      val parsed = Newick.parse(readWhole(spark, src.newickPath))
      val shifted = parsed.map(p => p.copy(
        nodeId = p.nodeId + offset,
        parentId = if (p.parentId < 0) -1L else p.parentId + offset))
      val lo = offset
      offset += parsed.length
      (src, shifted, lo, offset)
    }
    val edgesAll = perTree.map { case (src, shifted, _, _) =>
      edgesOf(spark, parsedDf(spark, shifted), src.treeId)
    }.reduce(_ unionByName _)
    // the shifted trees concatenate to one preorder forest: `pre` is the
    // global index, so each tree's interval block is contiguous
    val labeled = labelParsed(spark, perTree.flatMap(_._2).toIndexedSeq)
    val parts = perTree.map { case (src, shifted, lo, hi) =>
      val sub = labeled.filter(col("node_id") >= lo && col("node_id") < hi)
      attach(spark, sub, parsedDf(spark, shifted),
        edgesAll.filter(col("tree_id") === src.treeId),
        src.annotationsPath, src.taxonomyPath, src.treeId)
    }
    MultiIngested(
      parts.map(_.nodes).reduce(_ unionByName _),
      parts.map(_.edges).reduce(_ unionByName _),
      parts.map(_.treeMeta).reduce(_ unionByName _),
      parts.map(_.sourceMap).reduce(_ unionByName _))
  }

  /** Ingest ONE tree with its node-id space shifted above `idOffset` —
    * the incremental-append path ([[TreeStore.appendTree]]): only the new
    * tree pays a labeling pass, existing trees are untouched (the
    * reference can only rebuild its whole DB to add a synthesis version,
    * MainRunner.java:49-57).
    */
  def ingestOffset(spark: SparkSession, src: TreeSource,
      idOffset: Long): Ingested = {
    val parsed = Newick.parse(readWhole(spark, src.newickPath))
    val shifted = parsed.map(p => p.copy(
      nodeId = p.nodeId + idOffset,
      parentId = if (p.parentId < 0) -1L else p.parentId + idOffset))
    ingestParsed(spark, shifted, src.annotationsPath, src.taxonomyPath,
      src.treeId)
  }

  private def parsedDf(spark: SparkSession, parsed: IndexedSeq[ParsedNode]): DataFrame =
    spark.createDataFrame(parsed).withColumnRenamed("label", "ot_node_id")

  private def edgesOf(spark: SparkSession, parsedDf: DataFrame, treeId: String): DataFrame =
    parsedDf.filter(col("parentId") >= 0)
      .select(col("nodeId").as("child_id"), col("parentId").as("parent_id"),
        col("childOrd").as("child_ord"), col("branchLength").as("branch_length"))
      .withColumn("tree_id", lit(treeId))

  def ingestParsed(spark: SparkSession, parsed: IndexedSeq[ParsedNode],
      annotationsPath: String, taxonomyPath: String, treeId: String): Ingested = {
    val pdf = parsedDf(spark, parsed)
    val edges = edgesOf(spark, pdf, treeId)
    // ---- labeling pass (depth/pre/post/ancestors/tip_descendants)
    val labeled = labelParsed(spark, parsed)
    attach(spark, labeled, pdf, edges, annotationsPath, taxonomyPath, treeId)
  }

  /** Per-node labels of a preorder forest, by array index, shipped to the
    * tasks that build the rows. `parent` is an index (-1 at a root).
    */
  private final case class Sweep(base: Long, parent: Array[Int],
      depth: Array[Int], childOrd: Array[Int], nDesc: Array[Int],
      tips: Array[Int])

  /** The [[TreeLabeler.label]] schema: same columns, order, types and
    * nullability (its `post` and `tip_descendants` come out of nullable
    * aggregates), so stores written by either labeler append alike.
    */
  private val labeledSchema = StructType(Seq(
    StructField("node_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = false),
    StructField("root_id", LongType, nullable = false),
    StructField("depth", LongType, nullable = false),
    StructField("child_ord", IntegerType, nullable = false),
    StructField("ancestors", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("pre", LongType, nullable = false),
    StructField("post", LongType, nullable = true),
    StructField("is_leaf", BooleanType, nullable = false),
    StructField("tip_descendants", LongType, nullable = true),
    StructField("n_desc", LongType, nullable = false)))

  /** Label a parsed tree — or a forest of parsed trees concatenated back
    * to back, ids shifted as [[ingestAll]] and [[ingestOffset]] shift them —
    * with the same rows as [[TreeLabeler.label]] over its edges.
    * [[Newick.parse]] emits nodes in preorder with `nodeId` equal to the
    * preorder index, so one driver-side pass over the array yields the
    * labels: the parent index and `depth` forward; `n_desc`,
    * `tip_descendants` and `is_leaf` backward; `pre` is the array index and
    * `post = pre + n_desc - 1`. The O(n·depth) `ancestors` arrays (and
    * `root_id`, their head) are built in tasks from a broadcast of the
    * per-node arrays (one stage, no shuffle), so the driver never holds
    * them. Unlike [[TreeLabeler]] a single-node tree labels as a root with
    * `pre = post = 0`.
    *
    * The input must be a preorder: ids `parsed(0).nodeId + i`, every
    * parent on the path to the previous node, siblings in increasing
    * `childOrd`. Anything else fails with the offending node.
    *
    * The returned frame is lazy and recomputes from the broadcast on each
    * read, so the broadcast is left alive.
    */
  def labelParsed(spark: SparkSession, parsed: IndexedSeq[ParsedNode]): DataFrame = {
    val n = parsed.length
    val base = if (n == 0) 0L else parsed(0).nodeId
    val parent = new Array[Int](n)
    val depth = new Array[Int](n)
    val childOrd = new Array[Int](n)
    val path = new Array[Int](n) // path(0..top): root → previous node
    var top = -1
    def notPreorder(why: String) =
      s"labelParsed: $why — input is not a preorder array"
    var i = 0
    while (i < n) {
      val p = parsed(i)
      require(p.nodeId == base + i, notPreorder(
        s"node at index $i has id ${p.nodeId}, expected ${base + i}"))
      if (p.parentId < 0) {
        parent(i) = -1
        top = -1
      } else {
        val pi = p.parentId - base
        val prevTop = top
        while (top >= 0 && path(top) != pi) top -= 1
        require(top >= 0, notPreorder(s"node ${p.nodeId} has parent " +
          s"${p.parentId}, which is not an ancestor of the previous node"))
        // the node popped just above the parent is the previous sibling
        require(top == prevTop || p.childOrd > childOrd(path(top + 1)),
          notPreorder(s"node ${p.nodeId} has child_ord ${p.childOrd}, not " +
            "above its previous sibling's"))
        parent(i) = pi.toInt
      }
      childOrd(i) = p.childOrd
      top += 1
      path(top) = i
      depth(i) = top
      i += 1
    }
    // backward: every child sits at a higher index than its parent
    val nDesc = Array.fill(n)(1)
    val tips = new Array[Int](n)
    i = n - 1
    while (i >= 0) {
      if (nDesc(i) == 1) tips(i) = 1
      val pi = parent(i)
      if (pi >= 0) {
        nDesc(pi) += nDesc(i)
        tips(pi) += tips(i)
      }
      i -= 1
    }

    val sweep = spark.sparkContext.broadcast(
      Sweep(base, parent, depth, childOrd, nDesc, tips))
    val slices = math.max(1, math.min(n, spark.sparkContext.defaultParallelism))
    val rows = spark.sparkContext.range(0L, n.toLong, 1L, slices)
      .mapPartitions { ids =>
        val s = sweep.value
        ids.map { id =>
          val i = id.toInt
          val d = s.depth(i)
          val ancestors = new Array[Long](d + 1)
          var j = i
          var k = d
          while (k >= 0) {
            ancestors(k) = s.base + j
            j = s.parent(j)
            k -= 1
          }
          val pi = s.parent(i)
          Row(s.base + i, if (pi < 0) -1L else s.base + pi, ancestors(0),
            d.toLong, s.childOrd(i), ancestors, id, id + s.nDesc(i) - 1,
            s.nDesc(i) == 1, s.tips(i).toLong, s.nDesc(i).toLong)
        }
      }
    spark.createDataFrame(rows, labeledSchema)
  }

  /** Join ot attributes + taxonomy + annotations onto a labeled (sub)tree
    * and assemble the per-tree store tables.
    */
  private def attach(spark: SparkSession, labeled: DataFrame, parsedDf: DataFrame,
      edges: DataFrame, annotationsPath: String, taxonomyPath: String,
      treeId: String): Ingested = {

    // ---- S2: taxonomy TSV (fields separated by "\t|\t",
    //          IngestSynthesisData.java:208-240), semi-joined to tree ids (J1)
    val taxonomy = readTaxonomy(spark, taxonomyPath)

    // ---- S3: annotations JSON → per-node annotations, tree meta, source map
    val annText = spark.read.option("wholetext", "true").text(annotationsPath)
      .select(col("value").as("j"))
    val annotations = readAnnotations(spark, annotationsPath)

    val treeMetaRaw = annText.select(
      get_json_object(col("j"), "$.tree_id").as("tree_id"),
      get_json_object(col("j"), "$.date_completed").as("date_completed"),
      get_json_object(col("j"), "$.taxonomy_version").as("taxonomy_version"),
      get_json_object(col("j"), "$.num_tips").cast("long").as("num_tips"),
      get_json_object(col("j"), "$.num_source_studies").cast("long").as("num_source_studies"),
      get_json_object(col("j"), "$.num_source_trees").cast("long").as("num_source_trees"),
      from_json(get_json_object(col("j"), "$.filtered_flags"),
        ArrayType(StringType)).as("filtered_flags"),
      from_json(get_json_object(col("j"), "$.sources"),
        ArrayType(StringType)).as("sources"))

    val srcExploded = annText
      .select(explode(from_json(get_json_object(col("j"), "$.source_id_map"),
        sourceMapSchema)).as(Seq("raw_source_id", "m")))
      .select(col("raw_source_id"), col("m")("git_sha").as("git_sha"),
        col("m")("tree_id").as("source_tree_id"),
        col("m")("study_id").as("study_id"),
        col("m")("taxonomy").as("taxonomy"))
      // canonicalize to the WIRE form: the raw file keys study sources as
      // "pg_01_tree1", but every node blob (supported_by etc.) and every
      // served response uses "pg_01@tree1" (ws-tests/check.py:69-81
      // REQUIRES '@' or '.') — left keyed raw, the blob→source join could
      // never resolve a study and arguson would serve empty source blobs
      .withColumn("source_id",
        when(col("study_id").isNotNull && col("source_tree_id").isNotNull,
          concat(col("study_id"), lit("@"), col("source_tree_id")))
          .otherwise(col("raw_source_id")))

    val sourceMap = srcExploded.drop("raw_source_id")
      .select(col("source_id"), col("git_sha"), col("source_tree_id"),
        col("study_id"), col("taxonomy"))
      .withColumn("tree_id", lit(treeId))

    // raw→wire key map for the meta `sources` array (same rewrite; the
    // source map is request-metadata-sized, so the collect is one tiny job)
    val rawToWire: Map[String, String] = srcExploded
      .select(col("raw_source_id"), col("source_id")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    // one head() fetches both meta scalars. The annotations' declared
    // tree_id must AGREE with the caller's: nodes/edges/source_map are
    // stamped with the param, so a silent mismatch would leave tree_meta
    // keyed differently from every other table (per-tree views empty,
    // recoverAppend filtering the wrong rows)
    val metaHead = treeMetaRaw
      .select(col("taxonomy_version"), col("tree_id")).head()
    val taxonomyVersion = metaHead.getString(0)
    val declaredId = metaHead.getString(1)
    require(declaredId == null || declaredId == treeId,
      s"annotations declare tree_id '$declaredId' but ingest was called " +
        s"with treeId '$treeId' — the store tables would disagree")

    // ---- J2/J3: tree ⟕ taxonomy ⟕ annotations; taxonomy-support injection
    //      for ott* nodes (IngestSynthesisData.java:484-496); unique_name
    //      falls back to name when empty (IngestSynthesisData.java:247-251)
    val ids = parsedDf.select(col("nodeId").as("node_id"), col("ot_node_id"))
      .withColumn("tax_uid",
        when(col("ot_node_id").rlike("^ott\\d+$"),
          regexp_extract(col("ot_node_id"), "^ott(\\d+)$", 1).cast("long")))

    val bl = edges.select(col("child_id").as("node_id"), col("branch_length"))

    val nodes = labeled
      .join(ids, "node_id")
      .join(bl, Seq("node_id"), "left_outer")
      .join(taxonomy, Seq("tax_uid"), "left_outer")
      .join(annotations, Seq("ot_node_id"), "left_outer")
      .withColumn("unique_name",
        when(col("unique_name").isNull || col("unique_name") === "", col("name"))
          .otherwise(col("unique_name")))
      .withColumn("supported_by",
        when(col("tax_uid").isNotNull,
          map_concat(coalesce(col("supported_by"),
              map().cast(MapType(StringType, StringType))),
            map(concat(lit("ott"), lit(taxonomyVersion)), col("ot_node_id"))))
          .otherwise(col("supported_by")))
      .withColumn("tree_id", lit(treeId))

    // Persist the serving table: every endpoint action re-reads it, and the
    // taxonomy/annotation join pipeline must run once at ingest, not per
    // query (the reference likewise materializes its graph at ingest).
    val nodesP = nodes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // root ot id onto tree meta (IngestSynthesisData.java:346-349)
    val rootOt = nodesP.filter(col("parent_id") === -1L)
      .select(col("ot_node_id")).head().getString(0)
    // tree_id pinned to the caller's (validated equal above when the JSON
    // declares one) — all four tables key identically even when the
    // annotations omit the field
    val treeMeta = treeMetaRaw.withColumn("root_ot_node_id", lit(rootOt))
      .withColumn("tree_id", lit(treeId))
      // the meta sources LIST gets the same raw→wire rewrite as the
      // source map, so study_list order lookups resolve (unknown entries
      // pass through unchanged; a null array stays null)
      .withColumn("sources", transform(col("sources"),
        x => coalesce(element_at(typedLit(rawToWire), x), x)))

    Ingested(nodesP, edges, treeMeta, sourceMap)
  }

  /** Per-node annotations from the synthesis annotations JSON
    * (`nodes.{ot_node_id}` object, IngestSynthesisData.java:462-498) as
    * native typed columns — one row per annotated node.
    */
  def readAnnotations(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .select(col("value").as("j"))
      .select(explode(from_json(get_json_object(col("j"), "$.nodes"),
        annotationSchema)).as(Seq("ot_node_id", "ann")))
      .select(col("ot_node_id"), col("ann.*"))

  /** Taxonomy TSV: header starts with "uid", fields separated by "\t|\t",
    * 7 columns: uid, parent_uid, name, rank, sourceinfo, uniqname, flags.
    * sourceinfo ("ncbi:123,gbif:456") is unpacked to a native map (the
    * reference re-parses the packed string per query,
    * GraphExplorer.java:186-190).
    */
  def readTaxonomy(spark: SparkSession, path: String): DataFrame = {
    spark.read.text(path)
      .filter(!col("value").startsWith("uid") && length(trim(col("value"))) > 0)
      .select(split(col("value"), "\t\\|\t").as("f"))
      .select(
        expr("try_cast(element_at(f, 1) AS BIGINT)").as("tax_uid"),
        expr("try_cast(element_at(f, 2) AS BIGINT)").as("parent_uid"),
        element_at(col("f"), 3).as("name"),
        element_at(col("f"), 4).as("tax_rank"),
        str_to_map(element_at(col("f"), 5), lit(","), lit(":")).as("tax_sources"),
        element_at(col("f"), 6).as("unique_name"),
        element_at(col("f"), 7).as("flags"))
  }
}
