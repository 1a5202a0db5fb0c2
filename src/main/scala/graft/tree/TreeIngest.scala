package graft.tree

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ingest pipeline (SURVEY §2.1 S1–S4): labelled-supertree newick +
  * OTT taxonomy TSV + annotations JSON → labeled `nodes`, `edges`,
  * `tree_meta`, `source_map` DataFrames (reference flow:
  * IngestSynthesisData.java:92-143).
  *
  * Ingest starts no Spark job. The driver reads each input file once, as
  * the reference does ([[IngestFiles]]): the newick is parsed in one
  * string (TreeReader.java:20-143), the annotations JSON is streamed once
  * for the tree-level fields, the source map and the tree's node entries
  * (IngestSynthesisData.java:277-287), and the taxonomy TSV is streamed
  * line by line keeping only the tree's `ott<uid>` rows
  * (IngestSynthesisData.java:161-180,184-274). The node rows are then
  * built in one stage from a broadcast of per-node arrays (the labels of
  * [[labelParsed]] plus the taxonomy and annotation payloads), with no
  * join; `tree_meta` and `source_map` are local relations. `nodes` is
  * persisted lazily, so the first store write runs that stage once.
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
  val annotationStruct: StructType = StructType(Seq(
    StructField("supported_by", MapType(StringType, StringType)),
    StructField("terminal", MapType(StringType, StringType)),
    StructField("partial_path_of", MapType(StringType, StringType)),
    StructField("resolves", MapType(StringType, StringType)),
    StructField("conflicts_with", MapType(StringType, ArrayType(StringType))),
    StructField("resolved_by", MapType(StringType, ArrayType(StringType))),
    StructField("was_constrained", BooleanType),
    StructField("was_uncontested", BooleanType)))

  val annotationSchema: DataType = MapType(StringType, annotationStruct)

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
    * TreeReader.java:20-143) and ingest it with [[ingestParsed]].
    */
  def ingest(spark: SparkSession, newickPath: String, annotationsPath: String,
      taxonomyPath: String, treeId: String): Ingested =
    ingestParsed(spark, Newick.parse(IngestFiles.readText(spark, newickPath)),
      annotationsPath, taxonomyPath, treeId)

  /** Ingest several synth trees into one store: disjoint node ids, one
    * forest labeling pass and one row-building stage for all of them.
    */
  def ingestAll(spark: SparkSession, sources: Seq[TreeSource]): MultiIngested = {
    var offset = 0L
    val parts = sources.map { src =>
      val parsed = shift(Newick.parse(IngestFiles.readText(spark, src.newickPath)), offset)
      offset += parsed.length
      Part(parsed, src)
    }
    val t = build(spark, parts)
    MultiIngested(t.nodes, t.edges, t.treeMeta, t.sourceMap)
  }

  /** Ingest ONE tree with its node-id space shifted above `idOffset` —
    * the incremental-append path ([[TreeStore.appendTree]]): only the new
    * tree pays a labeling pass, existing trees are untouched (the
    * reference can only rebuild its whole DB to add a synthesis version,
    * MainRunner.java:49-57).
    */
  def ingestOffset(spark: SparkSession, src: TreeSource,
      idOffset: Long): Ingested =
    build(spark, Seq(Part(shift(Newick.parse(
      IngestFiles.readText(spark, src.newickPath)), idOffset), src)))

  /** Ingest a parsed tree with its side files; starts no Spark job. */
  def ingestParsed(spark: SparkSession, parsed: IndexedSeq[ParsedNode],
      annotationsPath: String, taxonomyPath: String, treeId: String): Ingested =
    build(spark, Seq(Part(parsed,
      TreeSource(null, annotationsPath, taxonomyPath, treeId))))

  private final case class Part(parsed: IndexedSeq[ParsedNode], src: TreeSource)

  private def shift(parsed: IndexedSeq[ParsedNode], by: Long): IndexedSeq[ParsedNode] =
    if (by == 0L) parsed
    else parsed.map(p => p.copy(nodeId = p.nodeId + by,
      parentId = if (p.parentId < 0) -1L else p.parentId + by))

  private def edgesOf(spark: SparkSession, parsed: IndexedSeq[ParsedNode],
      treeId: String): DataFrame =
    spark.createDataFrame(parsed).filter(col("parentId") >= 0)
      .select(col("nodeId").as("child_id"), col("parentId").as("parent_id"),
        col("childOrd").as("child_ord"), col("branchLength").as("branch_length"))
      .withColumn("tree_id", lit(treeId))

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

  /** The `nodes` table: ot id and taxon id, the labels, the branch to the
    * parent, the taxonomy row and the annotation entry, the tree id — the
    * columns, order and nullability the join-based ingest produced.
    */
  private val nodesSchema = StructType(
    Seq(StructField("ot_node_id", StringType), StructField("tax_uid", LongType)) ++
      labeledSchema.fields ++
      Seq(StructField("branch_length", DoubleType),
        StructField("parent_uid", LongType),
        StructField("name", StringType),
        StructField("tax_rank", StringType),
        StructField("tax_sources", MapType(StringType, StringType)),
        StructField("unique_name", StringType),
        StructField("flags", StringType)) ++
      annotationStruct.fields ++
      Seq(StructField("tree_id", StringType, nullable = false)))

  private val treeMetaSchema = StructType(Seq(
    StructField("tree_id", StringType, nullable = false),
    StructField("date_completed", StringType),
    StructField("taxonomy_version", StringType),
    StructField("num_tips", LongType),
    StructField("num_source_studies", LongType),
    StructField("num_source_trees", LongType),
    StructField("filtered_flags", ArrayType(StringType)),
    StructField("sources", ArrayType(StringType)),
    StructField("root_ot_node_id", StringType, nullable = false)))

  private val sourceMapColumns = StructType(Seq(
    "source_id", "git_sha", "source_tree_id", "study_id", "taxonomy")
    .map(StructField(_, StringType)) :+
    StructField("tree_id", StringType, nullable = false))

  /** The taxon id of an `ott<uid>` ot id, null for any other label (the
    * regex and cast of the reference's `ott` prefix test).
    */
  private[tree] def ottUid(label: String): java.lang.Long = {
    val m = OttId.matcher(label)
    if (!m.find()) null
    else try java.lang.Long.valueOf(m.group(1))
    catch { case _: NumberFormatException => throw new IllegalArgumentException(
      s"node label '$label' names an ott id that does not fit a 64-bit integer") }
  }
  private val OttId = java.util.regex.Pattern.compile("^ott(\\d+)$")

  /** What the row-building tasks read, by forest position: the labels,
    * the ot and taxon ids, the branch lengths (NaN when absent, null at a
    * root), and the index of each node's taxonomy line and annotation
    * entry (-1: none). Trees are the blocks from `starts`, each with its
    * id and its `ott<taxonomy_version>` support key.
    */
  private final case class Payload(sweep: Sweep, label: Array[String],
      taxUid: Array[Long], branchLength: Array[Double],
      taxRow: Array[Int], taxLines: Texts, annRow: Array[Int], entries: Texts,
      starts: Array[Int], treeIds: Array[String], ottKeys: Array[String])

  /** Ingest trees whose parses concatenate to one preorder forest: read
    * each tree's side files once on the driver, then build the four
    * tables without a Spark job.
    */
  private def build(spark: SparkSession, parts: Seq[Part]): Ingested = {
    val parsed = parts.flatMap(_.parsed).toIndexedSeq
    val n = parsed.length
    val label = parsed.map(_.label).toArray
    val taxUid = label.map { l => val u = ottUid(l); if (u == null) -1L else u.longValue }
    val taxRow = Array.fill(n)(-1)
    val annRow = Array.fill(n)(-1)
    val taxLines = new TextsBuilder
    val entries = new TextsBuilder
    val metaRows = new java.util.ArrayList[Row]()
    val sourceRows = new java.util.ArrayList[Row]()
    val starts = parts.scanLeft(0)(_ + _.parsed.length).init.toArray
    val ottKeys = parts.zip(starts).map { case (Part(tree, src), lo) =>
      val range = lo until lo + tree.length
      val rowOf = new java.util.HashMap[java.lang.Long, Integer]()
      val entryOf = new java.util.HashMap[String, Integer]()
      range.foreach { i =>
        if (taxUid(i) >= 0) rowOf.put(taxUid(i), -1)
        entryOf.put(label(i), -1)
      }
      IngestFiles.readTaxonomy(spark, src.taxonomyPath, rowOf, taxLines)
      val head = IngestFiles.readAnnotations(spark, src.annotationsPath, entryOf, entries)
      range.foreach { i =>
        if (taxUid(i) >= 0) taxRow(i) = rowOf.get(taxUid(i))
        annRow(i) = entryOf.get(label(i))
      }
      // the annotations' declared tree_id must AGREE with the caller's:
      // every table is stamped with the param, so a silent mismatch would
      // leave tree_meta keyed differently from every other table
      val declaredId = head.treeId
      require(declaredId == null || declaredId == src.treeId,
        s"annotations declare tree_id '$declaredId' but ingest was called " +
          s"with treeId '${src.treeId}' — the store tables would disagree")
      require(head.taxonomyVersion != null || !range.exists(taxUid(_) >= 0),
        s"annotations ${src.annotationsPath} have no taxonomy_version, which " +
          "keys the taxonomy support ingest adds to every ott<uid> node")
      // the source map is keyed by the WIRE form: the raw file keys study
      // sources as "pg_01_tree1", but every node blob (supported_by etc.)
      // and every served response uses "pg_01@tree1" (ws-tests/check.py:
      // 69-81 REQUIRES '@' or '.'); the meta sources list gets the same
      // rewrite, unknown entries pass through unchanged
      val rawToWire = new java.util.HashMap[String, String]()
      head.sourceRows.foreach { case Array(raw, gitSha, srcTree, study, taxonomy) =>
        val wire = if (study != null && srcTree != null) s"$study@$srcTree" else raw
        rawToWire.put(raw, wire)
        sourceRows.add(Row(wire, gitSha, srcTree, study, taxonomy, src.treeId))
      }
      val sources = Option(head.sources)
        .map(_.map(x => if (x == null) null else rawToWire.getOrDefault(x, x))).orNull
      // root ot id onto tree meta (IngestSynthesisData.java:346-349)
      metaRows.add(Row(src.treeId, head.dateCompleted, head.taxonomyVersion,
        head.numTips, head.numSourceStudies, head.numSourceTrees,
        head.filteredFlags, sources, label(lo)))
      if (head.taxonomyVersion == null) null else "ott" + head.taxonomyVersion
    }.toArray

    val payload = spark.sparkContext.broadcast(Payload(sweep(parsed), label,
      taxUid, parsed.map(_.branchLength).toArray, taxRow, taxLines.result(),
      annRow, entries.result(), starts, parts.map(_.src.treeId).toArray, ottKeys))
    // Persist the serving table: every endpoint action re-reads it, and the
    // row-building stage must run once at ingest, not per query (the
    // reference likewise materializes its graph at ingest).
    val nodes = rowsOf(spark, n, nodesSchema)(i => nodeRow(payload.value, i))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Ingested(nodes,
      parts.map(p => edgesOf(spark, p.parsed, p.src.treeId)).reduce(_ unionByName _),
      spark.createDataFrame(metaRows, treeMetaSchema),
      spark.createDataFrame(sourceRows, sourceMapColumns))
  }

  private val NoTaxon = new Array[Any](7)
  private val NoAnnotation = new Array[AnyRef](annotationStruct.length)

  /** One `nodes` row: the taxonomy columns as `readTaxonomy` reads them,
    * `unique_name` falling back to `name` when empty
    * (IngestSynthesisData.java:247-251), and the taxonomy support
    * `ott<version> → ot id` appended to every `ott<uid>` node's
    * `supported_by` (IngestSynthesisData.java:484-496).
    */
  private def nodeRow(p: Payload, i: Int): Row = {
    val t = { val k = java.util.Arrays.binarySearch(p.starts, i); if (k >= 0) k else -k - 2 }
    val uid = p.taxUid(i)
    val tax = if (p.taxRow(i) < 0) NoTaxon
      else IngestFiles.taxonomyFields(p.taxLines.string(p.taxRow(i)))
    val ann = if (p.annRow(i) < 0) NoAnnotation
      else IngestFiles.annotationFields(p.entries, p.annRow(i))
    val unique = tax(5).asInstanceOf[String]
    val support =
      if (uid < 0) ann(0)
      else {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
        if (ann(0) != null) m ++= ann(0).asInstanceOf[scala.collection.Map[String, String]]
        m(p.ottKeys(t)) = p.label(i)
        m
      }
    Row.fromSeq(Seq(p.label(i), if (uid < 0) null else uid) ++
      labels(p.sweep, i) ++
      Seq(if (p.sweep.parent(i) < 0) null else p.branchLength(i),
        tax(1), tax(2), tax(3), tax(4),
        if (unique == null || unique.isEmpty) tax(2) else unique, tax(6), support) ++
      ann.tail ++ Seq(p.treeIds(t)))
  }

  /** `n` rows built by `row` from their forest positions, in one stage of
    * `defaultParallelism` range slices (no shuffle).
    */
  private def rowsOf(spark: SparkSession, n: Int, schema: StructType)(
      row: Int => Row): DataFrame = {
    val slices = math.max(1, math.min(n, spark.sparkContext.defaultParallelism))
    spark.createDataFrame(spark.sparkContext.range(0L, n.toLong, 1L, slices)
      .map(id => row(id.toInt)), schema)
  }

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
    * read, so the broadcast is left alive. Ingest builds its node rows in
    * the same stage, from the same arrays plus the side files' payloads.
    */
  def labelParsed(spark: SparkSession, parsed: IndexedSeq[ParsedNode]): DataFrame = {
    val s = spark.sparkContext.broadcast(sweep(parsed))
    rowsOf(spark, parsed.length, labeledSchema)(i => Row.fromSeq(labels(s.value, i)))
  }

  /** The driver-side pass of [[labelParsed]]. */
  private def sweep(parsed: IndexedSeq[ParsedNode]): Sweep = {
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
    Sweep(base, parent, depth, childOrd, nDesc, tips)
  }

  /** The [[labeledSchema]] values of forest position `i`. */
  private def labels(s: Sweep, i: Int): Seq[Any] = {
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
    Seq(s.base + i, if (pi < 0) -1L else s.base + pi, ancestors(0),
      d.toLong, s.childOrd(i), ancestors, i.toLong, i.toLong + s.nDesc(i) - 1,
      s.nDesc(i) == 1, s.tips(i).toLong, s.nDesc(i).toLong)
  }

  /** Per-node annotations from the synthesis annotations JSON
    * (`nodes.{ot_node_id}` object, IngestSynthesisData.java:462-498) as
    * native typed columns — one row per annotated node. A Spark read of
    * the whole file, for queries over it; ingest reads only the tree's
    * entries, the same way, with [[IngestFiles.readAnnotations]].
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
    * GraphExplorer.java:186-190). A Spark scan of the whole file, for
    * queries over it; ingest keeps only the tree's rows, read the same
    * way, with [[IngestFiles.readTaxonomy]].
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
