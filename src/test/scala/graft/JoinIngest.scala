package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tree.{Newick, ParsedNode, TreeIngest}
import graft.tree.TreeIngest.{Ingested, MultiIngested, TreeSource}

/** The join-based ingest that `TreeIngest` replaced, kept as the oracle
  * for its driver-side readers: the side files are read through Spark
  * (`wholetext` → `get_json_object` → `from_json`, a taxonomy text scan)
  * and joined onto the labeled tree. Same entry points, same tables.
  */
object JoinIngest {

  private val sourceMapSchema: DataType =
    MapType(StringType, MapType(StringType, StringType))

  private def readWhole(spark: SparkSession, path: String): String =
    spark.read.option("wholetext", "true").text(path)
      .head().getString(0).trim

  private def shift(parsed: IndexedSeq[ParsedNode], by: Long) =
    parsed.map(p => p.copy(nodeId = p.nodeId + by,
      parentId = if (p.parentId < 0) -1L else p.parentId + by))

  def ingest(spark: SparkSession, newickPath: String, annotationsPath: String,
      taxonomyPath: String, treeId: String): Ingested =
    ingestParsed(spark, Newick.parse(readWhole(spark, newickPath)),
      annotationsPath, taxonomyPath, treeId)

  def ingestOffset(spark: SparkSession, src: TreeSource,
      idOffset: Long): Ingested =
    ingestParsed(spark, shift(Newick.parse(readWhole(spark, src.newickPath)),
      idOffset), src.annotationsPath, src.taxonomyPath, src.treeId)

  def ingestAll(spark: SparkSession, sources: Seq[TreeSource]): MultiIngested = {
    var offset = 0L
    val perTree = sources.map { src =>
      val parsed = Newick.parse(readWhole(spark, src.newickPath))
      val shifted = shift(parsed, offset)
      val lo = offset
      offset += parsed.length
      (src, shifted, lo, offset)
    }
    val edgesAll = perTree.map { case (src, shifted, _, _) =>
      edgesOf(parsedDf(spark, shifted), src.treeId)
    }.reduce(_ unionByName _)
    val labeled = TreeIngest.labelParsed(spark, perTree.flatMap(_._2).toIndexedSeq)
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

  def ingestParsed(spark: SparkSession, parsed: IndexedSeq[ParsedNode],
      annotationsPath: String, taxonomyPath: String, treeId: String): Ingested = {
    val pdf = parsedDf(spark, parsed)
    attach(spark, TreeIngest.labelParsed(spark, parsed), pdf,
      edgesOf(pdf, treeId), annotationsPath, taxonomyPath, treeId)
  }

  private def parsedDf(spark: SparkSession, parsed: IndexedSeq[ParsedNode]): DataFrame =
    spark.createDataFrame(parsed).withColumnRenamed("label", "ot_node_id")

  private def edgesOf(parsedDf: DataFrame, treeId: String): DataFrame =
    parsedDf.filter(col("parentId") >= 0)
      .select(col("nodeId").as("child_id"), col("parentId").as("parent_id"),
        col("childOrd").as("child_ord"), col("branchLength").as("branch_length"))
      .withColumn("tree_id", lit(treeId))

  private def attach(spark: SparkSession, labeled: DataFrame, parsedDf: DataFrame,
      edges: DataFrame, annotationsPath: String, taxonomyPath: String,
      treeId: String): Ingested = {
    val taxonomy = TreeIngest.readTaxonomy(spark, taxonomyPath)
    val annText = spark.read.option("wholetext", "true").text(annotationsPath)
      .select(col("value").as("j"))
    val annotations = TreeIngest.readAnnotations(spark, annotationsPath)

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
      .withColumn("source_id",
        when(col("study_id").isNotNull && col("source_tree_id").isNotNull,
          concat(col("study_id"), lit("@"), col("source_tree_id")))
          .otherwise(col("raw_source_id")))

    val sourceMap = srcExploded.drop("raw_source_id")
      .select(col("source_id"), col("git_sha"), col("source_tree_id"),
        col("study_id"), col("taxonomy"))
      .withColumn("tree_id", lit(treeId))

    val rawToWire: Map[String, String] = srcExploded
      .select(col("raw_source_id"), col("source_id")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    val metaHead = treeMetaRaw
      .select(col("taxonomy_version"), col("tree_id")).head()
    val taxonomyVersion = metaHead.getString(0)
    val declaredId = metaHead.getString(1)
    require(declaredId == null || declaredId == treeId,
      s"annotations declare tree_id '$declaredId' but ingest was called " +
        s"with treeId '$treeId' — the store tables would disagree")

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

    val nodesP = nodes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rootOt = nodesP.filter(col("parent_id") === -1L)
      .select(col("ot_node_id")).head().getString(0)
    val treeMeta = treeMetaRaw.withColumn("root_ot_node_id", lit(rootOt))
      .withColumn("tree_id", lit(treeId))
      .withColumn("sources", transform(col("sources"),
        x => coalesce(element_at(typedLit(rawToWire), x), x)))

    Ingested(nodesP, edges, treeMeta, sourceMap)
  }
}
