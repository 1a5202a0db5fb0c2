package graft.tree

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed tree labeling — the architectural core (SURVEY.md §7.1).
  *
  * The reference stores a pointer graph and answers every query by walking
  * it (GraphExplorer.java traversals). Instead, one ingest-time labeling
  * pass turns the tree into a relational table on which every traversal
  * becomes a join/filter/aggregation Catalyst can optimize:
  *
  *   - descendants(n)   ≡ `pre BETWEEN n.pre AND n.post`
  *   - lineage(n)       ≡ `explode(ancestors)`
  *   - MRCA(S)          ≡ deepest common element of ancestor arrays
  *   - depth limits     ≡ `depth <= n.depth + h`
  *   - tip counts       ≡ precomputed `tip_descendants`
  *     (replaces the reference's edge-stored counter,
  *     IngestSynthesisData.java:435-442)
  *
  * Ancestor chains are computed by **pointer doubling** (each round jumps
  * 2^k parents, carrying the path segment), so a depth-d tree labels in
  * ⌈log₂ d⌉ join rounds instead of d sequential frontier joins — on a
  * deep phylogeny (d in the hundreds) that is ~8 shuffles instead of
  * hundreds. Every round is eagerly localCheckpoint'd: without plan
  * truncation the round-N logical plan nests all predecessors and
  * analysis alone OOMs. `pre` comes from a distributed range-partitioned
  * sort + zipWithIndex (no driver collect); `post`/`tip_descendants` come
  * from one explode + aggregate whose root-key skew is absorbed by
  * partial (map-side) aggregation.
  *
  * This is the labeler for edge lists that live in tables. A parsed
  * newick is already a preorder array on the driver, and ingest labels it
  * with [[TreeIngest.labelParsed]] in one sweep, with the same rows.
  */
object TreeLabeler {

  /** Label a tree (or forest) given as an edge list.
    *
    * @param edges DataFrame with columns child_id: Long, parent_id: Long,
    *              child_ord: Int (sibling order; determines DFS order)
    * @return DataFrame: node_id, parent_id (-1 at root), root_id, depth
    *         (Long), child_ord, ancestors (Array[Long], root→self inclusive),
    *         pre, post (Long), is_leaf (Boolean), tip_descendants (Long),
    *         n_desc (Long, descendants incl. self)
    *
    * Forests label correctly: the DFS sort key is prefixed with a
    * fixed-width encoding of the root id, so each tree's pre/post interval
    * block is contiguous and deterministic (trees ordered by root id) —
    * without the prefix every root's path is "" and the interval blocks of
    * different trees would interleave nondeterministically.
    */
  def label(spark: SparkSession, edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    import spark.implicits._

    val e = edges.select(
      col("child_id").cast("long"),
      col("parent_id").cast("long"),
      col("child_ord").cast("int"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // roots: parents that never appear as a child
    val roots = e.select(col("parent_id").as("node_id")).distinct()
      .join(e.select(col("child_id")).distinct(),
        col("node_id") === col("child_id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Pointer-doubling state per non-root node:
    //   top   — highest ancestor reached so far
    //   ords  — sibling-ord path from just-below-top down to the node, as a
    //           fixed-width hex string (8 chars/level): byte-comparable, so
    //           the DFS-rank sort below runs as a codegen'd binary compare
    //           (sorting array<int> keys uses interpreted ordering and was
    //           the scale bottleneck)
    //   chain — node ids from just-below-top down to the node (inclusive)
    //   done  — top is a root
    val isRoot = roots.select(col("node_id").as("top")).withColumn("root_hit", lit(true))
    val init = e.select(
        col("child_id").as("node_id"),
        col("parent_id").as("top"),
        lpad(hex(col("child_ord")), 8, "0").as("ords"),
        array(col("child_id")).as("chain"))
      .join(isRoot, Seq("top"), "left_outer")
      .withColumn("done", coalesce(col("root_hit"), lit(false)))
      // fix column ORDER: the join put its key first, and the loop below
      // unions by position with (node_id, top, ...) frames
      .select("node_id", "top", "ords", "chain", "done")
      .localCheckpoint()

    // Only the undone set is rewritten each round; finished rows park in
    // doneParts (they still serve as jump targets). Without this, every
    // round checkpoints all n rows — O(n·rounds) storage writes.
    var doneParts: List[DataFrame] = List(init.filter(col("done")))
    var roundCheckpoints: List[DataFrame] = List(init)
    var undone = init.filter(!col("done"))
    var round = 0
    var remaining = undone.count()
    while (remaining > 0 && round < maxRounds) {
      // self-join: qualify both sides explicitly (unqualified columns in a
      // self-join silently capture the wrong side after dedup rewriting)
      val jump = (undone :: doneParts).reduce(_ union _)
      val next = undone.alias("l")
        .join(jump.alias("r"), col("l.top") === col("r.node_id"))
        .select(col("l.node_id").as("node_id"),
          col("r.top").as("top"),
          concat(col("r.ords"), col("l.ords")).as("ords"),
          concat(col("r.chain"), col("l.chain")).as("chain"),
          col("r.done").as("done"))
        .localCheckpoint()
      roundCheckpoints = next :: roundCheckpoints
      doneParts = next.filter(col("done")) :: doneParts
      undone = next.filter(!col("done"))
      remaining = undone.count()
      round += 1
    }
    require(remaining == 0, s"tree not rooted within $maxRounds doubling rounds (cycle?)")

    val fin = doneParts.reduce(_ union _)
    // per-root discriminator prefix (16 hex chars = one long) keeps each
    // tree's DFS ranks in a contiguous, deterministic block
    val nonRoot = fin.select(
      col("node_id"),
      col("top").as("root_id"),
      size(col("chain")).cast("long").as("depth"),
      concat(array(col("top")), col("chain")).as("ancestors"),
      concat(lpad(hex(col("top")), 16, "0"), col("ords")).as("ord_path"))
    val rootRows = roots.select(
      col("node_id"),
      col("node_id").as("root_id"),
      lit(0L).as("depth"),
      array(col("node_id")).as("ancestors"),
      lpad(hex(col("node_id")), 16, "0").as("ord_path"))
    val all = nonRoot.union(rootRows).persist(StorageLevel.MEMORY_AND_DISK)

    // pre = rank in DFS order = lexicographic rank of the sibling-order path.
    // Distributed: range-partitioned sort, then order-preserving zipWithIndex.
    val pre = all.sort(col("ord_path")).select(col("node_id"))
      .rdd.zipWithIndex()
      .map { case (r, idx) => (r.getLong(0), idx) }
      .toDF("node_id", "pre")

    val parentOf = e.select(col("child_id").as("node_id"),
      col("parent_id"), col("child_ord"))
    val parents = e.select(col("parent_id").as("node_id")).distinct()
    val withPre = all.join(pre, "node_id")
      .join(parentOf, Seq("node_id"), "left_outer")
      .withColumn("parent_id", coalesce(col("parent_id"), lit(-1L)))
      .withColumn("child_ord", coalesce(col("child_ord"), lit(0)))
      .join(parents.withColumn("has_kids", lit(true)), Seq("node_id"), "left_outer")
      .withColumn("is_leaf", coalesce(col("has_kids"), lit(false)) === false)
      .drop("has_kids")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // post / tip counts: every node sends (pre, is_leaf) to all its ancestors
    // (self included). Partial aggregation absorbs the root-key skew.
    val agg = withPre
      .select(explode(col("ancestors")).as("anc"), col("pre"), col("is_leaf"))
      .groupBy(col("anc"))
      .agg(
        max(col("pre")).as("post"),
        sum(when(col("is_leaf"), 1L).otherwise(0L)).as("tip_descendants"),
        count(lit(1)).as("n_desc"))
      .withColumnRenamed("anc", "node_id")

    // Checkpoint the result: consumers self-join it repeatedly (lineage,
    // subtree, induced), and a truncated plan keeps those joins flat.
    val out = withPre.join(agg, "node_id")
      .select("node_id", "parent_id", "root_id", "depth", "child_ord",
        "ancestors", "pre", "post", "is_leaf", "tip_descendants", "n_desc")
      .localCheckpoint()
    withPre.unpersist()
    all.unpersist()
    roots.unpersist()
    e.unpersist()
    // `out` is fully materialized above, so the per-round checkpoint
    // blocks (O(n · rounds) storage) feed nothing anymore — release them,
    // or every ingest in a session (ingestAll, append workflows) leaks
    // its rounds into the block manager until eviction thrash
    roundCheckpoints.foreach(releaseCheckpoint)
    out
  }

  /** Drop a localCheckpoint'd dataset's cached blocks. Safe ONLY once
    * nothing will ever read the dataset again — a local checkpoint cannot
    * be recomputed (`Dataset.unpersist` does not touch these blocks; the
    * RDD inside the checkpoint's LogicalRDD must be unpersisted).
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }
}
