package graft.tree

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.storage.StorageLevel

/** Persisted, bucketed serving layout — the deployment artifact.
  *
  * The reference serves from a prebuilt graph DB plus index files built once
  * at ingest (GraphBase.java:431-448): build once, serve forever. The Spark
  * analog is a directory of parquet tables where the two big tables are
  * written `bucketBy(node_id)`/`sortBy(node_id)` (edges on `child_id`), so
  * every serving-path join — node self-joins for lineage/subtree/MRCA,
  * node⋈edge for branch lengths — runs with ZERO exchanges: the shuffle is
  * paid once at [[save]] time, never per query. A fresh session [[load]]s
  * the store in seconds instead of re-paying the ingest (parse, labeling
  * and the taxonomy/annotation joins).
  *
  * Bucketed parquet needs catalog metadata to be *read* as bucketed, so
  * [[load]] registers an external table (`CREATE TABLE … CLUSTERED BY …
  * LOCATION …`) over the saved files; the bucket count travels in a
  * `_graft_store.json` manifest next to the data. Table names are derived
  * from the store path, so several stores can coexist in one session (the
  * reference's multiple-synth-versions model, GraphExplorer.java:95-114).
  */
object TreeStore {

  val ManifestFile = "_graft_store.json"

  /** Present only while a multi-table append is in flight: written (with
    * the appending tree_ids) before the first table write, removed after
    * the last. A crash mid-append leaves it behind, so the partial state
    * is DETECTED ([[load]] refuses) instead of silently served, and
    * [[recoverAppend]] can roll the partial tree back out.
    */
  val PendingFile = "_graft_append_pending"

  /** Write the serving tables. `buckets` must match the expected executor
    * parallelism order-of-magnitude at the deployment scale (32 here for
    * local[32]; a 1000-executor cluster would use ~2-4k).
    */
  def save(t: TreeIngest.Ingested, path: String, buckets: Int = 32): Unit = {
    val spark = t.nodes.sparkSession
    // a full rewrite supersedes any crashed append at this path: clear the
    // pending marker so the rebuilt (internally consistent) store loads —
    // otherwise the stale marker keeps refusing it, and following the
    // error's recoverAppend advice would delete valid trees
    graft.StoreUtil.deleteMarker(spark, path, PendingFile)
    writeBucketed(spark, t.nodes, s"$path/nodes", "node_id", buckets)
    writeBucketed(spark, t.edges, s"$path/edges", "child_id", buckets)
    t.treeMeta.write.mode("overwrite").parquet(s"$path/tree_meta")
    t.sourceMap.write.mode("overwrite").parquet(s"$path/source_map")
    writeManifest(spark, path, buckets)
  }

  /** Restore an [[TreeIngest.Ingested]] from a saved store. The nodes table
    * is persisted by default (every endpoint action re-reads it); both big
    * tables come back with their bucket spec, so serving joins plan
    * exchange-free. Pass `persistNodes = false` to keep the raw bucketed
    * scan visible (plan inspection, one-shot batch reads).
    */
  def load(spark: SparkSession, path: String,
      persistNodes: Boolean = true): TreeIngest.Ingested = {
    graft.StoreUtil.readMarker(spark, path, PendingFile).foreach { ids =>
      throw new IllegalStateException(
        s"store at $path has an interrupted append (tree_ids: $ids) — " +
          "its tables are mutually inconsistent; run TreeStore" +
          ".recoverAppend(spark, path, dest) to rebuild a clean store")
    }
    val buckets = readManifest(spark, path)
    val nodes = loadBucketed(spark, s"$path/nodes", "node_id", buckets)
    val edges = loadBucketed(spark, s"$path/edges", "child_id", buckets)
    TreeIngest.Ingested(
      if (persistNodes) nodes.persist(StorageLevel.MEMORY_AND_DISK) else nodes,
      edges,
      spark.read.parquet(s"$path/tree_meta"),
      spark.read.parquet(s"$path/source_map"))
  }

  /** Multi-tree store (several synthesis versions in one serving layout,
    * the reference's actual deployment model): same four tables — node id
    * spaces are disjoint by construction and every row carries `tree_id`,
    * so the single-tree writers apply unchanged and per-tree views filter
    * after load.
    */
  def saveMulti(m: TreeIngest.MultiIngested, path: String,
      buckets: Int = 32): Unit =
    save(TreeIngest.Ingested(m.nodes, m.edges, m.treeMeta, m.sourceMap),
      path, buckets)

  def loadMulti(spark: SparkSession, path: String,
      persistNodes: Boolean = true): TreeIngest.MultiIngested = {
    val t = load(spark, path, persistNodes)
    TreeIngest.MultiIngested(t.nodes, t.edges, t.treeMeta, t.sourceMap)
  }

  /** Incrementally add ONE synth tree to an existing store: only the new
    * tree is parsed and labeled (O(new tree), not O(store)), its node-id
    * space is shifted above the store's current max, its pre/post interval
    * block is shifted past the store's max `post` (so cross-tree interval
    * isolation — the [[TreeIngest.ingestAll]] invariant — still holds),
    * and its rows are appended to the bucketed files under the SAME bucket
    * spec, so serving joins stay exchange-free. The reference's only way
    * to add a synthesis version is a full DB rebuild
    * (MainRunner.java:49-57); here existing trees are never re-labeled,
    * re-read, or rewritten.
    */
  def appendTree(spark: SparkSession, path: String,
      src: TreeIngest.TreeSource): Unit = {
    // fail BEFORE any work: a leftover pending marker (and a duplicate
    // tree_id) must refuse in milliseconds, not after the full parse +
    // labeling pass that ingestOffset below would run
    requireNoPending(spark, path)
    // The id set is read ONCE and threaded into appendCore — tree_meta
    // is a full-store listing at deployment scale, not a free re-read.
    val existingIds = storeTreeIds(spark, path)
    require(!existingIds.contains(src.treeId),
      s"tree_id '${src.treeId}' already exists in the store at $path")
    val (maxId, maxPost) = storeBounds(spark, path)
    appendCore(spark, path,
      TreeIngest.ingestOffset(spark, src, maxId + 1L), maxId, maxPost,
      existingIds)
  }

  /** Programmatic append path ([[appendTree]] is the file-based wrapper):
    * the caller provides an already-labeled tree whose node-id space must
    * sit entirely above the store's current max (checked). Only the
    * interval block is shifted here — ancestors arrays carry node ids, so
    * they are already consistent with the disjoint id space.
    */
  def appendIngested(spark: SparkSession, path: String,
      t: TreeIngest.Ingested): Unit = {
    requireNoPending(spark, path)
    val (maxId, maxPost) = storeBounds(spark, path)
    appendCore(spark, path, t, maxId, maxPost, storeTreeIds(spark, path))
  }

  /** A leftover marker means a PREVIOUS append died between table writes:
    * appending more (and eventually deleting the marker) would bury that
    * corruption as a silently-served store — refuse until recoverAppend
    * has rolled it back (or a full save() has superseded the store).
    */
  private def requireNoPending(spark: SparkSession, path: String): Unit =
    graft.StoreUtil.readMarker(spark, path, PendingFile).foreach { ids =>
      throw new IllegalStateException(
        s"store at $path has an interrupted append (tree_ids: $ids) — " +
          "run TreeStore.recoverAppend before appending more")
    }

  /** Roll back an append that died between table writes ([[PendingFile]]
    * left behind): every row of the pending tree_ids is filtered out of
    * all four tables — each carries `tree_id` — and the surviving store
    * is rewritten clean at `dest` (same disjointness rule as [[compact]];
    * the damaged source is read-only throughout, so recovery itself is
    * crash-safe).
    */
  def recoverAppend(spark: SparkSession, path: String, dest: String): Unit = {
    val bad = graft.StoreUtil.readMarker(spark, path, PendingFile)
      .getOrElse(throw new IllegalStateException(
        s"no interrupted append recorded at $path"))
      .split(PendingSep).toSeq.filter(_.nonEmpty)
    requireDisjoint(spark, path, dest)
    val buckets = readManifest(spark, path)
    def clean(table: String): DataFrame =
      spark.read.parquet(s"$path/$table")
        .filter(!col("tree_id").isin(bad: _*))
    save(TreeIngest.Ingested(clean("nodes"), clean("edges"),
      clean("tree_meta"), clean("source_map")), dest, buckets)
  }

  /** Rewrite an append-grown store into a fresh single-file-per-bucket
    * layout at `dest` — the periodic maintenance step of the
    * append-many-times lifecycle (each [[appendTree]] adds one file per
    * bucket; reads stay correct but open more files until compaction).
    * `dest` must be a location disjoint from `path` (the source is read
    * lazily while the destination is written — an overlapping dest would
    * overwrite files mid-scan); both are compared as fully-qualified
    * Hadoop URIs, so `file:` forms and bare paths cannot alias. The
    * bucket count defaults to the SOURCE's manifest — compaction is a
    * layout rewrite, not a silent re-bucketing; pass `buckets` explicitly
    * to re-bucket.
    */
  def compact(spark: SparkSession, path: String, dest: String,
      buckets: Int = 0): Unit = {
    requireDisjoint(spark, path, dest)
    val b = if (buckets > 0) buckets else readManifest(spark, path)
    save(load(spark, path, persistNodes = false), dest, b)
  }

  /** Source and destination compared as fully-qualified Hadoop URIs, so
    * `file:` forms and bare paths cannot alias (the source is read lazily
    * while the destination is written — an overlap would overwrite files
    * mid-scan).
    */
  private def requireDisjoint(spark: SparkSession, path: String,
      dest: String): Unit =
    graft.StoreUtil.requireDisjoint(spark, path, dest, "rewrite")

  private def storeTreeIds(spark: SparkSession, path: String): Set[String] =
    spark.read.parquet(s"$path/tree_meta")
      .select(col("tree_id")).collect().map(_.getString(0)).toSet

  /** One aggregate over the store's nodes: (max node_id, max post). */
  private def storeBounds(spark: SparkSession, path: String): (Long, Long) = {
    val b = spark.read.parquet(s"$path/nodes")
      .agg(org.apache.spark.sql.functions.max("node_id"),
        org.apache.spark.sql.functions.max("post")).head()
    (b.getLong(0), b.getLong(1))
  }

  /** Marker-entry delimiter: a control char no real tree id contains
    * (checked) — a printable delimiter like "," could appear IN an id and
    * corrupt [[recoverAppend]]'s rollback filter.
    */
  private val PendingSep = '\u001f'

  private def appendCore(spark: SparkSession, path: String,
      t: TreeIngest.Ingested, maxId: Long, maxPost: Long,
      existingIds: Set[String]): Unit = {
    requireNoPending(spark, path) // defense in depth (public paths check early)
    val buckets = readManifest(spark, path)
    val newMin = t.nodes
      .agg(org.apache.spark.sql.functions.min("node_id")).head().getLong(0)
    require(newMin > maxId,
      s"appended tree's min node_id $newMin collides with the store's " +
        s"id space (max $maxId)")
    // a duplicate tree_id would make every per-tree view a two-root
    // forest (arbitrary root picks, double-counted metadata) — refuse.
    // ALL of t's meta rows are checked, not just the first: a multi-tree
    // Ingested could otherwise smuggle a duplicate in a later row
    val newIds = t.treeMeta.select(col("tree_id"))
      .collect().map(_.getString(0)).toSet
    val dup = existingIds.intersect(newIds)
    require(dup.isEmpty,
      s"tree_id(s) ${dup.mkString("'", "', '", "'")} already exist in " +
        s"the store at $path")
    val labelShift = maxPost + 1L
    val nodes = t.nodes
      .withColumn("pre", col("pre") + labelShift)
      .withColumn("post", col("post") + labelShift)
    // four sequential table writes are not atomic: the pending marker
    // brackets them, so a crash in between is detected at load (and
    // rolled back by recoverAppend) instead of serving a store whose
    // nodes/edges/tree_meta disagree about which trees exist
    require(newIds.forall(!_.contains(PendingSep)),
      s"tree_id may not contain U+001F (reserved as the marker delimiter)")
    graft.StoreUtil.writeMarker(spark, path, PendingFile,
      newIds.toSeq.sorted.mkString(PendingSep.toString))
    appendBucketed(spark, nodes, s"$path/nodes", "node_id", buckets)
    appendBucketed(spark, t.edges, s"$path/edges", "child_id", buckets)
    t.treeMeta.write.mode("append").parquet(s"$path/tree_meta")
    t.sourceMap.write.mode("append").parquet(s"$path/source_map")
    // bump the ingest counter BEFORE lifting the pending fence: a crash
    // between the two leaves the store refusing (recoverable), never a
    // counter that silently under-reports the stacked file sets
    val mf = graft.StoreUtil.requireManifest(spark, path, ManifestFile,
      "tree store")
    writeManifest(spark, path, buckets, graft.StoreUtil.ingestsOf(mf) + 1L,
      graft.StoreUtil.compactedAtOf(mf))
    graft.StoreUtil.deleteMarker(spark, path, PendingFile)
  }

  /** Whether a maintenance pass is due — each [[appendTree]] stacks
    * another file set into every bucket of both big tables, so after k
    * appends every serving join opens O(k) files per bucket; the same
    * family-shared watermark rule as the fold stores
    * ([[graft.StoreUtil.needsCompactFrom]]). [[save]] (and so
    * [[compact]]/[[recoverAppend]], which rewrite through it) resets
    * the counter to a fresh single-file-per-bucket layout.
    */
  def needsCompact(spark: SparkSession, path: String,
      slack: Int = 8): Boolean = {
    graft.StoreUtil.readMarker(spark, path, PendingFile).foreach { ids =>
      throw new IllegalStateException(
        s"store at $path has an interrupted append (tree_ids: $ids) — " +
          "run TreeStore.recoverAppend before probing maintenance")
    }
    graft.StoreUtil.needsCompactFrom(
      graft.StoreUtil.requireManifest(spark, path, ManifestFile,
        "tree store"),
      slack, s"tree store at $path", strict = false)
  }



  /** `bucketBy` requires a catalog write, so route through a throwaway
    * external-table name and drop it after — the files (with Spark's bucket
    * ids in their names) are what persists.
    */
  private[graft] def writeBucketed(spark: SparkSession, df: DataFrame, dir: String,
      key: String, buckets: Int): Unit = {
    val tmp = s"graft_store_w_${tableSuffix(dir)}"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // co-locate each bucket before writing: repartitioning on the bucket-id
    // expression itself (pmod(murmur3, n) — what the bucketed writer
    // computes) puts all of a bucket's rows in one task, so the layout is
    // ONE file per bucket instead of (write tasks × buckets) files.
    // repartition(n, col(key)) would NOT do this: its task assignment
    // re-hashes the key and does not coincide with bucket ids.
    // 4× tasks: hashing bucket ids into exactly `buckets` partitions
    // would leave ~1/e of tasks empty by birthday collision and pile 2-3
    // buckets serially onto others; more partitions spreads them while
    // each bucket still lands wholly in one task (one file per bucket)
    val bucketId = pmod(hash(col(key)), lit(buckets))
    df.repartition(buckets * 4, bucketId).write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", dir).format("parquet").saveAsTable(tmp)
    spark.sql(s"DROP TABLE $tmp")
  }

  /** Append rows into an existing bucketed layout: same bucket count and
    * key, `mode(append)` — new files land beside the old ones with their
    * bucket ids in the names, and a bucketed read unions the per-bucket
    * file sets, so the exchange-free join property survives appends.
    */
  private[graft] def appendBucketed(spark: SparkSession, df: DataFrame, dir: String,
      key: String, buckets: Int): Unit = {
    // register the location as a bucketed table FIRST: saveAsTable(Append)
    // on a nonexistent table is CTAS and would REPLACE the directory
    val existing = loadBucketed(spark, dir, key, buckets)
    val tbl = s"graft_store_${tableSuffix(dir)}"
    // same bucket-id co-location as writeBucketed: without it each append
    // lands (write tasks × buckets) small files instead of one per bucket
    val bucketId = pmod(hash(col(key)), lit(buckets))
    df.select(existing.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
      .repartition(buckets * 4, bucketId)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(tbl)
  }

  private[graft] def loadBucketed(spark: SparkSession, dir: String, key: String,
      buckets: Int): DataFrame = {
    val tbl = s"graft_store_${tableSuffix(dir)}"
    val schemaDdl = spark.read.parquet(dir).schema.toDDL
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl ($schemaDdl) USING PARQUET
         |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
         |LOCATION '$dir'""".stripMargin)
    spark.table(tbl)
  }

  /** Deterministic per-path table suffix, so re-loading the same store
    * reuses its catalog entry and distinct stores never collide.
    */
  private def tableSuffix(dir: String): String = graft.StoreUtil.pathHash(dir)

  /** A full [[save]] is one compact layout: the counter restarts at 1
    * with the watermark on it.
    */
  private def writeManifest(spark: SparkSession, path: String, buckets: Int,
      ingests: Long = 1L, compactedAt: Long = 1L): Unit =
    graft.StoreUtil.writeMarker(spark, path, ManifestFile,
      s"""{"version":1,"buckets":$buckets,"ingests":$ingests,""" +
        s""""compacted_at":$compactedAt}""")

  private def readManifest(spark: SparkSession, path: String): Int = {
    val mf = graft.StoreUtil.requireManifest(spark, path, ManifestFile,
      "tree store")
    "\"buckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(mf)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"$path is not a tree store (no bucket count in $ManifestFile)"))
  }
}
