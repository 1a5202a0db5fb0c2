package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted graph edge store — the store-family lifecycle applied to
  * link analysis, so repeated centrality jobs skip the per-call edge
  * build. [[ClusterOps.prEdgeCache]] repartitions, sorts, and persists
  * the degree-joined edge table on EVERY PageRank call; this store
  * pays that layout once at save time (the reference pays its graph
  * build once at ingest and serves every traversal from the stored
  * topology — `/root/reference/src/main/java/opentree/GraphImporter
  * .java:154-210`) and loads it back PRE-PARTITIONED: edges and
  * per-source degrees are bucketed+sorted by `src` with the same
  * bucket count, so the serving join `edges ⋈ degrees ⋈ rank` does
  * zero exchange and zero sort on either stored side (PlanSpec locks
  * the executed plan); only the O(nodes) rank vector moves per round.
  *
  * Layout at `path`:
  *   - `edges/`    (src, dst)  bucketed+sorted by src
  *   - `degrees/`  (src, deg)  bucketed+sorted by src
  *   - `nodes/`    (id)        the distinct node set, small
  *   - `_graft_gstore.json`    manifest (version, buckets, n_edges,
  *                             ingests, compacted_at, symmetric,
  *                             optional last_batch)
  *
  * Degrees are stored DENORMALIZED from the edge rows because append
  * economics demand it: edge counts are additive, so growing the graph
  * folds the batch's per-src counts into the stored degree table
  * (O(nodes) rewrite) and appends the batch's edges (O(batch)) —
  * history edges are never re-scanned. A (src, dst, deg)-wide layout
  * would force rewriting every stored edge of any source the batch
  * touches.
  *
  * Saves, appends, recovery and compaction follow [[graft.StoreCommit]];
  * the rollback identity is the pre-batch manifest plus the pre-append
  * edge file list, both held in [[PendingFile]].
  *
  * The `symmetric` manifest flag is a caller assertion recorded at
  * save time: [[ClusterOps.connectedComponentsStored]] needs BOTH edge
  * directions stored (min-label propagation pulls across an edge one
  * way) and refuses stores saved without the flag — a directed store
  * built for PageRank would silently compute reachability labels, not
  * weak components.
  */
object GraphStore {

  val ManifestFile = "_graft_gstore.json"

  /** Present only while an append is in flight: line 1 is the
    * pre-batch manifest, the remaining lines the pre-append edge file
    * names.
    */
  val PendingFile = "_graft_gstore_pending"

  val FormatVersion = 1

  /** The loaded store: `edges` and `degrees` arrive bucketed by `src`
    * (catalog-registered scans — joining them on `src` moves nothing);
    * `nodes` is the distinct node set; `symmetric` echoes the save-time
    * assertion that both edge directions are stored.
    */
  case class Loaded(edges: DataFrame, degrees: DataFrame, nodes: DataFrame,
      buckets: Int, symmetric: Boolean)

  private val Commit = graft.StoreCommit.Kind("graph store", ManifestFile,
    PendingFile, "edges", "GraphStore.recoverAppend", strict = false)

  private def manifest(buckets: Int, nEdges: Long, lastBatch: Option[Long],
      ingests: Long, compactedAt: Long, symmetric: Boolean): String =
    s"""{"version":$FormatVersion,"buckets":$buckets,"n_edges":$nEdges,""" +
      s""""ingests":$ingests,"compacted_at":$compactedAt,""" +
      s""""symmetric":$symmetric""" +
      lastBatch.map(id => s""","last_batch":$id""").getOrElse("") + "}"

  private def symmetricOf(mf: String): Boolean =
    "\"symmetric\"\\s*:\\s*true".r.findFirstIn(mf).isDefined

  /** The three tables of a store holding edge multiset `e` — degrees and
    * nodes are pure functions of it.
    */
  private def tables(spark: SparkSession, e: DataFrame, dir: String,
      buckets: Int): graft.StoreCommit.Writes = Seq(
    "edges" -> (() => graft.tree.TreeStore.writeBucketed(spark, e,
      s"$dir/edges", "src", buckets)),
    "degrees" -> (() => graft.tree.TreeStore.writeBucketed(spark,
      e.groupBy(col("src")).agg(count(lit(1)).as("deg")),
      s"$dir/degrees", "src", buckets)),
    "nodes" -> (() => e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .write.mode("overwrite").parquet(s"$dir/nodes")))

  /** Build the store from an edge list (src, dst). Parallel edges are
    * kept — they act as weights, exactly as [[ClusterOps.pageRank]]
    * treats them. Pass `symmetric = true` ONLY when the edge frame
    * holds both directions of every link — the flag is recorded in the
    * manifest and gates the consumers whose correctness depends on it
    * ([[ClusterOps.connectedComponentsStored]]).
    */
  def save(spark: SparkSession, edges: DataFrame, path: String,
      buckets: Int = 32, batchId: Option[Long] = None,
      symmetric: Boolean = false): Unit = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // one pass is enough to serve all three tables, and the edge frame
    // may be expensive upstream (a join build): pin it for the span
    e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize and validate BEFORE touching the manifest: a
      // mis-shaped or empty edge frame must fail with any existing
      // store at `path` untouched (the PostingsStore.save ordering) —
      // and an empty graph would otherwise write a healthy manifest
      // over a fileless bucketed layout, a store that probes healthy
      // but cannot load
      val nEdges = e.count()
      require(nEdges > 0, "refusing to save an empty graph store — " +
        "an edgeless save usually means the build-side join broke")
      // a fresh save IS compact (one file per bucket): ingests = 1 and
      // the watermark sits at it, so needsCompact starts false
      graft.StoreCommit.rewrite(spark, Commit, path,
        tables(spark, e, path, buckets),
        manifest(buckets, nEdges, batchId, ingests = 1L, compactedAt = 1L,
          symmetric = symmetric))
    } finally e.unpersist(blocking = false)
  }

  /** Grow the graph: append the batch's edges into the bucketed layout
    * and FOLD its per-src counts into the stored degrees — additive,
    * so stored edges are never re-scanned; the degree and node tables
    * (O(nodes), not O(edges)) are the only rewrites. The merged frames
    * are materialized BEFORE the overwrite (the appendCm rule: the
    * merge plan reads the files the write replaces). The store stays
    * flagged symmetric only while every appended batch is asserted
    * symmetric too — one directed batch downgrades the flag, because
    * the UNION is what the CC consumer traverses.
    */
  def append(spark: SparkSession, path: String, edges: DataFrame,
      batchId: Option[Long] = None, symmetric: Boolean = false): Unit = {
    val pre = graft.StoreCommit.pre(spark, Commit, path, batchId)
      .getOrElse(return)
    val mf = pre.mf.get
    val buckets = graft.StoreUtil.manifestInt(mf, "buckets",
      s"graph store at $path")
    val nEdges = graft.StoreUtil.manifestLong(mf, "n_edges",
      s"graph store at $path")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the folded degree/node frames while the old files
      // are still readable
      val mergedDeg = ClusterOps.flatten(
        load(spark, path).degrees
          .unionByName(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
          .groupBy(col("src")).agg(sum(col("deg")).as("deg")))
      val mergedNodes = ClusterOps.flatten(
        spark.read.parquet(s"$path/nodes")
          .unionByName(e.select(col("src").as("id")))
          .unionByName(e.select(col("dst").as("id"))).distinct())
      val batchCount = e.count()
      graft.StoreCommit.append(spark, Commit, path,
        (mf +: graft.StoreUtil.dataFileNames(spark, s"$path/edges"))
          .mkString("\n"), Seq(
        "edges" -> (() => graft.tree.TreeStore.appendBucketed(spark, e,
          s"$path/edges", "src", buckets)),
        "degrees" -> (() => graft.tree.TreeStore.writeBucketed(spark,
          mergedDeg, s"$path/degrees", "src", buckets)),
        "nodes" -> (() =>
          mergedNodes.write.mode("overwrite").parquet(s"$path/nodes"))),
        manifest(buckets, nEdges + batchCount, pre.nextLast(batchId),
          ingests = pre.ingests + 1L, compactedAt = pre.compactedAt,
          symmetric = symmetricOf(mf) && symmetric))
    } finally e.unpersist(blocking = false)
  }

  def load(spark: SparkSession, path: String): Loaded = {
    val mf = graft.StoreCommit.manifest(spark, Commit, path)
    val buckets = graft.StoreUtil.manifestInt(mf, "buckets",
      s"graph store at $path")
    Loaded(
      graft.tree.TreeStore.loadBucketed(spark, s"$path/edges", "src",
        buckets),
      graft.tree.TreeStore.loadBucketed(spark, s"$path/degrees", "src",
        buckets),
      spark.read.parquet(s"$path/nodes"),
      buckets, symmetricOf(mf))
  }

  /** Healthy-store probe ([[graft.StoreCommit.exists]]). */
  def storeExists(spark: SparkSession, path: String): Boolean =
    graft.StoreCommit.exists(spark, Commit, path)

  /** Whether a maintenance pass is due: each [[append]] stacks another
    * file set into every touched bucket, so after k batches a rank
    * round opens O(k) files per bucket — the same unbounded growth the
    * fold stores surface.
    */
  def needsCompact(spark: SparkSession, path: String,
      slack: Int = 8): Boolean =
    graft.StoreCommit.needsCompact(spark, Commit, path, slack)

  /** Roll an interrupted append back out into a clean store at `dest`:
    * the pending marker names the exact pre-batch edge files, so the
    * crashed batch's files are excluded and degrees + nodes — pure
    * functions of the edge multiset — are rebuilt from the survivors
    * (O(store) once, vs the full re-ingest a source rebuild costs). The
    * dest manifest's watermark advances to the ingest count — the
    * rewrite is one file per bucket, a compaction by construction.
    */
  def recoverAppend(spark: SparkSession, path: String, dest: String): Unit = {
    val onDisk = graft.StoreUtil.dataFileNames(spark, s"$path/edges").toSet
    // a marker cut short by a crash while it was written reads as a
    // truncated manifest line or as file names that do not exist
    def parse(raw: String): Option[graft.StoreCommit.Pending[Seq[String]]] =
      raw.linesIterator.toSeq match {
        case preMf +: files if preMf.startsWith("{") && preMf.endsWith("}") &&
            files.nonEmpty && files.forall(onDisk) =>
          Some(graft.StoreCommit.Pending(files,
            Some(graft.StoreUtil.ingestsOf(preMf)), Some(preMf)))
        case _ => None
      }
    graft.StoreCommit.recover(spark, Commit, path, dest,
      graft.StoreUtil.ingestsOf, parse,
      graft.StoreCommit.watermarked(Commit, _)) { (preFiles, completed, mf) =>
      val cleanEdges = spark.read
        .parquet((if (completed) onDisk.toSeq else preFiles)
          .map(n => s"$path/edges/$n"): _*)
        .select(col("src"), col("dst"))
      tables(spark, cleanEdges, dest, graft.StoreUtil.manifestInt(mf,
        "buckets", s"graph store at $path"))
    }
  }

  /** Rewrite an append-grown store to one file per bucket at `dest` —
    * each append stacks another file set into every touched bucket, so
    * after k batches a rank round opens k files per bucket.
    */
  def compact(spark: SparkSession, path: String, dest: String): Unit =
    graft.StoreCommit.compact(spark, Commit, path, dest) { _ =>
      val st = load(spark, path)
      Seq(
        "edges" -> (() => graft.tree.TreeStore.writeBucketed(spark, st.edges,
          s"$dest/edges", "src", st.buckets)),
        "degrees" -> (() => graft.tree.TreeStore.writeBucketed(spark,
          st.degrees, s"$dest/degrees", "src", st.buckets)),
        "nodes" -> (() => st.nodes.write.mode("overwrite")
          .parquet(s"$dest/nodes")))
    }
}
