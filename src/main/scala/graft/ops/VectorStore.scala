package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF layout for embedding corpora — the ANN serving artifact.
  *
  * [[VectorOps.annIvf]] proves the cell-partitioned search *plan*; this
  * store makes the cells physical: at build time every vector is assigned
  * to its nearest centroid cell (broadcast centroids, map-side n·k dot
  * products — the only full-corpus pass) and the corpus is written
  * `partitionBy(cell)`, one parquet directory per cell. A query then
  * touches only the `nprobe` cells its vectors hash to: the cell predicate
  * is a *partition filter*, so file listing and IO skip every other cell's
  * data entirely — at 100 TB a 1024-cell store answers a query from
  * ~nprobe/1024 of the bytes, and the scan's `PartitionFilters` entry is
  * the auditable proof (locked in `VectorStoreSpec`).
  *
  * The cell key is serialized as `"c" + cid` (a string partition value —
  * immune to Hive partition-type inference, which would otherwise re-type
  * small numeric cells as int and break the long equi-join on reload).
  *
  * Layout: `path/cells/cell=c<cid>/…parquet` (id, vec), `path/centroids`
  * (cid, cvec), `path/_graft_vstore.json` manifest. Like
  * [[graft.tree.TreeStore]], build once — serve from any later session.
  */
object VectorStore {

  val ManifestFile = "_graft_vstore.json"

  /** Present while an [[appendPq]] is in flight: line 1 is the batch
    * tag and the append-counter snapshot, the rest the pre-batch
    * manifest. Saves, appends, recovery and compaction follow
    * [[graft.StoreCommit]].
    */
  val PendingFile = "_graft_vstore.pending"

  private val Commit = graft.StoreCommit.Kind("vector store", ManifestFile,
    PendingFile, "cells", "VectorStore.recoverAppendPq", strict = false)

  /** A loaded store: `cells` is the partition-pruned corpus scan
    * (id, vec, cell), `centroids` the broadcast-sized routing table.
    */
  case class Loaded(cells: DataFrame, centroids: DataFrame)

  /** Build the store: one nearest-cell assignment pass over the corpus
    * (nprobe=1 `max_by` — the exchange carries n rows, see
    * [[VectorOps.assignCells]]), then a partitioned write. The shuffle to
    * cell layout is paid once here, never at query time.
    *
    * @param corpus    (id, vec) — full corpus, any width
    * @param centroids (cid, cvec) — typically [[VectorOps.kmeansCentroids]]
    */
  def save(corpus: DataFrame, centroids: DataFrame, path: String,
      batchId: Option[Long] = None): Unit = {
    val assigned = VectorOps.assignCells(corpus, centroids, 1)
    // record the creating batchId (maintenance loops pass the foreachBatch
    // id here too): without it, a crash after save-batch-0 but before the
    // streaming checkpoint commits makes the redelivered batch 0 take the
    // append branch — lastBatchId None ≠ Some(0) — and batch-0's vectors
    // land TWICE; recording it makes the redelivery a guarded no-op
    graft.StoreCommit.rewrite(corpus.sparkSession, Commit, path, Seq(
      "cells" -> (() => assigned
        .select(col("id"), col("v").as("vec"),
          concat(lit("c"), col("cell")).as("cell"))
        // co-locate each cell before the partitioned write: without this,
        // every write task emits a file into every cell directory
        // (cells × tasks small files — measured 2k files at 1M×64 cells,
        // file-open cost swamping the pruning win). One task per cell is
        // right up to cells ≈ cluster parallelism; beyond-huge cells would
        // add a secondary split key to the repartition.
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")),
      "centroids" -> (() => centroids
        .select(col("cid"), VectorOps.toDouble(col("cvec")).as("cvec"))
        .write.mode("overwrite").parquet(s"$path/centroids"))),
      """{"version":1,"layout":"ivf-cell","ingests":1,"compacted_at":1""" +
        batchId.map(id => s""","last_batch":$id""").getOrElse("") + "}")
  }

  /** Incrementally add vectors to an existing store: the new corpus is
    * assigned against the SAME stored centroids (so cell routing never
    * drifts) and its files append into the matching cell directories — a
    * plain partitioned-parquet append, no rewrite of existing data. Cost
    * tracks the new batch; queries see old and new vectors identically.
    * Centroid drift (enough appends that the cells stop fitting the data)
    * is handled the same way as any IVF system: re-train and [[save]] a
    * fresh store.
    */
  def append(spark: SparkSession, path: String, corpus: DataFrame,
      batchId: Option[Long] = None): Unit = {
    // idempotence guard: a restarted streaming maintainer re-delivers its
    // last micro-batch, and re-appending vectors — unlike re-folding KMV
    // states — genuinely duplicates corpus rows, skewing every top-k that
    // touches the doubled cells
    val pre = graft.StoreCommit.pre(spark, Commit, path, batchId)
      .getOrElse(return)
    // read ONLY the centroids: going through load() would pay partition
    // discovery over every cell directory for a table append never scans
    val centroids = spark.read.parquet(s"$path/centroids")
    val nextMf = """{"version":1,"layout":"ivf-cell"""" +
      s""","ingests":${pre.ingests + 1L}""" +
      s""","compacted_at":${pre.compactedAt}""" +
      pre.nextLast(batchId).map(id => s""","last_batch":$id""")
        .getOrElse("") + "}"
    // untagged rows have no rollback identity, so a crash mid-append is
    // fenced by the manifest alone: the store refuses to load until
    // rebuilt rather than silently serve a partial batch
    graft.StoreCommit.rewrite(spark, Commit, path, Seq(
      "cells" -> (() => VectorOps.assignCells(corpus, centroids, 1)
        .select(col("id"), col("v").as("vec"),
          concat(lit("c"), col("cell")).as("cell"))
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$path/cells"))),
      nextMf)
  }

  /** Whether a maintenance pass is due — each [[append]] adds a file
    * per touched cell directory, so probes open O(appends) files per
    * cell until [[compact]].
    */
  def needsCompact(spark: SparkSession, path: String,
      slack: Int = 8): Boolean =
    graft.StoreCommit.needsCompact(spark, Commit, path, slack)

  /** Rewrite an append-grown store into a fresh one-file-per-cell layout
    * at `dest` — the periodic maintenance step of the append-many-times
    * lifecycle (each [[append]] adds one file per touched cell; reads
    * stay correct but open more files until compaction). The stored
    * centroids are inherited verbatim — compaction is a LAYOUT rewrite,
    * vectors keep their cells; re-clustering is a retrain + [[save]].
    */
  def compact(spark: SparkSession, path: String, dest: String): Unit =
    graft.StoreCommit.compact(spark, Commit, path, dest) { _ =>
      // cells are already assigned — repartition on the partition value
      // re-coalesces each cell's accumulated files into one task's
      // output. ALL columns are carried: a column-pruning select here
      // silently DESTROYED a PQ store (codes and ingest tags dropped, so
      // the compacted generation declared layout ivf-pq but could not
      // serve ADC and had no rollback identity) — layout-agnostic
      // rewrite, one definition for both families
      Seq("cells" -> (() => spark.read.parquet(s"$path/cells")
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$dest/cells")),
        "centroids" -> (() => spark.read.parquet(s"$path/centroids")
          .write.mode("overwrite").parquet(s"$dest/centroids"))) ++
        // the PQ layout's codebook travels with the store (queries MUST
        // build their LUTs against the exact codebook the codes were
        // assigned with)
        (if (!graft.StoreUtil.pathExists(spark, path, "codebook")) Nil
         else Seq("codebook" -> (() => spark.read.parquet(s"$path/codebook")
           .write.mode("overwrite").parquet(s"$dest/codebook"))))
    }

  /** Retrain the serving centroids on the store's CURRENT corpus and
    * write the result as a fresh generation at `dest` — the ACTION the
    * drift meter's signal ([[VectorOps.driftStats]]) calls for, and the
    * "re-train and save a fresh store" step [[append]]'s centroid-drift
    * doc promises. Warm-started from the centroids the store serves (k
    * and the cell ids stay fixed; entries move toward where the
    * appended data went) by `iters` Lloyd rounds — the k-FIXED variant
    * ([[VectorOps.kmeansCentroidsKept]]): a cell the corpus has fully
    * vacated keeps its stale entry instead of disappearing with the
    * round's aggregate, because the cell count is an
    * operator-configured property of the layout and plain Lloyd would
    * let repeated retrains ratchet it down silently. Then EVERY vector
    * reassigns against the new table — the cell layout must match the
    * routing table or partition pruning would lie. This is deliberately
    * the one full-corpus pass in the maintenance family: training is
    * build-time by definition, paid per retrain DECISION (which the
    * drift fold makes cheap to take on evidence), never per query or
    * append. The manifest carries over with the compaction watermark
    * advanced — crucially including `last_batch`, so a redelivered
    * micro-batch is still a no-op against the retrained generation.
    * Rotation into service and GC of the stale generation are the
    * caller's existing [[graft.StoreUtil]] rotation protocol.
    */
  def retrain(spark: SparkSession, path: String, dest: String,
      iters: Int): Unit = {
    val mf = graft.StoreCommit.compactFrom(spark, Commit, path, dest)
    require(!mf.contains(""""layout":"ivf-pq""""),
      s"$path is an IVF+PQ store — retrainPq refines its codebook " +
        "(the cell table is retrained separately if its own drift says so)")
    val corpus = spark.read.parquet(s"$path/cells")
      .select(col("id"), col("vec"))
    // localCheckpoint: the trained table is read by the assignment pass
    // AND written below — without it the iterated Lloyd lineage replays
    // once per consumer
    val cents = VectorOps.kmeansCentroidsKept(corpus,
      spark.read.parquet(s"$path/centroids"), iters).localCheckpoint()
    graft.StoreCommit.rewrite(spark, Commit, dest, Seq(
      "cells" -> (() => VectorOps.assignCells(corpus, cents, 1)
        .select(col("id"), col("v").as("vec"),
          concat(lit("c"), col("cell")).as("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dest/cells")),
      "centroids" -> (() => cents
        .select(col("cid"), VectorOps.toDouble(col("cvec")).as("cvec"))
        .write.mode("overwrite").parquet(s"$dest/centroids"))),
      graft.StoreCommit.watermarked(Commit, mf))
  }

  /** Retrain a PQ store's CODEBOOK on its current corpus and write the
    * result as a fresh generation — [[retrain]]'s twin for the artifact
    * [[VectorOps.pqDriftStats]] meters. The codebook warm-starts from
    * the entries the store serves ([[VectorOps.pqCodebookRefined]]) and
    * every row RE-ENCODES against the refined entries (codes and
    * codebook are one artifact — serving refined entries over stale
    * codes is exactly the corruption the compact-preserves-codebook
    * invariant guards against, from the other side). Cell routing is
    * untouched: the rows keep their cells (and their ingest tags — the
    * rollback identity survives retraining), so the rewrite is a
    * per-cell re-projection, no corpus-wide reshuffle beyond the
    * file-coalescing repartition every generation rewrite pays.
    */
  def retrainPq(spark: SparkSession, path: String, dest: String,
      iters: Int): Unit = {
    val mf = graft.StoreCommit.compactFrom(spark, Commit, path, dest)
    val st = loadPq(spark, path)
    val cb = VectorOps.pqCodebookRefined(
      st.cells.select(col("id"), col("vec")), st.codebook, st.m, st.dim,
      iters).localCheckpoint()
    graft.StoreCommit.rewrite(spark, Commit, dest, Seq(
      "cells" -> (() => st.cells
        .withColumn("codes", VectorOps.pqCodesCol(col("vec"), cb, st.m,
          st.dim))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dest/cells")),
      "centroids" -> (() =>
        st.centroids.write.mode("overwrite").parquet(s"$dest/centroids")),
      "codebook" -> (() =>
        cb.write.mode("overwrite").parquet(s"$dest/codebook"))),
      graft.StoreCommit.watermarked(Commit, mf))
  }

  /** Open a saved store. Fails fast on a directory that is not a vector
    * store (missing manifest) instead of misreading arbitrary parquet.
    */
  def load(spark: SparkSession, path: String): Loaded = {
    graft.StoreCommit.manifest(spark, Commit, path)
    Loaded(spark.read.parquet(s"$path/cells"),
      spark.read.parquet(s"$path/centroids"))
  }

  /** Whether a healthy store (either layout — both share the manifest
    * file and cells directory) exists at `path` — the probe a
    * maintenance loop's create-or-append branch MUST use
    * ([[graft.StoreCommit.exists]]): cells without a manifest mean a save
    * or append crashed mid-write, and that is BROKEN, not absent — a
    * bare readMarker probe would take the save branch and `overwrite`
    * the accumulated corpus with one micro-batch, silently resetting
    * history (for a frontier store, every prior survivor could then
    * re-enter as "novel").
    */
  def storeExists(spark: SparkSession, path: String): Boolean =
    graft.StoreCommit.exists(spark, Commit, path)

  /** ANN top-k against the stored layout. The bounded query side is routed
    * to its `nprobe` best cells (broadcast centroids); the distinct probed
    * cell keys — at most |queries|·nprobe of them, request-bounded — are
    * collected and applied as a literal IN predicate on the partition
    * column, so the corpus scan reads ONLY those cells' files. Scoring and
    * ranking then match [[VectorOps.annIvf]] bit for bit: a corpus vector
    * lives in exactly one cell, so each (query, neighbor) pair is scored
    * once; rounding, tie order, and the q≠n filter are identical.
    */
  /** Hard ceiling on collected (query × nprobe) rows — the request-bounded
    * contract made ENFORCED: an oversized query set fails fast with a
    * clear message instead of accumulating on the driver. Generous for
    * interactive serving; unbounded sets belong on [[VectorOps.annIvf]].
    */
  val MaxQueryRows = 100000

  def query(st: Loaded, queries: DataFrame, k: Int, nprobe: Int = 2,
      maxQueryRows: Int = MaxQueryRows): DataFrame = {
    val spark = st.cells.sparkSession
    // The query side is request-bounded by contract, so ONE job collects
    // the cell assignment, and the collected rows feed BOTH the probed-cell
    // partition predicate and the join's query side. Single evaluation: a
    // non-deterministic queries plan (sample, unordered limit) cannot
    // route to cells absent from the predicate and silently drop
    // neighbors — and the serving path pays one scheduling round trip,
    // not three. (Unbounded query sets belong on VectorOps.annIvf, where
    // nothing passes through the driver.)
    val qcPlan = VectorOps.assignCells(queries, st.centroids, nprobe)
      .select(col("id").as("q_id"), col("v").as("q_vec"),
        concat(lit("c"), col("cell")).as("cell"))
    // bounded collect (limit cap+1, then require): the contract fails
    // fast instead of OOMing the driver on an unbounded query frame
    val qcRows = qcPlan.limit(maxQueryRows + 1).collect()
    require(qcRows.length <= maxQueryRows,
      s"query set exceeds $maxQueryRows collected rows (queries × nprobe) " +
        "— use VectorOps.annIvf for unbounded query sets")
    val probed = qcRows.map(_.getString(2)).distinct.sorted
    val qc = spark.createDataFrame(
      java.util.Arrays.asList(qcRows: _*), qcPlan.schema)
    val corpus = st.cells
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col("id").as("n_id"), VectorOps.toDouble(col("vec")).as("n_vec"),
        col("cell"))
    val scored = qc.join(corpus, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(VectorOps.cosine(col("q_vec"), col("n_vec")), 6).as("cos"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("cos"))
  }

  /** Incremental SEMANTIC frontier — the embedding leg of the
    * incremental-dedup triad (Bloom store = exact-hash frontier,
    * LshStore = MinHash text frontier): of a new batch, the rows with
    * NO stored cosine-near-duplicate. History is probed through the
    * store's cell layout — the batch routes to cells via the STORED
    * centroids (routing never drifts) and compares only against the
    * matching cells' vectors, so the work is Σ|cell∩batch|·|cell|,
    * never |batch|·|history|, and history itself is never self-joined
    * or rescanned. `nprobe > 1` widens the probe for Voronoi-boundary
    * dups ([[VectorOps.nearDupPairsBucketed]]'s recall knob). The
    * batch side is UNBOUNDED by design — nothing passes through the
    * driver (contrast [[query]]'s request-bounded collect): at scale
    * this is a shuffle-join on the cell key with the frontier's
    * anti-join on top. Survivors keep every batch column; a typical
    * maintenance loop appends them ([[append]]) and drops the rest.
    */
  def frontier(st: Loaded, batch: DataFrame, threshold: Double,
      nprobe: Int = 1): DataFrame = {
    val probed = VectorOps.assignCells(batch, st.centroids, nprobe)
      .select(col("id"), col("v"),
        concat(lit("c"), col("cell")).as("cell"))
    val hist = st.cells.select(VectorOps.toDouble(col("vec")).as("h_vec"),
      col("cell"))
    val dup = probed.join(hist, Seq("cell"))
      .filter(round(VectorOps.cosine(col("v"), col("h_vec")), 6)
        > threshold)
      .select(col("id")).distinct()
    batch.join(dup, Seq("id"), "left_anti")
  }

  // -------------------------------------------------- IVF+PQ layout

  /** A loaded PQ store: cells carry (id, vec, codes, cell), plus the
    * codebook the codes were assigned with — queries MUST build their
    * distance tables against that exact codebook, so it travels with
    * the store like the centroids do (a drifted codebook would score
    * garbage silently).
    */
  case class LoadedPq(cells: DataFrame, centroids: DataFrame,
      codebook: DataFrame, m: Int, dim: Int)

  /** Save the IVF+PQ layout: same cell-partitioned directories as
    * [[save]], but every row also carries its `m` PQ codes, and the
    * codebook persists alongside the centroids. The serving win
    * compounds: a query lists only its probed cells' files (partition
    * pruning) AND scores each candidate by `m` integer lookups over the
    * stored codes — the raw `vec` column exists for exact re-ranking
    * but the ADC path never reads it (columnar parquet: unread columns
    * cost nothing).
    */
  def savePq(corpus: DataFrame, centroids: DataFrame, codebook: DataFrame,
      path: String, m: Int, dim: Int, batchId: Option[Long] = None): Unit = {
    // codes ride the SAME projection as the cell assignment (quantizing
    // v — the float vector widened to double — floors to the identical
    // longs): a separate pqEncode joined back on id would shuffle the
    // whole corpus once more for no reason. Null vectors are dropped
    // (no codes, no cell), as the join formulation did implicitly.
    // every row carries its ingest tag from birth (creation tag: the
    // creating batchId, or -1; ingest_seq 0) so [[recoverAppendPq]] can
    // roll a later partial append back
    val rows = VectorOps.assignCells(corpus.filter(col("vec").isNotNull),
        centroids, 1)
      .select(col("id"), col("v").as("vec"),
        VectorOps.pqCodesCol(col("v"), codebook, m, dim).as("codes"),
        lit(batchId.getOrElse(-1L)).as("ingest_batch"),
        lit(0L).as("ingest_seq"),
        concat(lit("c"), col("cell")).as("cell"))
    // the creating batchId is recorded for the same batch-0
    // crash-redelivery window the plain save closes: a replayed create
    // must take the no-op path, not append onto its own output
    graft.StoreCommit.rewrite(corpus.sparkSession, Commit, path, Seq(
      "cells" -> (() => rows.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")),
      "centroids" -> (() => centroids
        .select(col("cid"), VectorOps.toDouble(col("cvec")).as("cvec"))
        .write.mode("overwrite").parquet(s"$path/centroids")),
      "codebook" -> (() =>
        codebook.write.mode("overwrite").parquet(s"$path/codebook"))),
      pqManifest(m, dim, appends = 0L, batchId))
  }

  /** The PQ manifest carries BOTH counters: `appends` is the rollback
    * identity [[recoverAppendPq]] keys on (counter snapshot in the
    * pending marker), and `ingests`/`compacted_at` are the
    * family-shared maintenance watermark ([[needsCompact]] reads them
    * through the one shared rule) — without them a PQ store's nudge
    * read the lenient legacy defaults forever and compaction could
    * never reset it. ingests = appends + 1 (the creating save counts
    * as the first ingest, same as the plain layout).
    */
  private def pqManifest(m: Int, dim: Int, appends: Long,
      batchId: Option[Long], compactedAt: Long = 1L): String =
    s"""{"version":1,"layout":"ivf-pq","m":$m,"dim":$dim""" +
      s""","appends":$appends,"ingests":${appends + 1L}""" +
      s""","compacted_at":$compactedAt""" +
      batchId.map(id => s""","last_batch":$id""").getOrElse("") + "}"

  /** The append counter; 0 for stores written before it existed. */
  private def appendsOf(mf: String): Long =
    ("\"appends\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(mf)
      .map(_.group(1).toLong).getOrElse(0L)

  /** Incrementally add vectors to a PQ store: the batch routes through
    * the STORED centroids and encodes against the STORED codebook (both
    * invariants of the artifact — drifting either silently corrupts
    * every later ADC), then appends into the matching cell directories.
    * Same batchId idempotence as [[append]]: re-appending a redelivered
    * micro-batch would duplicate rows and skew every top-k in the
    * doubled cells.
    */
  def appendPq(spark: SparkSession, path: String, corpus: DataFrame,
      batchId: Option[Long] = None): Unit = {
    val pre = graft.StoreCommit.pre(spark, Commit, path, batchId)
      .getOrElse(return)
    val st = loadPq(spark, path)
    val mfPre = pre.mf.get
    // the tag snapshot is the `appends` counter (= ingests - 1): the
    // default tag −(ingests+1) stays clear of the creation tag −1
    val appends = appendsOf(mfPre)
    val tag = graft.StoreCommit.Tag.next(batchId, appends + 1L, appends)
    val assigned = tag(VectorOps.assignCells(
        corpus.filter(col("vec").isNotNull), st.centroids, 1)
      .select(col("id"), col("v").as("vec"),
        VectorOps.pqCodesCol(col("v"), st.codebook, st.m, st.dim).as("codes"),
        concat(lit("c"), col("cell")).as("cell")))
    // a store written before tags existed keeps a uniform schema; it
    // simply has no rollback path — and a tag-only store likewise stays
    // seq-less (rollback falls back to the tag)
    val rows =
      if (!st.cells.columns.contains("ingest_batch"))
        assigned.drop("ingest_batch", "ingest_seq")
      else if (!st.cells.columns.contains("ingest_seq"))
        assigned.drop("ingest_seq")
      else assigned
    // the marker carries the pre-batch manifest too, so recovery can
    // restore it even when the manifest itself is gone
    graft.StoreCommit.append(spark, Commit, path, s"${tag.marker}\n$mfPre",
      Seq("cells" -> (() => rows.repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$path/cells"))),
      pqManifest(st.m, st.dim, appends + 1L, pre.nextLast(batchId),
        pre.compactedAt))
  }

  /** Roll an interrupted [[appendPq]] back out into `dest`
    * ([[graft.StoreCommit.recover]]; the completion witness is the
    * `appends` counter). Centroids and codebook are append-invariant and
    * copy verbatim.
    */
  def recoverAppendPq(spark: SparkSession, path: String,
      dest: String): Unit = {
    def parse(raw: String) = raw.split("\n", 2) match {
      case Array(head, mf) if mf.trim.startsWith("{") && mf.trim.endsWith("}") =>
        graft.StoreCommit.Tag.parse(head)
          .map(t => graft.StoreCommit.Pending(t, Some(t.snapshot), Some(mf)))
      case _ => None
    }
    graft.StoreCommit.recover(spark, Commit, path, dest, appendsOf,
      parse) { (tag, completed, _) =>
      val cells = graft.StoreCommit.readTagged(spark, s"$path/cells")
      require(cells.columns.contains("ingest_batch") || completed,
        s"cells at $path carry no ingest tags (pre-tag store) — a partial " +
          "append cannot be rolled back; rebuild from source")
      Seq("cells" -> (() => (if (completed) cells else tag.keep(cells))
          .withColumn("cell", col("cell").cast("string"))
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$dest/cells"))) ++
        Seq("centroids", "codebook").map(t => t -> (() =>
          spark.read.parquet(s"$path/$t")
            .write.mode("overwrite").parquet(s"$dest/$t")))
    }
  }

  def loadPq(spark: SparkSession, path: String): LoadedPq = {
    val mf = graft.StoreCommit.manifest(spark, Commit, path)
    require(mf.contains(""""layout":"ivf-pq""""),
      s"$path is not an IVF+PQ store (layout is not ivf-pq); " +
        "use VectorStore.load for plain IVF layouts")
    def field(k: String): Int =
      graft.StoreUtil.manifestInt(mf, k, s"PQ manifest at $path")
    LoadedPq(spark.read.parquet(s"$path/cells"),
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/codebook"), field("m"), field("dim"))
  }

  /** ADC top-k against the stored PQ layout: the same single-collect
    * probed-cell routing as [[query]] (one job, the collected rows feed
    * both the partition predicate and the join side), then each
    * candidate is scored by summing `m` LUT entries addressed by its
    * STORED codes — bit-equal to [[VectorOps.annIvfPq]] over the same
    * centroids and codebook, which is what the shared oracle asserts.
    */
  def queryAdc(st: LoadedPq, queries: DataFrame, k: Int, nprobe: Int = 2,
      maxQueryRows: Int = MaxQueryRows): DataFrame = {
    val s = adcStage(st, queries, nprobe, maxQueryRows)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc"), col("n_id"))
    s.adc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("adc"))
  }

  /** The ADC scoring stage shared by [[queryAdc]] (ranks it to k) and
    * [[queryRerank]] (shortlists it to c, then re-ranks exactly): the
    * collected query-cell routing, the probed partition set, and the
    * unranked per-candidate ADC sums.
    */
  private final case class AdcStage(qc: DataFrame, probed: Seq[String],
      adc: DataFrame, nQueries: Long)

  private def adcStage(st: LoadedPq, queries: DataFrame, nprobe: Int,
      maxQueryRows: Int): AdcStage = {
    val spark = st.cells.sparkSession
    val qcPlan = VectorOps.assignCells(queries, st.centroids, nprobe)
      .select(col("id").as("q_id"), col("v").as("q_vec"),
        concat(lit("c"), col("cell")).as("cell"))
    val qcRows = qcPlan.limit(maxQueryRows + 1).collect()
    require(qcRows.length <= maxQueryRows,
      s"query set exceeds $maxQueryRows collected rows (queries × nprobe) " +
        "— use VectorOps.annIvfPq for unbounded query sets")
    val probed = qcRows.map(_.getString(2)).distinct.sorted.toSeq
    val qc = spark.createDataFrame(
      java.util.Arrays.asList(qcRows: _*), qcPlan.schema)
    val lut = VectorOps.pqLut(
      qc.select(col("q_id").as("id"), col("q_vec").as("vec")).distinct(),
      st.codebook, st.m, st.dim)
    val adc = st.cells
      .filter(col("cell").isin(probed: _*))
      .select(col("id").as("n_id"), col("codes"), col("cell"))
      .join(broadcast(qc.select(col("q_id"), col("cell"))), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), posexplode(col("codes")))
      .select(col("q_id"), col("n_id"), col("pos").as("j"),
        col("col").as("code"))
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("d2")).as("adc"))
    AdcStage(qc, probed, adc,
      qcRows.iterator.map(_.get(0)).toSet.size.toLong)
  }

  /** Two-stage ANN serving — the standard production shape [[queryAdc]]
    * stops short of: the ADC pass shortlists the top `c` PQ candidates
    * per query (cell-pruned IO, m-lookup scoring, raw vectors never
    * read), then EXACTLY those rows are re-ranked by the full-dimension
    * integer-quantized squared L2 over the STORED raw vectors
    * ([[VectorOps.quantSqDist]] — the same floor(x·1000) domain the
    * codes live in, so exact and approximate distances are comparable
    * and the whole pipeline stays int64 bit-reproducible). Recall at a
    * fixed nprobe jumps toward the cell-exhaustive answer while the
    * scan cost stays cell-pruned and the exact kernel touches at most
    * `c` rows per query — c ≈ 4–10×k is the knob a deployment turns
    * when PQ distortion starts costing neighbors.
    *
    * The shortlist (≤ |queries|·c rows, request-bounded like the query
    * routing itself) is BROADCAST into a second pruned scan of the
    * cells, so the exact pass reads the `vec` column for candidate
    * rows only — columnar parquet never materializes it for the rest.
    *
    * @return (q_id, n_id, rnk, d2) — exact quantized squared L2, rank
    *         by (d2, n_id), top k
    */
  def queryRerank(st: LoadedPq, queries: DataFrame, k: Int, c: Int,
      nprobe: Int = 2, maxQueryRows: Int = MaxQueryRows): DataFrame = {
    require(k > 0 && c >= k,
      s"need k > 0 and a shortlist c >= k (got k=$k, c=$c)")
    val s = adcStage(st, queries, nprobe, maxQueryRows)
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc"), col("n_id"))
    val shortlist = s.adc.withColumn("rnk", row_number().over(wc))
      .filter(col("rnk") <= c)
      .select(col("q_id"), col("n_id"))
    // Memory contract of the broadcast: the shortlist is ≤ |queries|·c
    // rows, and the broadcast hint is safe only while that PRODUCT is
    // request-bounded — bounding c alone admits a 40k-query × 5k-c
    // multi-GB broadcast, and c = ∞ (a cell-exhaustive truth probe,
    // as VectorStoreSpec's two-stage test runs) admits a corpus-scale
    // one. The query count is known driver-side (the routing table was
    // collected), so past nQueries·c > maxQueryRows the hint is dropped
    // and the join plans as a shuffle: the truth probe trades latency,
    // the serving path (bounded queries, c ≈ 4–10×k) keeps its broadcast.
    val sl =
      if (s.nQueries == 0L || c.toLong <= maxQueryRows.toLong / s.nQueries)
        broadcast(shortlist)
      else shortlist
    val exact = st.cells
      .filter(col("cell").isin(s.probed: _*))
      .select(col("id").as("n_id"), col("vec"))
      .join(sl, Seq("n_id"))
      .join(broadcast(s.qc.select(col("q_id"), col("q_vec")).distinct()),
        Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        VectorOps.quantSqDist(col("q_vec"), col("vec")).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2"), col("n_id"))
    exact.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("d2"))
  }
}
