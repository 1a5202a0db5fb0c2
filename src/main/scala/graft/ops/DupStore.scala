package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted sliding-window hash index — the incremental exact-substring
  * dedup artifact, completing the family [[LshStore]] (near-dup pairs)
  * and [[VectorStore]] (semantic) cover at their granularities.
  *
  * [[TextOps.duplicatedSpans]] proves the one-shot plan (one corpus-wide
  * hash aggregate, never pairwise); this store makes the EVIDENCE durable,
  * which is what a continuously-crawled corpus needs: when a new snapshot
  * arrives, every ≥win-token sequence it shares with ALL prior data must
  * be found without re-tokenizing, re-hashing, or even re-reading the old
  * corpus. The stored index is per-ingest aggregated `(h, n)` — one row
  * per DISTINCT window hash per batch, a 16-byte binary md5 plus a
  * count, free of the text itself. Like the suffix array this op
  * re-expresses, the index is O(corpus tokens) — that is the price of
  * EXACT substring dedup at any granularity — but what a probe saves is
  * the expensive part: no re-tokenizing, no re-hashing, and above all no
  * shuffle of history, ever — [[probeSpans]]/[[probeStrip]] scan the
  * index exactly once with the (small) new batch's distinct hashes
  * broadcast, where the one-shot re-run exchanges the entire corpus's
  * window table through its hash aggregate every snapshot.
  *
  * Probe semantics (immutable history, the frontier contract shared with
  * [[LshStore]]/`emb_frontier`): a batch window is duplicated iff its
  * hash occurs in the store OR ≥2 times within the batch. Because any
  * partner site counts regardless of which side holds it, the probe of a
  * batch equals the ONE-SHOT [[TextOps.duplicatedSpans]] over
  * history∪batch restricted to batch documents — the property the gate's
  * shared-oracle check rides on (`DupStoreSpec` proves it on adversarial
  * splits). History rows are never re-judged: a window in an OLD document
  * whose first partner arrives later is the old snapshot's business only
  * if the pipeline re-probes it, which is a full re-run, not an ingest.
  *
  * Appends, recovery and compaction follow [[graft.StoreCommit]]; the
  * rollback identity is the per-row tag (`ingest_batch`, `ingest_seq`).
  * [[compact]] merges per-hash rows (counts sum), so a long-lived store
  * stays one row per distinct hash.
  *
  * Layout: `path/hashes` (h, n, ingest_batch, ingest_seq),
  * `path/_graft_dupstore.json`.
  */
object DupStore {

  val ManifestFile = "_graft_dupstore.json"
  val PendingFile = "_graft_dup_pending"

  /** A loaded index: `hashes` is the stored scan; `win` is the manifest's
    * window length, carried so a probe can never hash its batch with a
    * different window than the index was built with (a mismatch finds
    * nothing, silently).
    */
  final case class Loaded(hashes: DataFrame, win: Int, path: String)

  private val Commit = graft.StoreCommit.Kind("dup-hash store",
    ManifestFile, PendingFile, "hashes", "DupStore.recoverIngest",
    strict = true)

  private def manifest(win: Int, ingests: Long,
      batchId: Option[Long], compactedAt: Long): String =
    s"""{"version":1,"win":$win,"ingests":$ingests""" +
      s""","compacted_at":$compactedAt""" +
      batchId.map(id => s""","last_batch":$id""").getOrElse("") + "}"

  /** Whether a healthy index exists at `path` (the
    * [[graft.StoreCommit.exists]] broken-vs-absent rule).
    */
  def exists(spark: SparkSession, path: String): Boolean =
    graft.StoreCommit.exists(spark, Commit, path)

  def load(spark: SparkSession, path: String): Loaded = {
    val m = graft.StoreCommit.manifest(spark, Commit, path)
    Loaded(spark.read.parquet(s"$path/hashes"),
      graft.StoreUtil.manifestInt(m, "win", s"dup manifest at $path"), path)
  }

  /** The index AS OF ingest watermark `asOf` — the historical read a
    * ledger-driven replay needs: every row carries the counter value of
    * the ingest that wrote it (`ingest_seq`), so "the store as the
    * strip saw it" is a FILTER, not a reconstruction — later ingests
    * into the same generation (including the probed delivery's own
    * [[probeStripThenIngest]] ingest) drop out, and the replayed strip
    * is bit-identical to the original. Compacted rows merge their seqs
    * away (seq 0), which is sound exactly while the compaction
    * watermark is at or under `asOf` — every merged row was already
    * visible then; a state OLDER than the compaction cannot be
    * reconstructed from this generation and is refused (replay from the
    * earlier generation the ledger recorded instead). Pre-seq legacy
    * rows are likewise refused — no rollback identity, no time travel.
    */
  def loadAsOf(spark: SparkSession, path: String, asOf: Long): Loaded = {
    val st = load(spark, path)
    val mf = graft.StoreUtil.readMarker(spark, path, ManifestFile).get
    val compactedAt = graft.StoreUtil.compactedAtOf(mf)
    if (compactedAt > asOf)
      throw new IllegalStateException(
        s"$path was compacted at ingest $compactedAt, past the requested " +
          s"as-of state $asOf — that state only exists in an earlier " +
          "generation of this chain")
    // the column-presence probe alone misses a MIXED store (pre-tag
    // files appended to after tags existed read back with NULL seqs,
    // and `null <= asOf` would silently drop that legacy history from
    // the replayed strip); the null scan is one bounded job on a
    // replay-only path
    if (!st.hashes.columns.contains("ingest_seq") ||
        !st.hashes.filter(col("ingest_seq").isNull).isEmpty)
      throw new IllegalStateException(
        s"$path carries untagged hash rows (pre-tag store or mixed " +
          "legacy files) — as-of reads need the per-ingest rollback " +
          "identity on every row")
    st.copy(hashes = st.hashes.filter(col("ingest_seq") <= asOf))
  }

  /** Ingest one batch: aggregate its window hashes (count + min (doc,
    * pos) site per hash) and append them, creating the store on the
    * first batch. The window length is validated against the manifest on
    * every later ingest. Idempotent under foreachBatch zombie
    * re-delivery via the manifest's `last_batch`.
    */
  def ingestBatch(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String, win: Int = 4,
      batchId: Option[Long] = None): Unit = {
    val pre = graft.StoreCommit.pre(spark, Commit, path, batchId,
      create = true).getOrElse(return)
    val ww = pre.mf match {
      case Some(m) =>
        val sw = graft.StoreUtil.manifestInt(m, "win",
          s"dup manifest at $path")
        require(win == sw,
          s"index at $path was built with win=$sw; refusing " +
            s"ingest with win=$win")
        sw
      case None => win
    }
    // one aggregate consumes the lazy window table inline — no
    // checkpoint; per-batch rows are (h, n) only: every probe tests hash
    // EXISTENCE (history-wins has no tie to break — history is earlier
    // by the crawl contract), so site payloads would be 16 write-only
    // bytes per row in an O(corpus tokens) artifact
    val rows = TextOps.windowTable(batch, idCol, textCol, ww)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"))
    val tag = pre.tag(batchId)
    graft.StoreCommit.append(spark, Commit, path, tag.marker, Seq(
      "hashes" -> (() => tag(rows)
        .write.mode(if (pre.mf.isDefined) "append" else "overwrite")
        .parquet(s"$path/hashes"))),
      manifest(ww, pre.ingests + 1L, pre.nextLast(batchId), pre.compactedAt))
  }

  /** The shared probe evidence: the batch hashed ONCE (materialized —
    * several plan branches read it) and the store-matched subset of its
    * hashes — ONE definition of the history join for every probe, with
    * the batch side broadcast (one history scan, zero history shuffle).
    */
  private final case class Evidence(w: DataFrame, histDup: DataFrame)

  private def evidence(st: Loaded, batch: DataFrame, idCol: String,
      textCol: String): Evidence = {
    // windowTable is lazy; ONE flatten here is the probe's only
    // materialization of the batch evidence
    val w = ClusterOps.flatten(
      TextOps.windowTable(batch, idCol, textCol, st.win))
    Evidence(w, st.hashes
      .join(broadcast(w.select(col("h")).distinct()), "h")
      .select(col("h")).distinct())
  }

  /** Duplicated (id, i) window positions: store-known hashes plus
    * within-batch repeats from the batch's own aggregate.
    */
  private def dupPositions(ev: Evidence): DataFrame = {
    val batchDup = ev.w.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("h"))
    // dupH is O(batch windows) — the same bound as the already-broadcast
    // probe hash set in [[evidence]] — but it hangs off a checkpointed
    // RDD whose default stats make the planner sort-merge, exchanging
    // ev.w on h for nothing. The explicit hint keeps the batch's window
    // table unmoved (one fewer exchange = one fewer serialized AQE
    // stage job per probe).
    val dupH = broadcast(batchDup.union(ev.histDup).distinct())
    ev.w.join(dupH, "h").select(col("id"), col("i"))
  }

  /** Maximal duplicated spans of `batch` against everything the store
    * has seen plus the batch itself — equal by construction to the
    * one-shot [[TextOps.duplicatedSpans]] over history∪batch restricted
    * to batch docs. Same output shape as the in-memory op.
    */
  def probeSpans(st: Loaded, batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    TextOps.spansFromPositions(idCol,
      dupPositions(evidence(st, batch, idCol, textCol)), st.win)

  /** Per-doc coverage companion of [[probeSpans]] (same output shape as
    * [[TextOps.duplicationStats]]).
    */
  def probeStats(st: Loaded, batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    TextOps.duplicationStatsFromSpans(batch, idCol, textCol,
      probeSpans(st, batch, idCol, textCol))

  /** The incremental removal stage: any batch window whose hash the
    * store has seen is cut (history holds a strictly earlier copy);
    * within the batch, the keep-first rule of
    * [[TextOps.stripDuplicatedSpans]] applies — min (doc, pos) site
    * survives. Equal by construction to the one-shot strip over
    * history∪batch restricted to batch docs, PROVIDED history ids
    * precede batch ids (the crawl-snapshot contract; with interleaved
    * ids the one-shot may protect a batch site over a history site —
    * `DupStoreSpec` pins both sides of this boundary).
    */
  def probeStrip(st: Loaded, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ev = evidence(st, batch, idCol, textCol)
    // both join sides below are O(batch windows) — firstInBatch is one
    // row per distinct batch hash, histDup the store-matched subset of
    // the same — i.e. the bound the probe's design already broadcasts
    // (the evidence hash set). Without the hints the checkpointed w's
    // default stats drive both joins to sort-merge, exchanging the
    // window table twice; with them w never moves and each probe runs
    // two fewer exchange stages (each one a serialized AQE job).
    val firstInBatch = broadcast(ev.w.groupBy(col("h"))
      .agg(min(struct(col("id"), col("i"))).as("first"),
        count(lit(1)).as("n")))
    // removal = every site of a history-known hash, else every
    // non-first site of a batch-repeated hash
    val rem = ev.w
      .join(firstInBatch, "h")
      .join(broadcast(ev.histDup.withColumn("hist", lit(true))),
        Seq("h"), "left_outer")
      .filter(coalesce(col("hist"), lit(false)) ||
        (col("n") >= 2 && struct(col("id"), col("i")) =!= col("first")))
      .select(col("id"), col("i"))
    TextOps.stripFromRemovalWindows(batch, idCol, textCol, rem, st.win,
      broadcastCut = true)
  }

  /** The crawl-cleaning micro-batch body, packaged: strip `batch`
    * against everything the store has seen (history wins; within-batch
    * keep-first — [[probeStrip]]; the FIRST batch, with no history yet,
    * is the one-shot within-batch strip), write the cleaned rows to
    * `outPath/batch=<id>`, then ingest the batch's window hashes. This
    * is the composition a streaming pipeline runs per `foreachBatch`
    * delivery — streamed outputs accumulate to exactly the one-shot
    * corpus strip when batch order follows id order (StreamingSpec
    * proves it across micro-batches and a zombie redelivery).
    *
    * Exactly-once discipline: a redelivered `batchId` that already
    * completed is a FULL no-op (the manifest's last_batch guard —
    * output and index both already reflect it); a redelivery after a
    * crash between the output write and the ingest overwrites its own
    * `batch=<id>` directory with identical bytes (per-batch overwrite
    * is the idempotent-sink recipe) and re-ingests; a crash mid-ingest
    * leaves the pending marker, which [[recoverIngest]] rolls back
    * before the stream restarts.
    *
    * Known trade: the composition re-reads the tiny marker files once
    * here and once inside [[ingestBatch]] (each guards independently —
    * the ingest must stay safe when called directly). A few extra
    * kilobyte reads per micro-batch; correctness first.
    */
  def probeStripThenIngest(spark: SparkSession, path: String,
      outPath: String, batch: DataFrame, idCol: String, textCol: String,
      batchId: Long, win: Int = 4): Unit = {
    val pre = graft.StoreCommit.pre(spark, Commit, path, Some(batchId),
      create = true).getOrElse(return)
    // one materialization feeds the strip (several plan branches) and
    // the ingest — a foreachBatch Dataset re-executes per action
    // otherwise
    val b = ClusterOps.flatten(batch)
    val cleaned =
      if (pre.mf.isDefined) probeStrip(load(spark, path), b, idCol, textCol)
      else TextOps.stripDuplicatedSpans(b, idCol, textCol, win)
    cleaned.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    ingestBatch(spark, path, b, idCol, textCol, win, Some(batchId))
  }

  /** Roll an interrupted ingest back out into a clean store at `dest`
    * ([[graft.StoreCommit.recoverTagged]]).
    */
  def recoverIngest(spark: SparkSession, path: String, dest: String): Unit =
    graft.StoreCommit.recoverTagged(spark, Commit, path, dest, Seq("hashes"))

  /** Rewrite an ingest-grown store at `dest`, MERGING per-hash rows —
    * counts sum — so a store that has seen k batches goes back to one
    * row per distinct hash (probes only test hash EXISTENCE, preserved
    * under the merge; `DupStoreSpec` proves probe-equality across
    * compaction).
    * Merged rows carry batch tag −1/seq 0 (no live rollback identity —
    * compaction of a healthy store has nothing to roll back). Unlike
    * the kilobyte-scale sibling stores, this index is O(corpus tokens),
    * and a single-file layout starves the probe scan of row groups
    * (measured ~2× slower). Compaction keeps the source's file count,
    * at most 32: an ingest writes about one file per core of its
    * session, which keeps the scan parallel (a one-ingest store of 5M
    * windows, 91 MB, on 4 cores: 4 files probe no slower than 32), and
    * a small store's file set never grows.
    */
  def compact(spark: SparkSession, path: String, dest: String): Unit = {
    graft.StoreCommit.compact(spark, Commit, path, dest) { _ =>
      Seq("hashes" -> (() => spark.read.parquet(s"$path/hashes")
        .groupBy(col("h"))
        .agg(sum(col("n")).as("n"))
        .select(col("h"), col("n"),
          lit(-1L).as("ingest_batch"), lit(0L).as("ingest_seq"))
        .repartition(graft.StoreUtil.compactFiles(spark, s"$path/hashes", 32))
        .write.mode("overwrite").parquet(s"$dest/hashes")))
    }
  }

  /** Maintenance nudge: probes
    * re-aggregate every ingest's `(h, n)` rows, so probe cost grows
    * with batches since compaction — trip after `slack`.
    */
  def needsCompact(spark: SparkSession, path: String,
      slack: Int = 8): Boolean =
    graft.StoreCommit.needsCompact(spark, Commit, path, slack)
}
