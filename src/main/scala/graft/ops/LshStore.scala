package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band index — the incremental near-dup artifact.
  *
  * [[TextOps.minhashCandidates]] proves the banding *plan* (Σ bucket²,
  * never n²); this store makes the band table durable, which is what a
  * continuously-crawled corpus actually needs: when a new snapshot
  * arrives, its near-duplicates against ALL prior data must be found
  * without re-shingling, re-signing, or even re-reading the old corpus.
  * The stored index is `(band, band_key, id, ingest_batch)` — n·bands
  * rows of a few dozen bytes, a fixed small multiple of one id column
  * regardless of document length, because the text itself never enters
  * the store. At 100 TB of documents the index is the only history a
  * dedup pass touches, and [[candidates]] scans it exactly once with the
  * (small) new batch broadcast — no shuffle of history, ever.
  *
  * Ingest protocol ([[ingestBatch]]): each batch's NEW candidate pairs —
  * batch×history via the index join plus batch×batch via the in-memory
  * banding — are appended to a durable pair log before the batch's own
  * band rows join the index. Every unordered near-dup pair is therefore
  * emitted exactly once, by the batch of its later-arriving member, and
  * the fold over any batch split reproduces the one-shot
  * [[TextOps.minhashCandidates]] result bit-for-bit (gate `dd_lsh_store`
  * shares `dd_minhash_lsh`'s DuckDB oracle; `LshStoreSpec` proves
  * fold==one-shot on adversarial splits).
  *
  * Appends, recovery and compaction follow [[graft.StoreCommit]]; the
  * rollback identity is the per-row tag (`ingest_batch`, `ingest_seq`).
  *
  * Layout: `path/bands` (band, band_key, id, ingest_batch),
  * `path/pairs` (a, b, ingest_batch), `path/_graft_lshstore.json`.
  */
object LshStore {

  val ManifestFile = "_graft_lshstore.json"
  val PendingFile = "_graft_lsh_pending"

  /** A loaded index: `bands` is the stored band-row scan; `k`/`nBands`
    * are the manifest's signature parameters, carried here so a query
    * can never band its probe docs with different free parameters than
    * the index was built with (a mismatch finds nothing, silently).
    */
  final case class Loaded(bands: DataFrame, k: Int, nBands: Int, path: String)

  /** Band rows (id, band, band_key) for a document set — the same
    * tokenize-once / sign-bound-array discipline as
    * [[TextOps.minhashCandidates]] (the lambda-reinline lesson), and the
    * same null-text exclusion (null docs carry no signal and would all
    * collide in one md5('') bucket).
    */
  private[graft] def bandRows(docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int): DataFrame = {
    require(k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands " +
        "(a remainder would silently drop trailing signature rows)")
    val sig = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        array_distinct(TextOps.tokensCol(col(textCol))).as("toks"))
      .select(col("id"), TextOps.minhashOfTokens(col("toks"), k).as("sig"))
    TextOps.bandKeys(sig, "sig", bands, k / bands)
      .select(col("id"), col("band"), col("band_key"))
  }

  private val Commit = graft.StoreCommit.Kind("LSH band store", ManifestFile,
    PendingFile, "bands", "LshStore.recoverIngest", strict = true)

  /** `last_batch` is recorded only for EXPLICIT batchIds: a counter
    * default written there would collide with a genuine foreachBatch
    * batch 0 and wrongly no-op it (absent ≠ Some(0)).
    */
  private def manifest(k: Int, bands: Int, ingests: Long,
      batchId: Option[Long], compactedAt: Long): String =
    s"""{"version":1,"k":$k,"bands":$bands,"ingests":$ingests""" +
      s""","compacted_at":$compactedAt""" +
      batchId.map(id => s""","last_batch":$id""").getOrElse("") + "}"

  /** Whether a healthy index exists at `path` (the
    * [[graft.StoreCommit.exists]] broken-vs-absent rule).
    */
  def exists(spark: SparkSession, path: String): Boolean =
    graft.StoreCommit.exists(spark, Commit, path)

  /** Open a persisted index; fails fast on a directory that is not one,
    * or whose last ingest never finished.
    */
  def load(spark: SparkSession, path: String): Loaded = {
    val m = graft.StoreCommit.manifest(spark, Commit, path)
    def field(key: String): Int =
      graft.StoreUtil.manifestInt(m, key, s"LSH manifest at $path")
    Loaded(spark.read.parquet(s"$path/bands"), field("k"), field("bands"), path)
  }

  private def orderPair(x: Column, y: Column): Seq[Column] =
    Seq(least(x, y).as("a"), greatest(x, y).as("b"))

  /** Batch×batch candidate pairs from an already-computed band-row
    * table — the same self-join [[TextOps.minhashCandidates]] builds
    * after its own banding, so results are bit-equal.
    */
  private def selfPairs(b: DataFrame): DataFrame =
    b.alias("x").join(b.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))

  /** Cross + within pairs from an already-computed batch band table —
    * lets [[ingestBatch]] shingle/sign the batch ONCE and reuse the
    * rows for both pair derivations and the index append.
    */
  private def candidatesFromBands(historyBands: DataFrame,
      b: DataFrame): DataFrame = {
    val cross = historyBands.alias("h").join(broadcast(b.alias("n")),
        col("h.band") === col("n.band") &&
          col("h.band_key") === col("n.band_key") &&
          col("h.id") =!= col("n.id"))
      .select(orderPair(col("h.id"), col("n.id")): _*)
    cross.union(selfPairs(b)).distinct()
  }

  /** The NEW near-dup candidate pairs a batch introduces: batch×history
    * through the stored index, plus batch×batch through the in-memory
    * banding. The stored side is scanned exactly once and never
    * shuffled — the batch's band rows are explicitly broadcast, so the
    * join is a map-side probe of history (the property that makes
    * per-snapshot dedup affordable when history is 1000× the batch).
    * Signature parameters come from the MANIFEST, never the caller.
    */
  def candidates(st: Loaded, batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    candidatesFromBands(st.bands,
      bandRows(batch, idCol, textCol, st.k, st.nBands))

  /** All (a < b) candidate pairs WITHIN the stored corpus — the self-join
    * form, bit-equal to running [[TextOps.minhashCandidates]] over the
    * documents the index was built from (proven in `LshStoreSpec`).
    */
  def pairsWithin(st: Loaded): DataFrame =
    st.bands.alias("x").join(st.bands.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

  /** The durable pair log: every near-dup candidate pair the store has
    * emitted, exactly once each, with the batch that surfaced it.
    */
  def pairLog(spark: SparkSession, path: String): DataFrame =
    pairLogOk(spark, path).select(col("a"), col("b"), col("ingest_batch"))

  private def pairLogOk(spark: SparkSession, path: String): DataFrame = {
    graft.StoreCommit.refusePending(spark, Commit, path)
    spark.read.parquet(s"$path/pairs")
  }

  /** Ingest one batch: append its new candidate pairs to the pair log,
    * then its band rows to the index, creating the store on the first
    * batch. Idempotent under foreachBatch zombie re-delivery: when
    * `batchId` matches the manifest's `last_batch`, the whole call is a
    * no-op (the pairs were already emitted and the rows already
    * indexed — re-appending would duplicate band rows AND re-emit every
    * cross pair).
    *
    * Write order is load-bearing: the pair append runs BEFORE the band
    * append, and the candidate plan reads `bands/` — so the new pairs are
    * computed against pre-batch history by construction, with no explicit
    * materialization step (appending the batch's own band rows first
    * would make the lazy cross join see the batch in "history" too).
    *
    * On append, `k`/`bands` are validated against the manifest — probing
    * or extending an index with different signature parameters is refused
    * rather than silently finding nothing.
    */
  def ingestBatch(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String, k: Int = 8, bands: Int = 4,
      batchId: Option[Long] = None): Unit = {
    val pre = graft.StoreCommit.pre(spark, Commit, path, batchId,
      create = true).getOrElse(return)
    val (kk, bb) = pre.mf match {
      case Some(m) =>
        val sk = graft.StoreUtil.manifestInt(m, "k",
          s"LSH manifest at $path")
        val sb = graft.StoreUtil.manifestInt(m, "bands",
          s"LSH manifest at $path")
        require(k == sk && bands == sb,
          s"index at $path was built with k=$sk/bands=$sb; " +
            s"refusing ingest with k=$k/bands=$bands")
        (sk, sb)
      case None => (k, bands)
    }
    // shingle + sign ONCE: the materialized band table feeds the cross
    // join, the within-batch self-join, AND the index append — the
    // inline form would run the regex tokenizer and k seeded md5 minima
    // three times per micro-batch
    val b = ClusterOps.flatten(bandRows(batch, idCol, textCol, kk, bb))
    val newPairs =
      if (pre.mf.isDefined)
        candidatesFromBands(spark.read.parquet(s"$path/bands"), b)
      else selfPairs(b).distinct()
    val tag = pre.tag(batchId)
    val mode = if (pre.mf.isDefined) "append" else "overwrite"
    graft.StoreCommit.append(spark, Commit, path, tag.marker, Seq(
      "pairs" -> (() => tag(newPairs).write.mode(mode).parquet(s"$path/pairs")),
      "bands" -> (() => tag(b).write.mode(mode).parquet(s"$path/bands"))),
      manifest(kk, bb, pre.ingests + 1L, pre.nextLast(batchId),
        pre.compactedAt))
  }

  /** Roll an interrupted ingest back out into a clean store at `dest`
    * ([[graft.StoreCommit.recoverTagged]]). A crash during the very first
    * ingest (no manifest yet) is unrecoverable by rollback: delete the
    * directory and re-ingest.
    */
  def recoverIngest(spark: SparkSession, path: String, dest: String): Unit =
    graft.StoreCommit.recoverTagged(spark, Commit, path, dest,
      Seq("pairs", "bands"))

  /** Rewrite an ingest-grown store into a fresh compact layout at
    * `dest` — the periodic maintenance step of the ingest-many-times
    * lifecycle (each [[ingestBatch]] adds a file set per table; reads
    * stay correct but open more files until compaction;
    * [[graft.StoreCommit.compact]]). Row content — including every
    * `ingest_batch` tag — is unchanged. `files` is the per-table output
    * file count (the source's read partitioning would otherwise leak through — tiny
    * appended files each become a partition and re-emerge unmerged);
    * the default suits the kilobytes-per-million-docs scale of these
    * tables, pass more for a corpus where one band file is unwieldy.
    */
  def compact(spark: SparkSession, path: String, dest: String,
      files: Int = 1): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    graft.StoreCommit.compact(spark, Commit, path, dest) { _ =>
      Seq("pairs", "bands").map(t => t -> (() =>
        graft.StoreCommit.readTagged(spark, s"$path/$t").repartition(files)
          .write.mode("overwrite").parquet(s"$dest/$t")))
    }
  }

  /** Maintenance nudge: each
    * ingest stacks another file set into `pairs` and `bands`, so probe
    * cost grows with batches since compaction — trip after `slack`.
    */
  def needsCompact(spark: SparkSession, path: String,
      slack: Int = 8): Boolean =
    graft.StoreCommit.needsCompact(spark, Commit, path, slack)
}
