package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** The commit protocol of the stores that bracket an append with a
  * pending marker: [[graft.tree.TreeStore]], [[graft.ops.GraphStore]],
  * [[graft.ops.VectorStore]]'s PQ layout, [[graft.ops.LshStore]],
  * [[graft.ops.DupStore]] and [[graft.ops.LmStore]]. Each store keeps its
  * manifest fields, its table writes, its compaction merge and its
  * rollback identity; the steps are written once, here:
  *
  *  - Readers refuse a store whose pending marker is present
  *    ([[refusePending]], [[manifest]], [[exists]], [[needsCompact]]): an
  *    append is in flight (single writer violated) or died between table
  *    writes, and the tables may disagree.
  *  - [[pre]] is the append prologue: the pre-batch manifest, its
  *    `ingests` counter, and the `last_batch` zombie guard — a re-delivered
  *    foreachBatch id that already completed is a full no-op.
  *  - [[append]] writes the marker holding the store's rollback identity,
  *    then the store's tables in order, then the post-batch manifest, then
  *    deletes the marker. A crash anywhere before the delete leaves the
  *    marker, so every reader refuses and [[recover]] applies.
  *  - [[recover]] parses the marker, decides completion — the manifest's
  *    counter has moved past the marker's snapshot, so only the marker
  *    delete was lost and the batch is kept — and rewrites the store at a
  *    disjoint destination with the manifest carried over.
  *  - [[compact]] rewrites a healthy store at a disjoint destination and
  *    advances the `compacted_at` watermark to the ingest count.
  *  - [[rewrite]] is the manifest-fenced write that saves, compactions
  *    and recoveries end in (and the plain vector layout's append, whose
  *    untagged rows have no rollback identity): stale marker cleared,
  *    manifest deleted first, tables, manifest last.
  *
  * Tagged-row stores (LSH, dup-hash, LM, vector PQ) share one rollback
  * identity, [[Tag]]. SINGLE WRITER assumed.
  */
private[graft] object StoreCommit {

  /** One store family's protocol constants. `dataDir` is the subdirectory
    * whose presence without a manifest marks a crashed first write;
    * `strict` reads the `ingests` counter strictly (the fold-style stores
    * stamped it from their first release, so its absence is damage) or
    * leniently ([[StoreUtil.ingestsOf]], for stores that gained it later).
    */
  final case class Kind(name: String, manifestFile: String,
      pendingFile: String, dataDir: String, recoverCall: String,
      strict: Boolean) {
    def ingests(mf: String): Long =
      if (strict) StoreUtil.manifestLong(mf, "ingests", s"$name manifest")
      else StoreUtil.ingestsOf(mf)
  }

  /** Named table writes, run in order; each name is a protocol step. */
  type Writes = Seq[(String, () => Unit)]

  /** Called after every protocol step with the step's name — a no-op
    * outside tests, which set it to throw and so crash a store between
    * any two steps.
    */
  @volatile private[graft] var stepHook: String => Unit = _ => ()

  private def run(ws: Writes): Unit = ws.foreach { case (name, w) =>
    w()
    stepHook(name)
  }

  def refusePending(spark: SparkSession, k: Kind, path: String): Unit =
    if (StoreUtil.readMarker(spark, path, k.pendingFile).isDefined)
      throw new IllegalStateException(
        s"$path has an interrupted append (${k.pendingFile} present) — " +
          s"run ${k.recoverCall}(spark, path, dest) to roll it back")

  /** The manifest of a healthy store; refuses a pending marker, a missing
    * manifest and a newer layout version.
    */
  def manifest(spark: SparkSession, k: Kind, path: String): String = {
    refusePending(spark, k, path)
    StoreUtil.requireManifest(spark, path, k.manifestFile, k.name)
  }

  /** Healthy → true, absent → false; a pending marker, or data without a
    * manifest (a crashed first write), refuses: a create-on-first-batch
    * branch must not silently reset the store over it.
    */
  def exists(spark: SparkSession, k: Kind, path: String): Boolean = {
    refusePending(spark, k, path)
    StoreUtil.manifestedStoreExists(spark, path, k.dataDir, k.manifestFile,
      s"${k.dataDir}/", "its first write crashed before the manifest " +
        "landed; rebuild it from source (or delete the directory and " +
        "re-run the batch) rather than resetting history")
  }

  def needsCompact(spark: SparkSession, k: Kind, path: String,
      slack: Int): Boolean =
    StoreUtil.needsCompactFrom(manifest(spark, k, path), slack,
      s"${k.name} at $path", k.strict)

  /** What an append knows before it writes: the pre-batch manifest (None
    * when this batch creates the store), its ingest counter (0 then), and
    * the recorded `last_batch`.
    */
  final case class Pre(mf: Option[String], ingests: Long,
      lastBatch: Option[Long]) {
    def compactedAt: Long = mf.map(StoreUtil.compactedAtOf).getOrElse(0L)

    /** `last_batch` for the post-batch manifest: an append without a
      * batchId keeps the recorded one — a manual catch-up append between
      * a streaming crash and its restart must not disarm the guard.
      */
    def nextLast(batchId: Option[Long]): Option[Long] =
      batchId.orElse(lastBatch)

    /** The tagged-row identity of this append when `ingests` is the
      * marker's counter.
      */
    def tag(batchId: Option[Long]): Tag = Tag.next(batchId, ingests, ingests)
  }

  /** The append prologue. `create` lets the first batch create an absent
    * store; otherwise the store must exist. None: `batchId` equals the
    * recorded `last_batch`, a zombie re-delivery of a completed batch —
    * the caller returns without writing.
    */
  def pre(spark: SparkSession, k: Kind, path: String, batchId: Option[Long],
      create: Boolean = false): Option[Pre] = {
    val mf =
      if (create && !exists(spark, k, path)) None
      else Some(manifest(spark, k, path))
    val last = mf.flatMap(StoreUtil.lastBatchOf)
    if (batchId.isDefined && batchId == last) None
    else Some(Pre(mf, mf.map(k.ingests).getOrElse(0L), last))
  }

  /** Bracket one append: the marker (the store's rollback identity), the
    * table writes, the post-batch manifest, the marker delete.
    */
  def append(spark: SparkSession, k: Kind, path: String, marker: String,
      writes: Writes, manifest: String): Unit = {
    StoreUtil.writeMarker(spark, path, k.pendingFile, marker)
    stepHook("begin")
    run(writes)
    StoreUtil.writeMarker(spark, path, k.manifestFile, manifest)
    stepHook("manifest")
    StoreUtil.deleteMarker(spark, path, k.pendingFile)
    stepHook("commit")
  }

  /** Write tables at `dir` under the manifest fence: the manifest is
    * deleted before the first table write and written after the last, so
    * a crash in between leaves a store that refuses to load instead of an
    * old manifest over half-written tables. A full rewrite supersedes a
    * crashed append there, so a stale marker is cleared too.
    */
  def rewrite(spark: SparkSession, k: Kind, dir: String, writes: Writes,
      manifest: String): Unit = {
    StoreUtil.deleteMarker(spark, dir, k.pendingFile)
    StoreUtil.deleteMarker(spark, dir, k.manifestFile)
    stepHook("fence")
    run(writes)
    StoreUtil.writeMarker(spark, dir, k.manifestFile, manifest)
    stepHook("manifest")
  }

  /** The compact prologue: a healthy source and a disjoint destination
    * (the source is read lazily while the destination is written).
    * Returns the source manifest.
    */
  def compactFrom(spark: SparkSession, k: Kind, path: String,
      dest: String): String = {
    val mf = manifest(spark, k, path)
    StoreUtil.requireDisjoint(spark, path, dest, "compact")
    mf
  }

  /** A manifest carried to a freshly rewritten generation: counters and
    * the `last_batch` guard survive, `compacted_at` advances to the
    * ingest count so [[needsCompact]] resets.
    */
  def watermarked(k: Kind, mf: String): String =
    StoreUtil.withCompactedAt(mf, k.ingests(mf))

  /** Rewrite a healthy store at `dest`: `writes` gets the source manifest,
    * the manifest carries over with the watermark advanced.
    */
  def compact(spark: SparkSession, k: Kind, path: String, dest: String)(
      writes: String => Writes): Unit = {
    val mf = compactFrom(spark, k, path, dest)
    rewrite(spark, k, dest, writes(mf), watermarked(k, mf))
  }

  /** A parsed pending marker: the store's rollback identity, the counter
    * value it snapshotted (None: the marker records none, so the batch is
    * always rolled out), and the pre-batch manifest it carries, if any.
    */
  final case class Pending[M](id: M, snapshot: Option[Long],
      preManifest: Option[String] = None)

  /** Roll an interrupted append out into `dest`. The append COMPLETED when
    * the current manifest's `counter` moved past the marker's snapshot —
    * only the marker delete was lost — and then the batch is kept and the
    * post-batch manifest carries over; otherwise the pre-batch manifest
    * (the marker's, else the surviving one) does. `writes` gets the
    * rollback identity, the completion verdict and that manifest; `carry`
    * maps the manifest to the one written at `dest`.
    */
  def recover[M](spark: SparkSession, k: Kind, path: String, dest: String,
      counter: String => Long, parse: String => Option[Pending[M]],
      carry: String => String = identity)(
      writes: (M, Boolean, String) => Writes): Unit = {
    val raw = StoreUtil.readMarker(spark, path, k.pendingFile)
      .getOrElse(throw new IllegalStateException(
        s"no interrupted append recorded at $path"))
    val p = parse(raw).getOrElse(throw new IllegalStateException(
      s"$path/${k.pendingFile} is not a pending marker ${k.name} writes: " +
        s"'$raw' — a crash while the marker itself was being written " +
        "leaves it empty or truncated; inspect the store before deleting " +
        "the marker"))
    val cur = StoreUtil.readMarker(spark, path, k.manifestFile)
    val completed = p.snapshot.exists(s => cur.exists(counter(_) != s))
    val mf = (if (completed) cur else p.preManifest.orElse(cur))
      .getOrElse(throw new IllegalStateException(
        s"$path's first append crashed (no pre-batch manifest survives) — " +
          "delete the directory and re-run the batch"))
    StoreUtil.requireDisjoint(spark, path, dest, "recover")
    rewrite(spark, k, dest, writes(p.id, completed, mf), carry(mf))
  }

  /** The tagged-row rollback identity (LSH, dup-hash, LM, vector PQ):
    * every row carries `ingest_batch` — the caller's batchId, kept for
    * observability — and `ingest_seq` = snapshot + 1, store-unique by
    * construction. The marker is `batch:snapshot`.
    */
  final case class Tag(batch: Long, snapshot: Long) {
    def seq: Long = snapshot + 1L
    def marker: String = s"$batch:$snapshot"

    def apply(df: DataFrame): DataFrame =
      df.withColumn("ingest_batch", lit(batch))
        .withColumn("ingest_seq", lit(seq))

    /** The rows a rollback of this append keeps. The seq is preferred over
      * the tag: an explicit batchId can alias an OLDER append's tag (a
      * fresh-checkpoint stream restarts at 0), and tag filtering would roll
      * that completed append out too. Rows without a seq — written before
      * it existed, read back as NULL by [[readTagged]] — fall back to the
      * tag, as does a table with no seq column at all.
      */
    def keep(t: DataFrame): DataFrame =
      if (t.columns.contains("ingest_seq"))
        t.filter(coalesce(col("ingest_seq") =!= seq,
          col("ingest_batch") =!= batch))
      else t.filter(col("ingest_batch") =!= batch)
  }

  object Tag {
    private val Marker = "(-?\\d+):(\\d+)".r

    /** The default tag is NEGATIVE, −(ingests+1): distinct per append and
      * disjoint from every explicit foreachBatch id (those are >= 0), so a
      * manual catch-up append never shares a tag with a later stream batch.
      */
    def next(batchId: Option[Long], ingests: Long, snapshot: Long): Tag =
      Tag(batchId.getOrElse(-(ingests + 1L)), snapshot)

    def parse(s: String): Option[Tag] = s.trim match {
      case Marker(b, n) => Some(Tag(b.toLong, n.toLong))
      case _ => None
    }
  }

  /** A tagged table read for rollback or rewrite. mergeSchema: a store
    * created by a pre-seq build and appended to since holds MIXED file
    * schemas, and without the union schema whether `ingest_seq` is visible
    * at all depends on which footer Spark samples.
    */
  def readTagged(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** [[recover]] for a store whose tables are plain tagged parquet under
    * `path/<table>` (LSH, dup-hash, LM): each table is copied to `dest`
    * with the crashed append's rows rolled out.
    */
  def recoverTagged(spark: SparkSession, k: Kind, path: String, dest: String,
      tables: Seq[String]): Unit =
    recover(spark, k, path, dest, k.ingests,
      raw => Tag.parse(raw).map(t => Pending(t, Some(t.snapshot)))) {
      (tag, completed, _) =>
        tables.map(t => t -> { () =>
          val rows = readTagged(spark, s"$path/$t")
          (if (completed) rows else tag.keep(rows))
            .write.mode("overwrite").parquet(s"$dest/$t")
        })
    }
}
