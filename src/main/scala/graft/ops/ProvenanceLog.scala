package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Append-only delivery provenance log — the audit trail a pipeline
  * keeps BESIDE its packed deliveries: one row set per delivery (the
  * [[graft.queries.TrainingQueries.pipeProvenanceFrame]] shape plus a
  * `delivery_id`), so an auditor can answer "which generation of which
  * store produced batch N" for the whole history of the pipeline, not
  * just the latest run — and [[graft.queries.TrainingQueries
  * .pipeReplay]] can re-run the composite against exactly those
  * generations. The reference stamps each synthesized tree the same way
  * and KEEPS the stamps (`IngestSynthesisData.java:304-349`); this is
  * that ledger for training-data deliveries.
  *
  * Layout (v2): each delivery is its own IMMUTABLE part directory under
  * `rows/` (`rows/d<n>`, `n` = the ingest counter at append time), and
  * the manifest carries the COMMITTED part list alongside `ingests` and
  * the `last_batch` zombie guard. An append writes one new part and
  * commits it by swapping the manifest ([[graft.StoreUtil
  * .writeMarker]]) — O(1) per delivery, never a read-union-rewrite of
  * history, so a crashed append loses at most its own uncommitted part
  * (invisible to [[load]], overwritten by the retried delivery) and can
  * NEVER take committed history with it — the property a
  * non-recomputable ledger actually needs ("a ledger cannot be
  * recounted from its stores' CURRENT state"). Re-delivered batchIds
  * are full no-ops via `last_batch`, exactly as before. A deployment
  * retiring ledger history drops part names from the manifest (the same
  * swap commit) and deletes their directories — each delivery being its
  * own part is what makes age-based retirement a metadata operation.
  *
  * v1 ledgers (one flat `rows/` row set, rewritten per append) are
  * migrated in place on the first v2 append: the flat directory is
  * renamed to part `d0` (two filesystem metadata ops, no data rewrite)
  * and committed as the first part. A crash between the rename and the
  * commit leaves a v1 manifest over the nested layout — loads fail
  * loudly; rename `rows/d0`'s contents back under `rows/` to recover.
  */
object ProvenanceLog {

  val ManifestFile = "_graft_provlog.json"

  private def manifest(ingests: Long, parts: Seq[Long],
      batchId: Option[Long]): String =
    s"""{"version":2,"ingests":$ingests""" +
      s""","parts":"${encodeParts(parts)}"""" +
      batchId.map(id => s""","last_batch":$id""").getOrElse("") + "}"

  /** The committed part numbers (part `k` lives at `rows/d<k>`),
    * RANGE-encoded ("0,2-5" = d0, d2..d5): the common append (no
    * retirement gaps) extends one run, so the manifest the commit
    * rewrites stays O(gaps) bytes — a plain comma list would quietly
    * grow the "O(1) append" back to O(deliveries) metadata at a
    * long-lived pipeline's delivery counts.
    */
  private def encodeParts(ks: Seq[Long]): String = {
    val s = ks.distinct.sorted
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      var j = i
      while (j + 1 < s.length && s(j + 1) == s(j) + 1L) j += 1
      if (out.nonEmpty) out += ','
      out ++= (if (i == j) s(i).toString else s"${s(i)}-${s(j)}")
      i = j + 1
    }
    out.toString
  }

  /** Absent field (a v1 manifest) reads as empty; [[load]] branches to
    * the flat layout on version instead.
    */
  private def partsOf(mf: String): Seq[Long] =
    "\"parts\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(mf)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(',').toSeq.flatMap { t =>
        t.split('-') match {
          case Array(a) => Seq(a.toLong)
          case Array(a, b) => a.toLong to b.toLong
          case _ => throw new IllegalStateException(
            s"unparseable parts token '$t' in a provenance manifest")
        }
      }).getOrElse(Seq.empty)

  /** Whether a healthy log exists at `path` (the family's
    * broken-vs-absent rule: rows without a manifest are a crashed
    * FIRST append — later crashes leave the previous manifest intact —
    * and REFUSE rather than silently reset the ledger).
    */
  def exists(spark: SparkSession, path: String): Boolean =
    graft.StoreUtil.manifestedStoreExists(spark, path, "rows",
      ManifestFile, "rows",
      "the first append crashed before its commit; if this ledger " +
        "never held a committed delivery, delete the directory and " +
        "re-append — otherwise rebuild the manifest from the intact " +
        "part directories (a ledger cannot be recounted from its " +
        "stores' CURRENT state)")

  /** Append one delivery's provenance rows as a new immutable part.
    * Re-delivered batchIds are full no-ops (the manifest's `last_batch`
    * guard); the first append creates the log. The rows must carry a
    * `delivery_id` column — the ledger key an auditor scans by.
    */
  def append(spark: SparkSession, path: String, rows: DataFrame,
      batchId: Option[Long] = None): Unit = {
    require(rows.columns.contains("delivery_id"),
      "provenance rows must carry a delivery_id column")
    // ONE manifest read serves the broken-vs-absent probe, the zombie
    // guard, and the ingest counter — exists()/lastBatchId()/load()
    // would each re-read the same kilobyte marker (three object-store
    // round-trips per delivery for nothing)
    val mfOpt = graft.StoreUtil.readMarker(spark, path, ManifestFile)
    // the ONE shared broken-vs-absent rule (exists() covers the crashed
    // first append AND the crashed manifest swap, with the right
    // remedies); it re-reads the marker, but only on the rare
    // no-manifest path — ledger creation or damage, never per delivery
    if (mfOpt.isEmpty) { exists(spark, path); () }
    // the ONE sign-tolerant last_batch rule
    val last = mfOpt.flatMap(graft.StoreUtil.lastBatchOf)
    if (mfOpt.isDefined && batchId.isDefined && batchId == last) return
    val (ingests, parts) = mfOpt.map { m =>
      graft.StoreUtil.requireVersion(m, 2, s"provenance log at $path")
      val n = graft.StoreUtil.manifestLong(m, "ingests",
        s"provenance log at $path")
      if (graft.StoreUtil.manifestVersion(m) == 1)
        (n, Seq(migrateV1(spark, path)))
      else (n, partsOf(m))
    }.getOrElse((0L, Seq.empty[Long]))
    val part = s"d${ingests + 1L}"
    // the part write is the delivery's only data IO; overwrite mode
    // replaces the orphan a crashed attempt at this same counter left
    rows.coalesce(1).write.mode("overwrite").parquet(s"$path/rows/$part")
    // the manifest swap IS the commit — before it, load() cannot see
    // the new part; after it, the part is history and never rewritten.
    // An explicit batchId advances the zombie guard; a manual
    // no-batchId append must NOT erase the recorded one (the family's
    // orElse rule — dropping it would let a redelivered batch append
    // twice after a catch-up append)
    graft.StoreUtil.writeMarker(spark, path, ManifestFile,
      manifest(ingests + 1L, parts :+ (ingests + 1L), batchId.orElse(last)))
  }

  /** Rename a v1 flat `rows/` into part `d0` — metadata ops only, and
    * IDEMPOTENT under redelivery: the commit (the v2 manifest swap)
    * happens later in [[append]], so a crash after these renames
    * re-enters with the v1 manifest still in place — the finished
    * layout (`rows/d0` present) is recognized and returned, a
    * half-migrated one (`.mig_rows` held, `rows/` gone) is completed.
    * Blindly re-renaming would nest the committed history
    * (`rows/d0/d0`) and fold any crashed orphan part into it.
    */
  private def migrateV1(spark: SparkSession, path: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = new org.apache.hadoop.fs.Path(path, "rows")
    val hold = new org.apache.hadoop.fs.Path(path, ".mig_rows")
    val d0 = new org.apache.hadoop.fs.Path(s"$path/rows", "d0")
    if (fs.exists(d0)) return 0L // a crashed retry already migrated
    if (!fs.exists(hold) && !fs.rename(rows, hold))
      throw new IllegalStateException(
        s"could not migrate the v1 ledger at $path to the part layout")
    if (!fs.mkdirs(rows) || !fs.rename(hold, d0))
      throw new IllegalStateException(
        s"could not migrate the v1 ledger at $path to the part layout")
    0L
  }

  /** Age-based retirement — the operation the part layout exists for:
    * drop every committed part numbered below `minPart` from the
    * manifest (the same atomic swap commit), then delete the dropped
    * directories; returns the deleted paths. Parts are numbered by the
    * append-time ingest counter, i.e. in delivery ORDER, so "retire
    * everything before part k" is the ledger's age cut. Metadata-only
    * with respect to the retained history (nothing rewritten). A crash
    * between the commit and the deletes leaves orphan directories no
    * load can see — retained disk, never wrong answers. SINGLE WRITER
    * (the append owner runs retirement): a concurrent retire could not
    * distinguish an in-flight append's uncommitted part from garbage.
    */
  def retireBefore(spark: SparkSession, path: String,
      minPart: Long): Seq[String] = {
    val mf = graft.StoreUtil.requireManifest(spark, path, ManifestFile,
      "provenance log", supported = 2)
    if (graft.StoreUtil.manifestVersion(mf) == 1)
      throw new IllegalStateException(
        s"$path is a v1 flat ledger — retirement needs the part layout " +
          "(append once to migrate)")
    val parts = partsOf(mf)
    val (drop, keep) = parts.partition(_ < minPart)
    if (drop.isEmpty) return Seq.empty
    require(keep.nonEmpty,
      s"refusing to retire every part of the ledger at $path — delete " +
        "the directory if the whole history is truly condemned")
    graft.StoreUtil.writeMarker(spark, path, ManifestFile,
      manifest(graft.StoreUtil.manifestLong(mf, "ingests",
        s"provenance log at $path"), keep,
        graft.StoreUtil.lastBatchOf(mf)))
    drop.map { k =>
      val p = s"$path/rows/d$k"
      graft.StoreUtil.deleteDir(spark, p)
      p
    }
  }

  /** Forward impact lookup — the ledger's OTHER direction: [[load]] +
    * a delivery filter answers "which generations produced batch N";
    * this answers "which deliveries consumed generation `generation` of
    * `artifact`" — the blast-radius question an operator asks the
    * moment a store generation is found bad (poisoned ingest, corrupt
    * compaction), because every delivery that read it is tainted and
    * each can then be re-produced via the replay path to requalify or
    * re-cut it. A plain scan-and-filter: the ledger is metadata-sized
    * by construction (a handful of rows per delivery), so at any
    * deployment scale this is a kilobyte-range parquet read — no index
    * needed, and retirement ([[retireBefore]]) already bounds the scan
    * to live history.
    */
  def taintedDeliveries(spark: SparkSession, path: String,
      artifact: String, generation: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    load(spark, path)
      .filter(col("artifact") === artifact &&
        col("generation") === generation)
      .select(col("delivery_id"), col("ingests"), col("params"))
  }

  def load(spark: SparkSession, path: String): DataFrame = {
    val mf = graft.StoreUtil.requireManifest(spark, path, ManifestFile,
      "provenance log", supported = 2)
    if (graft.StoreUtil.manifestVersion(mf) == 1)
      spark.read.parquet(s"$path/rows")
    else {
      val parts = partsOf(mf)
      require(parts.nonEmpty, s"provenance log at $path commits no parts")
      spark.read.parquet(parts.map(k => s"$path/rows/d$k"): _*)
    }
  }
}
