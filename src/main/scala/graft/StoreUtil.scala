package graft

import org.apache.spark.sql.SparkSession

/** Shared store-layout plumbing for [[graft.tree.TreeStore]] and
  * [[graft.ops.VectorStore]]: marker-file manifests (a store directory
  * must self-identify before anything reads it as one) and deterministic
  * path hashes (catalog table names, temp store dirs).
  */
object StoreUtil {

  /** md5-hex prefix of a path — stable across sessions, collision-safe
    * enough for catalog-name/temp-dir discrimination.
    */
  def pathHash(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)

  private val tmpDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // pid-tagged paths are unique per JVM, so without cleanup every test
  // fork / Bench / Verify run would leak its store artifacts into tmpdir
  private lazy val cleanupRegistered: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpDirs.values.forEach { p =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(p))
      }))

  /** Build-once temp directory for an on-disk store artifact, shared by
    * every store-backed gate (vector/KMV/CM/tree stores): the artifact is
    * built at most once per (prefix, key) per JVM, and the path carries
    * both a key hash and the JVM pid — two processes running the suite
    * concurrently on one host must never save() into the same directory
    * (a half-written store read by the other process is a flaky gate).
    */
  def cachedStoreDir(prefix: String, key: String)(
      build: String => Unit): String = {
    cleanupRegistered
    tmpDirs.computeIfAbsent(prefix + "|" + key, _ => {
      val p = sys.props("java.io.tmpdir") +
        s"/graft_${prefix}_p${ProcessHandle.current().pid()}_" + pathHash(key)
      build(p)
      p
    })
  }

  // FileSystem resolution goes through hadoop Path, not java.net.URI:
  // URI(dir) throws on spaces and percent-decodes '%41'→'A', silently
  // splitting the marker location from the data location.
  private def fsOf(spark: SparkSession,
      dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Refuse rewrite destinations that alias the source store. Paths are
    * compared as fully-qualified Hadoop URIs so `file:` forms and bare
    * paths cannot alias, and prefix containment is checked both ways —
    * the source is read lazily while the destination is written, so an
    * overlap would overwrite files mid-scan. The single definition every
    * store's compact/rewrite shares.
    */
  def requireDisjoint(spark: SparkSession, path: String, dest: String,
      what: String): Unit = {
    def qualified(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(hp).toUri.toString.stripSuffix("/")
    }
    val (s, d) = (qualified(path), qualified(dest))
    require(d != s && !d.startsWith(s + "/") && !s.startsWith(d + "/"),
      s"$what requires a destination disjoint from the source ($s vs $d)")
  }

  /** Write a marker file atomically: the content lands in full in a
    * dot-prefixed swap sibling, which is then renamed into place. A crash
    * mid-write leaves only the swap file (overwritten by the next write)
    * — never an empty or truncated marker, which every recover would
    * refuse, and never a half-written manifest. Where rename cannot
    * replace an existing file (HDFS), the old marker is deleted first: a
    * crash in that window leaves the marker absent with the complete new
    * content in the swap sibling, which [[manifestedStoreExists]]
    * reports.
    */
  def writeMarker(spark: SparkSession, dir: String, name: String,
      content: String): Unit = {
    val fs = fsOf(spark, dir)
    val swap = new org.apache.hadoop.fs.Path(dir, s".swap_$name")
    val live = new org.apache.hadoop.fs.Path(dir, name)
    val out = fs.create(swap, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(swap, live) &&
        !(fs.delete(live, false) && fs.rename(swap, live)))
      throw new IllegalStateException(
        s"writeMarker: could not swap $swap into place as $name")
  }

  /** Remove a marker file (no-op when absent). */
  def deleteMarker(spark: SparkSession, dir: String, name: String): Unit = {
    val fs = fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir, name), false)
    ()
  }

  /** Recursively remove a retired store generation (no-op when
    * absent) — the [[rotateIfDue]] `retire` closure's implementation;
    * kept here so no store ever hand-rolls its own recursive delete.
    */
  def deleteDir(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    ()
  }

  private val retireSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Retire a generation ATOMICALLY from the viewpoint of late pins and
    * readers: rename it to a dot-prefixed tombstone (one
    * filesystem-atomic op — after it the generation path simply does
    * not exist, so a too-late [[pinGeneration]] sees a missing
    * directory or a fresh marker-only ghost, never a half-deleted
    * tree), then recursively delete the tombstone. This is what
    * narrows the pin/GC race to two clean outcomes: with a bare
    * recursive delete, a pin could land INSIDE a tree mid-teardown and
    * partially survive. A crash between rename and delete leaks a
    * coherent tombstone no generation scan ever lists (dot prefix);
    * [[retireWithGrace]] sweeps its base's leftovers first.
    */
  def retireDir(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) return
    val tomb = new org.apache.hadoop.fs.Path(p.getParent,
      s".retiring_${p.getName}_p${ProcessHandle.current().pid()}_" +
        retireSeq.incrementAndGet())
    if (!fs.rename(p, tomb))
      throw new IllegalStateException(
        s"retireDir: could not rename $dir to its tombstone $tomb")
    fs.delete(tomb, true)
    ()
  }

  /** Delete tombstones a crashed [[retireDir]] left for `base`'s chain
    * (prefix match is on the base NAME, so a sibling store whose name
    * extends this one can have its tombstones swept too — harmless:
    * a tombstone is condemned data wherever it came from).
    */
  private def sweepTombstones(spark: SparkSession, base: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(base)
    val parent = p.getParent
    val fs = fsOf(spark, base)
    if (parent == null || !fs.exists(parent)) return
    fs.listStatus(parent).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s".retiring_${p.getName}"))
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** The small-store crash protocol, shared by every saveManifested
    * family (CM/KMV/Bloom/Hist sketches, mix-stats, provenance ledger):
    * the FULL new row set is written to a dot-prefixed swap directory
    * first, then manifest deleted (the reader fence), old data swapped
    * out by an ATOMIC directory rename, manifest rewritten last. The
    * crash exposure this buys over delete-then-rewrite: the old window
    * spanned the entire data-rewrite job (a crash anywhere inside it
    * left a manifest-less store whose rows were HALF-WRITTEN — for a
    * non-recomputable store like the ledger, history gone); the new
    * window is two filesystem metadata ops (delete + rename), during
    * which the live subdir only ever holds a COMPLETE row set — the
    * old one before the rename, the new one after — and the swap dir
    * keeps the full replacement on disk for manual recovery. A crash
    * before the fence leaves the store untouched-healthy plus an
    * orphan swap dir, which the next save overwrites and a successful
    * save renames away entirely. Atomicity is the filesystem's dir
    * rename (local/HDFS); an object-store rename degrades to
    * copy+delete — correct, just a wider window. One definition so a
    * protocol strengthening lands in every family at once.
    */
  def saveManifested(df: org.apache.spark.sql.DataFrame, path: String,
      subdir: String, marker: String, manifest: String): Unit = {
    val spark = df.sparkSession
    val fs = fsOf(spark, path)
    val live = new org.apache.hadoop.fs.Path(path, subdir)
    val swap = new org.apache.hadoop.fs.Path(path, s".swap_$subdir")
    df.coalesce(1).write.mode("overwrite").parquet(swap.toString)
    deleteMarker(spark, path, marker)
    fs.delete(live, true)
    if (!fs.rename(swap, live))
      throw new IllegalStateException(
        s"saveManifested: could not swap $swap into place at $live — " +
          "the complete new rows remain in the swap directory; rename " +
          "it to the data subdir and rewrite the manifest to recover")
    writeMarker(spark, path, marker, manifest)
  }

  /** Whether anything exists at `dir`/`name` (a data subdirectory probe —
    * distinguishes "store never created" from "store broken": manifest
    * gone but data present).
    */
  def pathExists(spark: SparkSession, dir: String, name: String): Boolean =
    fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(dir, name))

  /** The broken-vs-absent probe every [[saveManifested]] family shares:
    * manifest present → healthy; data OR a swap sibling present WITHOUT
    * a manifest → a crashed save that must REFUSE (reading it as absent
    * would let a maintenance loop silently reset history); neither →
    * absent. The swap probes are load-bearing, not belt-and-braces:
    * [[saveManifested]]'s delete-live-then-rename window (and
    * [[writeMarker]]'s delete-then-rename fallback) leave the LIVE
    * subdir or marker absent while the complete replacement sits in the
    * dot-prefixed swap sibling — without probing it, that crash would
    * read as ABSENT and a restarted create-or-append loop would reset
    * accumulated history, the exact failure this rule exists to refuse.
    * ONE definition so a crash-protocol strengthening lands in every
    * family at once — exactly the drift channel the per-store copies
    * this replaces kept warning about.
    */
  def manifestedStoreExists(spark: SparkSession, path: String,
      subdir: String, marker: String, what: String,
      diagnosis: String): Boolean = {
    val healthy = readMarker(spark, path, marker).isDefined
    if (!healthy) {
      val swapped = pathExists(spark, path, s".swap_$subdir") ||
        pathExists(spark, path, s".swap_$marker")
      if (pathExists(spark, path, subdir) || swapped)
        throw new IllegalStateException(
          s"$path holds $what but no $marker — $diagnosis" +
            (if (swapped) " (a crashed swap left the complete " +
              "replacement in the dot-prefixed swap sibling — rename " +
              "it into place to recover)"
             else ""))
    }
    healthy
  }

  /** Manifest content, or fail fast with a store-kind-specific message.
    * `supported` is the newest layout version this build reads (1 for
    * every store that never changed layout; PostingsStore passes its
    * own).
    */
  def requireManifest(spark: SparkSession, path: String, marker: String,
      kind: String, supported: Int = 1): String = {
    val mf = readMarker(spark, path, marker).getOrElse(
      throw new IllegalStateException(s"$path is not a $kind (no $marker)"))
    requireVersion(mf, supported, s"$kind at $path")
    mf
  }

  /** Forward-compat gate every store loader runs: a manifest stamped by
    * a NEWER format version must be refused, not misread — a v2 layout
    * (say, a changed pair-log schema) silently half-read as v1 is a
    * wrong-answer generator. Absent version (pre-stamp artifact) reads
    * as 1.
    */
  def requireVersion(manifest: String, supported: Int, where: String): Unit = {
    val v = manifestVersion(manifest)
    if (v > supported) throw new IllegalStateException(
      s"$where is store-format v$v, but this build reads <= v$supported — " +
        "upgrade the library (reading a newer layout as an older one " +
        "would silently corrupt results)")
  }

  /** The ONE parsing rule for a manifest's layout version (absent =
    * pre-stamp v1) — shared by the gate above and any loader that
    * branches on version (PostingsStore's positional layout), so the
    * admitting check and the branching check can never disagree.
    */
  def manifestVersion(manifest: String): Int =
    "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(manifest)
      .map(_.group(1).toInt).getOrElse(1)

  /** One integer field from a JSON-ish manifest string. */
  def manifestInt(manifest: String, key: String, where: String): Int =
    ("\"" + key + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(manifest)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"$where lacks '$key'"))

  /** The 64-bit sibling — ONE manifest-field parsing rule for the store
    * family (a per-store copy is the drift the shared definition
    * exists to prevent).
    */
  def manifestLong(manifest: String, key: String, where: String): Long =
    ("\"" + key + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(manifest)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"$where lacks '$key'"))

  /** The INGEST-COUNTER read for the bucketed append-grown stores
    * (graph, postings, tree, vector): a manifest written before the
    * counter existed reads as 1 — the store behaves like a fresh save
    * whose growth since then is untracked, and the counter starts
    * counting from the next append. Strict parsing here would be
    * worse than lenient: the counter is consulted inside append paths
    * AFTER data files land, so throwing on an old store would strand
    * a half-appended state over a missing field that carries no
    * correctness weight.
    */
  def ingestsOf(manifest: String): Long =
    "\"ingests\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(manifest)
      .map(_.group(1).toLong).getOrElse(1L)

  /** The string-level `last_batch` parse — ONE rule (sign-tolerant: a
    * negative explicit id must read back, or the idempotence guard
    * silently disarms), shared by [[graft.ops.SketchOps.lastBatchId]]
    * (the file-reading form) and every append that already holds the
    * manifest string and must not pay a second marker read for it.
    */
  def lastBatchOf(manifest: String): Option[Long] =
    "\"last_batch\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(manifest)
      .map(_.group(1).toLong)

  /** Shared additive counting-store machinery — ONE definition of the
    * ingest-advance rule, the batchId zombie guard, the schema gate,
    * and the unionByName+groupBy fold, for every family that persists
    * bounded exact-count statistics (the mix-stats store's `n_total`,
    * the drift store's `(n, err_sum)`). The per-family copies were
    * exactly the drift channel [[manifestedStoreExists]]'s
    * consolidation closed for the PROBES; a crash-protocol or
    * zombie-guard strengthening must land on every counting fold at
    * once the same way. Value columns are the parameter; every other
    * column is the group key.
    */
  def foldStoreSave(stats: org.apache.spark.sql.DataFrame, path: String,
      sub: String, mfFile: String, batchId: Option[Long]): Unit =
    // a re-save over an existing store (a history reset) advances the
    // counter like a fold would — the ModelStore.save rule, so a
    // ledger-driven replay can refuse EITHER kind of drift
    foldStoreSaveAt(stats, path, sub, mfFile, batchId,
      readMarker(stats.sparkSession, path, mfFile)
        .map(ingestsOf).getOrElse(0L) + 1L)

  private def foldStoreSaveAt(stats: org.apache.spark.sql.DataFrame,
      path: String, sub: String, mfFile: String, batchId: Option[Long],
      ingests: Long): Unit =
    saveManifested(stats, path, sub, mfFile,
      s"""{"version":1,"ingests":$ingests""" +
        batchId.map(id => s""","last_batch":$id""").getOrElse("") + "}")

  /** Fold one batch's statistics in: value columns sum by every other
    * column. Re-delivered batchIds are full no-ops — counts, unlike
    * sketch states, are not idempotent under merge. ONE manifest read
    * serves the existence check, the zombie guard, and the ingest
    * counter (the ProvenanceLog.append discipline). A no-batchId fold
    * must not erase the recorded last_batch (the family's orElse rule).
    */
  def foldStoreAppend(spark: SparkSession, path: String, sub: String,
      mfFile: String, batchStats: org.apache.spark.sql.DataFrame,
      batchId: Option[Long], valueCols: Seq[String],
      desc: String): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val mf = readMarker(spark, path, mfFile)
      .getOrElse(throw new IllegalStateException(
        s"$path is not a $desc (no $mfFile)"))
    requireVersion(mf, 1, s"$desc at $path")
    val last = lastBatchOf(mf)
    if (batchId.isDefined && batchId == last) return
    val stored = spark.read.parquet(s"$path/$sub")
    require(batchStats.columns.sorted.toSeq == stored.columns.sorted.toSeq,
      s"batch stats (${batchStats.columns.mkString(",")}) do not match " +
        s"the stored schema (${stored.columns.mkString(",")})")
    val keys = stored.columns.filterNot(valueCols.contains).toSeq
    val sums = valueCols.map(c => sum(col(c)).as(c))
    val merged = stored.unionByName(batchStats)
      .groupBy(keys.map(col): _*)
      .agg(sums.head, sums.tail: _*)
    // no checkpoint needed: saveManifested's swap protocol consumes the
    // merge plan into the swap directory while the live files are
    // still intact — the lazy read and the overwrite never overlap
    foldStoreSaveAt(merged, path, sub, mfFile, batchId.orElse(last),
      ingestsOf(mf) + 1L)
  }

  /** The compaction watermark — the ingest count the store last
    * compacted at (0 for never, and for pre-watermark manifests).
    * ONE parsing rule shared by every family that folds batches as
    * appended row sets and offers a `needsCompact` nudge (LM, LSH,
    * dup-hash): the probe and the stamp can never disagree.
    */
  def compactedAtOf(mf: String): Long =
    "\"compacted_at\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(mf)
      .map(_.group(1).toLong).getOrElse(0L)

  /** Advance (or insert) the watermark in a manifest string — the
    * write-side twin of [[compactedAtOf]], applied by each family's
    * `compact` to the manifest it carries to `dest`.
    */
  def withCompactedAt(mf: String, at: Long): String = {
    val re = "\"compacted_at\"\\s*:\\s*\\d+".r
    if (re.findFirstIn(mf).isDefined)
      re.replaceFirstIn(mf, s""""compacted_at":$at""")
    else mf.patch(mf.lastIndexOf('}'), s""","compacted_at":$at""", 0)
  }

  /** The family-wide maintenance nudge: batches folded since the last
    * compaction ≥ `slack`, reading the `ingests` counter and the
    * [[compactedAtOf]] watermark. `strict` (the default) FAILS on a
    * manifest without the counter — right for the fold stores, which
    * have stamped it since their first release, so a missing field
    * there is damage, not age. The bucketed append-grown stores
    * (graph, postings, tree, vector) gained the counter later and
    * pass `strict = false`: their pre-counter manifests read as
    * ingests = 1 via [[ingestsOf]], the same lenient rule their
    * append paths use, so probe and write side agree about a legacy
    * store.
    */
  def needsCompactFrom(mf: String, slack: Int, where: String,
      strict: Boolean = true): Boolean = {
    require(slack >= 1, s"slack must be >= 1, got $slack")
    val ingests =
      if (strict) manifestLong(mf, "ingests", where) else ingestsOf(mf)
    ingests - compactedAtOf(mf) >= slack
  }

  /** Act on a store family's compaction nudge inside a maintenance
    * loop: when `needs` reports the store at `current` is due, compact
    * it into the next GENERATION directory (`…` → `…_g1` → `…_g2`) and
    * return the new serving path; otherwise return `current`
    * unchanged. Rotation rather than in-place rewrite because every
    * family's compact requires a disjoint destination (the source is
    * read lazily while the destination is written), and the
    * generation suffix leaves the previous store intact until the
    * caller retires it. The compacted store carries its manifest over
    * (ingest counter, `last_batch` zombie guard, watermark advanced),
    * so a foreachBatch loop that swaps its serving path mid-stream
    * loses neither answers nor redelivery idempotence — StreamingSpec
    * drives the LM, LSH, and dup-hash families through exactly this.
    */
  def rotateIfDue(current: String, needs: String => Boolean,
      compact: (String, String) => Unit,
      retire: String => Unit = _ => ()): String =
    if (!needs(current)) current
    else {
      val dest = nextGeneration(current)
      compact(current, dest)
      // retirement runs only AFTER the new generation is fully written
      // and manifested (compact's last act), so a crash inside compact
      // leaves the old generation serving and the half-written dest
      // refusing to load. Retiring is SINGLE-WRITER-loop-only: callers
      // with concurrent readers on the old path must keep the default
      // no-op and retire out of band.
      retire(current)
      dest
    }

  /** `p` → `p_g1`, `p_g7` → `p_g8`: the rotation naming [[rotateIfDue]]
    * chains compactions through.
    */
  def nextGeneration(path: String): String = {
    val re = "_g(\\d+)$".r
    re.findFirstMatchIn(path) match {
      case Some(m) =>
        path.substring(0, m.start) + "_g" + (m.group(1).toLong + 1L)
      case None => path + "_g1"
    }
  }

  /** The restart-discovery half of the rotation protocol: a maintenance
    * loop's serving-path variable dies with the process, and with
    * retirement on, the BASE path itself may no longer exist — so a
    * restarted loop must find the newest SERVABLE generation before
    * its first ingest. Scans the base's parent directory for
    * `name`/`name_gN` siblings and returns the highest that passes
    * `healthy` (the base path itself when none survives — the
    * fresh-start case). Pass the family's own probe as `healthy`
    * (e.g. a manifest-presence check) — a crash INSIDE compact leaves
    * a manifest-less newest generation that must be skipped in favor
    * of the still-serving predecessor; and a crash BETWEEN compact and
    * retire leaves both alive, so discovery should be followed by
    * retiring every found generation below the served one. The `_gN`
    * suffix is RESERVED by the rotation naming: do not give a
    * non-rotated store a name ending in `_g<digits>` — discovery
    * strips it.
    */
  def latestGeneration(spark: SparkSession, path: String,
      healthy: String => Boolean = _ => true): String = {
    val stripped = generationBase(path)
    val fit = siblingGenerations(spark, stripped).sorted.reverse
      .map(g => generationPath(stripped, g))
      .find(healthy)
    fit.getOrElse(stripped)
  }

  /** `p_gN` → `p`, `p` → `p` — the base name a rotation chain shares. */
  def generationBase(path: String): String =
    "_g(\\d+)$".r.replaceFirstIn(path, "")

  /** `p` → 0, `p_gN` → N — where a path sits in its rotation chain. */
  def generationNumber(path: String): Long =
    "_g(\\d+)$".r.findFirstMatchIn(path)
      .map(_.group(1).toLong).getOrElse(0L)

  /** `(p, 0)` → `p`, `(p, N)` → `p_gN` — the inverse of
    * [[generationNumber]], public because a replay resolves a
    * LEDGER-RECORDED generation number back to its directory.
    */
  def generationPath(base: String, g: Long): String =
    if (g == 0L) base else s"${base}_g$g"

  /** The generation numbers present on disk for `base`'s rotation
    * chain (the ONE sibling-scan, shared by restart discovery and the
    * grace GC so they can never disagree about what a generation is).
    */
  private def siblingGenerations(spark: SparkSession,
      base: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(base)
    val parent = p.getParent
    val fs = fsOf(spark, base)
    if (parent == null || !fs.exists(parent)) return Seq.empty
    val name = p.getName
    val genRe = (java.util.regex.Pattern.quote(name) + "_g(\\d+)").r
    fs.listStatus(parent).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .flatMap { n =>
        if (n == name) Some(0L)
        else genRe.findFirstMatchIn(n)
          .filter(_.matched == n).map(_.group(1).toLong)
      }
  }

  /** Reader-grace GC for the rotation protocol: delete every generation
    * of `serving`'s chain that is MORE than `grace` rotations behind it,
    * and return the deleted paths. Immediate retirement
    * ([[rotateIfDue]]'s `retire` closure) is only safe when the rotating
    * loop is the sole reader; on a cluster, a long query that loaded
    * generation g from the store's files dies mid-scan when a
    * concurrent rotation deletes them — so a shared store keeps the
    * last `grace` retired generations alive as a read horizon (size the
    * grace to the longest query the store serves, the snapshot-
    * retention rule every table format with compaction ends up with).
    * Generations ABOVE the serving one are never touched: a crash
    * inside a concurrent compact leaves a half-written `_g(N+1)` that
    * recovery logic, not GC, owns.
    */
  def retireWithGrace(spark: SparkSession, serving: String,
      grace: Int): Seq[String] = {
    require(grace >= 0, s"grace must be >= 0, got $grace")
    val base = generationBase(serving)
    sweepTombstones(spark, base)
    val cut = generationNumber(serving) - grace
    siblingGenerations(spark, base).filter(_ < cut).sorted
      .map(generationPath(base, _))
      .filterNot(isPinned(spark, _))
      .map { p => retireDir(spark, p); p }
  }

  /** Reader-pin markers: the escape hatch for a reader LONGER than the
    * grace horizon. The count-based horizon dies for any query that
    * outlives `grace` rotations (size grace ≥ ⌈longest-query /
    * rotation-period⌉ as the baseline rule); a reader that cannot bound
    * its own runtime instead PINS the generation it resolved
    * ([[pinGeneration]]) and the GC skips pinned generations until
    * every pin is removed ([[unpinGeneration]]). Pins are one marker
    * file per (generation, token) — cheap, idempotent, and visible to
    * operators as plain files.
    *
    * PIN-WHILE-PROTECTED is the caller's contract: place the pin while
    * the generation is still inside the grace horizon (which a reader
    * does naturally — it pins the path it just resolved, at resolve
    * time, before the next rotation can age it out). Pinning a
    * generation that is ALREADY past the horizon races the GC's list —
    * the pin may land after deletion started — and is NOT recovered
    * from; this is the same fundamental race every snapshot-retention
    * design has, resolved the same way (protect, then read). A crashed
    * reader leaks its pin and blocks GC of that one generation until an
    * operator deletes the marker file — the failure mode is retained
    * disk, never a reader killed mid-scan, which is the right side of
    * the trade for a serving store.
    */
  val PinPrefix = "_graft_pin_"

  /** Pin `dir` against the grace GC under `token` (one pin per reader;
    * tokens are caller-chosen — a query id, a session id). Idempotent.
    */
  def pinGeneration(spark: SparkSession, dir: String,
      token: String): Unit = {
    require(token.nonEmpty && !token.contains('/'),
      s"pin token must be a plain name, got '$token'")
    // a pin on a generation the GC already took must FAIL LOUDLY at pin
    // time: writeMarker's create would resurrect a ghost directory
    // holding only the marker — the reader believes it is protected and
    // dies mid-scan on missing data files instead, and the ghost is
    // listed as a real generation until someone unpins it. This is the
    // too-late half of the pin-while-protected contract, surfaced as an
    // error so the reader re-resolves the serving head.
    val fs = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"cannot pin $dir: the generation no longer exists (GC took " +
          "it) — re-resolve the serving head and pin at resolve time")
    writeMarker(spark, dir, PinPrefix + token,
      ProcessHandle.current().pid().toString)
    // POST-WRITE VERIFY against a concurrent GC. Retirement is a
    // tombstone RENAME ([[retireDir]]) — atomic, so a too-late pin has
    // exactly two outcomes, both caught here: (a) the pin landed before
    // the rename — the marker traveled with the renamed tree, and the
    // listStatus below finds the path GONE (FileNotFoundException,
    // mapped to the contract's error); (b) the pin landed after —
    // writeMarker's create resurrected the path as a ghost holding only
    // pin markers (false protection: the reader would die later on
    // missing data files), which the all-pins probe catches and
    // removes. The mid-delete partial-tree outcomes the pre-rename GC
    // admitted (pin survives inside a half-deleted tree) no longer
    // exist. A window remains (GC lists pins, then this pin lands, then
    // GC's rename) — but it now always resolves to (a) or (b), i.e.
    // a LOUD error, never a reader scanning a partial generation.
    val entries =
      try fs.listStatus(p).toSeq.map(_.getPath.getName)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"cannot pin $dir: the generation was GC'd while the pin " +
              "landed — re-resolve the serving head and pin at resolve " +
              "time")
      }
    val ghost = entries.forall(_.startsWith(PinPrefix))
    if (ghost || !entries.contains(PinPrefix + token)) {
      if (ghost) deleteDir(spark, dir) // remove the marker-only ghost
      throw new IllegalStateException(
        s"cannot pin $dir: the generation was GC'd while the pin " +
          "landed — re-resolve the serving head and pin at resolve time")
    }
  }

  /** Remove this reader's pin (no-op when absent — the generation may
    * already have been GC'd after an earlier unpin).
    */
  def unpinGeneration(spark: SparkSession, dir: String,
      token: String): Unit = {
    require(token.nonEmpty && !token.contains('/'),
      s"pin token must be a plain name, got '$token'")
    deleteMarker(spark, dir, PinPrefix + token)
  }

  /** Whether any reader pin protects `dir` — the GC's probe (absent
    * directories report unpinned and fall through to the no-op delete).
    */
  def isPinned(spark: SparkSession, dir: String): Boolean =
    listFileNames(spark, dir).exists(_.startsWith(PinPrefix))

  /** [[rotateIfDue]] with the reader-grace GC applied after a rotation:
    * compact into the next generation when due, then retire only
    * generations more than `grace` behind the NEW serving path. The
    * default `grace = 1` keeps exactly one retired generation readable
    * — enough for any reader that resolved its file list before the
    * rotation landed; loops serving longer-running readers raise it.
    */
  def rotateWithGrace(spark: SparkSession, current: String,
      needs: String => Boolean, compact: (String, String) => Unit,
      grace: Int = 1): String = {
    val next = rotateIfDue(current, needs, compact)
    if (next != current) retireWithGrace(spark, next, grace)
    next
  }

  /** The file names directly under `dir` (non-recursive, files only) —
    * how a store append records its rollback identity when its rows
    * carry no batch tag (bucketed layouts, where a per-row tag would
    * widen every stored edge): the pre-append file list IS the
    * pre-batch state.
    */
  def listFileNames(spark: SparkSession, dir: String): Seq[String] = {
    val fs = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.getName)
  }

  /** [[listFileNames]] restricted to DATA files — marker/commit files
    * (leading '_' or '.') excluded. The ONE definition of the
    * convention: it is load-bearing (GraphStore's append rollback
    * identity is exactly this list), so a per-site copy that forgot
    * dot-files would silently record commit markers into a pending
    * snapshot.
    */
  def dataFileNames(spark: SparkSession, dir: String): Seq[String] =
    listFileNames(spark, dir)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))

  /** The file count a merging compaction writes for the table at `dir`:
    * the table's own data-file count capped at `cap`, so compacting a
    * small store never grows its file set.
    */
  def compactFiles(spark: SparkSession, dir: String, cap: Int): Int =
    math.max(1, math.min(cap, dataFileNames(spark, dir).size))

  def readMarker(spark: SparkSession, dir: String,
      name: String): Option[String] = {
    val fs = fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }
}

/** Per-session memo for session-bound objects (persisted DataFrames,
  * ingested fixtures, loaded store handles). Keyed by (session identity,
  * key): a second SparkSession in the same JVM — a harness that calls
  * spark.stop() and restarts — rebuilds instead of receiving objects
  * bound to a stopped SparkContext. Entries for dead sessions are
  * retained (bounded by sessions-per-JVM, in practice one or two).
  */
final class SessionCache[V] {
  private val m =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()
  def get(s: SparkSession, key: String)(build: => V): V =
    m.computeIfAbsent((s, key), _ => build)
}
