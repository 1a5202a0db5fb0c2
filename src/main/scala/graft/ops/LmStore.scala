package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted n-gram count store — the language model's serving
  * artifact, completing the train→persist→serve lifecycle for the LM
  * family the way [[PostingsStore]] does for retrieval and
  * [[DupStore]] for substring dedup: counts are trained ONCE (three
  * hash aggregates over the corpus), persisted, and every later
  * scoring run — or incremental fold of a new corpus batch — never
  * re-reads the training history.
  *
  * Counts are ADDITIVE, which is what makes the store incremental:
  * unigram/bigram/trigram counts over a disjoint doc split sum to the
  * whole-corpus counts exactly (tokenization is per-document), so
  * [[ingestBatch]] appends each batch's per-batch aggregated rows and
  * [[counts]] re-aggregates at read — the [[DupStore]] shape: appends
  * stay cheap and crash-safe, [[compact]] merges rows (counts sum)
  * back to one per n-gram. A store folded from ANY batch split scores
  * bit-identically to a model trained one-shot
  * (`LmStoreSpec`/the gate's shared oracle prove it).
  *
  * Appends, recovery and compaction follow [[graft.StoreCommit]]; the
  * rollback identity is the per-row tag (`ingest_batch`, `ingest_seq`).
  *
  * Layout: `path/uni` (w, c, ingest_batch, ingest_seq), `path/bi`
  * (w1, w2, c, …), `path/tri` (w1, w2, w3, c, …),
  * `path/_graft_lmstore.json`.
  */
object LmStore {

  val ManifestFile = "_graft_lmstore.json"
  val PendingFile = "_graft_lm_pending"

  private val Tables = Seq("uni", "bi", "tri")

  /** A loaded store: aggregated count views ready for
    * [[LmOps.scoreBigram]]/[[LmOps.scoreTrigram]].
    */
  final case class Loaded(uni: DataFrame, bi: DataFrame, tri: DataFrame,
      path: String)

  private val Commit = graft.StoreCommit.Kind("LM store", ManifestFile,
    PendingFile, "uni", "LmStore.recoverIngest", strict = true)

  private def manifest(ingests: Long, batchId: Option[Long],
      compactedAt: Long): String =
    s"""{"version":1,"ingests":$ingests,"compacted_at":$compactedAt""" +
      batchId.map(id => s""","last_batch":$id""").getOrElse("") + "}"

  /** Whether a maintenance pass is due: [[load]] re-aggregates every
    * ingest's rows on every call, so load cost grows with the count of
    * batches folded since the last [[compact]] — this probe is the
    * NUDGE that keeps a long-lived scoring service from silently
    * paying O(ingests × vocab) per load forever. `slack` is the
    * batches-since-compaction budget; the default matches compact's
    * default file fan-in (a compacted table is ~`files` files, so
    * letting ~that many batches stack keeps per-load file counts
    * within 2× of freshly-compacted).
    */
  def needsCompact(spark: SparkSession, path: String,
      slack: Int = 8): Boolean =
    graft.StoreCommit.needsCompact(spark, Commit, path, slack)

  /** Healthy-store probe with the family's broken-vs-absent rule. */
  def exists(spark: SparkSession, path: String): Boolean =
    graft.StoreCommit.exists(spark, Commit, path)

  /** The aggregated count views: per-ingest rows group-sum back to one
    * count per n-gram — the read-side fold that lets appends stay
    * append-only. Shapes match [[LmOps]]' training outputs exactly.
    */
  def load(spark: SparkSession, path: String): Loaded = {
    graft.StoreCommit.manifest(spark, Commit, path)
    def agg(table: String, keys: Seq[String]): DataFrame =
      spark.read.parquet(s"$path/$table")
        .groupBy(keys.map(col): _*).agg(sum(col("c")).as("c"))
    Loaded(agg("uni", Seq("w")), agg("bi", Seq("w1", "w2")),
      agg("tri", Seq("w1", "w2", "w3")), path)
  }

  /** Fold one document batch's counts into the store (create on first
    * batch): three per-batch hash aggregates append as tagged rows; the
    * batch corpus is never compared against history — additivity does
    * the merge at read time. Idempotent under foreachBatch zombie
    * re-delivery via `last_batch`.
    */
  def ingestBatch(spark: SparkSession, path: String, batch: DataFrame,
      textCol: String, batchId: Option[Long] = None): Unit = {
    val pre = graft.StoreCommit.pre(spark, Commit, path, batchId,
      create = true).getOrElse(return)
    val tag = pre.tag(batchId)
    // tokenize ONCE for the three aggregates (flatten — three
    // consumers); the count definitions are LmOps' own, so store-fed
    // and one-shot-trained models can never tokenize or count apart
    val toks = ClusterOps.flatten(LmOps.tokenFrame(batch, textCol))
    val mode = if (pre.mf.isDefined) "append" else "overwrite"
    def write(t: String, df: DataFrame): (String, () => Unit) =
      t -> (() => tag(df).write.mode(mode).parquet(s"$path/$t"))
    graft.StoreCommit.append(spark, Commit, path, tag.marker, Seq(
      write("uni", LmOps.uniCountsOfTokens(toks)),
      write("bi", LmOps.biCountsOfTokens(toks)),
      write("tri", LmOps.triCountsOfTokens(toks))),
      manifest(pre.ingests + 1L, pre.nextLast(batchId), pre.compactedAt))
  }

  /** Roll an interrupted ingest back out into a clean store at `dest`
    * ([[graft.StoreCommit.recoverTagged]]; all three tables cleaned by
    * the same rule).
    */
  def recoverIngest(spark: SparkSession, path: String, dest: String): Unit =
    graft.StoreCommit.recoverTagged(spark, Commit, path, dest, Tables)

  /** Rewrite an ingest-grown store at `dest`, MERGING per-n-gram rows —
    * counts sum, so a store that folded k batches goes back to one row
    * per n-gram (merged rows carry tag −1/seq 0, the [[DupStore]]
    * convention: compaction of a healthy store has no live rollback
    * identity). Each table keeps the source table's file count, at
    * most 8.
    */
  def compact(spark: SparkSession, path: String, dest: String): Unit = {
    def merge(t: String, keys: Seq[String]): (String, () => Unit) =
      t -> (() => spark.read.parquet(s"$path/$t")
        .groupBy(keys.map(col): _*).agg(sum(col("c")).as("c"))
        .select(keys.map(col) :+ col("c") :+
          lit(-1L).as("ingest_batch") :+ lit(0L).as("ingest_seq"): _*)
        .repartition(graft.StoreUtil.compactFiles(spark, s"$path/$t", 8))
        .write.mode("overwrite").parquet(s"$dest/$t"))
    graft.StoreCommit.compact(spark, Commit, path, dest) { _ =>
      Seq(merge("uni", Seq("w")), merge("bi", Seq("w1", "w2")),
        merge("tri", Seq("w1", "w2", "w3")))
    }
  }
}
