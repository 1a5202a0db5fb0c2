package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: lay documents out into fixed-token-budget training
  * sequences (the concat-and-chunk shape LLM pipelines use — documents
  * are concatenated in a deterministic shuffled order and the stream is
  * cut every `ctxLen` tokens).
  *
  * Scale design: one global stream would be a single-partition window —
  * a non-starter at 100 TB. Instead the corpus is split into `16`
  * independent shards by a salted-md5 digit, and each shard is its own
  * pack stream: the window partitions by shard, so offsets are computed
  * in parallel with one hash-partitioned exchange. Shards are
  * independent training streams (files, in practice); the salt doubles
  * as the epoch's shuffle seed, so every epoch gets a different but
  * fully reproducible order.
  */
object PackOps {

  /** Salted deterministic shuffle key (also the epoch seed). */
  def shuffleKey(id: Column, salt: String): Column =
    md5(concat_ws(":", lit(salt), id.cast("string")))

  /** Pack documents into `ctxLen`-token sequences within 16 md5 shards.
    *
    * @param docs     input rows
    * @param idCol    document id column name
    * @param nTokCol  per-document token count expression
    * @return (doc_id, shard, start_off, seq_idx): the document's TOKEN
    *         offset in its shard's concatenated stream and the sequence
    *         (chunk) its first token lands in
    */
  def packSequences(docs: DataFrame, idCol: String, nTokCol: Column,
      ctxLen: Int, salt: String): DataFrame = {
    val keyed = docs.select(col(idCol).as("doc_id"),
      nTokCol.cast("long").as("n_tok"),
      shuffleKey(col(idCol), salt).as("key"))
      .withColumn("shard", substring(col("key"), 1, 1))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("key"), col("doc_id"))
    keyed
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("seq_idx",
        floor(col("start_off") / lit(ctxLen.toDouble)).cast("long"))
      .select(col("doc_id"), col("shard"), col("start_off"), col("seq_idx"))
  }

  /** Per-sequence fill statistics — the packing-efficiency audit view:
    * how many documents start in each sequence and how many of its
    * tokens they contribute (cross-boundary tokens attributed to the
    * sequence where the document starts).
    */
  def packStats(packed: DataFrame, nTok: DataFrame): DataFrame =
    packed.join(nTok, "doc_id")
      .groupBy(col("shard"), col("seq_idx"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))

  /** First-fit-decreasing bin packing: lay documents out into
    * `ctxLen`-token bins WITHOUT splitting any document — the
    * padding-efficiency alternative to [[packSequences]]'s
    * concat-and-chunk (which never pads mid-stream but cuts documents
    * at every boundary; FFD never cuts a document and pays only each
    * bin's terminal slack, which the decreasing order keeps small).
    *
    * Deterministic and integer-exact: within each of the 16 md5 shards
    * documents are processed in (n_tok DESC, doc_id ASC) order and each
    * goes to the LOWEST-indexed bin with enough remaining capacity,
    * opening a new bin when none fits — a sequential fold per shard,
    * which a SQL oracle can replay exactly (one recursive step per
    * document). Scale shape: the fold is inherently sequential, so the
    * unit of parallelism is the shard — one exchange + sort routes each
    * shard to one task (the same shape as [[packSequences]]'s window);
    * at larger corpora the shard fan-out is the knob, and the per-doc
    * first-fit scan (O(open bins) worst case) admits the classic
    * max-capacity segment-tree upgrade if a shard's bin count ever
    * bites. State per shard is one long per open bin.
    *
    * Documents with NULL token counts or more than `ctxLen` tokens
    * cannot be placed and FAIL the job via an in-plan guard — silent
    * drops would unbalance the oracle; the caller chooses the policy
    * (filter or truncate) explicitly.
    *
    * The per-doc first-fit lookup runs on a max-capacity SEGMENT TREE
    * over the open bins ([[FirstFitTree]]) — O(log bins) per document.
    * The naive linear scan is QUADRATIC on adversarial mixes (half the
    * docs just over ctxLen/2 — each opens a bin — then half just
    * under: each scans every open bin before opening its own), and a
    * shard is one task, so at 1M docs/shard the scan is the job
    * (PERF.md records the 1M-doc probe of exactly this shape). Same
    * answers bit for bit: both pick the lowest-indexed bin with enough
    * remaining capacity (TrainingSpec's linear replay, its adversarial
    * tree-vs-scan case, and the SQL oracle pin it).
    *
    * @return (doc_id, shard, bin, bin_off): the document's bin index
    *         (0-based, in creation order) within its shard and its
    *         token offset inside that bin
    */
  def packFfd(docs: DataFrame, idCol: String, nTokCol: Column,
      ctxLen: Int, salt: String): DataFrame = {
    require(ctxLen > 0, s"ctxLen=$ctxLen must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(col(idCol).cast("long").as("doc_id"),
        nTokCol.cast("long").as("n_tok"),
        substring(shuffleKey(col(idCol), salt), 1, 1).as("shard"))
      .withColumn("n_tok",
        when(col("n_tok").isNull || col("n_tok") > ctxLen,
          raise_error(concat(
            lit(s"packFfd: token count NULL or above ctxLen=$ctxLen "
              + "for doc "), col("doc_id").cast("string"))))
          .otherwise(col("n_tok")))
    keyed.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("n_tok").desc, col("doc_id"))
      .as[(Long, Long, String)]
      .mapPartitions { it =>
        // shards arrive as contiguous runs; state resets at each run
        var cur: String = null
        var tree: FirstFitTree = null
        it.map { case (docId, nTok, shard) =>
          if (shard != cur) {
            cur = shard
            tree = new FirstFitTree(ctxLen.toLong)
          }
          val (bin, off) = tree.place(nTok)
          (docId, shard, bin, off)
        }
      }
      .toDF("doc_id", "shard", "bin", "bin_off")
  }

  /** The first-fit state of ONE shard's fold: a max segment tree over
    * the open bins' remaining capacities. Leaf i holds bin i's
    * remaining tokens (unopened leaves hold 0 — never selectable,
    * since a fitting OPEN bin always wins the leftward descent and the
    * root check routes "nothing fits" to a new bin); an internal node
    * holds the max of its subtree, so "lowest-indexed bin with
    * remaining ≥ n" is one root-to-leaf descent — go left whenever the
    * left subtree's max fits. O(log bins) per document, the classic
    * FFD structure; the leaf array doubles (rebuild is amortized O(1)
    * per bin) because a shard's final bin count is data-dependent.
    */
  private[graft] final class FirstFitTree(ctxLen: Long) {
    private var cap = 16 // leaves (power of two)
    private var tree = new Array[Long](2 * cap)
    private var n = 0 // open bins
    def openBins: Int = n

    private def pullUp(leaf: Int): Unit = {
      var j = leaf >> 1
      while (j >= 1) {
        tree(j) = math.max(tree(2 * j), tree(2 * j + 1))
        j >>= 1
      }
    }

    private def grow(): Unit = {
      val nc = cap * 2
      val nt = new Array[Long](2 * nc)
      System.arraycopy(tree, cap, nt, nc, n)
      var j = nc - 1
      while (j >= 1) { nt(j) = math.max(nt(2 * j), nt(2 * j + 1)); j -= 1 }
      cap = nc
      tree = nt
    }

    /** Place an `nTok`-token document: (bin index, token offset). */
    def place(nTok: Long): (Long, Long) = {
      if (n == 0 || tree(1) < nTok) {
        // no open bin fits — open the next one
        if (n == cap) grow()
        val leaf = cap + n
        tree(leaf) = ctxLen - nTok
        pullUp(leaf)
        n += 1
        (n - 1L, 0L)
      } else {
        var j = 1
        while (j < cap) j = if (tree(2 * j) >= nTok) 2 * j else 2 * j + 1
        val off = ctxLen - tree(j)
        tree(j) -= nTok
        pullUp(j)
        ((j - cap).toLong, off)
      }
    }
  }

  /** Per-bin fill statistics for [[packFfd]] — n_docs, n_tokens, and
    * the bin's padding (`ctxLen - n_tokens`), the number the packer
    * exists to minimize. Every bin's fill is fully attributed (no
    * document straddles), so `sum(pad)` over bins IS the corpus's
    * total padding waste.
    */
  def packFfdStats(packed: DataFrame, nTok: DataFrame,
      ctxLen: Int): DataFrame =
    packed.join(nTok, "doc_id")
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("pad", lit(ctxLen.toLong) - col("n_tokens"))
}
