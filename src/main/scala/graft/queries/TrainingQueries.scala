package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{ClusterOps, LinearModel, LshStore, PackOps, SampleOps,
  SketchOps, TextOps, VectorOps, VectorStore}

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis) over the documents/embeddings tables, each with a DuckDB
  * oracle. Pairwise operators run on fixed id windows so outputs are
  * bounded at every SF; the unbounded-scale variants (LSH banding /
  * bucketed ANN) live in [[graft.ops]] with the same code path.
  */
object TrainingQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Exact-dedup mechanics: per-source doc counts vs distinct text hashes. */
  val ddSourceStats: Q = (s, d) =>
    Tables.documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"))

  /** Token-set fingerprint dedup: groups of docs whose distinct-token sets
    * coincide (survives word reordering/repetition).
    */
  val ddFingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.fingerprintCol(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** MinHash(k=8) + LSH(4 bands × 2 rows) candidate pairs on an id window. */
  val ddMinhashLsh: Q = (s, d) =>
    TextOps.minhashCandidates(
      Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text")

  /** The incremental near-dup path ([[graft.ops.LshStore]]): the id
    * window arrives as two snapshots folded through a persisted band
    * index — each batch's pairs are found against the store, then its
    * band rows join it — and the accumulated pair log must equal the
    * one-shot banding bit-for-bit (shared `dd_minhash_lsh` oracle).
    * This is the 100 TB dedup lifecycle: history is never re-shingled,
    * only the kilobyte-per-doc band index is probed.
    */
  val ddLshStore: Q = (s, d) => {
    val dir = graft.StoreUtil.cachedStoreDir("lshstore", d) { p =>
      val w = Tables.documents(s, d).filter(col("doc_id") < 100)
      LshStore.ingestBatch(s, p, w.filter(col("doc_id") < 50),
        "doc_id", "text")
      LshStore.ingestBatch(s, p, w.filter(col("doc_id") >= 50),
        "doc_id", "text")
    }
    LshStore.pairLog(s, dir).select(col("a"), col("b"))
  }

  /** Exact token-set Jaccard ≥ 0.5 on an explicit all-pairs candidate set
    * over the same window (the caller-owned-bound form of the verifier).
    */
  val ddJaccard: Q = (s, d) => {
    val w = Tables.documents(s, d).filter(col("doc_id") < 100)
    TextOps.jaccardVerify(TextOps.allPairs(w, "doc_id"), w, "doc_id", "text", 0.5)
  }

  /** EXACT near-dup join over the WHOLE corpus — no id window, no LSH
    * recall gamble: prefix-filtered candidates (AllPairs/PPJoin) over
    * 3-token shingle sets, then exact Jaccard verification. The unigram
    * gates above need a bound or a banding pass; this one's pairwise work
    * is bounded by shared rare-shingle prefixes, which is what makes the
    * exact guarantee affordable ([[graft.ops.TextOps.prefixCandidates]]).
    */
  val ddPrefixJoin: Q = (s, d) =>
    TextOps.prefixSimilarityJoin(Tables.documents(s, d),
      "doc_id", "text", 0.5)

  /** The real dedup pipeline shape: MinHash-LSH candidates → exact Jaccard
    * verification, chained — verifier cost is bounded by the candidate set.
    */
  val ddLshVerified: Q = (s, d) => {
    val w = Tables.documents(s, d).filter(col("doc_id") < 100)
    TextOps.jaccardVerify(TextOps.minhashCandidates(w, "doc_id", "text"),
      w, "doc_id", "text", 0.5)
  }

  /** OR-amplified LSH ANN (2 tables × 4-bit bands) on an id window. */
  val annLsh: Q = (s, d) =>
    VectorOps.annLsh(
      Tables.embeddings(s, d).filter(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      "id", "vec", k = 5, dims = 64, bits = 8, tables = 2)

  /** IVF ANN: 8 seed centroids, nprobe=2, bounded query side. */
  val annIvf: Q = (s, d) => {
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    VectorOps.annIvf(e.filter(col("id") < 20), e, cents, k = 5, nprobe = 2)
  }

  /** IVF over TRAINED centroids: the 8 seeds refined by three full
    * Lloyd rounds ([[VectorOps.kmeansCentroids]] — the km_step kernel
    * iterated, fixed iteration count so both engines stop at the same
    * partition of the corpus), then the identical cells/nprobe/tie
    * search as `ann_ivf`. Recall at fixed nprobe is the 100 TB
    * deployment's cost lever, and trained cells are how it moves: the
    * oracle replays all three rounds (assignment, quantized means,
    * reassembly) before the search chain, so a drifted training step
    * changes the cells and fails the hash — the trained ARTIFACT is
    * gated, not just the search over it.
    */
  /** The trained-IVF fixture — (corpus, three-round Lloyd centroids) —
    * computed ONCE per (session, data dir): the scan gate, the store
    * builder, and the drift meter all read the same trained artifact,
    * so the 300-corpus/8-seed/3-iteration constants exist in ONE place
    * and can never drift from the shared oracle (`annIvfTrainedSql`
    * replays them for every consumer). The centroids come back
    * checkpointed (kmeansCentroids flattens per round), so reuse is a
    * table read, not a retrain.
    */
  private val trainedIvfCache =
    new graft.SessionCache[(DataFrame, DataFrame)]()
  private def trainedIvf(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    trainedIvfCache.get(s, d) {
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val seeds = Tables.embeddings(s, d).filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      (e, VectorOps.kmeansCentroids(e, seeds, iters = 3))
    }

  val annIvfTrained: Q = (s, d) => {
    val (e, cents) = trainedIvf(s, d)
    VectorOps.annIvf(e.filter(col("id") < 20), e, cents, k = 5, nprobe = 2)
  }

  /** The trained centroids SERVED from the persisted IVF layout — the
    * deployment shape of [[annIvfTrained]]: train once
    * ([[VectorOps.kmeansCentroids]], three rounds), save the
    * cell-partitioned store under the TRAINED cells, answer every query
    * from load + partition-pruned scan. Bit-identical to the scan form
    * by construction (same centroids, same nprobe, same tie order), so
    * it shares the replayed-Lloyd oracle — the store changes layout,
    * never answers.
    */
  private def trainedIvfStoreDir(s: SparkSession, d: String): String =
    graft.StoreUtil.cachedStoreDir("vstoretrained", d) { p =>
      val (e, cents) = trainedIvf(s, d)
      VectorStore.save(e, cents, p)
    }

  val annIvfTrainedStore: Q = (s, d) => {
    val dir = trainedIvfStoreDir(s, d)
    val queries = Tables.embeddings(s, d).filter(col("vec_id") < 20)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val st = vstoreLoaded.get(s, dir)(VectorStore.load(s, dir))
    VectorStore.query(st, queries, k = 5, nprobe = 2)
  }

  /** The trained store RETRAINED one more round through the
    * maintenance ACTION ([[VectorStore.retrain]] — warm-start from the
    * SERVING centroids, the k-FIXED Lloyd variant) and served from the
    * fresh generation. This hash-gates the retrain path end to end:
    * the oracle replays the three training rounds, then the retrain
    * round WITH the carry rule (a memberless cell keeps its entry —
    * `coalesce` over a left join, exactly
    * [[VectorOps.kmeansCentroidsKept]]'s round), then the unchanged
    * search chain over the retrained table — so a store rotated by the
    * drift loop's trigger serves answers a SQL engine re-derives.
    */
  val annIvfRetrainedStore: Q = (s, d) => {
    val src = trainedIvfStoreDir(s, d) // hoisted out of the builder
    val dir = graft.StoreUtil.cachedStoreDir("vstoreretrained", d) { p =>
      VectorStore.retrain(s, src, p, iters = 1)
    }
    val queries = Tables.embeddings(s, d).filter(col("vec_id") < 20)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val st = vstoreLoaded.get(s, dir)(VectorStore.load(s, dir))
    VectorStore.query(st, queries, k = 5, nprobe = 2)
  }

  /** Drift meter over the SERVING trained centroids
    * ([[VectorOps.driftStats]]): per-cell occupancy and exact
    * quantized squared error of the corpus against the artifact
    * `ann_ivf_trained` serves — the retraining-cadence signal trained
    * artifacts otherwise lack (they are built once; appends drift the
    * corpus and nothing else says when the cells stopped fitting). The
    * statistic is additive per batch (PropertySpec pins the fold
    * algebra), so a maintenance loop folds it per append and never
    * rescans history; the oracle replays the three Lloyd rounds, the
    * assignment, and the integer error sums end to end.
    */
  val annDrift: Q = (s, d) => {
    val (e, cents) = trainedIvf(s, d)
    VectorOps.driftStats(e, cents)
  }

  /** The drift statistic ACCUMULATED through the persisted store
    * ([[graft.ops.DriftStore]]) — the maintenance shape the meter's
    * additivity exists for: the corpus arrives as TWO batches, each
    * folds only itself in (save, then append), and the loaded store
    * must hash-equal the one-shot [[annDrift]] — so the gate shares
    * `annDriftSql` VERBATIM, which puts the fold algebra itself under
    * the DuckDB oracle (a broken merge would hash-mismatch, not just
    * fail a unit test).
    */
  val annDriftStore: Q = (s, d) => {
    // hoisted: a cachedStoreDir builder must never call cachedStoreDir
    // (trainedIvf uses its own SessionCache — safe inside)
    val dir = graft.StoreUtil.cachedStoreDir("driftstats", d) { p =>
      val (e, cents) = trainedIvf(s, d)
      graft.ops.DriftStore.save(
        VectorOps.driftStats(e.filter(col("id") < 150), cents), p,
        Some(0L))
      graft.ops.DriftStore.append(s, p,
        VectorOps.driftStats(e.filter(col("id") >= 150), cents),
        Some(1L))
    }
    graft.ops.DriftStore.load(s, dir)
  }

  /** [[annDriftPq]] accumulated the same way — two batch folds through
    * the drift store, the (j, code) key inferred from the schema (ONE
    * store family serves both meters), output hash-equal to the
    * one-shot scan so `annDriftPqSql` is shared verbatim.
    */
  val annDriftPqStore: Q = (s, d) => {
    val pqDir = pqTrainedStoreDir(s, d) // hoisted out of the builder
    val dir = graft.StoreUtil.cachedStoreDir("pqdriftstats", d) { p =>
      val st = pqstoreLoaded.get(s, pqDir)(VectorStore.loadPq(s, pqDir))
      val batch = Tables.embeddings(s, d).filter(col("vec_id") < 500)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.ops.DriftStore.save(
        VectorOps.pqDriftStats(batch.filter(col("id") < 250),
          st.codebook, st.m, st.dim), p, Some(0L))
      graft.ops.DriftStore.append(s, p,
        VectorOps.pqDriftStats(batch.filter(col("id") >= 250),
          st.codebook, st.m, st.dim), Some(1L))
    }
    graft.ops.DriftStore.load(s, dir)
  }

  private val vstoreLoaded = new graft.SessionCache[VectorStore.Loaded]()

  /** IVF store, built once per data dir and SERVED thereafter: the first
    * call pays the build (cell assignment + partitioned write — the
    * store's one full-corpus pass), every later call measures what the
    * store exists for: load + partition-pruned query. The result is
    * bit-identical to [[annIvf]] (same centroids, same nprobe, same tie
    * order), so it shares that oracle, while `VectorStoreSpec` locks the
    * partition-pruning property.
    */
  val annStore: Q = (s, d) => {
    val dir = graft.StoreUtil.cachedStoreDir("vstore", d) { p =>
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = Tables.embeddings(s, d).filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      VectorStore.save(e, cents, p)
    }
    val queries = Tables.embeddings(s, d)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // a serving session opens the store once at startup and answers from
    // the handle — cache the Loaded view the same way
    val st = vstoreLoaded.get(s, dir)(VectorStore.load(s, dir))
    VectorStore.query(st, queries, k = 5, nprobe = 2)
  }

  /** The three CC-composite gates (dd_cluster / dd_canonical /
    * dd_pipeline) share an expensive prefix — the doc window, its LSH
    * candidate pairs, the components over them, and the quality frame —
    * and the iterative CC is job-floor-bound, so re-materializing it
    * per gate was the slowest thing in every round's bench. Memoize the
    * shared stages per (session, sf dir) as `localCheckpoint`ed frames:
    * each is computed ONCE per session however many of the three gates
    * run, in any order, with hashes unchanged (same computation, just
    * shared). The serving analogy is a dedup service holding its
    * candidate graph hot across requests.
    */
  private val ddShared = new graft.SessionCache[org.apache.spark.sql.DataFrame]()
  private def ddWindow(s: SparkSession, d: String) =
    Tables.documents(s, d).filter(col("doc_id") < 100)
  private def ddCandidates(s: SparkSession, d: String) =
    ddShared.get(s, "cand|" + d)(
      TextOps.minhashCandidates(ddWindow(s, d), "doc_id", "text")
        .localCheckpoint())
  private def ddComponents(s: SparkSession, d: String) = {
    // materialize the candidate entry BEFORE entering the cc build:
    // a get inside a get is a nested computeIfAbsent on one
    // ConcurrentHashMap — the documented recursive-update hazard, a
    // run-dependent crash whenever the two keys share a hash bin
    val cand = ddCandidates(s, d)
    ddShared.get(s, "cc|" + d)(
      ClusterOps.connectedComponents(cand,
        ddWindow(s, d).select(col("doc_id").as("id"))).localCheckpoint())
  }
  private def ddQualityScores(s: SparkSession, d: String) =
    ddShared.get(s, "qual|" + d)(
      TextOps.quality(ddWindow(s, d), "doc_id", "text")
        .select(col("doc_id").as("id"), col("quality_score").as("score"))
        .localCheckpoint())

  /** Dedup clusters: connected components over the LSH candidate graph —
    * near-dup is transitive in practice, so the dedup unit is the
    * component. Singleton docs label themselves.
    */
  val ddCluster: Q = (s, d) =>
    ddComponents(s, d).withColumnRenamed("id", "doc_id")

  /** Canonical doc per dedup cluster: max quality score, ties to min id. */
  val ddCanonical: Q = (s, d) =>
    ClusterOps.canonicalPerCluster(ddComponents(s, d), ddQualityScores(s, d))

  /** One Lloyd step from 8 seed centroids: long-form refined centroids
    * (cid, pos, val, n) with order-independent quantized means.
    */
  val kmStep: Q = (s, d) => {
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val seeds = Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    VectorOps.kmeansStep(e, seeds)
  }

  /** The complete dedup pipeline, end to end: LSH candidates → exact
    * Jaccard verification (≥ 0.5) → connected components over the
    * VERIFIED pair graph → one kept doc per component (best quality).
    * Output is the keep/drop decision per document — what a training run
    * actually consumes.
    */
  val ddPipeline: Q = (s, d) => {
    val w = ddWindow(s, d)
    val verified = TextOps.jaccardVerify(
      ddCandidates(s, d), w, "doc_id", "text", 0.5)
    val cc = ClusterOps.connectedComponents(
      verified.select(col("a"), col("b")), w.select(col("doc_id").as("id")))
    val canon = ClusterOps.canonicalPerCluster(cc, ddQualityScores(s, d))
    cc.join(canon.select(col("component"), col("keep_id")), "component")
      .select(col("id").as("doc_id"), col("component"),
        (col("id") === col("keep_id")).as("keep"))
  }

  /** 16-bit SimHash signatures on an id window. */
  val ddSimhash: Q = (s, d) =>
    TextOps.simhash(
      Tables.documents(s, d).filter(col("doc_id") < 50), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")

  /** Embedding cosine near-duplicate pairs in an id window. */
  val embNearDup: Q = (s, d) =>
    VectorOps.nearDupPairs(
      Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      threshold = 0.3)

  private def embCorpus(s: SparkSession, d: String) =
    Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def embCents(s: SparkSession, d: String) =
    Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  /** Cell-bucketed near-dup pairs at nprobe=2
    * ([[VectorOps.nearDupPairsBucketed]]) — the Σ|cell|² corpus-scale
    * candidate generator with the boundary-recall probe exercised; the
    * oracle replays the probing, orientation normalization, and dedup.
    */
  val embNearDupCells: Q = (s, d) =>
    VectorOps.nearDupPairsBucketed(embCorpus(s, d), embCents(s, d),
      threshold = 0.3, nprobe = 2)

  /** SemDeDup composite ([[VectorOps.semanticDedup]]): nearest-cell
    * assignment → within-cell near-dup pairs → smallest-id survivor —
    * every row emitted with its cell and keep decision.
    */
  val ddSemantic: Q = (s, d) =>
    VectorOps.semanticDedup(embCorpus(s, d), embCents(s, d),
      threshold = 0.3)

  /** [[ddSemantic]] with the centroid count self-tuned
    * ([[VectorOps.semanticDedupAuto]]): k = ⌈√300⌉ = 18 hash-spread
    * corpus vectors become the cells, so the per-cell population knob
    * sets itself; the oracle re-derives n, k, and the exact centroid
    * set from the same (md5(id), id) order.
    */
  val ddSemanticAuto: Q = (s, d) =>
    VectorOps.semanticDedupAuto(embCorpus(s, d), threshold = 0.3)

  /** The 8-merge table trained on this data dir's corpus word
    * frequencies, computed ONCE per (session, dir) — the train gate
    * emits it and the trained-encoder gate tokenizes with it, so the
    * two gates exercise one artifact instead of re-running the
    * 8-iteration loop per gate.
    */
  private val bpeTrainedTables =
    new graft.SessionCache[Seq[(String, String)]]()
  private def bpeTrainedTable(s: SparkSession,
      d: String): Seq[(String, String)] =
    bpeTrainedTables.get(s, d) {
      import graft.functions.Bpe
      val wf = Tables.documents(s, d)
        .select(explode(Bpe.wordsCol(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      Bpe.train(wf, "w", "c", nMerges = 8)
    }

  /** BPE merge-table TRAINING on the corpus word frequencies
    * ([[graft.functions.Bpe.train]]): one corpus scan to the compact
    * (word, count) table, then 8 iterations of weighted-pair argmax +
    * the encoder's own fence rewrite — closing the tokenizer loop the
    * literal `Bpe.merges` table came from. The oracle replays all 8
    * layers unrolled in SQL, so counting convention, tie-break, and
    * merge application are pinned cross-engine.
    */
  val txtBpeTrain: Q = (s, d) => {
    val rows = bpeTrainedTable(s, d).zipWithIndex
      .map { case ((l, r), i) =>
        org.apache.spark.sql.Row(i.toLong, l, r)
      }
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("l",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("r",
          org.apache.spark.sql.types.StringType, nullable = false))))
  }

  /** Train→encode closed into one artifact: the doc window tokenized
    * with the 8-merge table [[txtBpeTrain]] just trained — not the
    * compiled-in literal ([[graft.functions.Bpe.tokensCol]]'s
    * caller-table form). The encoder itself is unchanged (row-local
    * literal `replace` chain, no UDF, no shuffle); what this gate pins
    * is the LIFECYCLE: a trained table drives the encoder directly,
    * and the oracle re-derives that table in SQL and tokenizes with
    * the training CTEs' own rules, so training output and encoder
    * input can never drift.
    */
  val txtBpeTrained: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 200 && col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(graft.functions.Bpe.tokensCol(col("text"),
          bpeTrainedTable(s, d))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("token"))

  /** [[txtBpeTrained]] with the trained artifact ROUND-TRIPPED through
    * the persisted store: the 8-merge table [[txtBpeTrain]] trains is
    * saved (with its derived vocabulary — the pair is the artifact)
    * and the doc window is encoded under the LOADED table — the
    * literal train→persist→serve lifecycle, where
    * [[txtBpeIdsStore]] persists the compiled-in production table.
    * Bit-identical to the scan gate by construction — shares its
    * oracle (which re-derives the table in SQL from scratch, so the
    * store round trip is pinned against an independent replay, not
    * against itself).
    */
  val txtBpeTrainedStore: Q = (s, d) => {
    val dir = graft.StoreUtil.cachedStoreDir("bpestore_tr", d) { p =>
      import graft.functions.Bpe
      val table = bpeTrainedTable(s, d)
      val vocab = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(explode(Bpe.tokensCol(col("text"), table)).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
        .withColumn("id", (row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("token"))) - 1).cast("long"))
      graft.ops.BpeStore.save(s, table, vocab, p)
    }
    val st = graft.ops.BpeStore.load(s, dir)
    Tables.documents(s, d)
      .filter(col("doc_id") < 200 && col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(graft.functions.Bpe.tokensCol(col("text"), st.merges)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
  }

  /** Incremental semantic frontier ([[VectorStore.frontier]]): history
    * vec_id < 150 persisted as an IVF store once per data dir, then the
    * 150–300 batch probed against it through the cell layout — the
    * embedding leg of the incremental-dedup triad (`dd_frontier` =
    * exact hash via Bloom, `dd_lsh_store` = MinHash text).
    */
  val embFrontier: Q = (s, d) => {
    val all = embCorpus(s, d)
    val dir = graft.StoreUtil.cachedStoreDir("vfrontier", d) { p =>
      VectorStore.save(all.filter(col("id") < 150), embCents(s, d), p)
    }
    VectorStore.frontier(VectorStore.load(s, dir),
        all.filter(col("id") >= 150), threshold = 0.3)
      .select(col("id"))
  }

  /** The hybrid gates' fixed lexical query and dense corpus (the FULL
    * embeddings table — the dense leg is corpus-wide, unlike the
    * id-windowed ann gates), shared by the scan and store forms so the
    * two can never drift apart on inputs.
    */
  private val hybridTerms = Seq("data", "query", "table")

  private def hybridEmb(s: SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** The RRF fusion tail shared VERBATIM by [[retHybrid]] and
    * [[retHybridStore]]: rank the lexical leg (doc_id, score_milli) by
    * score then id, take the dense leg's (n_id, rank), and fuse with
    * integer reciprocal ranks. Sharing the tail is what makes the
    * store gate's oracle reuse sound — the legs differ only in IO.
    */
  private def hybridRrf(lex0: DataFrame, dense0: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_milli").desc, col("doc_id"))
    val lex = lex0
      .select(col("doc_id"), row_number().over(w).cast("long").as("lrank"))
    val dense = dense0
      .select(col("n_id").as("doc_id"), col("rank").as("drank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(expr("1000000 div (60 + lrank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + drank)"), lit(0L)))
          .as("rrf_milli"))
      .orderBy(col("rrf_milli").desc, col("doc_id"))
      .limit(10)
  }

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    * top-20 and the cosine dense top-20 (embeddings align 1:1 with
    * documents), the standard two-tower serving composition. RRF is
    * INTEGER-EXACT by nature — contribution = 1000000 div (60 + rank),
    * absent-from-list = 0 — so the fused ranking is engine-independent
    * with no float anywhere. Ties break on doc_id.
    */
  val retHybrid: Q = (s, d) => {
    val lex = TextOps.bm25(Tables.documents(s, d), "doc_id", "text",
      hybridTerms, topK = 20)
    val e = hybridEmb(s, d)
    val dense = VectorOps.topK(e.filter(col("id") === 0), e, k = 20)
    hybridRrf(lex, dense)
  }

  /** The same fusion SERVED FROM THE PERSISTED INDEXES — the lexical
    * leg reads only the query terms' buckets of the shared postings
    * store ([[txtBm25Store]]'s index) and the dense leg reads the IVF
    * [[VectorStore]]'s cells instead of re-deriving scores from the
    * raw tables. Both legs are the STORE twins of [[retHybrid]]'s
    * legs: queryBm25 shares bm25's tokenizer and scoring tail, and
    * VectorStore.query at nprobe = |centroids| probes every cell, so
    * its candidate set (all corpus vectors but self, each scored
    * once) and its round/tie/rank arithmetic equal [[VectorOps.topK]]
    * bit for bit. The fusion tail is [[hybridRrf]], shared verbatim —
    * so the gate shares ret_hybrid's oracle (the txt_bm25_store
    * rule: the store changes IO, never answers). At serving scale
    * the exactness/IO knob is nprobe: interactive ANN serving drops
    * it below |centroids| and prunes cell files; the gate pins the
    * exact setting because the oracle is the exact answer.
    */
  val retHybridStore: Q = (s, d) => {
    val pst = graft.ops.PostingsStore.load(s, postingsDir(s, d))
    val lex = graft.ops.PostingsStore.queryBm25(pst, hybridTerms, topK = 20)
    val e = hybridEmb(s, d)
    val vdir = graft.StoreUtil.cachedStoreDir("vhybrid", d) { p =>
      VectorStore.save(e, embCents(s, d), p)
    }
    // embCents is 8 centroids; nprobe = 8 probes every cell → exact
    val dense = VectorStore.query(VectorStore.load(s, vdir),
      e.filter(col("id") === 0), k = 20, nprobe = 8)
    hybridRrf(lex, dense)
  }

  /** Brute-force exact cosine top-5 for query vectors vec_id < 5. */
  val annTopk: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    VectorOps.topK(e.filter(col("id") < 5), e, k = 5)
  }

  /** Intra-document repetition (boilerplate/loop screen). */
  val txtRepetition: Q = (s, d) =>
    TextOps.repetition(Tables.documents(s, d), "doc_id", "text")

  /** Integer-exact BM25 top-20 for a three-term query
    * ([[TextOps.bm25]]) — the retrieval-scoring member of the text
    * family; the oracle replays the rational-idf arithmetic in
    * HUGEINT.
    */
  val txtBm25: Q = (s, d) =>
    TextOps.bm25(Tables.documents(s, d), "doc_id", "text",
      Seq("data", "query", "table"), topK = 20)

  /** The same query served from the persisted inverted index
    * ([[graft.ops.PostingsStore]]): built once per data dir, then
    * every call reads only the query terms' BUCKETS of the postings
    * table — bit-identical to [[txtBm25]] by construction (shared
    * tokenizer and scoring tail), so it shares that oracle.
    */
  /** The ONE build of the shared postings store (memoized per data
    * dir) — BM25, phrase, and proximity gates all serve from it; a
    * per-gate copy of this closure would let a parameter change land
    * in whichever gate runs first and silently skip the others.
    */
  private def postingsDir(s: SparkSession, d: String): String =
    graft.StoreUtil.cachedStoreDir("postings", d) { p =>
      graft.ops.PostingsStore.save(Tables.documents(s, d), "doc_id",
        "text", p)
    }

  val txtBm25Store: Q = (s, d) =>
    graft.ops.PostingsStore.queryBm25(
      graft.ops.PostingsStore.load(s, postingsDir(s, d)),
      Seq("data", "query", "table"), topK = 20)

  /** Exact phrase retrieval from the SAME persisted index as
    * [[txtBm25Store]] (one store, two query classes — the v2 positional
    * layout): consecutive-position intersection of the three terms'
    * postings, counted per doc. The oracle replays the definition from
    * raw text as a token-level self-join — the O(corpus) form the
    * positional index exists to avoid.
    */
  val txtPhrase: Q = (s, d) =>
    graft.ops.PostingsStore.queryPhrase(
      graft.ops.PostingsStore.load(s, postingsDir(s, d)),
      Seq("slow", "hash", "batch"), topK = 20)

  /** Proximity retrieval from the same index
    * ([[graft.ops.PostingsStore.queryProximity]]): the three terms in
    * order with gaps ≤ 2 (slop 1) — matches the exact trigram plus its
    * one-insertion variants. The oracle counts existence-of-chain per
    * first position via a range-join chain with DISTINCT starts, the
    * forward twin of the engine's backward-reachability filter.
    */
  val txtProximity: Q = (s, d) =>
    graft.ops.PostingsStore.queryProximity(
      graft.ops.PostingsStore.load(s, postingsDir(s, d)),
      Seq("stream", "table", "hash"), slop = 1, topK = 20)

  /** Unordered window retrieval from the same index
    * ([[graft.ops.PostingsStore.queryWindow]]): the three terms within
    * 8 tokens in any order, ranked by tightest co-occurrence (min span
    * asc). The oracle replays the min-span definition from raw text —
    * every query-term occurrence as a candidate window start, the
    * first occurrence of each term at-or-after it, span = the covering
    * width — as the O(occurrences²) token join the positional index
    * avoids.
    */
  val txtWindow: Q = (s, d) =>
    graft.ops.PostingsStore.queryWindow(
      graft.ops.PostingsStore.load(s, postingsDir(s, d)),
      Seq("data", "table", "hash"), window = 8, topK = 20)

  /** Int8 embedding quantization, long form for the oracle compare. */
  val embQuantize: Q = (s, d) =>
    VectorOps.quantizeInt8(
      Tables.embeddings(s, d).filter(col("vec_id") < 50)
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      "id", "vec")
      .select(col("id"), posexplode(col("qvec")).as(Seq("pos", "q")))
      .withColumn("pos", col("pos").cast("long"))

  /** JL ±1 random projection 64→16, long form for the oracle compare —
    * integer-exact coordinates, so the oracle replays the md5 sign
    * matrix and the quantized dot products bit for bit.
    */
  val embRproj: Q = (s, d) =>
    VectorOps.randomProject(
      Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      "id", "vec", dims = 64, dOut = 16)
      .select(col("id").as("vec_id"), posexplode(col("proj")).as(Seq("j", "y")))
      .withColumn("j", col("j").cast("long"))

  /** Integer feature columns for the logistic quality classifier: one
    * bound tokenization, then row-local counts. Shared verbatim by the
    * trainer gate and the scoring spec.
    */
  private def lrFeatures(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("n_chars"),
        TextOps.tokensCol(col("text")).as("w"))
      .select(
        col("doc_id"), // passthrough for scoring callers; train prunes it
        lit(1L).as("x0"),
        // count features are CENTERED by fixed literals near their
        // corpus means (~55 tokens, ~25 distinct): uncentered counts
        // make the bias direction nearly collinear with every feature
        // and fixed-step GD oscillates instead of converging (measured:
        // 0.51 vs 0.99 accuracy at identical steps). Constants are part
        // of the model definition, not per-run statistics — scoring
        // needs no corpus pass
        (size(col("w")) - lit(55)).cast("long").as("x1"),
        (size(array_distinct(col("w"))) - lit(25)).cast("long").as("x2"),
        size(filter(col("w"), t => t === lit("the"))).cast("long").as("x3"),
        size(filter(col("w"), t => t === lit("a"))).cast("long").as("x4"),
        (col("n_chars") >= 300).cast("long").as("y"))

  private val lrFeatCols = Seq("x0", "x1", "x2", "x3", "x4")

  /** The SAME features/label as DuckDB SQL over a CTE carrying (w,
    * n_chars) — one definition feeding both LR oracles so the trainer
    * and the store-served scorer can never train on different columns.
    */
  private val lrFeatSqls = Seq("1", "len(w) - 55",
    "len(list_distinct(w)) - 25",
    "len(list_filter(w, t -> t = 'the'))",
    "len(list_filter(w, t -> t = 'a'))")
  private val lrLabelSql = "CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END"

  /** Test access to the exact gate feature frame. */
  private[graft] def lrFeaturesForTest(docs: org.apache.spark.sql.DataFrame) =
    lrFeatures(docs)

  /** Train the fixed-point logistic quality classifier (8 full-batch GD
    * steps, lr 2⁻⁴) and emit the weight vector — bit-reproducible, so
    * the oracle replays the whole loop from scratch in unrolled SQL
    * ([[graft.ops.LinearModel]]).
    */
  /** The trained weight vector, once per (session, dir) — the train
    * gate emits it and the store gate persists it, one artifact.
    */
  private val lrTrained = new graft.SessionCache[Seq[Long]]()
  private def lrWeights(s: SparkSession, d: String): Seq[Long] =
    lrTrained.get(s, d)(LinearModel.train(
      lrFeatures(Tables.documents(s, d)), lrFeatCols, "y",
      iters = 8, lrShift = 4))

  val txtLrTrain: Q = (s, d) => {
    val w = lrWeights(s, d)
    import s.implicits._
    w.zipWithIndex.map { case (wv, i) => (i.toLong, wv) }.toDF("i", "w")
  }

  /** Quality scores served from the PERSISTED model
    * ([[graft.ops.ModelStore]], built once per data dir): the weights
    * and their feature binding load from the store — nothing is
    * retrained at scoring time — and every document gets its
    * fixed-point keep-probability, row-local. The oracle retrains the
    * whole model in unrolled SQL and scores with the weights it just
    * derived: the store is pinned end to end without any Spark-side
    * artifact crossing over.
    */
  /** The persisted quality model's store dir (built once per JVM per
    * data dir) — shared by the scoring gate and the pipeline composite.
    */
  private[graft] def lrStoreDir(s: SparkSession, d: String): String =
    graft.StoreUtil.cachedStoreDir("lrstore", d) { p =>
      graft.ops.ModelStore.save(s, lrFeatCols.zip(lrWeights(s, d)), p)
    }

  val txtLrStore: Q = (s, d) => {
    val m = graft.ops.ModelStore.load(s, lrStoreDir(s, d))
    lrFeatures(Tables.documents(s, d))
      .select(col("doc_id"), m.scoreFp.as("score_fp"))
  }

  /** Quality-model drift meter — the score DISTRIBUTION of a batch
    * under the SERVED classifier, folded into 17 fixed-point buckets
    * (score_fp ∈ [0, 2¹⁶], bucket = score_fp div 4096): `n` = docs,
    * `err_sum` = total score mass in the bucket. A quality gate's
    * staleness shows up as distribution shift — the kept fraction at
    * the deployed threshold moving, mass migrating between buckets —
    * long before any label is available to re-measure accuracy, so
    * the histogram against the trained-time baseline is the retrain
    * trigger (the third trained-artifact family metered: centroids/
    * codebook, tokenizer, now the quality LR; its action is
    * [[graft.ops.ModelStore.save]]'s counter-advancing re-save).
    * Bounded (17 rows), exact int64, additive per batch — the
    * [[graft.ops.DriftStore]] contract. The oracle retrains the full
    * 8-iteration GD loop in unrolled SQL, scores the batch with the
    * just-derived weights, and builds the same histogram.
    */
  private def lrDriftStats(m: graft.ops.ModelStore.Loaded,
      docs: DataFrame): DataFrame =
    lrFeatures(docs)
      .select(m.scoreFp.as("score_fp"))
      .groupBy(expr("score_fp div 4096").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("score_fp")).as("err_sum"))

  val txtLrDrift: Q = (s, d) =>
    lrDriftStats(graft.ops.ModelStore.load(s, lrStoreDir(s, d)),
      Tables.documents(s, d).filter(col("doc_id") >= 250))

  /** [[txtLrDrift]] accumulated through [[graft.ops.DriftStore]] — two
    * batch folds over the bucket key, loaded store hash-equal to the
    * one-shot meter (shares `txtLrDriftSql` verbatim).
    */
  val txtLrDriftStore: Q = (s, d) => {
    // hoisted: a cachedStoreDir builder must never call cachedStoreDir
    val m = graft.ops.ModelStore.load(s, lrStoreDir(s, d))
    val dir = graft.StoreUtil.cachedStoreDir("lrdriftstats", d) { p =>
      val batch = Tables.documents(s, d).filter(col("doc_id") >= 250)
      graft.ops.DriftStore.save(
        lrDriftStats(m, batch.filter(col("doc_id") < 400)), p, Some(0L))
      graft.ops.DriftStore.append(s, p,
        lrDriftStats(m, batch.filter(col("doc_id") >= 400)), Some(1L))
    }
    graft.ops.DriftStore.load(s, dir)
  }

  /** The corpus-preparation pipeline end to end: quality gate →
    * repetition gate → exact dedup by token-set fingerprint (smallest id
    * survives). This is the composition a real training run executes
    * before the near-dup pass (dd_pipeline); output is the surviving
    * corpus with its audit columns. Every stage is a hash agg or
    * row-local projection — two shuffles total (fingerprint group,
    * semi-join back).
    */
  val prepPipeline: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // materialize the per-doc scores BEFORE filtering on them: predicate
    // pushdown otherwise collapses `rep_score < 0.5` into a Filter whose
    // n-gram lambda re-inlines the tokenizer per element — the winnowing
    // O(len²) failure resurrected by the optimizer (measured: 11 s vs
    // 0.6 s at sf0.1). The score table is doc_id-sized; at 100 TB a real
    // pipeline persists it the same way.
    val scores = graft.ops.ClusterOps.flatten(
      TextOps.quality(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
        .join(TextOps.repetition(docs, "doc_id", "text")
          .select(col("doc_id"), col("rep_score")), "doc_id"))
    val kept = docs.select(col("doc_id"), col("text"))
      .join(scores.filter(col("quality_score") > 0.3 &&
        col("rep_score") < 0.5), "doc_id")
    val fp = kept.select(col("doc_id"),
      TextOps.fingerprintCol(col("text")).as("fp"))
    val keep = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    kept.join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("quality_score"), col("rep_score"))
  }

  /** KMV distinct-count sketch per group — the deterministic
    * approximate-COUNT-DISTINCT whose estimate itself is oracle-checkable
    * (HLL registers are engine-private; k minimum md5 values are not).
    */
  val skDistinctKmv: Q = (s, d) => {
    // distinct (group, value) FIRST: both aggregates already have
    // distinct semantics (the KMV insert dedupes hashes), so the pre-agg
    // dedup is equivalence-preserving — and it removes the Expand that a
    // mixed distinct/non-distinct aggregate plans, so md5 and the KMV
    // insert run once per distinct value instead of twice per corpus row.
    val pairs = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_orderkey")).distinct()
    pairs.groupBy(col("l_returnflag"))
      .agg(count(col("l_orderkey")).as("n_exact"),
        SketchOps.kmvDistinct(col("l_orderkey"), 64).as("est_distinct"))
  }

  /** Deterministic sampled quantiles of document length per source. */
  val skQuantile: Q = (s, d) =>
    SketchOps.sampledQuantiles(Tables.documents(s, d), "doc_id", "source",
      "n_chars", qs = Seq(0.5, 0.9, 0.99), rate = 0.5, salt = "q")

  /** EXACT document-length percentiles ([[graft.ops.SelectOps]]): the
    * radix-bisection selection — three histogram passes, no global
    * sort, no value buffering — where [[skQuantile]] is the sampled
    * bound. Integer-only rank arithmetic keeps both engines on the
    * same rank (IEEE `ceil(p·n)` can differ by one).
    */
  val skExactPct: Q = (s, d) =>
    graft.ops.SelectOps.exactPercentilesLong(
      Tables.documents(s, d), "n_chars", Seq(1, 50, 90, 99, 100))

  /** Mergeable decimal-log histogram quantiles over the same column as
    * `sk_exact_pct` ([[graft.ops.SketchOps.decHist]] →
    * [[graft.ops.SketchOps.histQuantiles]]): O(bins) state, integer
    * binning both engines replay digit for digit, ≤1% relative error by
    * construction — the streaming-monitoring complement of the exact
    * multi-pass kernel.
    */
  val skHist: Q = (s, d) =>
    SketchOps.histQuantiles(
      SketchOps.decHist(Tables.documents(s, d)
        .select(col("n_chars").cast("long").as("v")), "v"),
      Seq(1, 50, 90, 99, 100))

  /** Per-source histogram quantiles ([[graft.ops.SketchOps
    * .decHistByGroup]] → [[graft.ops.SketchOps.histQuantilesByGroup]]):
    * all sources sketched in one aggregation pass, walked per group —
    * the monitoring complement of `sk_exact_pct_group`, at O(groups ·
    * bins) state instead of per-request scans.
    */
  val skHistGroup: Q = (s, d) =>
    SketchOps.histQuantilesByGroup(
      SketchOps.decHistByGroup(Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("long").as("v")),
        "source", "v"),
      Seq(50, 99))
      .select(col("g").as("source"), col("p"), col("rank"), col("est"))

  /** The histogram store lifecycle: two disjoint halves saved + folded
    * ([[graft.ops.SketchOps.appendHist]] — history never rescanned),
    * quantiles served from the loaded bins. Integer bin sums are exact,
    * so this is DEFINED bit-identical to [[skHist]] and shares its
    * oracle.
    */
  val skHistStore: Q = (s, d) => {
    val dir = graft.StoreUtil.cachedStoreDir("histstore", d) { p =>
      def half(even: Boolean) = SketchOps.decHist(
        Tables.documents(s, d)
          .filter((col("doc_id") % 2 === 0) === even)
          .select(col("n_chars").cast("long").as("v")), "v")
      SketchOps.saveHist(half(even = true), p)
      SketchOps.appendHist(s, p, half(even = false))
    }
    SketchOps.histQuantiles(SketchOps.loadHist(s, dir),
      Seq(1, 50, 90, 99, 100))
  }

  /** Per-source exact percentiles — all groups through the SAME three
    * histogram passes, not a scan per source.
    */
  val skExactPctGroup: Q = (s, d) =>
    graft.ops.SelectOps.exactPercentilesLongByGroup(
      Tables.documents(s, d), "source", "n_chars", Seq(50, 90, 99))

  /** Exact percentiles of a DOUBLE metric (events.value) through the
    * IEEE order-bits transform — the reported values are exact data
    * elements, bit-comparable cross-engine.
    */
  val skExactPctDbl: Q = (s, d) =>
    graft.ops.SelectOps.exactPercentilesDouble(
      // + 0.0 normalizes any -0.0 (bit-distinct but SQL-equal, so a
      // rank landing between the two zeros could differ cross-engine);
      // the oracle applies the same identity
      Tables.events(s, d).select((col("value") + lit(0.0)).as("value")),
      "value", Seq(1, 50, 90, 99))

  /** Per-event-type exact DOUBLE percentiles — the grouped kernel
    * composed with the order-bits transform: all groups through the
    * shared histogram passes, values bit-identical data elements.
    */
  val skExactPctDblGroup: Q = (s, d) =>
    graft.ops.SelectOps.exactPercentilesDoubleByGroup(
      Tables.events(s, d).select(col("event_type"),
        (col("value") + lit(0.0)).as("value")),
      "event_type", "value", Seq(50, 90, 99))

  /** Reproducible epoch order ([[SampleOps.deterministicShuffle]]):
    * every engine deals the identical (shard, pos) for seed "ep7".
    */
  val smpShuffle: Q = (s, d) =>
    SampleOps.deterministicShuffle(Tables.documents(s, d), "doc_id",
        seed = "ep7", nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))

  /** Token-window chunking ([[TextOps.chunksCol]]): 32-token windows,
    * stride 16 (half overlap) — the context-window splitter every
    * training pipeline runs before packing. Row-local; the explode is
    * the only row-count change.
    */
  val txtChunks: Q = (s, d) =>
    Tables.documents(s, d).filter(col("doc_id") < 200)
      // bind the token array BEFORE the chunk lambda (lambda args
      // re-inline per element — the O(len²) winnowSelectCol trap)
      .select(col("doc_id"), TextOps.tokensCol(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextOps.chunksOfTokens(col("toks"), size = 32, stride = 16))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk_text").as("chunk_text"))

  /** Unigram LM surprisal scoring ([[graft.functions.Unigram]]): the
    * perplexity-style quality filter — integer millinats end to end,
    * so the score is hash-identical cross-engine with zero float
    * arithmetic. `keep` is the classic threshold decision (mean
    * surprisal under 4 nats/word): a doc of corpus-typical words
    * passes, one dominated by OOV/noise words does not.
    */
  val txtSurprise: Q = (s, d) =>
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.Unigram.surpriseOfTokens(
          graft.functions.Bpe.wordsCol(col("text"))).as("sc"))
      .select(col("doc_id"), col("sc.n_tokens").as("n_tokens"),
        col("sc.surprise_millinats").as("surprise_millinats"))
      .withColumn("mean_millinats",
        when(col("n_tokens") === 0L, 0L)
          .otherwise(expr("surprise_millinats div n_tokens")))
      .withColumn("keep", col("mean_millinats") < 4000L)

  /** Bigram conditional surprisal with stupid-backoff
    * ([[graft.functions.Unigram.bigramSurpriseOfTokens]]): the n-gram
    * step up from [[txtSurprise]] — word order now matters (a shuffled
    * document scores worse than a fluent one under the SAME unigram
    * distribution), which is the signal that actually separates
    * boilerplate from prose. Same integer-millinat discipline.
    */
  val txtBigram: Q = (s, d) =>
    Tables.spread(Tables.documents(s, d), "doc_id")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.Unigram.bigramSurpriseOfTokens(
          graft.functions.Bpe.wordsCol(col("text"))).as("sc"))
      .select(col("doc_id"), col("sc.n_tokens").as("n_tokens"),
        col("sc.surprise_millinats").as("surprise_millinats"))
      .withColumn("mean_millinats",
        when(col("n_tokens") === 0L, 0L)
          .otherwise(expr("surprise_millinats div n_tokens")))

  /** Context-window chunking over REAL subword tokens: the same
    * 32/16 windower as [[txtChunks]], fed by [[graft.functions.Bpe]]
    * instead of whitespace words — window boundaries now fall on the
    * units a trainer actually budgets, closing the loop the BPE gate
    * opened (estimate → true counts → true windows). Same fence, same
    * row-local shape; only the token stream changed.
    */
  val txtBpeChunks: Q = (s, d) =>
    Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), graft.functions.Bpe.tokensCol(col("text"))
        .as("toks"))
      .select(col("doc_id"),
        explode(TextOps.chunksOfTokens(col("toks"), size = 32, stride = 16))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk_text").as("chunk_text"))

  /** Passage-granular dedup: 3-token spans, first global occurrence
    * survives, documents reassembled from surviving passages.
    */
  val ddSpans: Q = (s, d) =>
    TextOps.dedupSpans(
      Tables.documents(s, d).filter(col("doc_id") < 200),
      "doc_id", "text", span = 3)

  /** Sliding-window exact-substring dedup (the suffix-array signal):
    * maximal spans of ≥4 consecutive tokens whose sequence repeats
    * anywhere in the corpus, per document. Unlike [[ddSpans]]' fixed
    * passage grid, a repeat straddling any boundary is still found at
    * its exact extent. Whole documents table — the evidence aggregate is
    * corpus-wide by construction.
    */
  val ddDupSpans: Q = (s, d) => ddDupSpansShared(s, d)

  /** Coverage companion of [[ddDupSpans]]: tokens inside some repeated
    * ≥4-gram and the covered fraction, one row per non-null-text doc —
    * the drop/downweight signal substring dedup feeds a filter stage.
    * Served from the same memoized spans frame as [[ddDupSpans]] (the
    * evidence pass — window table + corpus-wide hash agg — is the cost;
    * the spans it yields are tiny).
    */
  val ddDupRatio: Q = (s, d) =>
    TextOps.duplicationStatsFromSpans(Tables.documents(s, d), "doc_id",
      "text", ddDupSpansShared(s, d))

  /** The (id, i, h) window-hash evidence table, computed once per
    * (session, sf dir) — all three substring-dedup views (spans /
    * coverage / strip) derive from it; it is the dominant cost of each.
    */
  private def ddDupWindows(s: SparkSession, d: String) =
    ddShared.get(s, "dupwin|" + d)(
      TextOps.windowTable(Tables.documents(s, d), "doc_id", "text",
        win = 4).localCheckpoint())

  private def ddDupSpansShared(s: SparkSession, d: String) = {
    // materialize the windows entry BEFORE the dependent get — nested
    // computeIfAbsent on one map is the documented recursive-update
    // hazard (see ddComponents)
    val w = ddDupWindows(s, d)
    ddShared.get(s, "dupspans|" + d)(
      TextOps.duplicatedSpansFromWindows("doc_id", w, win = 4)
        .localCheckpoint())
  }

  /** The incremental substring-dedup path ([[graft.ops.DupStore]]): the
    * doc_id < 250 history arrives as two snapshots folded into a
    * persisted window-hash index, then the 250–499 batch probes it —
    * and the probe must equal the one-shot [[TextOps.duplicatedSpans]]
    * over the whole <500 corpus restricted to batch docs (shared-shape
    * oracle below). The 100 TB substring-dedup lifecycle: history is
    * never re-tokenized or re-hashed, only its per-hash index is
    * scanned, with the batch broadcast.
    */
  /** The persisted window-hash index over the doc_id < 250 history
    * (two ingest batches), built once per JVM per data dir — shared by
    * the probe gate and the pipeline composite.
    */
  private[graft] def dupStoreDir(s: SparkSession, d: String): String =
    graft.StoreUtil.cachedStoreDir("dupstore", d) { p =>
      val hist = Tables.documents(s, d).filter(col("doc_id") < 250)
      graft.ops.DupStore.ingestBatch(s, p,
        hist.filter(col("doc_id") < 125), "doc_id", "text")
      graft.ops.DupStore.ingestBatch(s, p,
        hist.filter(col("doc_id") >= 125), "doc_id", "text")
    }

  val ddDupStore: Q = (s, d) => {
    graft.ops.DupStore.probeSpans(graft.ops.DupStore.load(s, dupStoreDir(s, d)),
      Tables.documents(s, d)
        .filter(col("doc_id") >= 250 && col("doc_id") < 500),
      "doc_id", "text")
  }

  /** The removal stage over the same evidence: one copy of every ≥4-gram
    * repeat survives (global-first site), later copies are cut and the
    * text reassembled — the transform substring dedup feeds the trainer.
    */
  val ddDupStrip: Q = (s, d) =>
    TextOps.stripDuplicatedSpansFromWindows(Tables.documents(s, d),
      "doc_id", "text", ddDupWindows(s, d), win = 4)

  /** Bigram LM TRAINED on the doc_id < 250 half of the corpus (two
    * hash aggregates), then scoring ALL docs — the held-out half
    * exercises the backoff and OOV paths naturally. Costs come from
    * [[graft.functions.IntLog]]'s integer micronat log over the RUNTIME
    * counts, so the oracle replays training AND scoring from raw text
    * and still hash-matches — the capability the literal-table scorers
    * (txt_surprise / txt_bigram) trade away for fixed weights.
    */
  val lmScoreTrained: Q = (s, d) => {
    val train = Tables.documents(s, d).filter(col("doc_id") < 250)
    graft.ops.LmOps.scoreBigram(Tables.documents(s, d), "doc_id", "text",
      graft.ops.LmOps.trainUnigram(train, "text"),
      graft.ops.LmOps.trainBigram(train, "text"))
  }

  /** The trained bigram count table itself (the LM artifact). */
  val lmTrainBi: Q = (s, d) =>
    graft.ops.LmOps.trainBigram(
      Tables.documents(s, d).filter(col("doc_id") < 250), "text")

  /** The trained trigram count table (the order-3 LM artifact). */
  val lmTrainTri: Q = (s, d) =>
    graft.ops.LmOps.trainTrigram(
      Tables.documents(s, d).filter(col("doc_id") < 250), "text")

  /** Trigram LM with the full stupid-backoff chain, trained on the
    * <250 half and scoring ALL docs — run through the BROADCAST fast
    * path ([[graft.ops.LmOps.scoreTrigram]] `broadcastCounts = true`):
    * with a vocab-bounded model the corpus token stream is never
    * exchanged for a join (PlanSpec locks the executed shape — five
    * broadcast joins, exactly one exchange: the per-doc aggregate).
    * Output is hash-identical to the default path by construction; the
    * oracle replays training AND the chained backoff scoring from raw
    * text.
    */
  val lmScoreTri: Q = (s, d) => {
    val train = Tables.documents(s, d).filter(col("doc_id") < 250)
    graft.ops.LmOps.scoreTrigram(Tables.documents(s, d), "doc_id", "text",
      graft.ops.LmOps.trainUnigram(train, "text"),
      graft.ops.LmOps.trainBigram(train, "text"),
      graft.ops.LmOps.trainTrigram(train, "text"),
      broadcastCounts = true)
  }

  /** The same scoring served from the PERSISTED LM
    * ([[graft.ops.LmStore]]): the <250 training half folds into the
    * store as TWO ingest batches (counts are additive, so any split
    * sums to the one-shot model), then all docs score against the
    * loaded count views — bit-identical to [[lmScoreTri]] by
    * construction, sharing its replay-from-raw-text oracle. This is
    * the LM lifecycle at 100 TB: train once (or fold batches as the
    * crawl grows), persist, score forever without re-reading history.
    */
  /** The persisted LM's store dir (the <250 training half folded in as
    * two ingest batches; built once per JVM per data dir) — shared by
    * the scoring gate and the drift meter.
    */
  private[graft] def lmStoreDir(s: SparkSession, d: String): String =
    graft.StoreUtil.cachedStoreDir("lmstore", d) { p =>
      val train = Tables.documents(s, d).filter(col("doc_id") < 250)
      graft.ops.LmStore.ingestBatch(s, p,
        train.filter(col("doc_id") < 125), "text")
      graft.ops.LmStore.ingestBatch(s, p,
        train.filter(col("doc_id") >= 125), "text")
    }

  val lmScoreStore: Q = (s, d) => {
    val st = graft.ops.LmStore.load(s, lmStoreDir(s, d))
    graft.ops.LmOps.scoreTrigram(Tables.documents(s, d), "doc_id", "text",
      st.uni, st.bi, st.tri, broadcastCounts = true)
  }

  /** LM drift meter — mean surprisal of the POST-training batch
    * (doc_id ≥ 250) under the SERVED n-gram model, folded per mixture
    * SOURCE: `n` = scored tokens, `err_sum` = total integer micronat
    * cost ([[graft.ops.LmOps.scoreTrigram]]'s exact arithmetic), so
    * err_sum/n is per-source perplexity drift against the
    * trained-time baseline — the signal that tells a pipeline WHICH
    * stratum of the crawl moved away from the model (a rising mean on
    * one source is a vocabulary/domain shift there, not global decay).
    * Keyed by source the statistic is bounded by the mixture recipe,
    * additive per batch, and exact — the [[graft.ops.DriftStore]]
    * contract — and its ACTION is the LM family's own lifecycle:
    * counts are additive, so folding the drifted batch in
    * ([[graft.ops.LmStore.ingestBatch]]) IS the adaptation step, no
    * retrain-from-scratch needed (LmSpec proves the fold lowers the
    * folded batch's surprisal, bit-equal to a one-shot retrain). The
    * oracle replays tokenization,
    * all three count orders, and the full backoff chain from raw text,
    * then aggregates by source.
    */
  /** The meter body, ONCE (the trained-IVF-fixture lesson: a scan gate
    * and its store twin sharing an oracle must share the construction
    * too, or the constants silently diverge): score `docs` under the
    * served model `st`, fold (n, err_sum) by source.
    */
  private def lmDriftStats(st: graft.ops.LmStore.Loaded,
      docs: DataFrame): DataFrame =
    graft.ops.LmOps.scoreTrigram(docs, "doc_id", "text",
        st.uni, st.bi, st.tri, broadcastCounts = true)
      // the batch frame already carries source — joining it back beats
      // a second documents scan for the one column
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("n"),
        sum(col("cost_micronats")).as("err_sum"))

  val lmDrift: Q = (s, d) =>
    lmDriftStats(graft.ops.LmStore.load(s, lmStoreDir(s, d)),
      Tables.documents(s, d).filter(col("doc_id") >= 250))

  /** [[lmDrift]] accumulated through [[graft.ops.DriftStore]] — two
    * batch folds over the source key, loaded store hash-equal to the
    * one-shot meter (shares `lmDriftSql` verbatim).
    */
  val lmDriftStore: Q = (s, d) => {
    val src = lmStoreDir(s, d) // hoisted out of the builder
    val dir = graft.StoreUtil.cachedStoreDir("lmdriftstats", d) { p =>
      val st = graft.ops.LmStore.load(s, src)
      val batch = Tables.documents(s, d).filter(col("doc_id") >= 250)
      graft.ops.DriftStore.save(
        lmDriftStats(st, batch.filter(col("doc_id") < 400)),
        p, Some(0L))
      graft.ops.DriftStore.append(s, p,
        lmDriftStats(st, batch.filter(col("doc_id") >= 400)),
        Some(1L))
    }
    graft.ops.DriftStore.load(s, dir)
  }

  /** Count-min heavy hitters: token counts sketched into 3×32 counters
    * (order-independent sums — bit-identical cross-engine), every distinct
    * token probed, estimate ≥ 60 kept. CM never undercounts, so the kept
    * set is a superset of the true heavy set; the deliberately small width
    * forces real collisions, so the gate verifies the SKETCH (including
    * its overestimates), not a disguised exact count.
    */
  val skHeavyCm: Q = (s, d) => {
    val toks = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(explode(TextOps.tokensCol(col("text"))).as("item"))
    val sk = SketchOps.cmSketch(toks, "item", depth = 3, width = 32)
    SketchOps.cmEstimate(sk, toks.distinct(), "item")
      .filter(col("est") >= 60)
  }

  /** PQ ANN: 64-dim vectors compressed to 4 codes (4 subspaces × 16
    * sampled codebook entries), searched by asymmetric distance — each
    * query precomputes an m×16 integer LUT and a corpus vector costs 4
    * lookups, never a 64-dim kernel. All arithmetic is quantized int64
    * ([[graft.ops.VectorOps.pqEncode]]), so codes, ADC distances, and
    * the ranking are bit-reproducible and the DuckDB oracle re-derives
    * the ENTIRE pipeline — codebook, encoding, LUT, ranking — not just
    * row counts. The memory-bound leg of the ANN family (brute / LSH /
    * IVF / IVF-store already gated): at 100 TB the 4-byte-per-vector
    * code table fits where the raw vectors cannot.
    */
  val annPq: Q = (s, d) => {
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cb = VectorOps.pqCodebook(e, m = 4, codes = 16, dim = 64)
    val enc = VectorOps.pqEncode(e, cb, m = 4, dim = 64)
    VectorOps.pqSearch(e.filter(col("id") < 10), enc, cb,
      m = 4, dim = 64, k = 5)
  }

  /** IVF+PQ composite ([[graft.ops.VectorOps.annIvfPq]]): coarse-cell
    * pruning (same centroids/nprobe as `ann_ivf`) over a PQ-coded
    * candidate set (same codebook as `ann_pq`) — the canonical
    * cells-then-codes big-corpus recipe, with the oracle re-deriving
    * both halves end to end.
    */
  val annIvfPq: Q = (s, d) => {
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cb = VectorOps.pqCodebook(e, m = 4, codes = 16, dim = 64)
    VectorOps.annIvfPq(e.filter(col("id") < 10), e, cents, cb,
      m = 4, dim = 64, k = 5, nprobe = 2)
  }

  /** The IVF+PQ layout SERVED from disk ([[VectorStore.savePq]]): built
    * once per data dir, then every call pays load + partition-pruned
    * scan + m-lookup ADC only. Bit-equal to [[annIvfPq]] over the same
    * centroids/codebook by construction — shares its oracle — while
    * exercising the deployment path: cells as partition directories,
    * codes stored, raw vectors never read by the ADC scorer.
    */
  /** The persisted IVF+PQ store (built once per JVM per data dir) —
    * shared by the ADC gate and the two-stage re-rank gate.
    */
  private def pqStoreDir(s: SparkSession, d: String): String =
    graft.StoreUtil.cachedStoreDir("pqstore", d) { p =>
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 500)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = Tables.embeddings(s, d).filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val cb = VectorOps.pqCodebook(e, m = 4, codes = 16, dim = 64)
      VectorStore.savePq(e, cents, cb, p, m = 4, dim = 64)
    }

  private def pqQueries(s: SparkSession, d: String) =
    Tables.embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  val annPqStore: Q = (s, d) => {
    val dir = pqStoreDir(s, d)
    val st = pqstoreLoaded.get(s, dir)(VectorStore.loadPq(s, dir))
    VectorStore.queryAdc(st, pqQueries(s, d), k = 5, nprobe = 2)
  }
  private val pqstoreLoaded = new graft.SessionCache[VectorStore.LoadedPq]()

  /** Two-stage serving from the same persisted layout
    * ([[VectorStore.queryRerank]]): the ADC shortlist (top 20 PQ
    * candidates per query) re-ranked EXACTLY by the full-dimension
    * integer-quantized squared L2 over the stored raw vectors — the
    * recall knob a production ANN deployment turns when PQ distortion
    * starts costing neighbors, at a cost bounded by c rows per query.
    * The oracle replays both stages: codebook, codes, LUT, ADC
    * shortlist, then the exact quantized distances over the candidate
    * set — deterministic because stage 1 is integer-exact, so both
    * engines shortlist the identical rows.
    */
  val annRerank: Q = (s, d) => {
    val dir = pqStoreDir(s, d)
    val st = pqstoreLoaded.get(s, dir)(VectorStore.loadPq(s, dir))
    VectorStore.queryRerank(st, pqQueries(s, d), k = 5, c = 20, nprobe = 2)
  }

  /** The persisted IVF+PQ store with a TRAINED codebook
    * ([[VectorOps.pqCodebookTrained]], two integer-exact Lloyd rounds
    * over the sampled entries) — same centroids, same layout, same
    * serving path as `ann_pq_store`; the codebook is the ONE variable.
    * Built once per JVM per data dir.
    */
  private def pqTrainedStoreDir(s: SparkSession, d: String): String =
    graft.StoreUtil.cachedStoreDir("pqtrained", d) { p =>
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 500)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = Tables.embeddings(s, d).filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val cb = VectorOps.pqCodebookTrained(e, m = 4, codes = 16, dim = 64,
        iters = 2)
      VectorStore.savePq(e, cents, cb, p, m = 4, dim = 64)
    }

  /** ADC serving from the trained-codebook store: the `ann_pq_store`
    * query path verbatim over [[pqTrainedStoreDir]]'s layout. The
    * oracle replays BOTH Lloyd rounds (integer assignment, floor-
    * division means, no-member carry-over) before the shared
    * encode/LUT/ADC tail — the trained artifact is hash-gated end to
    * end; PERF.md records what the training buys
    * (recall_adc sampled < trained at the same nprobe).
    */
  val annPqTrained: Q = (s, d) => {
    val dir = pqTrainedStoreDir(s, d)
    val st = pqstoreLoaded.get(s, dir)(VectorStore.loadPq(s, dir))
    VectorStore.queryAdc(st, pqQueries(s, d), k = 5, nprobe = 2)
  }

  /** The trained-codebook store served AFTER MAINTENANCE: the
    * [[pqTrainedStoreDir]] layout compacted into its next generation —
    * the rotation step a long-lived deployment actually runs — and
    * every query answered from the compacted files. Bit-identical to
    * [[annPqTrained]] by construction (compaction is a layout rewrite
    * that must preserve cells, codes, and ABOVE ALL the trained
    * codebook — the round-12 defect class, where a column-pruning
    * compact destroyed a PQ store), so the gate shares the
    * replayed-Lloyd oracle verbatim; `VectorStoreSpec` pins the
    * trained-codebook equality across the rewrite directly.
    */
  val annPqTrainedStore: Q = (s, d) => {
    // hoisted OUT of the builder closure: a cachedStoreDir builder must
    // never call cachedStoreDir (nested computeIfAbsent on one map —
    // same-bin keys throw "Recursive update"); the pipeReplayQ fixture
    // follows the same hoist discipline
    val src = pqTrainedStoreDir(s, d)
    val dir = graft.StoreUtil.cachedStoreDir("pqtrainedg1", d) { p =>
      VectorStore.compact(s, src, p)
    }
    val st = pqstoreLoaded.get(s, dir)(VectorStore.loadPq(s, dir))
    VectorStore.queryAdc(st, pqQueries(s, d), k = 5, nprobe = 2)
  }

  /** The trained PQ store RETRAINED one more round through
    * [[VectorStore.retrainPq]] (warm-start from the SERVING codebook,
    * every row re-encoded) and served from the fresh generation —
    * [[annIvfRetrainedStore]]'s twin for the codebook artifact. The
    * oracle simply chains a THIRD replayed PQ Lloyd round: `pqRoundSql`
    * already carries memberless entries (the left-join coalesce), so
    * one more oracle round IS [[VectorOps.pqCodebookRefined]]'s
    * semantics — training, retraining, and serving all hash-gated by
    * the same round builder.
    */
  val annPqRetrainedStore: Q = (s, d) => {
    val src = pqTrainedStoreDir(s, d) // hoisted out of the builder
    val dir = graft.StoreUtil.cachedStoreDir("pqretrained", d) { p =>
      VectorStore.retrainPq(s, src, p, iters = 1)
    }
    val st = pqstoreLoaded.get(s, dir)(VectorStore.loadPq(s, dir))
    VectorStore.queryAdc(st, pqQueries(s, d), k = 5, nprobe = 2)
  }

  /** Drift meter over the SERVING trained PQ codebook
    * ([[VectorOps.pqDriftStats]]) — `ann_drift`'s twin for the second
    * trained artifact family: per-(subspace, code) occupancy and exact
    * integer quantization error of the corpus against the codebook the
    * `ann_pq_trained` store actually serves (loaded from the persisted
    * layout, not re-derived — drift is measured against what answers
    * queries). Additive per batch like [[annDrift]]'s statistic
    * (PropertySpec pins the fold algebra), so the maintenance loop
    * folds it per append and history is never rescanned; the oracle
    * replays both PQ Lloyd rounds, the per-subspace encode (ties to
    * the smaller code — the one nearest-entry rule), and the integer
    * error sums end to end.
    */
  val annDriftPq: Q = (s, d) => {
    val dir = pqTrainedStoreDir(s, d)
    val st = pqstoreLoaded.get(s, dir)(VectorStore.loadPq(s, dir))
    val batch = Tables.embeddings(s, d).filter(col("vec_id") < 500)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    VectorOps.pqDriftStats(batch, st.codebook, m = st.m, dim = st.dim)
  }

  /** Top-3 docs by length per source via the BOUNDED [[SketchOps.TopKAgg]]
    * aggregator — bit-equal to the `row_number() <= 3` window form (both
    * orders total: score desc, id asc) but with ≤ k pairs of aggregation
    * state per group per partition and map-side partial aggregation,
    * where the window sorts every group's full contents under the
    * exchange. `SketchSpec` locks the plan (no Window, no full sort) and
    * the window-equality; the oracle is the window form in DuckDB.
    */
  val w4GroupedTopk: Q = (s, d) =>
    SketchOps.topKPerGroup(Tables.documents(s, d),
      "source", "n_chars", "doc_id", k = 3)

  /** Crawl-frontier membership: a Bloom filter over the seen half's
    * content hashes answers "maybe seen / definitely new" for every
    * probe doc. No false negatives (every truly-seen doc probes true);
    * false positives at the deliberate 3×256-shape rate — and because
    * every bit position is md5-derived, the DuckDB oracle reproduces
    * the membership answers bit-for-bit, FALSE POSITIVES INCLUDED, so
    * the gate verifies the filter itself, not a disguised exact
    * semi-join. The bit table broadcasts; probing shuffles only the
    * per-item conjunction.
    */
  val skBloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val seen = docs.filter(col("doc_id") < 200)
      .select(md5(col("text")).as("h"))
    val sk = SketchOps.bloomSketch(seen, "h", depth = 3, width = 256)
    val probes = docs.filter(col("doc_id") < 400)
      .select(col("doc_id"), md5(col("text")).as("h"))
    probes.join(
        SketchOps.bloomMightContain(sk, probes, "h"),
        probes("h") === col("item"))
      .select(col("doc_id"), col("might_contain"))
  }

  /** Frontier dedup composite: which probe docs are genuinely NEW
    * against the seen corpus. The bloom filter clears "definitely new"
    * rows without touching history; only the "maybe seen" minority
    * reaches the exact semi-join. The prefilter is semantically
    * TRANSPARENT — no false negatives means no seen doc slips through,
    * and false positives are resolved by the exact check — so the
    * oracle is the plain anti-join, while at scale the exact join's
    * probe input is only the rows the filter couldn't clear (~FP-rate
    * of the new ones plus the truly seen). At 100 TB the filter is the
    * persisted [[SketchOps.loadBloom]] artifact rather than rebuilt;
    * the gate rebuilds it for per-dir determinism. Transparency at
    * MULTIPLE shapes is locked in `TrainingSpec`.
    */
  val ddFrontier: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val seen = docs.filter(col("doc_id") < 200)
      .select(md5(col("text")).as("h"))
    val sk = SketchOps.bloomSketch(seen, "h", depth = 3, width = 256)
    val probes = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val verdicts = SketchOps.bloomMightContain(sk, probes, "h")
    val definitelyNew = probes.join(
      verdicts.filter(!col("might_contain")),
      probes("h") === col("item"), "left_semi")
    val maybeSeen = probes.join(
      verdicts.filter(col("might_contain")),
      probes("h") === col("item"), "left_semi")
    val verifiedNew = maybeSeen.join(seen,
      maybeSeen("h") === seen("h"), "left_anti")
    definitelyNew.unionByName(verifiedNew).select(col("doc_id"))
  }

  /** Persisted KMV sketch table, built once per data dir and served
    * thereafter ([[graft.ops.SketchOps.saveKmv]]): the build pass folds
    * the corpus into ≤ k sorted minimum hashes per group; serving reads
    * the kilobyte state table and applies the closed-form estimate —
    * bit-identical to [[skDistinctKmv]]'s in-query aggregation (same
    * insert discipline, same finish arithmetic), so it shares that
    * oracle. New corpus batches merge into the stored state without
    * rescanning history (`SketchSpec`).
    */
  val skKmvStore: Q = (s, d) => {
    val dir = graft.StoreUtil.cachedStoreDir("kmvstore", d) { p =>
      // distinct-first, as in skDistinctKmv: removes the Expand a mixed
      // distinct/non-distinct aggregate would plan in the build pass
      val pairs = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey")).distinct()
      val states = pairs.groupBy(col("l_returnflag"))
        .agg(count(col("l_orderkey")).as("n_exact"),
          SketchOps.kmvState(col("l_orderkey"), 64).as("state"))
      SketchOps.saveKmv(states, 64, p)
    }
    val (st, k) = SketchOps.loadKmv(s, dir)
    st.select(col("l_returnflag"), col("n_exact"),
      SketchOps.kmvEstimateFromState(col("state"), k).as("est_distinct"))
  }

  /** Persisted CM sketch, built once per data dir and probed thereafter —
    * the build-once/serve-forever lifecycle for the sketch family
    * ([[graft.ops.SketchOps.saveCm]]): the first call sketches the token
    * stream and writes the depth·width counter artifact + manifest; every
    * later call answers heavy-hitter probes from the loaded store without
    * touching the corpus. Bit-identical to [[skHeavyCm]] (sums are
    * order-independent; the shape travels in the manifest), so it shares
    * that oracle.
    */
  val skCmStore: Q = (s, d) => {
    def toks = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(explode(TextOps.tokensCol(col("text"))).as("item"))
    val dir = graft.StoreUtil.cachedStoreDir("cmstore", d) { p =>
      SketchOps.saveCm(SketchOps.cmSketch(toks, "item", depth = 3, width = 32), p)
    }
    SketchOps.cmEstimate(SketchOps.loadCm(s, dir), toks.distinct(), "item")
      .filter(col("est") >= 60)
  }

  /** Quality features + composite score per document. */
  val txtQuality: Q = (s, d) =>
    TextOps.quality(Tables.documents(s, d), "doc_id", "text")

  /** Token counting: whitespace tokens + the BPE-ish subword estimate. */
  val txtTokens: Q = (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
      size(TextOps.tokensCol(col("text"))).cast("long").as("n_ws_tokens"),
      TextOps.bpeTokenEstimateCol(col("text")).as("n_bpe_est"),
      length(col("text")).cast("long").as("n_chars"))

  /** REAL subword tokenization ([[graft.functions.Bpe]]): greedy
    * merge-table BPE as a row-local codegen'd expression — the literal
    * 64-rule table trained on this corpus, applied rank-order with
    * exhaustive literal rewrites; where [[txtTokens]]'s `n_bpe_est` is
    * a documented length heuristic, `n_bpe` here is the true subword
    * count the packer should budget against. The oracle replays the
    * identical merge table rule for rule.
    */
  val txtBpe: Q = (s, d) =>
    // spread before the 64-rule encode: row-heavy compute over a
    // single-row-group scan (see Tables.spread)
    Tables.spread(Tables.documents(s, d), "doc_id")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        // bind the tokenizer ONCE through the single-element-array
        // fence (chunksOfTokens precedent): two direct references
        // would re-run all 64 merge passes per projection
        element_at(transform(
          array(graft.functions.Bpe.tokensCol(col("text"))),
          t => struct(size(t).cast("long").as("n"),
            array_join(t, " ").as("s"))), 1).as("b"))
      .select(col("doc_id"), col("b.n").as("n_bpe"),
        col("b.s").as("bpe_text"))

  /** The BPE VOCABULARY artifact: dense token ids over the corpus's
    * subword tokens, id order (count DESC, token) so id 0 is the most
    * frequent token — the token→id table a training pipeline ships
    * beside its merge table. The global window rides a
    * VOCABULARY-sized frame (already aggregated to one row per
    * distinct token — bounded by construction, the SemDeDup-centroid
    * rule), not the corpus.
    */
  /** The vocabulary aggregate over an arbitrary doc frame — ONE
    * definition of "dense ids, (count DESC, token) order" shared by the
    * corpus-wide artifact below and the drift fixture's ≤250 window,
    * so the two can never rank ids differently.
    */
  private def bpeVocabOf(docs: DataFrame): DataFrame =
    // the corpus-wide tokenize dominates; spread it (Tables.spread)
    Tables.spread(docs, "doc_id").filter(col("text").isNotNull)
      .select(explode(graft.functions.Bpe.tokensCol(col("text")))
        .as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .withColumn("id", (row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("token"))) - 1).cast("long"))
      .select(col("id"), col("token"), col("c"))

  private def bpeVocabFrame(s: SparkSession, d: String): DataFrame =
    bpeVocabOf(Tables.documents(s, d))

  val txtBpeVocab: Q = (s, d) => bpeVocabFrame(s, d)

  /** The corpus id-encoded through that vocabulary (doc window):
    * (doc_id, pos, tok_id) — what [[packSeqsBpe]]-style packing
    * actually ships to a trainer (ids, not strings; 8 bytes vs a
    * string cell). The vocabulary broadcasts (bounded), so encoding
    * is a map-side join over the tokenizer output — no corpus
    * shuffle; the inner join is total by construction (every token
    * came out of the same tokenizer the vocabulary aggregated).
    */
  val txtBpeIds: Q = (s, d) => {
    val vocab = bpeVocabFrame(s, d).select(col("token"), col("id"))
    Tables.documents(s, d)
      .filter(col("text").isNotNull && col("doc_id") < 100)
      .select(col("doc_id"),
        posexplode(graft.functions.Bpe.tokensCol(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .join(broadcast(vocab), "token")
      .select(col("doc_id"), col("pos"), col("id").as("tok_id"))
  }

  /** [[txtBpeIds]] served from the persisted tokenizer artifact
    * ([[graft.ops.BpeStore]], built once per data dir): the merge
    * table and vocabulary load from the store — nothing is retrained
    * or re-aggregated at encode time, the missing third leg of the
    * trained-artifact lifecycle (LM and postings already persist).
    * Same encoder expression under the loaded table, same broadcast
    * id join, so the result is bit-identical and shares the oracle;
    * the store adds an in-plan OOV guard the scan form proves total
    * by construction.
    */
  /** The persisted tokenizer's store dir (built once per JVM per data
    * dir) — shared by the id-encoding gate and the pipeline composite.
    */
  private[graft] def bpeStoreDir(s: SparkSession, d: String): String =
    graft.StoreUtil.cachedStoreDir("bpestore", d) { p =>
      graft.ops.BpeStore.save(s, graft.functions.Bpe.merges,
        bpeVocabFrame(s, d), p)
    }

  val txtBpeIdsStore: Q = (s, d) => {
    graft.ops.BpeStore.encodeIds(graft.ops.BpeStore.load(s, bpeStoreDir(s, d)),
      Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text")
  }

  /** The drift fixture's tokenizer: trained BEFORE the batch it will be
    * measured against (vocabulary over doc_id < 250 only — the honest
    * drift scenario; the production `bpestore` vocabulary is
    * corpus-wide and can never see OOV, which is exactly what makes it
    * the wrong artifact to meter). Built once per JVM per data dir.
    */
  private def bpeDriftStoreDir(s: SparkSession, d: String): String =
    graft.StoreUtil.cachedStoreDir("bpedrift", d) { p =>
      graft.ops.BpeStore.save(s, graft.functions.Bpe.merges,
        bpeVocabOf(Tables.documents(s, d).filter(col("doc_id") < 250)), p)
    }

  private val bpeDriftLoaded = new graft.SessionCache[graft.ops.BpeStore.Loaded]()

  /** Tokenizer drift meter ([[graft.ops.BpeStore.driftStats]]): the
    * post-training batch (doc_id ≥ 250) tokenized under the SERVED
    * artifact and folded per token id — the −1 row is the OOV mass
    * [[graft.ops.BpeStore.encodeIds]]' in-plan guard raises on, here as
    * the statistic a deployment reads to schedule retraining BEFORE the
    * guard starts failing jobs; Σerr_sum/Σn is characters-per-token,
    * the fragmentation signal of a stale merge table. Extends the
    * retraining-cadence story (`ann_drift` family) to the tokenizer:
    * every trained artifact now has a meter, and this one's ACTION is
    * [[graft.ops.BpeStore.save]] itself (retrain whole, re-save — the
    * store's documented lifecycle; the save counter advances so replay
    * refuses the retrained artifact). The oracle re-derives the ≤250
    * vocabulary and the batch tokenization from raw text in SQL.
    */
  val txtBpeDrift: Q = (s, d) => {
    val dir = bpeDriftStoreDir(s, d)
    val st = bpeDriftLoaded.get(s, dir)(graft.ops.BpeStore.load(s, dir))
    // spread the raw batch rows before the merge-chain encode
    // (Tables.spread): the added exchange carries doc rows, below the
    // explode — the meter's token stream still never shuffles
    graft.ops.BpeStore.driftStats(st,
      Tables.spread(Tables.documents(s, d), "doc_id")
        .filter(col("doc_id") >= 250), "text")
  }

  /** [[txtBpeDrift]] ACCUMULATED through the persisted
    * [[graft.ops.DriftStore]] — the batch arrives as two folds (save,
    * then append) and the loaded store must hash-equal the one-shot
    * meter, so the gate shares `txtBpeDriftSql` VERBATIM: the store's
    * merge algebra over the (tok_id) key is itself DuckDB-gated. ONE
    * DriftStore family now serves three key shapes (cell, (j, code),
    * tok_id) — the key-columns-inferred design carrying its weight.
    */
  val txtBpeDriftStore: Q = (s, d) => {
    val src = bpeDriftStoreDir(s, d) // hoisted out of the builder
    val dir = graft.StoreUtil.cachedStoreDir("bpedriftstats", d) { p =>
      val st = bpeDriftLoaded.get(s, src)(graft.ops.BpeStore.load(s, src))
      val batch = Tables.spread(Tables.documents(s, d), "doc_id")
        .filter(col("doc_id") >= 250)
      graft.ops.DriftStore.save(
        graft.ops.BpeStore.driftStats(st,
          batch.filter(col("doc_id") < 400), "text"), p, Some(0L))
      graft.ops.DriftStore.append(s, p,
        graft.ops.BpeStore.driftStats(st,
          batch.filter(col("doc_id") >= 400), "text"), Some(1L))
    }
    graft.ops.DriftStore.load(s, dir)
  }

  /** Winnowing fingerprints (k=8 char grams, window 4) on an id window. */
  val ddWinnow: Q = (s, d) =>
    TextOps.winnowFingerprints(
      Tables.documents(s, d).filter(col("doc_id") < 50), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")

  /** Deterministic 20% Bernoulli sample of documents, keyed by doc_id. */
  val smpHash: Q = (s, d) =>
    SampleOps.hashSample(Tables.documents(s, d), "doc_id", 0.2, "split1")
      .select(col("doc_id"), col("source"))

  /** Per-source mixing rates for [[smpStratified]] — the "training
    * mixture recipe" shape: named strata up-/down-weighted, everything
    * else at a default floor.
    */
  val mixRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)
  val mixDefault = 0.05

  /** Stratified deterministic sampling: per-source kept counts under the
    * mixture recipe (the audit view a pipeline materializes).
    */
  val smpStratified: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sampled = SampleOps.stratifiedSample(docs, "doc_id", "source",
      mixRates, mixDefault, "mix1")
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
      .join(sampled.groupBy(col("source")).agg(count(lit(1)).as("n_sampled")),
        Seq("source"), "left")
      .na.fill(0L, Seq("n_sampled"))
  }

  /** Temperature-flattened (α = 1/2) source mixing: per-source totals,
    * the integer threshold the recipe derives, and the kept count under
    * it — the audit view of a mix rebalanced toward small sources
    * ([[SampleOps.temperatureThresholds]] for the exact-arithmetic
    * contract). Target overall fraction 1/5.
    */
  val smpTemperature: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sampled = SampleOps.temperatureSample(docs, "doc_id", "source",
      1L, 5L, "temp1")
    SampleOps.temperatureThresholds(docs, "source", 1L, 5L)
      .join(sampled.groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled")),
        Seq("source"), "left")
      .na.fill(0L, Seq("n_sampled"))
  }

  /** The token-budget recipe shared by both budget gates: a domain kept
    * whole (budget above its mass at sf0.01), two boundary domains cut
    * mid-stream, a zero budget, and every unnamed source dropped — all
    * four classes of [[SampleOps.tokenBudgetSample]]'s bucket algebra
    * exercised.
    */
  private val budgetRecipe =
    Seq(("src0", 600L), ("src1", 2000L), ("src2", 150L), ("src3", 0L))
  private def budgetDf(s: SparkSession) = {
    import s.implicits._
    budgetRecipe.toDF("source", "budget_tok")
  }
  private def wsTokens = size(TextOps.tokensCol(col("text"))).cast("long")

  /** Token-budget mixture sampling, audit view: per budgeted source the
    * total token mass, the budget, and the kept count/mass — achieved
    * mass lands within one document of the budget (the recipe knob a
    * pretraining mixture is specified in: tokens per domain, not rates).
    * The oracle replays the whole radix-bucket algebra: per-(source,
    * bucket) masses, the prior-mass window, whole-kept/dropped/boundary
    * classification, and the boundary bucket's (md5, id)-ordered
    * doc-level crossing rule.
    */
  val smpBudget: Q = (s, d) =>
    SampleOps.tokenBudgetStats(Tables.documents(s, d), "doc_id", "source",
      wsTokens, budgetDf(s), "tb1")

  /** The kept documents themselves under the same recipe — pins exact
    * MEMBERSHIP (which docs crossed the budget line), not just the
    * aggregate masses.
    */
  val smpBudgetDocs: Q = (s, d) =>
    SampleOps.tokenBudgetSample(Tables.documents(s, d), "doc_id", "source",
      wsTokens, budgetDf(s), "tb1")
      .select(col("doc_id"), col("source"))

  /** The same audit view SERVED from a persisted radix table: the
    * per-(source, bucket) token masses are saved once per data dir in
    * a mix-stats store (the [[SampleOps.tokenBucketStats]] shape is
    * deliberately [[SampleOps.appendMixStats]]-foldable) and the
    * classification is re-derived from the LOADED stats — domain
    * totals included, so no second corpus aggregate runs. Identical
    * masses give bit-identical results, so the gate shares
    * [[smpBudget]]'s oracle; StreamingSpec proves a micro-batch-
    * maintained stats store re-derives the exact kept set.
    */
  val smpBudgetStore: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val dir = graft.StoreUtil.cachedStoreDir("budgetstats", d) { p =>
      SampleOps.saveMixStats(
        SampleOps.tokenBucketStats(docs, "doc_id", "source", wsTokens,
          "tb1"), p)
    }
    SampleOps.tokenBudgetStatsWith(docs, "doc_id", "source", wsTokens,
      budgetDf(s), "tb1", SampleOps.loadMixStats(s, dir))
  }

  /** THE training-data pipeline composite: the budget-sampled mixture
    * packed into fixed-token training bins — token budgets pick the
    * per-domain document sets ([[SampleOps.tokenBudgetSample]]), FFD
    * lays them out without splitting any document
    * ([[PackOps.packFfd]]). Every stage is already oracle-gated alone;
    * this pins the COMPOSITION (the budget boundary feeding the
    * decreasing-order fold), with the oracle chaining the budget CTEs
    * into the recursive FFD replay over the `kept` set.
    */
  val mixPack: Q = (s, d) =>
    PackOps.packFfd(
      SampleOps.tokenBudgetSample(Tables.documents(s, d), "doc_id",
        "source", wsTokens, budgetDf(s), "tb1"),
      "doc_id", wsTokens, ctxLen = 512, salt = "ep0")

  /** The pipeline composite's own budget recipe, in STORED-BPE tokens
    * over the quality-gated, history-stripped batch: two whole-kept
    * domains, two boundary cuts, a zero budget, every unnamed source
    * dropped — the same four-class coverage as [[budgetRecipe]], at the
    * (smaller) masses of the derived corpus.
    */
  private val pipeRecipe = Seq(("src0", 100000L), ("src1", 300L),
    ("src2", 150L), ("src3", 0L), ("src4", 100000L), ("src5", 200L))
  /** A recipe as the budget frame the sampler broadcasts — ONE
    * definition of the (source, budget_tok) column contract, for the
    * delivered recipe and any corrected one.
    */
  private def pipeBudgetDf(s: SparkSession,
      recipe: Seq[(String, Long)] = pipeRecipe) = {
    import s.implicits._
    recipe.toDF("source", "budget_tok")
  }

  /** Keep threshold for the stored quality gate: p ≥ 1/2 in the model's
    * 2¹⁶ fixed point — exact integer, so the boundary can never drift
    * between the engine and the oracle's retrained replay.
    */
  private val pipeKeepFp = 32768L

  /** THE end-to-end store-served pretraining pipeline — every persisted
    * artifact in this library composed into the path a corpus actually
    * takes to the trainer, with NOTHING recomputed from history:
    *
    *   1. quality gate: the new batch (doc_id ∈ [250, 500)) scored by
    *      the PERSISTED logistic model ([[graft.ops.ModelStore]]) —
    *      keep p ≥ 1/2;
    *   2. substring dedup: survivors stripped against everything the
    *      crawl has seen via the PERSISTED window-hash index
    *      ([[graft.ops.DupStore.probeStrip]] — history never
    *      re-tokenized, batch broadcast);
    *   3. mixture: token-budget sampling of the cleaned batch, masses
    *      served from the PERSISTED radix-stats store
    *      ([[SampleOps.tokenBudgetSampleWith]]) with token counts from
    *      the PERSISTED BPE tokenizer ([[graft.ops.BpeStore]] — real
    *      model tokens, not whitespace);
    *   4. layout: FFD packing into 512-token bins budgeted by the same
    *      stored tokenizer ([[PackOps.packFfd]]).
    *
    * Every stage is oracle-gated alone; this gate pins the COMPOSITION
    * — five stores feeding one deterministic answer. The oracle replays
    * the whole path from raw text: LR training unrolled, the strip's
    * keep-first rule over history∪batch, the budget bucket algebra over
    * the re-derived clean text, the recursive FFD fold — no Spark-side
    * artifact crosses over. StreamingSpec runs the twin where the dup
    * and stats stores are maintained by foreachBatch loops and the
    * packed output must match this one-shot run row for row.
    *
    * Scale shape: stages 1 and 4 are row-local over the batch; stage 2
    * scans the (large) hash index once with the batch broadcast;
    * stage 3's classification reads the (tiny) stats store. Nothing
    * rescans corpus history.
    */
  val pipePretrain: Q = (s, d) =>
    pipePackStage(s, pipeStaged(s, d),
      SampleOps.loadMixStats(s, pipeStatsDir(s, d)))

  /** The pipeline's staged frame (stages 1+2 plus the stored-tokenizer
    * counts), computed ONCE per (session, data dir): both pipeline
    * gates read it, so the strip's evidence pass — the composite's
    * dominant cost — never runs twice in a session.
    */
  private val pipeShared = new graft.SessionCache[DataFrame]()
  private def pipeStaged(s: SparkSession, d: String): DataFrame =
    pipeShared.get(s, "staged|" + d)(pipeStagedFrame(s, d,
      pipeCleanBatch(s, d, dupStoreDir(s, d),
        Tables.documents(s, d)
          .filter(col("doc_id") >= 250 && col("doc_id") < 500))))

  /** The persisted radix-mass store for stage 3 — the ONE builder of
    * the `pipestats` cache key (cachedStoreDir is first-writer-wins per
    * JVM, so two independently written builder closures would make the
    * store's content depend on gate execution order; the streaming twin
    * maintains its own store via appendMixStats instead).
    */
  private def pipeStatsDir(s: SparkSession, d: String): String = {
    val staged = pipeStaged(s, d)
    graft.StoreUtil.cachedStoreDir("pipestats", d) { p =>
      SampleOps.saveMixStats(SampleOps.tokenBucketStats(staged, "doc_id",
        "source", col("n_tok_bpe"), "pp1"), p)
    }
  }

  /** The provenance rows for ONE concrete set of serving paths — the
    * composite gate passes its cached store dirs; the streaming twin
    * passes its OWN rotated serving heads, so the recorded generations
    * are whatever the pack actually read, not what a fresh build would
    * say. Each row is (artifact, generation, ingests, compacted_at,
    * params): the counters come from the stores' manifests via the ONE
    * family-wide parsing rules ([[graft.StoreUtil.ingestsOf]] /
    * [[graft.StoreUtil.compactedAtOf]]), the generation from the
    * serving path's rotation suffix, and params carries the per-stage
    * constants a retrain would need to reproduce the delivery (keep
    * threshold, dedup window + the strip's AS-OF watermark, radix salt,
    * merge count, pack salt + context). Manifest reads are driver-side:
    * four kilobyte marker files, not data.
    *
    * `dupIngestedThisDelivery`: a strip-then-ingest pipeline reads the
    * dup manifest AFTER its own ingest bumped the counter, so the state
    * the strip actually consumed is one ingest earlier — the flag makes
    * the recorded `strip_asof` the watermark [[pipeReplay]] must load
    * the index as of ([[graft.ops.DupStore.loadAsOf]]); a read-only
    * composite (the gate fixture) records the manifest's own count.
    */
  private[graft] def pipeProvenanceFrame(s: SparkSession, lrDir: String,
      dupDir: String, statsDir: String, bpeDir: String,
      dupIngestedThisDelivery: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.StoreUtil.{generationNumber, ingestsOf, compactedAtOf}
    def mf(dir: String, marker: String, kind: String): String =
      graft.StoreUtil.readMarker(s, dir, marker).getOrElse(throw new
        IllegalStateException(s"provenance: $dir is not a $kind " +
          s"(no $marker)"))
    val lrMf = mf(lrDir, graft.ops.ModelStore.ManifestFile, "model store")
    val dupMf = mf(dupDir, graft.ops.DupStore.ManifestFile, "dup store")
    val stMf = mf(statsDir, graft.ops.SampleOps.MixManifestFile,
      "mix-stats store")
    val bpeMf = mf(bpeDir, graft.ops.BpeStore.ManifestFile, "BPE store")
    def row(artifact: String, dir: String, m: String, params: String) =
      (artifact, Some(generationNumber(dir)), Some(ingestsOf(m)),
        Some(compactedAtOf(m)), params)
    Seq(
      row("quality_model", lrDir, lrMf,
        s"n_weights=${graft.StoreUtil.manifestLong(lrMf, "n_weights",
          "model manifest")},keep_fp=$pipeKeepFp"),
      row("dup_index", dupDir, dupMf,
        s"win=${graft.StoreUtil.manifestInt(dupMf, "win",
          "dup manifest")},strip_asof=${ingestsOf(dupMf) -
          (if (dupIngestedThisDelivery) 1L else 0L)}"),
      row("mix_stats", statsDir, stMf,
        s"radix_salt=pp1,recipe_strata=${pipeRecipe.size}"),
      row("tokenizer", bpeDir, bpeMf,
        s"n_merges=${graft.StoreUtil.manifestLong(bpeMf, "n_merges",
          "BPE manifest")}"),
      // the delivery itself is the fifth artifact: not a store (no
      // counters — NULLs, not zeros, so they can never be confused
      // with a real generation), but the row that stamps the pack
      // recipe the four stores fed
      ("delivery", Option.empty[Long], Option.empty[Long],
        Option.empty[Long], "salt=ep0,ctx_len=512"))
      .toDF("artifact", "generation", "ingests", "compacted_at", "params")
  }

  /** Delivery provenance manifest for [[pipePretrain]] — the table a
    * pipeline team ships BESIDE every packed delivery, stamping exactly
    * which persisted artifacts produced it: for each of the four stores
    * the composite read (quality model, dup index, radix masses,
    * tokenizer) the serving generation, ingest counter, and compaction
    * watermark from its manifest, plus a fifth row for the delivery
    * recipe itself (pack salt, context length). The reference stamps
    * every synthesized tree the same way — tree_id, date, taxonomy
    * version, sources[] (`IngestSynthesisData.java:304-349`); this is
    * that contract for training-data deliveries. The oracle is the
    * independently-stated constants + counter algebra (two dup ingests,
    * single-save stores, generation 0 for never-rotated dirs): a
    * manifest that drifts — an extra ingest, a lost watermark, a
    * changed salt — flips the row. StreamingSpec asserts the rotated
    * twin records the generations of the heads it ACTUALLY read.
    */
  val pipeProvenance: Q = (s, d) =>
    pipeProvenanceFrame(s, lrStoreDir(s, d), dupStoreDir(s, d),
      pipeStatsDir(s, d), bpeStoreDir(s, d))

  /** One artifact's ledger row for a delivery, params parsed. */
  private final case class LedgerEntry(generation: Long, ingests: Long,
      params: Map[String, String])

  private def ledgerEntries(s: SparkSession, ledgerPath: String,
      deliveryId: Long): Map[String, LedgerEntry] = {
    val rows = graft.ops.ProvenanceLog.load(s, ledgerPath)
      .filter(col("delivery_id") === deliveryId)
      .select(col("artifact"), col("generation"), col("ingests"),
        col("params"))
      .collect()
    if (rows.isEmpty) throw new IllegalStateException(
      s"the ledger at $ledgerPath records no delivery $deliveryId")
    rows.map { r =>
      val params = r.getString(3).split(',').iterator
        .map(_.split("=", 2))
        .map(kv => kv(0) -> (if (kv.length > 1) kv(1) else ""))
        .toMap
      r.getString(0) -> LedgerEntry(
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), params)
    }.toMap
  }

  private def ledgerEntry(led: Map[String, LedgerEntry], deliveryId: Long,
      artifact: String): LedgerEntry =
    led.getOrElse(artifact, throw new IllegalStateException(
      s"delivery $deliveryId's ledger rows record no '$artifact' artifact"))

  /** Per-invocation replay pin token: the delivery id for the audit
    * trail, plus pid + a counter so two CONCURRENT replays of the same
    * delivery hold independent pins — a shared token would let the
    * first to finish unpin the generation out from under the other,
    * the reader-killed-mid-scan failure the pin protocol exists to
    * prevent.
    */
  private val replayNonce = new java.util.concurrent.atomic.AtomicLong()
  private def replayToken(deliveryId: Long): String =
    s"replay_d${deliveryId}_p${ProcessHandle.current().pid()}_" +
      replayNonce.incrementAndGet()

  /** Pin every dir for the scope of `body`, unpinning whatever was
    * actually pinned on ANY exit — a refused pin (GC beat us to a
    * generation) propagates after releasing the earlier pins, so a
    * failed replay never strands markers that would block the GC.
    */
  private def withPins[A](s: SparkSession, dirs: Seq[String],
      token: String)(body: => A): A = {
    val pinned = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      dirs.distinct.foreach { p =>
        graft.StoreUtil.pinGeneration(s, p, token); pinned += p
      }
      body
    } finally pinned.foreach(graft.StoreUtil.unpinGeneration(s, _, token))
  }

  /** Refuse a replay whose recorded store state is gone: the in-place
    * stores (model, masses, tokenizer) have no per-row history, so the
    * manifest's ingest counter must still equal what the ledger row
    * recorded — a store folded into since the delivery cannot serve
    * the recorded state and replaying against it would be silently
    * wrong, the one thing a reproducibility path must never be.
    */
  private def requireRecordedState(s: SparkSession, dir: String,
      marker: String, what: String, recorded: Long): Unit = {
    val mf = graft.StoreUtil.readMarker(s, dir, marker).getOrElse(
      throw new IllegalStateException(
        s"replay: $dir is not a $what (no $marker)"))
    val now = graft.StoreUtil.ingestsOf(mf)
    if (now != recorded)
      throw new IllegalStateException(
        s"replay: the $what at $dir has ingests=$now but the delivery " +
          s"recorded $recorded — the store was folded into since this " +
          "delivery, so its recorded state cannot be reconstructed in " +
          "place; replay from a pinned pre-fold generation instead")
  }

  /** Stages 1+2 for a recorded delivery, dirs already resolved and
    * pinned by the caller: quality gate with the recorded model
    * generation, strip against the dup index AS OF the recorded
    * watermark — the delivery's own ingest (and any later one into the
    * same generation) filtered back out by its seq tag.
    */
  private def replayCleanedCore(s: SparkSession,
      led: Map[String, LedgerEntry], deliveryId: Long, lrDir: String,
      dupDir: String, batch: DataFrame): DataFrame = {
    requireRecordedState(s, lrDir, graft.ops.ModelStore.ManifestFile,
      "model store", ledgerEntry(led, deliveryId, "quality_model").ingests)
    val asOf = ledgerEntry(led, deliveryId, "dup_index").params
      .getOrElse("strip_asof", throw new IllegalStateException(
        s"delivery $deliveryId's dup_index row carries no strip_asof — " +
          "a pre-replay ledger row; re-record the delivery"))
      .toLong
    graft.ops.DupStore.probeStrip(
      graft.ops.DupStore.loadAsOf(s, dupDir, asOf),
      pipeQualityGateWith(s, lrDir, batch), "doc_id", "text")
  }

  /** Replay ONE delivery's cleaned rows (stages 1+2 — the per-batch
    * product a strip-then-ingest pipeline writes out) from the ledger:
    * resolve the recorded generations, pin them, re-run, materialize
    * inside the pin scope. StreamingSpec replays delivery 0 through
    * this after further rotations and GC, against the output captured
    * at delivery time.
    */
  private[graft] def pipeReplayCleaned(s: SparkSession, ledgerPath: String,
      deliveryId: Long, batch: DataFrame, lrBase: String,
      dupBase: String): DataFrame = {
    val led = ledgerEntries(s, ledgerPath, deliveryId)
    val lrDir = graft.StoreUtil.generationPath(lrBase,
      ledgerEntry(led, deliveryId, "quality_model").generation)
    val dupDir = graft.StoreUtil.generationPath(dupBase,
      ledgerEntry(led, deliveryId, "dup_index").generation)
    withPins(s, Seq(lrDir, dupDir), replayToken(deliveryId)) {
      ClusterOps.flatten(
        replayCleanedCore(s, led, deliveryId, lrDir, dupDir, batch))
    }
  }

  /** REPLAY a ledger-recorded delivery end to end: resolve the store
    * generations delivery `deliveryId`'s provenance rows recorded, pin
    * them ([[graft.StoreUtil.pinGeneration]] — the reader-pin protocol
    * exists for exactly this reader), re-run the composite's four
    * stages against THOSE artifacts, and return a pack bit-identical
    * to the one delivered — the payoff of keeping the ledger at all:
    * an audit that REPRODUCES batch N, not just names its inputs (the
    * reference keeps its synthesis stamps for the same traceability,
    * `IngestSynthesisData.java:304-349`). The caller supplies the
    * delivery's raw batch rows (input retention is the pipeline's
    * business, not the ledger's) and each store family's BASE path;
    * the generations come from the ledger. Stage 2 reads the dup index
    * AS OF the recorded strip watermark ([[graft.ops.DupStore
    * .loadAsOf]]), so a generation the delivery itself ingested into
    * replays the PRE-ingest state; the in-place stores (model, masses,
    * tokenizer) must still carry their recorded ingest counters — a
    * folded-into store is REFUSED loudly rather than replayed wrong.
    * The pack salt and context length are parsed from the delivery
    * row's params: the ledger is the recipe of record, not the code's
    * current constants. The result is materialized inside the pin
    * scope (pins protect the READ — returning a lazy plan would scan
    * after the unpin).
    */
  private[graft] def pipeReplay(s: SparkSession, d: String,
      ledgerPath: String, deliveryId: Long, batch: DataFrame,
      lrBase: String, dupBase: String, statsBase: String,
      bpeBase: String): DataFrame = {
    val led = ledgerEntries(s, ledgerPath, deliveryId)
    def dirOf(artifact: String, base: String): String =
      graft.StoreUtil.generationPath(base,
        ledgerEntry(led, deliveryId, artifact).generation)
    val lrDir = dirOf("quality_model", lrBase)
    val dupDir = dirOf("dup_index", dupBase)
    val statsDir = dirOf("mix_stats", statsBase)
    val bpeDir = dirOf("tokenizer", bpeBase)
    withPins(s, Seq(lrDir, dupDir, statsDir, bpeDir),
        replayToken(deliveryId)) {
      requireRecordedState(s, statsDir,
        graft.ops.SampleOps.MixManifestFile, "mix-stats store",
        ledgerEntry(led, deliveryId, "mix_stats").ingests)
      requireRecordedState(s, bpeDir, graft.ops.BpeStore.ManifestFile,
        "BPE store", ledgerEntry(led, deliveryId, "tokenizer").ingests)
      val cleaned =
        replayCleanedCore(s, led, deliveryId, lrDir, dupDir, batch)
      val staged = pipeStagedFrameWith(s, d, bpeDir, cleaned)
      val recipe = ledgerEntry(led, deliveryId, "delivery").params
      ClusterOps.flatten(PackOps.packFfd(
        pipeSampled(s, staged, SampleOps.loadMixStats(s, statsDir)),
        "doc_id", col("n_tok_bpe"),
        ctxLen = recipe("ctx_len").toInt, salt = recipe("salt")))
    }
  }

  /** The `pipe_replay` gate: ledger → pins → replay. The fixture
    * appends the one-shot composite's provenance as delivery 0 of a
    * cached ledger, then reproduces the delivery from NOTHING but the
    * ledger rows and the store base paths — the result must be
    * bit-identical to [[pipePretrain]], so the gate shares that
    * oracle's replayed-from-raw-text CTE chain verbatim. StreamingSpec
    * drives the rotated form: delivery 0 replayed AFTER further
    * rotations and GC, through an audit pin placed at append time.
    */
  val pipeReplayQ: Q = (s, d) => {
    val lr = lrStoreDir(s, d)
    val dup = dupStoreDir(s, d)
    val stats = pipeStatsDir(s, d)
    val bpe = bpeStoreDir(s, d)
    val ledger = graft.StoreUtil.cachedStoreDir("pipeledger", d) { p =>
      graft.ops.ProvenanceLog.append(s, p,
        pipeProvenanceFrame(s, lr, dup, stats, bpe)
          .withColumn("delivery_id", lit(0L)), Some(0L))
    }
    pipeReplay(s, d, ledger, 0L,
      Tables.documents(s, d)
        .filter(col("doc_id") >= 250 && col("doc_id") < 500),
      lr, dup, stats, bpe)
  }

  /** The `pipe_taint` gate — the ledger queried in its FORWARD
    * direction ([[graft.ops.ProvenanceLog.taintedDeliveries]]): given
    * an (artifact, generation) found bad after the fact, which
    * deliveries consumed it and are therefore suspect. The fixture is
    * a three-delivery lifecycle appended through the real v2 part
    * layout (one immutable part per delivery — this gate is also the
    * suite's multi-part READ exercise): the dup index takes one more
    * ingest between deliveries 0 and 1 but stays on generation 0, then
    * rotates to generation 1 before delivery 2; the quality model is
    * retrained (generation bump) at the same cut. Asking "who read
    * dup_index generation 0" must return deliveries 0 and 1 with the
    * ingest watermarks each actually consumed — the rows a deployment
    * feeds straight into [[pipeReplay]] to requalify each tainted
    * batch. The oracle restates the appended lifecycle as independent
    * VALUES constants and applies the same relational question.
    */
  val pipeTaint: Q = (s, d) => {
    import s.implicits._
    val ledger = graft.StoreUtil.cachedStoreDir("taintledger", d) { p =>
      def deliver(id: Long,
          rows: Seq[(String, Long, Long, Long, String)]): Unit =
        graft.ops.ProvenanceLog.append(s, p,
          rows.toDF("artifact", "generation", "ingests", "compacted_at",
              "params")
            .withColumn("delivery_id", lit(id)), Some(id))
      deliver(0L, Seq(("quality_model", 0L, 1L, 0L, "n_weights=5"),
        ("dup_index", 0L, 2L, 0L, "win=4,strip_asof=2")))
      deliver(1L, Seq(("quality_model", 0L, 1L, 0L, "n_weights=5"),
        ("dup_index", 0L, 3L, 0L, "win=4,strip_asof=3")))
      deliver(2L, Seq(("quality_model", 1L, 2L, 0L, "n_weights=5"),
        ("dup_index", 1L, 5L, 4L, "win=4,strip_asof=5")))
    }
    graft.ops.ProvenanceLog.taintedDeliveries(s, ledger, "dup_index", 0L)
  }

  /** The requalification fixture: ONE dup store whose per-ingest tags
    * hold both sides of the question — delivery 0 is recorded in a
    * ledger while the index holds the 2-ingest history, THEN the
    * contamination evidence lands as ingest 3 (a fixed-length prefix
    * of boundary-stratum batch docs, re-keyed to ids that sort before
    * all history so the keep-first rule attributes their windows to
    * evidence). The as-of read reconstructs the delivery's state; the
    * head is the corrected index. One builder closure (ledger + store
    * under one cached dir) — the first-writer-wins rule.
    */
  /** The evidence window, ONCE for the fixture and its oracle (the
    * round-13 lesson: a constant living in two places silently
    * diverges — and its first draft did exactly that, caught by the
    * tri-SF hash sweep): prefix length in chars, the batch id window,
    * and the boundary-stratum sources.
    */
  private val requalEvidLen = 400
  private val requalEvidIds = (250L, 500L)
  private val requalEvidSources = Seq("src1", "src2", "src5")

  private def requalFixtureDir(s: SparkSession, d: String): String = {
    // hoisted: a cachedStoreDir builder must never call cachedStoreDir
    val lr = lrStoreDir(s, d)
    val stats = pipeStatsDir(s, d)
    val bpe = bpeStoreDir(s, d)
    graft.StoreUtil.cachedStoreDir("requalfix", d) { p =>
      val hist = Tables.documents(s, d).filter(col("doc_id") < 250)
      graft.ops.DupStore.ingestBatch(s, s"$p/dup",
        hist.filter(col("doc_id") < 125), "doc_id", "text")
      graft.ops.DupStore.ingestBatch(s, s"$p/dup",
        hist.filter(col("doc_id") >= 125), "doc_id", "text")
      // the ledger row is appended AT delivery time — the dup manifest
      // it stamps still reads ingests=2, so strip_asof records the
      // pre-evidence watermark without any subtraction
      graft.ops.ProvenanceLog.append(s, s"$p/ledger",
        pipeProvenanceFrame(s, lr, s"$p/dup", stats, bpe)
          .withColumn("delivery_id", lit(0L)), Some(0L))
      // evidence targets the recipe's BOUNDARY strata (src1/src2/src5
      // carry partial budgets): stripping a budgeted doc moves its
      // token count, so the budget cut lands differently and the diff
      // is non-empty — evidence in an unbudgeted source would strip
      // text the recipe never reads. The n_chars floor is the prefix
      // length itself: a doc shorter than the prefix would strip to
      // empty (legal, but the degenerate case), so every evidence doc
      // keeps a genuine tail and the PARTIAL-strip path is what the
      // gate exercises.
      val evidence = Tables.documents(s, d)
        .filter(col("doc_id") >= requalEvidIds._1 &&
          col("doc_id") < requalEvidIds._2 &&
          col("text").isNotNull && col("n_chars") > requalEvidLen &&
          col("source").isin(requalEvidSources: _*))
        .select((lit(-1000L) - col("doc_id")).as("doc_id"),
          substring(col("text"), 1, requalEvidLen).as("text"))
      graft.ops.DupStore.ingestBatch(s, s"$p/dup", evidence, "doc_id",
        "text")
    }
  }

  /** Run independent driver-side chains on their own threads and wait
    * for EVERY one before returning. The first failure is rethrown with
    * the others added as suppressed, so no chain keeps submitting jobs
    * into the next gate's run after its own gate has failed.
    */
  private[graft] def inParallel[A](thunks: (() => A)*): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val done = thunks.map(t => Future(t()))
      .map(f => Await.ready(f, Duration.Inf).value.get)
    done.collect { case scala.util.Failure(e) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => done.map(_.get)
    }
  }

  /** REQUALIFY a tainted delivery — the action [[pipeTaint]]'s blast
    * radius feeds: the dup index that served delivery 0 was found to
    * be MISSING evidence (a contamination source discovered after the
    * fact and ingested since), so the delivery's doc set is suspect.
    * The original set is reproduced from NOTHING but the ledger row —
    * [[pipeReplayCleaned]] pins the recorded generation and reads the
    * index AS OF the recorded strip watermark (the evidence ingest is
    * a later seq tag, filtered out) — while the corrected set re-runs
    * the same stages against the CURRENT head, with stage-3 masses
    * recomputed from the re-stripped batch (a requalification must
    * re-classify at the corrected masses, not the stale ones). The
    * output is the PATCH a deployment actually ships, diffed BOTH ways
    * (`dropped` / `added`). This fixture's evolution only ever ADDS:
    * stripping makes docs cheaper, priors in the budget's hash order
    * fall weakly, so every previously-kept doc stays kept and the freed
    * budget pulls new ones in — monotone by construction (the oracle
    * MATCHING an empty `dropped` side at every SF is that argument,
    * hash-checked). The `dropped` direction belongs to evolutions that
    * raise costs or shrink keeps — a stricter retrained quality model,
    * a budget cut — and the diff computes it regardless.
    * The oracle replays BOTH pipelines from raw text (the
    * pipe chain twice — once plain, once with the evidence rows in
    * history) and diffs the kept sets; provenance loop closed:
    * trace back (`pipe_provenance`), reproduce (`pipe_replay`), trace
    * forward (`pipe_taint`), CORRECT (`pipe_requalify`).
    */
  val pipeRequalify: Q = (s, d) => {
    val fix = requalFixtureDir(s, d)
    val batch = Tables.documents(s, d)
      .filter(col("doc_id") >= 250 && col("doc_id") < 500)
    // The two sides are INDEPENDENT chains of eager flatten
    // materializations (profiled: one gate run is ~80 strictly
    // sequential single-task jobs whose summed walls are ~96% of the
    // gate wall), so they are built on two driver threads and their
    // jobs overlap (guide §2.6 — Spark schedules concurrent jobs
    // FIFO; the second chain's tasks back-fill the cores the first
    // chain's serial stages leave idle). Shared one-time builds
    // (lrStoreDir, pipeStatsDir, bpeStoreDir) are computeIfAbsent
    // memos — a racing build blocks the loser until the winner's
    // artifact is ready, so concurrency cannot double-build.
    val Seq(orig, requal) = inParallel(
      () =>
        // the delivered set, reproduced from the ledger through pins and
        // the as-of dup state (stage 3 reads the recorded masses store)
        pipeSampled(s,
          pipeStagedFrame(s, d,
            pipeReplayCleaned(s, s"$fix/ledger", 0L, batch,
              lrStoreDir(s, d), s"$fix/dup")),
          SampleOps.loadMixStats(s, pipeStatsDir(s, d)))
          .select(col("doc_id")),
      () => {
        // the corrected set against the current head, masses recomputed —
        // stages 1+2 are the pipeline's own composition, not a hand-rolled
        // copy, so a plumbing change there lands here too
        val staged2 = pipeStagedFrame(s, d,
          pipeCleanBatch(s, d, s"$fix/dup", batch))
        SampleOps.tokenBudgetSample(staged2, "doc_id", "source",
          col("n_tok_bpe"), pipeBudgetDf(s), "pp1")
          .select(col("doc_id"))
      })
    requalDiff(orig, requal)
  }

  /** The two-way patch — ONE definition of the diff both
    * requalification gates ship, so the dropped/added mirror (which
    * each gate's monotonicity argument leans on) can never flip in
    * one place only.
    */
  private def requalDiff(orig: DataFrame, requal: DataFrame): DataFrame =
    orig.except(requal).withColumn("status", lit("dropped"))
      .unionByName(requal.except(orig).withColumn("status", lit("added")))

  /** The corrected recipe for the budget-cut requalification: the
    * contaminated domain's budget halved, everything else untouched.
    * ONE definition feeding the Spark frame and the oracle chain.
    */
  private val requalCutRecipe: Seq[(String, Long)] =
    pipeRecipe.map { case ("src1", _) => ("src1", 150L); case x => x }

  /** The OTHER requalification direction — [[pipeRequalify]]'s strip
    * evolution can only ADD (stripping makes docs cheaper; the kept
    * set grows monotonically), so this gate exercises `dropped`: the
    * recipe itself is the tainted artifact (a domain found
    * contaminated at the MIXTURE level — its budget is cut in half),
    * and the patch is the docs the delivered pack must PULL. Stages
    * 1–2 and the radix masses are untouched by a budget change, so
    * both sides read the SAME staged frame and recorded masses — the
    * requalification costs one re-classification over the cached
    * frame, no re-strip, no re-scan (the cheap end of the
    * requalification spectrum, as a budget-only correction should
    * be). Monotone the other way: budgets only shrink, so the diff is
    * pure `dropped` — both directions still computed, and the oracle
    * (the pipe chain under the cut recipe vs the delivered chain)
    * hash-checks the empty `added` side the same way pipe_requalify
    * hash-checks the empty `dropped` side.
    */
  val pipeRequalifyBudget: Q = (s, d) => {
    val staged = pipeStaged(s, d)
    val masses = SampleOps.loadMixStats(s, pipeStatsDir(s, d))
    val orig = pipeSampled(s, staged, masses).select(col("doc_id"))
    val requal = SampleOps.tokenBudgetSampleWith(staged, "doc_id",
        "source", col("n_tok_bpe"), pipeBudgetDf(s, requalCutRecipe),
        "pp1", masses)
      .select(col("doc_id"))
    requalDiff(orig, requal)
  }

  /** Cluster-balanced token-budget mixture: the budget recipe applied
    * over LEARNED strata — each document joins its embedding, routes to
    * its nearest centroid cell ([[VectorOps.assignCells]], the IVF
    * primitive), and the cells, not the source labels, carry the token
    * budgets. This is the semantic rebalancing knob source-label
    * recipes cannot express (near-duplicate web domains land in one
    * cell and share one budget regardless of origin). Same radix
    * bucket algebra, same engine-replayable determinism; the recipe
    * exercises whole-kept / two boundary cuts / zero across every SF's
    * cell masses. The oracle re-derives the cell assignment (the
    * ann_ivf replay) and aliases the cell as the budget chain's
    * stratum.
    */
  private val clusterRecipe = Seq(("c0", 1000000L), ("c1", 3000L),
    ("c2", 1500L), ("c3", 0L))
  private def clusterBudgetDf(s: SparkSession) = {
    import s.implicits._
    clusterRecipe.toDF("cell", "budget_tok")
  }

  /** The cell-assigned corpus (doc_id, text, cell) the cluster-budget
    * gates share — one definition of the routing, so the scan and
    * store-served twins can never assign differently.
    */
  private def clusterCellFrame(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = VectorOps.assignCells(
        docs.join(emb.select(col("vec_id").as("doc_id"),
            col("embedding").as("vec")), "doc_id")
          .select(col("doc_id").as("id"), col("vec")),
        cents, nprobe = 1)
      .select(col("id").as("doc_id"),
        concat(lit("c"), col("cell")).as("cell"))
    docs.select(col("doc_id"), col("text")).join(assigned, "doc_id")
  }

  val mixClusterBudget: Q = (s, d) =>
    SampleOps.tokenBudgetSample(clusterCellFrame(s, d),
      "doc_id", "cell", wsTokens, clusterBudgetDf(s), "cb1")
      .select(col("doc_id"), col("cell"))

  /** [[mixClusterBudget]] with the strata ACTUALLY LEARNED: the four
    * seed centroids are refined by two full Lloyd rounds over the
    * doc-joined embedding corpus ([[VectorOps.kmeansCentroids]] — the
    * gated km_step kernel iterated) before any document routes, so the
    * budget recipe rebalances over cells that fit the corpus's density
    * instead of four arbitrary member vectors. Same routing rule, same
    * radix bucket algebra, same recipe; the oracle replays both
    * training rounds and the whole budget chain — the learned strata
    * are hash-gated end to end, completing the trained-artifact story
    * for the mixture knob the way ann_ivf_trained does for search.
    */
  val mixClusterBudgetTrained: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val corpus = docs.join(emb.select(col("vec_id").as("doc_id"),
        col("embedding").as("vec")), "doc_id")
      .select(col("doc_id").as("id"), col("vec"))
    val seeds = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cents = VectorOps.kmeansCentroids(corpus, seeds, iters = 2)
    val assigned = VectorOps.assignCells(corpus, cents, nprobe = 1)
      .select(col("id").as("doc_id"),
        concat(lit("c"), col("cell")).as("cell"))
    SampleOps.tokenBudgetSample(
      docs.select(col("doc_id"), col("text")).join(assigned, "doc_id"),
      "doc_id", "cell", wsTokens, clusterBudgetDf(s), "cb1")
      .select(col("doc_id"), col("cell"))
  }

  /** The same kept set SERVED from persisted cell masses: the
    * per-(cell, radix-bucket) token table saves once per data dir in a
    * mix-stats store — the [[SampleOps.tokenBucketStats]] shape is
    * stratum-agnostic, so the appendMixStats maintenance contract
    * carries over to LEARNED strata unchanged — and the classification
    * re-derives from the LOADED masses. Identical masses, identical
    * kept set: shares the scan twin's oracle (the store changes where
    * the masses come from, never the classification).
    */
  val mixClusterBudgetStore: Q = (s, d) => {
    val withCell = clusterCellFrame(s, d)
    val dir = graft.StoreUtil.cachedStoreDir("cellstats", d) { p =>
      SampleOps.saveMixStats(SampleOps.tokenBucketStats(withCell,
        "doc_id", "cell", wsTokens, "cb1"), p)
    }
    SampleOps.tokenBudgetSampleWith(withCell, "doc_id", "cell", wsTokens,
      clusterBudgetDf(s), "cb1", SampleOps.loadMixStats(s, dir))
      .select(col("doc_id"), col("cell"))
  }

  /** The composite's AUDIT view — the per-source funnel a pipeline
    * team materializes beside every delivered mixture: batch docs in,
    * quality survivors, post-strip token mass (stored-tokenizer
    * counts), the budget, and what the sampler kept. Each number is a
    * stage boundary of [[pipePretrain]]; the oracle aggregates the
    * same replayed chain, so a drifted stage shows up as the WRONG
    * COUNT at its boundary, not just a changed packing downstream.
    */
  val pipePretrainStats: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
    val staged = pipeStaged(s, d)
    val sampled = pipeSampled(s, staged,
      SampleOps.loadMixStats(s, pipeStatsDir(s, d)))
    pipeBudgetDf(s)
      .select(col("source"), col("budget_tok").cast("long").as("budget_tok"))
      .join(batch.filter(col("text").isNotNull).groupBy(col("source"))
          .agg(count(lit(1)).as("n_batch")), Seq("source"), "left")
      .join(staged.groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_tok_bpe")).as("tok_clean")), Seq("source"), "left")
      .join(sampled.groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"),
            sum(col("n_tok_bpe")).as("tok_sampled")), Seq("source"), "left")
      .na.fill(0L, Seq("n_batch", "n_kept", "tok_clean", "n_sampled",
        "tok_sampled"))
  }

  /** The delivered mixture's BIN audit — per-bin docs, tokens, and
    * padding of [[pipePretrain]]'s packed layout (sum(pad) IS the
    * training-token waste of this delivery, the number the FFD stage
    * exists to minimize). With [[pipePretrainStats]] (the funnel) this
    * completes the composite's observability pair.
    */
  val pipePretrainBins: Q = (s, d) => {
    val staged = pipeStaged(s, d)
    PackOps.packFfdStats(
      pipePackStage(s, staged,
        SampleOps.loadMixStats(s, pipeStatsDir(s, d))),
      staged.select(col("doc_id"), col("n_tok_bpe").as("n_tok")),
      ctxLen = 512)
  }

  /** Stage 1 alone — the stored model's keep set applied to one
    * delivery (doc_id, text rows). Shared by the composite and the
    * streaming twin's foreachBatch body, so the two paths score with
    * the same artifact and threshold by construction.
    */
  private[graft] def pipeQualityGate(s: SparkSession, d: String,
      batch: DataFrame): DataFrame =
    pipeQualityGateWith(s, lrStoreDir(s, d), batch)

  /** The same stage with the model store EXPLICIT — the replay path
    * passes the ledger-resolved generation instead of the fixture dir.
    */
  private[graft] def pipeQualityGateWith(s: SparkSession, lrDir: String,
      batch: DataFrame): DataFrame = {
    val model = graft.ops.ModelStore.load(s, lrDir)
    batch.select(col("doc_id"), col("text"))
      .join(lrFeatures(batch).filter(model.scoreFp >= lit(pipeKeepFp))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
  }

  /** Stages 1+2 for one delivery against the dup index at `dupDir`
    * (the composite passes the cached history index; a maintenance
    * loop passes its own growing store).
    */
  private[graft] def pipeCleanBatch(s: SparkSession, d: String,
      dupDir: String, batch: DataFrame): DataFrame =
    graft.ops.DupStore.probeStrip(graft.ops.DupStore.load(s, dupDir),
      pipeQualityGate(s, d, batch), "doc_id", "text")

  /** The cleaned rows joined back to their source and counted by the
    * PERSISTED tokenizer — ONE materialization (the stats build, the
    * sampler's gating scan, and the packer all read it, and the merge
    * chain runs once per doc, not per consumer). The streaming twin
    * runs this same frame per micro-batch for its stats folds.
    */
  private[graft] def pipeStagedFrame(s: SparkSession, d: String,
      stripped: DataFrame): DataFrame =
    pipeStagedFrameWith(s, d, bpeStoreDir(s, d), stripped)

  /** The same stage with the tokenizer store EXPLICIT (replay path). */
  private[graft] def pipeStagedFrameWith(s: SparkSession, d: String,
      bpeDir: String, stripped: DataFrame): DataFrame = {
    val bpe = graft.ops.BpeStore.load(s, bpeDir)
    ClusterOps.flatten(stripped
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id")
      .select(col("doc_id"), col("source"), col("clean_text"),
        size(graft.functions.Bpe.tokensCol(col("clean_text"), bpe.merges))
          .cast("long").as("n_tok_bpe")))
  }

  /** Stage 3 alone — the budget-sampled mixture over a staged frame
    * and a radix-mass table (however maintained). ONE definition of the
    * pipeline's sampling call: the packer, the funnel audit, and the
    * bin audit all route through it, so the recipe/salt/stats source
    * can never drift between the delivered pack and its audits.
    */
  private[graft] def pipeSampled(s: SparkSession, staged: DataFrame,
      masses: DataFrame): DataFrame =
    SampleOps.tokenBudgetSampleWith(staged, "doc_id", "source",
      col("n_tok_bpe"), pipeBudgetDf(s), "pp1", masses)

  /** Stages 3+4: [[pipeSampled]] FFD-packed by the stored tokenizer's
    * counts.
    */
  private[graft] def pipePackStage(s: SparkSession, staged: DataFrame,
      masses: DataFrame): DataFrame =
    PackOps.packFfd(pipeSampled(s, staged, masses), "doc_id",
      col("n_tok_bpe"), ctxLen = 512, salt = "ep0")

  /** PII scrub + normalization over text enriched with deterministic
    * synthetic PII (the fixture corpus carries none): per-doc replacement
    * counts and the md5 of the scrubbed normalized text.
    */
  val txtScrub: Q = (s, d) => {
    val enriched = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or "),
      lit("https://ex.org/d/"), col("doc_id"), lit("?ref=1 case 1234567"),
      col("doc_id"))
    Tables.spread(Tables.documents(s, d), "doc_id").select(
      col("doc_id"),
      regexp_count(enriched, lit(TextOps.emailRe)).cast("long").as("n_emails"),
      regexp_count(enriched, lit(TextOps.urlRe)).cast("long").as("n_urls"),
      regexp_count(enriched, lit(TextOps.longNumRe)).cast("long").as("n_nums"),
      md5(TextOps.normalizeCol(TextOps.scrubPiiCol(enriched))).as("scrub_md5"))
  }

  /** Sequence packing: concat-and-chunk layout of the whole corpus into
    * 512-token sequences within 16 md5 shards, epoch salt "ep0".
    */
  val packSeqs: Q = (s, d) =>
    PackOps.packSequences(Tables.documents(s, d), "doc_id",
      size(TextOps.tokensCol(col("text"))), ctxLen = 512, salt = "ep0")

  /** Sequence packing budgeted by REAL BPE counts (the round-7 verdict's
    * fidelity note closed end-to-end): identical deterministic packing
    * shape, but `n_tok` is the true subword count [[txtBpe]] reports,
    * so a 512-token context is actually 512 model tokens — the
    * whitespace-count form under-budgets by the subword ratio.
    */
  val packSeqsBpe: Q = (s, d) =>
    PackOps.packSequences(Tables.spread(Tables.documents(s, d), "doc_id"),
      "doc_id",
      size(graft.functions.Bpe.tokensCol(col("text"))), ctxLen = 512,
      salt = "ep0")

  /** Packing-efficiency audit: docs and tokens per packed sequence. */
  val packStatsQ: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val nTok = docs.select(col("doc_id"),
      size(TextOps.tokensCol(col("text"))).cast("long").as("n_tok"))
    PackOps.packStats(
      PackOps.packSequences(docs, "doc_id",
        size(TextOps.tokensCol(col("text"))), ctxLen = 512, salt = "ep0"),
      nTok)
  }

  /** First-fit-decreasing packing ([[PackOps.packFfd]]): the
    * document-preserving alternative to [[packSeqs]] — no document is
    * ever cut at a sequence boundary; the cost is each bin's terminal
    * slack, which the decreasing order keeps near-optimal. The oracle
    * replays the per-shard sequential fold exactly, one recursive-CTE
    * step per document with the open-bin capacities as list state
    * (the LinearModel unrolled-SQL discipline applied to a
    * data-dependent-length fold). NULL-text docs are excluded up
    * front — packFfd refuses NULL token counts by design.
    */
  val packFfd: Q = (s, d) =>
    PackOps.packFfd(Tables.documents(s, d).filter(col("text").isNotNull),
      "doc_id", size(TextOps.tokensCol(col("text"))), ctxLen = 512,
      salt = "ep0")

  /** Multi-epoch FFD delivery — the consumption pattern a trainer
    * actually has: N passes over ONE document universe, each epoch
    * reshuffled by its salt (`ep0`/`ep1`/`ep2` — the parameter
    * [[PackOps.packFfd]] carries precisely for this, exercised here at
    * more than one value for the first time) so no two epochs present
    * bins in the same order, while the packed universe and every
    * per-doc token count are epoch-invariant (PropertySpec pins that
    * algebra; this gate pins the exact layouts). The oracle replays the
    * per-shard recursive fold ONCE PER SALT and unions the epochs — an
    * epoch-collision bug (salt ignored, identical bin order) would
    * collapse the union's distinct layouts and fail the hash.
    */
  val packEpochs: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    (0 until 3).map { e =>
      PackOps.packFfd(docs, "doc_id",
        size(TextOps.tokensCol(col("text"))), ctxLen = 512,
        salt = s"ep$e")
        .withColumn("epoch", lit(e.toLong))
    }.reduce(_ unionByName _)
  }

  /** [[packFfd]] budgeted by REAL BPE counts (the [[packSeqsBpe]]
    * fidelity rule applied to the bin packer): `n_tok` is the true
    * subword count, so a 512-token bin holds 512 model tokens — the
    * whitespace-count form under-budgets by the subword ratio, and a
    * "full" bin would overflow the actual context window. Same
    * deterministic fold, same recursive oracle with the BPE token
    * count swapped in.
    */
  val packFfdBpe: Q = (s, d) =>
    PackOps.packFfd(
      Tables.spread(Tables.documents(s, d), "doc_id")
        .filter(col("text").isNotNull),
      "doc_id", size(graft.functions.Bpe.tokensCol(col("text"))),
      ctxLen = 512, salt = "ep0")

  /** Per-bin fill/padding audit for [[packFfd]] — sum(pad) here IS the
    * corpus's total training-token waste (no straddling exists to
    * hide), the number that makes FFD's economics measurable against
    * [[packSeqs]]'s cut-document waste (PackSpec pins the comparison).
    */
  val packFfdStats: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val nTok = docs.select(col("doc_id"),
      size(TextOps.tokensCol(col("text"))).cast("long").as("n_tok"))
    PackOps.packFfdStats(
      PackOps.packFfd(docs, "doc_id",
        size(TextOps.tokensCol(col("text"))), ctxLen = 512, salt = "ep0"),
      nTok, ctxLen = 512)
  }

  /** Winnowing near-dup pairs: docs sharing ≥ 2 selected fingerprints —
    * the pair-generation step of the MOSS path (fingerprints already
    * gated by dd_winnow; this closes the loop to candidate pairs).
    */
  val ddWinnowPairs: Q = (s, d) => {
    val fps = TextOps.winnowFingerprints(
      Tables.documents(s, d).filter(col("doc_id") < 50), "doc_id", "text")
    fps.select(col("id").as("a"), col("fp"))
      .join(fps.select(col("id").as("b"), col("fp")), "fp")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(countDistinct(col("fp")).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  /** IN-PLAN window bound for the agreement matrix (the scaladoc's
    * rule, enforced where it can fail loudly): the exact all-pairs leg
    * is O(|w|²) BY DESIGN on an evaluation window — a future caller
    * widening the id filter would silently make it corpus-sized, so an
    * oversized window fails the JOB via raise_error. The guard column
    * must stay REFERENCED (a dropped projection is deleted by column
    * pruning and the raise_error never evaluates — verified against
    * this Spark build), so it gates through a filter every legal row
    * passes, then leaves the schema. One extra count over a tiny
    * frame, paid once (the guarded frame feeds all three detectors);
    * TrainingSpec proves the guard fires at 1001 rows.
    */
  private[graft] def boundedAgreeWindow(wRaw: DataFrame): DataFrame =
    wRaw.crossJoin(
      wRaw.agg(count(lit(1)).as("n_w"))
        .select(when(col("n_w") <= lit(1000L), lit(1L))
          .otherwise(raise_error(concat(
            lit("dd_method_agree: evaluation window holds "),
            col("n_w").cast("string"),
            lit(" docs; the exact all-pairs leg is bounded at 1000 — " +
              "use the LSH/winnow detectors alone at corpus scale"))))
          .as("w_ok")))
      .filter(col("w_ok") === lit(1L))
      .drop("w_ok")

  /** Detector AGREEMENT matrix — the evaluation artifact a dedup
    * pipeline builds before picking its production detector: every
    * pair flagged by ANY of the three near-dup methods over one window
    * (exact all-pairs Jaccard ≥ 0.5 — the ground truth; MinHash-LSH
    * banding verified at the same threshold — the scalable
    * approximation, whose misses here ARE its recall gap; winnowing
    * ≥ 2 shared fingerprints — the substring-overlap family), with one
    * flag per method. All three are oracle-gated alone; this pins
    * their JOINT behavior on identical data, so a drifted detector
    * shows up as a flipped flag, not a silently different candidate
    * population downstream.
    */
  val ddMethodAgree: Q = (s, d) => {
    val w = boundedAgreeWindow(
      Tables.documents(s, d).filter(col("doc_id") < 50))
    // each detector frame is pinned once (flatten): the union AND its
    // flag join both read it, and the matrix's winnow leg IS the gated
    // ddWinnowPairs definition, not a replica — a tuned detector
    // changes this gate with it. The three detectors are INDEPENDENT
    // eager materializations over the same window, so they build on
    // three driver threads and their little jobs overlap (the
    // pipeRequalify §2.6 treatment; profiled serial: 25 strictly
    // sequential jobs with ~60% of gate wall spent in between-job
    // driver gaps)
    val Seq(jac, lsh, win) = inParallel(
      () => ClusterOps.flatten(
        TextOps.jaccardVerify(TextOps.allPairs(w, "doc_id"), w,
          "doc_id", "text", 0.5).select(col("a"), col("b"))),
      () => ClusterOps.flatten(
        TextOps.jaccardVerify(
          TextOps.minhashCandidates(w, "doc_id", "text"), w,
          "doc_id", "text", 0.5).select(col("a"), col("b"))),
      () => ClusterOps.flatten(
        ddWinnowPairs(s, d).select(col("a"), col("b"))))
    val all = jac.unionByName(lsh).unionByName(win).distinct()
    all
      .join(jac.withColumn("by_jaccard", lit(true)), Seq("a", "b"),
        "left_outer")
      .join(lsh.withColumn("by_lsh", lit(true)), Seq("a", "b"),
        "left_outer")
      .join(win.withColumn("by_winnow", lit(true)), Seq("a", "b"),
        "left_outer")
      .select(col("a"), col("b"),
        coalesce(col("by_jaccard"), lit(false)).as("by_jaccard"),
        coalesce(col("by_lsh"), lit(false)).as("by_lsh"),
        coalesce(col("by_winnow"), lit(false)).as("by_winnow"))
  }

  /** Contamination scan: docs ≥ 10 sharing ≥ 2 distinct trigrams with the
    * "benchmark" (docs 0-9).
    */
  val ddContaminate: Q = (s, d) => {
    val docs = Tables.spread(Tables.documents(s, d), "doc_id")
    TextOps.contamination(docs.filter(col("doc_id") >= 10),
      docs.filter(col("doc_id") < 10), "doc_id", "text")
  }

  /** Top-5 characteristic terms per doc (rational tf·idf) on an id window. */
  val txtTfidf: Q = (s, d) =>
    TextOps.termScores(
      Tables.documents(s, d).filter(col("doc_id") < 200),
      "doc_id", "text", topK = 5)

  /** Stopword-marker language ID with per-language scores. */
  val txtLangid: Q = (s, d) => {
    val scores = TextOps.langScores(col("text"))
    Tables.documents(s, d).select(
      Seq(col("doc_id"), TextOps.langIdCol(col("text")).as("lang_pred")) ++
        scores.map { case (l, c) => c.cast("long").as(s"s_$l") }: _*)
  }

  val registry: Map[String, Q] = Map(
    "dd_source_stats" -> ddSourceStats,
    "dd_fingerprint" -> ddFingerprint,
    "dd_minhash_lsh" -> ddMinhashLsh,
    "dd_lsh_store" -> ddLshStore,
    "dd_jaccard" -> ddJaccard,
    "dd_prefix_join" -> ddPrefixJoin,
    "dd_lsh_verified" -> ddLshVerified,
    "dd_cluster" -> ddCluster,
    "dd_canonical" -> ddCanonical,
    "dd_pipeline" -> ddPipeline,
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ann_store" -> annStore,
    "km_step" -> kmStep,
    "dd_simhash" -> ddSimhash,
    "emb_neardup" -> embNearDup,
    "emb_neardup_cells" -> embNearDupCells,
    "dd_semantic" -> ddSemantic,
    "dd_semantic_auto" -> ddSemanticAuto,
    "emb_frontier" -> embFrontier,
    "txt_bpe_train" -> txtBpeTrain,
    "txt_bpe_trained" -> txtBpeTrained,
    "txt_bpe_trained_store" -> txtBpeTrainedStore,
    "txt_bpe_vocab" -> txtBpeVocab,
    "txt_bpe_ids" -> txtBpeIds,
    "txt_bpe_ids_store" -> txtBpeIdsStore,
    "txt_bpe_drift" -> txtBpeDrift,
    "txt_bpe_drift_store" -> txtBpeDriftStore,
    "ann_topk" -> annTopk,
    "txt_quality" -> txtQuality,
    "txt_repetition" -> txtRepetition,
    "txt_bm25" -> txtBm25,
    "txt_bm25_store" -> txtBm25Store,
    "txt_phrase" -> txtPhrase,
    "txt_proximity" -> txtProximity,
    "txt_window" -> txtWindow,
    "ret_hybrid" -> retHybrid,
    "ret_hybrid_store" -> retHybridStore,
    "prep_pipeline" -> prepPipeline,
    "prep_stream_twin" -> ((s, d) =>
      // the streaming prep's batch twin (graft.streaming.DocStreams):
      // same row-local gates the stream runs, min-doc_id dedup — gated
      // here so the composition StreamingSpec diffs against is itself
      // driver-verified every round, not just suite-verified once
      graft.streaming.DocStreams.prepBatch(
          Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("fp"))),
    "sk_distinct_kmv" -> skDistinctKmv,
    "sk_quantile" -> skQuantile,
    "sk_hist" -> skHist,
    "sk_hist_group" -> skHistGroup,
    "sk_hist_store" -> skHistStore,
    "sk_exact_pct" -> skExactPct,
    "sk_exact_pct_group" -> skExactPctGroup,
    "sk_exact_pct_dbl" -> skExactPctDbl,
    "sk_exact_pct_dbl_group" -> skExactPctDblGroup,
    "sk_heavy_cm" -> skHeavyCm,
    "sk_bloom" -> skBloom,
    "dd_frontier" -> ddFrontier,
    "w4_grouped_topk" -> w4GroupedTopk,
    "ann_pq" -> annPq,
    "ann_ivfpq" -> annIvfPq,
    "ann_pq_store" -> annPqStore,
    "ann_rerank" -> annRerank,
    "ann_ivf_trained" -> annIvfTrained,
    "ann_ivf_trained_store" -> annIvfTrainedStore,
    "ann_ivf_retrained_store" -> annIvfRetrainedStore,
    "ann_drift" -> annDrift,
    "ann_drift_store" -> annDriftStore,
    "ann_drift_pq" -> annDriftPq,
    "ann_drift_pq_store" -> annDriftPqStore,
    "ann_pq_trained" -> annPqTrained,
    "ann_pq_trained_store" -> annPqTrainedStore,
    "ann_pq_retrained_store" -> annPqRetrainedStore,
    "sk_cm_store" -> skCmStore,
    "sk_kmv_store" -> skKmvStore,
    "dd_spans" -> ddSpans,
    "dd_dup_spans" -> ddDupSpans,
    "dd_dup_ratio" -> ddDupRatio,
    "dd_dup_strip" -> ddDupStrip,
    "dd_dup_store" -> ddDupStore,
    "lm_score_trained" -> lmScoreTrained,
    "lm_train_bi" -> lmTrainBi,
    "lm_train_tri" -> lmTrainTri,
    "lm_score_tri" -> lmScoreTri,
    "lm_score_store" -> lmScoreStore,
    "lm_drift" -> lmDrift,
    "lm_drift_store" -> lmDriftStore,
    "emb_quantize" -> embQuantize,
    "emb_rproj" -> embRproj,
    "txt_lr_train" -> txtLrTrain,
    "txt_lr_store" -> txtLrStore,
    "txt_lr_drift" -> txtLrDrift,
    "txt_lr_drift_store" -> txtLrDriftStore,
    "txt_tokens" -> txtTokens,
    "txt_bpe" -> txtBpe,
    "txt_bpe_chunks" -> txtBpeChunks,
    "txt_surprise" -> txtSurprise,
    "txt_bigram" -> txtBigram,
    "txt_chunks" -> txtChunks,
    "dd_winnow" -> ddWinnow,
    "dd_winnow_pairs" -> ddWinnowPairs,
    "dd_method_agree" -> ddMethodAgree,
    "txt_langid" -> txtLangid,
    "smp_hash" -> smpHash,
    "smp_stratified" -> smpStratified,
    "smp_shuffle" -> smpShuffle,
    "smp_temperature" -> smpTemperature,
    "smp_budget" -> smpBudget,
    "smp_budget_docs" -> smpBudgetDocs,
    "smp_budget_store" -> smpBudgetStore,
    "mix_pack" -> mixPack,
    "pipe_pretrain" -> pipePretrain,
    "pipe_pretrain_stats" -> pipePretrainStats,
    "pipe_pretrain_bins" -> pipePretrainBins,
    "pipe_provenance" -> pipeProvenance,
    "pipe_replay" -> pipeReplayQ,
    "pipe_taint" -> pipeTaint,
    "pipe_requalify" -> pipeRequalify,
    "pipe_requalify_budget" -> pipeRequalifyBudget,
    "mix_cluster_budget" -> mixClusterBudget,
    "mix_cluster_budget_store" -> mixClusterBudgetStore,
    "mix_cluster_budget_trained" -> mixClusterBudgetTrained,
    "txt_scrub" -> txtScrub,
    "pack_seqs" -> packSeqs,
    "pack_seqs_bpe" -> packSeqsBpe,
    "pack_stats" -> packStatsQ,
    "pack_ffd" -> packFfd,
    "pack_epochs" -> packEpochs,
    "pack_ffd_bpe" -> packFfdBpe,
    "pack_ffd_stats" -> packFfdStats,
    "txt_tfidf" -> txtTfidf,
    "dd_contaminate" -> ddContaminate
  )

  private val toksSql = "string_split_regex(lower(text), '\\s+')"

  /** Shared CTE chain of the sliding-window dedup oracles (win = 4):
    * token windows → ≥2-occurrence hashes → duplicated positions →
    * interval-union island merge → maximal `spans`. The caller supplies
    * the final SELECT over `t` (tokenized docs) and `spans`.
    */
  private def dupSpansSql(finalSelect: String,
      where: String = "text IS NOT NULL"): String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks
       |  FROM documents WHERE $where),
       |w AS (SELECT doc_id, CAST(p AS BIGINT) AS i,
       |    md5(array_to_string(toks[p+1:p+4], ' ')) AS h
       |  FROM t, unnest(range(0, len(toks) - 4 + 1)) u(p)),
       |dup AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
       |pos AS (SELECT w.doc_id, w.i FROM w JOIN dup USING (h)),
       |m AS (SELECT doc_id, i,
       |    max(i + 3) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
       |  FROM pos),
       |isl AS (SELECT doc_id, i,
       |    sum(CASE WHEN pe IS NULL OR i > pe + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY i
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM m),
       |spans AS (SELECT doc_id, min(i) AS span_start,
       |    max(i) + 3 AS span_end, max(i) + 3 - min(i) + 1 AS span_len
       |  FROM isl GROUP BY doc_id, g)
       |$finalSelect""".stripMargin

  /** The FFD packing replay as a recursive CTE chain, shared by
    * `pack_ffd` and `pack_ffd_stats`: per shard, one recursive step
    * per document in (n_tok DESC, doc_id) order, with the open bins'
    * remaining capacities as BIGINT-list state. `nullif(..., 0)`
    * because DuckDB's list_position signals not-found as 0; `d` is
    * MATERIALIZED — re-inlining the window scan into every recursive
    * step is the exponential-CTE trap the PageRank oracle documents.
    * The caller supplies the final SELECT over `ffd
    * (shard, rn, doc_id, bin, bin_off, bins)` (rn = 0 rows are the
    * empty-state seeds; real placements have doc_id NOT NULL) and may
    * override the token-count expression (`pack_ffd_bpe` budgets by
    * the real subword counts, the [[packSeqsBpe]] fidelity rule).
    */
  /** `prefixCtes` (with trailing comma) lets a caller chain its own
    * CTEs ahead of the fold — the mix_pack composite prepends the
    * budget-sampling chain and packs FROM its `kept` set. The fold's
    * collision-prone internal name is pf-prefixed; `k` and `ffd` stay
    * as-is because they are part of the CALLER contract (finalSelect
    * references them), so a prefix chain must not define CTEs named
    * `k` or `ffd`.
    */
  private def packFfdSql(finalSelect: String,
      nTokSql: String = s"len($toksSql)",
      fromSql: String = "documents WHERE text IS NOT NULL",
      prefixCtes: String = "", salt: String = "ep0"): String =
    s"""WITH RECURSIVE ${prefixCtes}k AS MATERIALIZED (SELECT doc_id,
       |    CAST($nTokSql AS BIGINT) AS n_tok,
       |    substr(md5('$salt:' || doc_id::VARCHAR), 1, 1) AS shard
       |  FROM $fromSql),
       |pf AS MATERIALIZED (SELECT doc_id, n_tok, shard,
       |    CAST(row_number() OVER (PARTITION BY shard
       |      ORDER BY n_tok DESC, doc_id) AS BIGINT) AS rn
       |  FROM k),
       |ffd AS (
       |  SELECT shard, CAST(0 AS BIGINT) AS rn,
       |    CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS bin,
       |    CAST(NULL AS BIGINT) AS bin_off, CAST([] AS BIGINT[]) AS bins
       |  FROM (SELECT DISTINCT shard FROM pf)
       |  UNION ALL
       |  SELECT shard, rn, doc_id,
       |    CAST(CASE WHEN fit IS NULL THEN len(bins) ELSE fit - 1 END
       |      AS BIGINT) AS bin,
       |    CAST(CASE WHEN fit IS NULL THEN 0 ELSE 512 - bins[fit] END
       |      AS BIGINT) AS bin_off,
       |    CASE WHEN fit IS NULL
       |      THEN list_append(bins, CAST(512 - n_tok AS BIGINT))
       |      ELSE list_concat(bins[:fit-1],
       |        list_concat([bins[fit] - n_tok], bins[fit+1:])) END AS bins
       |  FROM (
       |    SELECT pf.shard, pf.rn, pf.doc_id, pf.n_tok, f.bins,
       |      nullif(list_position(
       |        list_transform(f.bins, b -> b >= pf.n_tok), true), 0) AS fit
       |    FROM ffd f JOIN pf ON pf.shard = f.shard AND pf.rn = f.rn + 1) s
       |)
       |$finalSelect""".stripMargin

  /** MinHash(k=8) + LSH(4×2) candidate pairs over the doc_id<100 window —
    * shared by `dd_minhash_lsh` (one-shot banding) and `dd_lsh_store`
    * (the persisted-index two-batch fold), which must agree bit-for-bit.
    */
  private val minhashLshSql =
    s"""WITH t AS (SELECT doc_id, list_distinct($toksSql) AS toks
       |  FROM documents WHERE doc_id < 100),
       |mh AS (SELECT doc_id, list_transform(range(0, 8),
       |    s -> list_min(list_transform(toks, w -> md5(s::VARCHAR || ':' || w)))) AS sig
       |  FROM t),
       |bands AS (SELECT doc_id, b, md5(sig[2*b+1] || sig[2*b+2]) AS bk
       |  FROM mh, unnest(range(0, 4)) u(b))
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |FROM bands x JOIN bands y
       |  ON x.bk = y.bk AND x.b = y.b AND x.doc_id < y.doc_id""".stripMargin

  /** IVF ANN oracle (corpus to nearest cell, queries to their 2 best
    * cells, cell-join, cosine rank ≤ 5) — shared by `ann_ivf` and its
    * store-served twin `ann_store`, which differ only in physical layout.
    */
  private val annIvfSql =
    """WITH e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
      |  FROM embeddings WHERE vec_id < 300),
      |c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv
      |  FROM embeddings WHERE vec_id < 8),
      |corpus_cells AS (SELECT id, v, cid AS cell FROM (
      |  SELECT e.id, e.v, c.cid,
      |    row_number() OVER (PARTITION BY e.id ORDER BY
      |      list_dot_product(e.v, c.cv) /
      |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |      DESC, c.cid) AS r
      |  FROM e, c) WHERE r = 1),
      |query_cells AS (SELECT id, v, cid AS cell FROM (
      |  SELECT e.id, e.v, c.cid,
      |    row_number() OVER (PARTITION BY e.id ORDER BY
      |      list_dot_product(e.v, c.cv) /
      |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |      DESC, c.cid) AS r
      |  FROM e, c WHERE e.id < 20) WHERE r <= 2),
      |scored AS (SELECT DISTINCT qc.id AS q_id, cc.id AS n_id,
      |    round(list_dot_product(qc.v, cc.v) /
      |      (sqrt(list_dot_product(qc.v, qc.v)) * sqrt(list_dot_product(cc.v, cc.v))), 6) AS cos
      |  FROM query_cells qc JOIN corpus_cells cc
      |    ON cc.cell = qc.cell AND cc.id <> qc.id),
      |ranked AS (SELECT q_id, n_id, cos,
      |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, rank, cos FROM ranked WHERE rank <= 5""".stripMargin

  /** One full-vector Lloyd round (c(r-1) → c(r)) — the km_step kernel's
    * replay iterated: nearest-cell assignment by cosine (ties to the
    * smaller cid), per-position quantized means (floor(x·10⁶) longs
    * summed exactly, ONE double division at the end — the km_step
    * oracle's arithmetic verbatim), centroids reassembled in position
    * order. Cells with no members drop out in both engines (inner
    * GROUP BY here, Spark's groupBy there).
    */
  private def lloydRoundSql(r: Int, eName: String = "e",
      base: String = "c", p: String = ""): String = {
    val prev = if (r == 1) base else s"${p}c${r - 1}"
    s"""${p}a$r AS (SELECT id, v, cell FROM (
       |  SELECT e.id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.id ORDER BY
       |      list_dot_product(e.v, c.cv) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
       |      DESC, c.cid) AS rr
       |  FROM $eName e, $prev c) WHERE rr = 1),
       |${p}m$r AS (SELECT cell AS cid, p - 1 AS pos,
       |    CAST(sum(CAST(floor(v[CAST(p AS INT)] * 1000000.0) AS BIGINT))
       |      AS BIGINT)::DOUBLE / (count(*)::DOUBLE * 1000000.0) AS val
       |  FROM ${p}a$r, unnest(range(1, len(v) + 1)) u(p) GROUP BY 1, 2),
       |${p}c$r AS (SELECT cid, list(val ORDER BY pos) AS cv FROM ${p}m$r
       |  GROUP BY cid)""".stripMargin
  }

  /** `ann_ivf` with the seed centroids replaced by three replayed Lloyd
    * rounds — the search chain (cells, nprobe 2, cosine rank ≤ 5) is the
    * annIvfSql text with `c3` as the centroid table.
    */
  private val annIvfTrainedSql =
    s"""WITH e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings WHERE vec_id < 300),
       |c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv
       |  FROM embeddings WHERE vec_id < 8),
       |${lloydRoundSql(1)},
       |${lloydRoundSql(2)},
       |${lloydRoundSql(3)},
       |corpus_cells AS (SELECT id, v, cid AS cell FROM (
       |  SELECT e.id, e.v, c.cid,
       |    row_number() OVER (PARTITION BY e.id ORDER BY
       |      list_dot_product(e.v, c.cv) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
       |      DESC, c.cid) AS r
       |  FROM e, c3 c) WHERE r = 1),
       |query_cells AS (SELECT id, v, cid AS cell FROM (
       |  SELECT e.id, e.v, c.cid,
       |    row_number() OVER (PARTITION BY e.id ORDER BY
       |      list_dot_product(e.v, c.cv) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
       |      DESC, c.cid) AS r
       |  FROM e, c3 c WHERE e.id < 20) WHERE r <= 2),
       |scored AS (SELECT DISTINCT qc.id AS q_id, cc.id AS n_id,
       |    round(list_dot_product(qc.v, cc.v) /
       |      (sqrt(list_dot_product(qc.v, qc.v)) * sqrt(list_dot_product(cc.v, cc.v))), 6) AS cos
       |  FROM query_cells qc JOIN corpus_cells cc
       |    ON cc.cell = qc.cell AND cc.id <> qc.id),
       |ranked AS (SELECT q_id, n_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, cos FROM ranked WHERE rank <= 5""".stripMargin

  /** The retrain replay: the three training rounds exactly as
    * annIvfTrainedSql derives them, then the RETRAIN round with the
    * k-fixed carry (`kc` — a cell the corpus vacated keeps its c3
    * entry via the left-join coalesce, replaying
    * [[graft.ops.VectorOps.kmeansCentroidsKept]]'s rule), then the
    * identical search chain over the retrained table.
    */
  private val annIvfRetrainedSql =
    s"""WITH e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings WHERE vec_id < 300),
       |c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv
       |  FROM embeddings WHERE vec_id < 8),
       |${lloydRoundSql(1)},
       |${lloydRoundSql(2)},
       |${lloydRoundSql(3)},
       |ka AS (SELECT id, v, cell FROM (
       |  SELECT e.id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.id ORDER BY
       |      list_dot_product(e.v, c.cv) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
       |      DESC, c.cid) AS rr
       |  FROM e, c3 c) WHERE rr = 1),
       |km AS (SELECT cell AS cid, p - 1 AS pos,
       |    CAST(sum(CAST(floor(v[CAST(p AS INT)] * 1000000.0) AS BIGINT))
       |      AS BIGINT)::DOUBLE / (count(*)::DOUBLE * 1000000.0) AS val
       |  FROM ka, unnest(range(1, len(v) + 1)) u(p) GROUP BY 1, 2),
       |kmv AS (SELECT cid, list(val ORDER BY pos) AS cv FROM km GROUP BY cid),
       |kc AS (SELECT p.cid, coalesce(m.cv, p.cv) AS cv
       |  FROM c3 p LEFT JOIN kmv m ON m.cid = p.cid),
       |corpus_cells AS (SELECT id, v, cid AS cell FROM (
       |  SELECT e.id, e.v, c.cid,
       |    row_number() OVER (PARTITION BY e.id ORDER BY
       |      list_dot_product(e.v, c.cv) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
       |      DESC, c.cid) AS r
       |  FROM e, kc c) WHERE r = 1),
       |query_cells AS (SELECT id, v, cid AS cell FROM (
       |  SELECT e.id, e.v, c.cid,
       |    row_number() OVER (PARTITION BY e.id ORDER BY
       |      list_dot_product(e.v, c.cv) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
       |      DESC, c.cid) AS r
       |  FROM e, kc c WHERE e.id < 20) WHERE r <= 2),
       |scored AS (SELECT DISTINCT qc.id AS q_id, cc.id AS n_id,
       |    round(list_dot_product(qc.v, cc.v) /
       |      (sqrt(list_dot_product(qc.v, qc.v)) * sqrt(list_dot_product(cc.v, cc.v))), 6) AS cos
       |  FROM query_cells qc JOIN corpus_cells cc
       |    ON cc.cell = qc.cell AND cc.id <> qc.id),
       |ranked AS (SELECT q_id, n_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, cos FROM ranked WHERE rank <= 5""".stripMargin

  /** The drift-meter replay: the trained-search chain's three Lloyd
    * rounds and cosine nearest-cell assignment (textually the
    * annIvfTrainedSql corpus_cells rule), then per-vector exact integer
    * squared error against the assigned centroid in the quantSqDist
    * domain — floor(x·1000) per component, int64 sums, so both engines
    * fold to the same (cell, n, err_sum) rows bit for bit.
    */
  private val annDriftSql =
    s"""WITH e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings WHERE vec_id < 300),
       |c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv
       |  FROM embeddings WHERE vec_id < 8),
       |${lloydRoundSql(1)},
       |${lloydRoundSql(2)},
       |${lloydRoundSql(3)},
       |asg AS (SELECT id, v, cell FROM (
       |  SELECT e.id, e.v, c.cid AS cell,
       |    row_number() OVER (PARTITION BY e.id ORDER BY
       |      list_dot_product(e.v, c.cv) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
       |      DESC, c.cid) AS r
       |  FROM e, c3 c) WHERE r = 1),
       |perid AS (SELECT t.cell, t.id,
       |    CAST(sum(t.dx * t.dx) AS BIGINT) AS err
       |  FROM (SELECT a.cell, a.id,
       |      CAST(floor(a.v[CAST(u.p AS INT)] * 1000.0) AS BIGINT)
       |        - CAST(floor(c.cv[CAST(u.p AS INT)] * 1000.0) AS BIGINT) AS dx
       |    FROM asg a JOIN c3 c ON c.cid = a.cell,
       |      unnest(range(1, len(a.v) + 1)) u(p)) t
       |  GROUP BY 1, 2)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(err) AS BIGINT) AS err_sum
       |FROM perid GROUP BY cell""".stripMargin

  /** The PQ drift meter's replay: the sampled codebook and both PQ
    * Lloyd rounds exactly as the trained-ADC chain derives them, then
    * the per-subspace encode (min int64 d2, ties to the smaller code —
    * the `pa` CTE shape) with the winning distance KEPT, summed per
    * (subspace, code).
    */
  private val annDriftPqSql =
    s"""WITH e AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS q
       |  FROM embeddings WHERE vec_id < 500),
       |js AS (SELECT j FROM unnest(range(0, 4)) u(j)),
       |cb AS (SELECT e.id AS code, js.j, e.q[js.j*16+1 : js.j*16+16] AS cq
       |  FROM e, js WHERE e.id < 16),
       |${pqRoundSql(1)},
       |${pqRoundSql(2)},
       |enc AS (SELECT id, j, code, d2 FROM (
       |  SELECT e.id, cb.j, cb.code,
       |    CAST(list_sum(list_transform(range(1, 17),
       |      i -> (e.q[cb.j*16+i] - cb.cq[i]) * (e.q[cb.j*16+i] - cb.cq[i])))
       |      AS BIGINT) AS d2,
       |    row_number() OVER (PARTITION BY e.id, cb.j ORDER BY
       |      CAST(list_sum(list_transform(range(1, 17),
       |        i -> (e.q[cb.j*16+i] - cb.cq[i]) * (e.q[cb.j*16+i] - cb.cq[i])))
       |        AS BIGINT), cb.code) AS rr
       |  FROM e, pcb2 cb) WHERE rr = 1)
       |SELECT j, code, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(d2) AS BIGINT) AS err_sum
       |FROM enc GROUP BY j, code""".stripMargin

  /** The integer BM25 oracle — rational idf, k1/b as exact ratios,
    * HUGEINT products (see [[graft.ops.TextOps.bm25]]).
    */
  private val bm25Sql =
    s"""WITH t AS (SELECT doc_id,
       |    list_filter($toksSql, x -> x <> '') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len FROM t),
       |stats AS (SELECT count(*) AS n, sum(len) AS tot FROM lens),
       |tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(toks) AS tok FROM t)
       |  WHERE tok IN ('data', 'query', 'table') GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id,
       |    (CAST(2 * (s.n - d.df) + 1 AS HUGEINT) * 1000 * 22
       |      * tf.tf * s.tot) //
       |    (CAST(2 * d.df + 1 AS HUGEINT)
       |      * (CAST(10 AS HUGEINT) * s.tot * tf.tf
       |         + CAST(3 AS HUGEINT) * s.tot
       |         + CAST(9 AS HUGEINT) * l.len * s.n)) AS m
       |  FROM tf JOIN dft d USING (term)
       |  JOIN lens l ON l.doc_id = tf.doc_id, stats s)
       |SELECT doc_id, CAST(sum(m) AS BIGINT) AS score_milli
       |FROM sc GROUP BY doc_id
       |ORDER BY score_milli DESC, doc_id LIMIT 20""".stripMargin

  /** The ONE hybrid-RRF oracle, shared by `ret_hybrid` and
    * `ret_hybrid_store` (the scan and served forms are defined
    * bit-identical; see [[hybridRrf]]).
    */
  private val retHybridStoreSql =
    s"""WITH bm AS ($bm25Sql),
       |lex AS (SELECT doc_id,
       |  CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id)
       |    AS BIGINT) AS lrank FROM bm),
       |e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |scored AS (SELECT c.vec_id AS doc_id,
       |    round(list_dot_product(q.v, c.v) /
       |      (sqrt(list_dot_product(q.v, q.v)) *
       |       sqrt(list_dot_product(c.v, c.v))), 6) AS cos
       |  FROM (SELECT * FROM e WHERE vec_id = 0) q
       |  JOIN e c ON c.vec_id <> q.vec_id),
       |dense AS (SELECT doc_id, drank FROM (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
       |    AS BIGINT) AS drank FROM scored) WHERE drank <= 20),
       |fused AS (SELECT coalesce(l.doc_id, dn.doc_id) AS doc_id,
       |    coalesce(1000000 // (60 + l.lrank), 0)
       |      + coalesce(1000000 // (60 + dn.drank), 0) AS rrf_milli
       |  FROM lex l FULL OUTER JOIN dense dn ON l.doc_id = dn.doc_id)
       |SELECT doc_id, rrf_milli FROM fused
       |ORDER BY rrf_milli DESC, doc_id LIMIT 10""".stripMargin

  /** The k BPE training layers as CTEs over `w0 (f, c)`: each layer is
    * one weighted adjacent-pair count over the current fence-string
    * symbolization, the (count DESC, l, r) argmax `b_i`, and the fence
    * rewrite `w_{i+1}` — the exact [[graft.functions.Bpe.train]] loop
    * in SQL. ONE definition shared by the train gate's oracle and the
    * trained-encoder gate's, so the two cannot replay different
    * training semantics.
    */
  private def bpeLayersSql(k: Int): String =
    (0 until k).map { i =>
      s"""p$i AS (SELECT l, r, sum(c) AS pc FROM (
         |  SELECT syms[CAST(j AS INT)] AS l, syms[CAST(j + 1 AS INT)] AS r, c
         |  FROM (SELECT list_filter(string_split_regex(f, '\\|+'),
         |      x -> x <> '') AS syms, c FROM w$i),
         |    unnest(range(1, len(syms))) u(j))
         |  GROUP BY 1, 2),
         |b$i AS (SELECT l, r FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
         |w${i + 1} AS (SELECT replace(f, '|' || b.l || '||' || b.r || '|',
         |    '|' || b.l || b.r || '|') AS f, c FROM w$i, b$i b)""".stripMargin
    }.mkString(",\n")

  /** The corpus word-frequency head the layers iterate on — `wf (w, c)`
    * and its fence symbolization `w0 (f, c)`.
    */
  private val bpeTrainHeadSql: String =
    s"""wf AS (SELECT w, count(*) AS c FROM (
       |  SELECT unnest(${graft.functions.Bpe.wordsSql("text")}) AS w
       |  FROM documents WHERE text IS NOT NULL) WHERE w <> '' GROUP BY w),
       |w0 AS (SELECT rtrim('|' || regexp_replace(w, '(.)', '\\1||', 'g'),
       |    '|') || '|' AS f, c FROM wf)""".stripMargin

  /** The BPE-training oracle: 8 unrolled layers, ranks unioned out. */
  private val bpeTrainSql: String = {
    val ranks = (0 until 8)
      .map(i => s"SELECT CAST($i AS BIGINT) AS rank, l, r FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainHeadSql,
       |${bpeLayersSql(8)}
       |$ranks""".stripMargin
  }

  /** The trained-encoder oracle: re-derive the 8-merge table (same
    * layers as [[bpeTrainSql]]), then tokenize the doc window with the
    * rules STRAIGHT OUT of the training CTEs
    * ([[graft.functions.Bpe.tokensSqlExprRules]] over `b0..b7`) — the
    * oracle never sees an engine-exported table, it replays
    * train→encode end to end.
    */
  private val bpeTrainedSql: String = {
    val rules = (0 until 8).map(i => (s"b$i.l", s"b$i.r"))
    val bTables = (0 until 8).map(i => s"b$i").mkString(", ")
    s"""WITH $bpeTrainHeadSql,
       |${bpeLayersSql(8)},
       |dt AS (SELECT doc_id,
       |    ${graft.functions.Bpe.tokensSqlExprRules("text", rules)} AS toks
       |  FROM documents, $bTables
       |  WHERE text IS NOT NULL AND doc_id < 200)
       |SELECT doc_id, p AS pos, toks[CAST(p + 1 AS INT)] AS token
       |FROM dt, unnest(range(0, len(toks))) r(p)""".stripMargin
  }

  /** The decimal-log histogram oracle: replays the binning digit for
    * digit ([[graft.ops.SketchOps.histBinSql]]), the cumulative walk,
    * and the shared integer rank rule.
    */
  private val histQuantileSql =
    s"""WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents
       |  WHERE n_chars IS NOT NULL),
       |h AS (SELECT ${SketchOps.histBinSql("v")} AS bin, count(*) AS cnt
       |  FROM v GROUP BY 1),
       |c AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM h),
       |n AS (SELECT max(cum) AS n FROM c),
       |p(p) AS (VALUES (1),(50),(90),(99),(100)),
       |r AS (SELECT p,
       |  greatest(1, (CAST(p AS BIGINT) * n.n + 99) // 100) AS rank
       |  FROM p, n)
       |SELECT r.p, CAST(r.rank AS BIGINT) AS rank,
       |  CAST(min(c.bin) AS BIGINT) AS est
       |FROM r JOIN c ON c.cum >= r.rank GROUP BY r.p, r.rank""".stripMargin

  /** Shared nearest-cell ranking fragment for the semantic-dedup
    * oracles: the vec_id<300 corpus scored against the vec_id<8
    * centroids with the (cosine DESC, cid) tie rule — `ranked` is
    * filtered by r for primary (r = 1) vs probed (r <= nprobe) views,
    * the exact [[VectorOps.assignCells]] semantics.
    */
  private val embCellsSql =
    """e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
      |  FROM embeddings WHERE vec_id < 300),
      |c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv
      |  FROM embeddings WHERE vec_id < 8),
      |ranked AS (SELECT e.id, e.v, c.cid,
      |    row_number() OVER (PARTITION BY e.id ORDER BY
      |      list_dot_product(e.v, c.cv) /
      |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |      DESC, c.cid) AS r
      |  FROM e, c)""".stripMargin

  /** Shared oracle fragments for the dedup-clustering family:
    * LSH candidate graph on doc_id < 100, min-reachable-id connected
    * components over a pair CTE (the oracle for what the engine computes
    * by min-label pointer doubling), quality scores.
    */
  private val candSql =
    s"""t AS (SELECT doc_id, list_distinct($toksSql) AS toks
       |  FROM documents WHERE doc_id < 100),
       |mh AS (SELECT doc_id, list_transform(range(0, 8),
       |    s -> list_min(list_transform(toks, w -> md5(s::VARCHAR || ':' || w)))) AS sig
       |  FROM t),
       |bands AS (SELECT doc_id, b, md5(sig[2*b+1] || sig[2*b+2]) AS bk
       |  FROM mh, unnest(range(0, 4)) u(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.bk = y.bk AND x.b = y.b AND x.doc_id < y.doc_id)""".stripMargin

  private def ccFrom(pairs: String): String =
    s"""sym AS (SELECT a AS u, b AS v FROM $pairs
       |  UNION ALL SELECT b, a FROM $pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM t
       |  UNION
       |  SELECT sy.u, reach.r FROM sym sy JOIN reach ON reach.id = sy.v),
       |cl AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)""".stripMargin

  private val qualitySql =
    s"""qb AS (SELECT doc_id, text, $toksSql AS toks,
       |  length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
       |  len(list_filter($toksSql, t -> t IN
       |    ('the','and','of','to','a','el','la','de','los','que',
       |     'der','die','und','das','ist','le','les','des','et','une'))) AS stops
       |  FROM documents WHERE doc_id < 100),
       |q AS (SELECT doc_id,
       |  floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.5
       |    + (1.0 - punct::DOUBLE / length(text)) * 0.3
       |    + (stops::DOUBLE / len(toks)) * 0.2) * 10000.0) / 10000.0 AS score
       |  FROM qb)""".stripMargin

  private val ccSql = s"$candSql,\n${ccFrom("cand")}"

  /** KMV distinct-count oracle — shared by `sk_distinct_kmv` (in-query
    * aggregation) and `sk_kmv_store` (estimate read from persisted state).
    */
  private val kmvDistinctSql =
    """WITH h AS (SELECT DISTINCT l_returnflag AS key,
      |  CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
      |    AS BIGINT) AS h
      |  FROM lineitem),
      |r AS (SELECT key, h,
      |  row_number() OVER (PARTITION BY key ORDER BY h) AS rn,
      |  count(*) OVER (PARTITION BY key) AS nd FROM h)
      |SELECT key AS l_returnflag,
      |  CAST(max(nd) AS BIGINT) AS n_exact,
      |  CASE WHEN max(nd) < 64 THEN max(nd)::DOUBLE
      |    ELSE 63.0 * 1152921504606846976.0 /
      |      max(CASE WHEN rn = 64 THEN h END)::DOUBLE
      |  END AS est_distinct
      |FROM r GROUP BY key""".stripMargin

  /** Count-min heavy-hitter oracle — shared by `sk_heavy_cm` (fresh
    * sketch) and `sk_cm_store` (persisted counters probed after reload).
    */
  private val cmHeavySql =
    s"""WITH t AS (SELECT unnest($toksSql) AS item
       |  FROM documents WHERE doc_id < 200),
       |rs AS (SELECT r FROM unnest(range(0, 3)) u(r)),
       |cx AS (SELECT item, r,
       |    CAST(concat('0x', substr(md5(r::VARCHAR || ':' || item), 1, 15))
       |      AS BIGINT) % 32 AS bucket
       |  FROM t, rs),
       |counters AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM cx GROUP BY 1, 2),
       |probes AS (SELECT DISTINCT item FROM t),
       |pe AS (SELECT p.item, rs.r,
       |    CAST(concat('0x', substr(md5(rs.r::VARCHAR || ':' || p.item), 1, 15))
       |      AS BIGINT) % 32 AS bucket
       |  FROM probes p, rs)
       |SELECT pe.item, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
       |FROM pe LEFT JOIN counters c ON c.r = pe.r AND c.bucket = pe.bucket
       |GROUP BY pe.item
       |HAVING min(coalesce(c.cnt, 0)) >= 60""".stripMargin

  /** The cells + quantized-corpus + sampled-codebook prefix the IVF+PQ
    * replays share (through `cb`, the sampled entries).
    */
  private val ivfPqPrefix =
    """WITH ed AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
      |  FROM embeddings WHERE vec_id < 500),
      |c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv
      |  FROM embeddings WHERE vec_id < 8),
      |corpus_cells AS (SELECT id, cid AS cell FROM (
      |  SELECT ed.id, c.cid,
      |    row_number() OVER (PARTITION BY ed.id ORDER BY
      |      list_dot_product(ed.v, c.cv) /
      |        (sqrt(list_dot_product(ed.v, ed.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |      DESC, c.cid) AS r
      |  FROM ed, c) WHERE r = 1),
      |query_cells AS (SELECT id, cid AS cell FROM (
      |  SELECT ed.id, c.cid,
      |    row_number() OVER (PARTITION BY ed.id ORDER BY
      |      list_dot_product(ed.v, c.cv) /
      |        (sqrt(list_dot_product(ed.v, ed.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |      DESC, c.cid) AS r
      |  FROM ed, c WHERE ed.id < 10) WHERE r <= 2),
      |cand AS (SELECT DISTINCT qc.id AS q_id, cc.id AS n_id
      |  FROM query_cells qc JOIN corpus_cells cc
      |    ON cc.cell = qc.cell AND cc.id <> qc.id),
      |e AS (SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS q
      |  FROM embeddings WHERE vec_id < 500),
      |js AS (SELECT j FROM unnest(range(0, 4)) u(j)),
      |cb AS (SELECT e.id AS code, js.j, e.q[js.j*16+1 : js.j*16+16] AS cq
      |  FROM e, js WHERE e.id < 16)""".stripMargin

  /** The encode → LUT → ADC tail over codebook CTE `cbn` — one text for
    * the sampled and trained chains, so "which codebook" is the ONLY
    * difference between their replays.
    */
  private def ivfPqTail(cbn: String): String =
    s"""enc0 AS (SELECT e.id, cb.j, cb.code,
       |    CAST(list_sum(list_transform(range(1, 17),
       |      i -> (e.q[cb.j*16+i] - cb.cq[i]) * (e.q[cb.j*16+i] - cb.cq[i])))
       |      AS BIGINT) AS d2
       |  FROM e, $cbn cb),
       |codes AS (SELECT id, j, code FROM (
       |  SELECT id, j, code,
       |    row_number() OVER (PARTITION BY id, j ORDER BY d2, code) AS r
       |  FROM enc0) WHERE r = 1),
       |lut AS (SELECT e.id AS q_id, cb.j, cb.code,
       |    CAST(list_sum(list_transform(range(1, 17),
       |      i -> (e.q[cb.j*16+i] - cb.cq[i]) * (e.q[cb.j*16+i] - cb.cq[i])))
       |      AS BIGINT) AS d2
       |  FROM e, $cbn cb WHERE e.id < 10),
       |adc AS (SELECT l.q_id, cd.id AS n_id, CAST(sum(l.d2) AS BIGINT) AS adc
       |  FROM cand JOIN codes cd ON cd.id = cand.n_id
       |  JOIN lut l ON l.q_id = cand.q_id AND l.j = cd.j AND l.code = cd.code
       |  GROUP BY 1, 2)""".stripMargin

  private val annIvfPqChain = ivfPqPrefix + ",\n" + ivfPqTail("cb")

  /** One integer-exact PQ Lloyd round (pcb(r-1) → pcb(r)): nearest entry
    * by int64 squared L2 (ties to the smaller code — the encoder's
    * rule), floor-division means per position, no-member entries carried
    * over. The exact replay of [[graft.ops.VectorOps.pqCodebookTrained]]
    * one round at a time; `pcb0` aliases the sampled `cb`.
    */
  private def pqRoundSql(r: Int): String = {
    val prev = if (r == 1) "cb" else s"pcb${r - 1}"
    s"""pa$r AS (SELECT id, j, code FROM (
       |  SELECT e.id, cb.j, cb.code,
       |    row_number() OVER (PARTITION BY e.id, cb.j ORDER BY
       |      CAST(list_sum(list_transform(range(1, 17),
       |        i -> (e.q[cb.j*16+i] - cb.cq[i]) * (e.q[cb.j*16+i] - cb.cq[i])))
       |        AS BIGINT), cb.code) AS rr
       |  FROM e, $prev cb) WHERE rr = 1),
       |ps$r AS (SELECT a.j, a.code, u.i,
       |    CAST(sum(e.q[CAST(a.j*16 + u.i AS INT)]) AS BIGINT) AS s,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM pa$r a JOIN e ON e.id = a.id, unnest(range(1, 17)) u(i)
       |  GROUP BY 1, 2, 3),
       |pm$r AS (SELECT j, code,
       |    list((s - ((s % n) + n) % n) // n ORDER BY i) AS cq
       |  FROM ps$r GROUP BY 1, 2),
       |pcb$r AS (SELECT cb.j, cb.code, coalesce(m.cq, cb.cq) AS cq
       |  FROM $prev cb LEFT JOIN pm$r m
       |    ON m.j = cb.j AND m.code = cb.code)""".stripMargin
  }

  /** The IVF+PQ chain with the codebook TRAINED for two integer-exact
    * Lloyd rounds before encode/LUT/ADC — everything else (cells,
    * quantization, tie rules) textually identical to the sampled chain.
    */
  private val annIvfPqTrainedChain = ivfPqPrefix + ",\n" +
    pqRoundSql(1) + ",\n" + pqRoundSql(2) + ",\n" + ivfPqTail("pcb2")

  // ONE string for the trained-codebook ADC gates: the fresh-store scan
  // (ann_pq_trained) and its compacted-generation twin share it — the
  // rewrite changes layout, never answers
  private val annPqTrainedSql =
    s"""$annIvfPqTrainedChain,
       |ranked AS (SELECT q_id, n_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id)
       |      AS BIGINT) AS rnk
       |  FROM adc)
       |SELECT q_id, n_id, rnk, adc FROM ranked WHERE rnk <= 5""".stripMargin

  private val annIvfPqSql =
    s"""$annIvfPqChain,
       |ranked AS (SELECT q_id, n_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id)
       |      AS BIGINT) AS rnk
       |  FROM adc)
       |SELECT q_id, n_id, rnk, adc FROM ranked WHERE rnk <= 5""".stripMargin

  // the two-stage replay: the ADC chain shortlists top 20 per query
  // (integer-exact, so both engines pick the identical rows), then the
  // exact pass computes the full-dimension quantized squared L2 from
  // the same floor(x·1000) vectors the codes derive from (`e.q`)
  private val annRerankSql =
    s"""$annIvfPqChain,
       |short AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS r
       |  FROM adc) WHERE r <= 20),
       |ex AS (SELECT s.q_id, s.n_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> (eq.q[i] - ev.q[i]) * (eq.q[i] - ev.q[i])))
       |      AS BIGINT) AS d2
       |  FROM short s
       |  JOIN e eq ON eq.id = s.q_id
       |  JOIN e ev ON ev.id = s.n_id)
       |SELECT q_id, n_id, rnk, d2 FROM (
       |  SELECT q_id, n_id, d2,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id)
       |      AS BIGINT) AS rnk
       |  FROM ex) WHERE rnk <= 5""".stripMargin

  // the budget recipe rendered as a VALUES table — derived from the
  // SAME Seq the Spark gates broadcast, so recipe and oracle cannot
  // drift; the CTE chain replays tokenBudgetSample's whole bucket
  // algebra and ends at `kept (doc_id, source, ntok)`. d and cl are
  // MATERIALIZED (each is referenced twice — the DuckDB inline rule).
  // Parameterized over (recipe, input FROM clause, token expression,
  // salt) so the pipeline composite can replay the SAME algebra over a
  // derived corpus (quality-gated + stripped) — one definition of the
  // bucket classification, every budget oracle shares it.
  private def budgetKeptCtesFor(recipe: Seq[(String, Long)],
      fromSql: String, ntokSql: String, salt: String): String = {
    val values = recipe
      .map { case (src, b) => s"('$src', $b)" }.mkString(", ")
    s"""bud AS (SELECT * FROM (VALUES $values) AS t(source, budget_tok)),
       |d AS MATERIALIZED (SELECT doc_id, source,
       |    CAST($ntokSql AS BIGINT) AS ntok,
       |    md5('$salt:' || doc_id::VARCHAR) AS h,
       |    CAST(concat('0x', substr(md5('$salt:' || doc_id::VARCHAR), 1, 4))
       |      AS BIGINT) AS b
       |  FROM $fromSql),
       |bs AS (SELECT source, b, sum(ntok) AS m FROM d GROUP BY 1, 2),
       |cl AS MATERIALIZED (SELECT bs.source, bs.b, bs.m,
       |    coalesce(sum(bs.m) OVER (PARTITION BY bs.source ORDER BY bs.b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS prior,
       |    bud.budget_tok AS budget
       |  FROM bs JOIN bud USING (source)),
       |k1 AS (SELECT d.* FROM d JOIN cl USING (source, b)
       |  WHERE cl.prior + cl.m < cl.budget),
       |bdocs AS (SELECT d.*, cl.prior, cl.budget
       |  FROM d JOIN cl USING (source, b)
       |  WHERE cl.prior < cl.budget AND cl.prior + cl.m >= cl.budget),
       |k2 AS (SELECT * FROM (SELECT bdocs.*,
       |    prior + coalesce(sum(ntok) OVER (PARTITION BY source
       |      ORDER BY h, doc_id::VARCHAR
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
       |  FROM bdocs) WHERE bef < budget),
       |kept AS (SELECT doc_id, source, ntok FROM k1
       |  UNION ALL SELECT doc_id, source, ntok FROM k2)""".stripMargin
  }

  private val budgetKeptCtes: String = budgetKeptCtesFor(budgetRecipe,
    "documents WHERE doc_id IS NOT NULL", s"len($toksSql)", "tb1")

  private val mixClusterBudgetSql: String = {
      val cellsFrom =
        s"""cbe AS (SELECT d.doc_id,
           |    list_transform(e.embedding, x -> x::DOUBLE) AS v
           |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
           |  WHERE d.text IS NOT NULL),
           |cbc AS (SELECT vec_id AS cid,
           |    list_transform(embedding, x -> x::DOUBLE) AS cv
           |  FROM embeddings WHERE vec_id < 4),
           |cbcells AS (SELECT doc_id, 'c' || cid::VARCHAR AS source FROM (
           |  SELECT cbe.doc_id, cbc.cid,
           |    row_number() OVER (PARTITION BY cbe.doc_id ORDER BY
           |      list_dot_product(cbe.v, cbc.cv) /
           |        (sqrt(list_dot_product(cbe.v, cbe.v)) *
           |         sqrt(list_dot_product(cbc.cv, cbc.cv)))
           |      DESC, cbc.cid) AS r
           |  FROM cbe, cbc) WHERE r = 1)""".stripMargin
      s"""WITH $cellsFrom,
         |${budgetKeptCtesFor(clusterRecipe,
              "(SELECT d2.doc_id, cbcells.source, d2.text " +
                "FROM cbcells JOIN documents d2 USING (doc_id)) t",
              s"len($toksSql)", "cb1")}
         |SELECT doc_id, source AS cell FROM kept""".stripMargin
  }

  /** `mix_cluster_budget` with the strata ACTUALLY learned: two full
    * Lloyd rounds over the doc-joined embedding corpus refine the four
    * seeds before routing — the same budget algebra over `kc2`'s cells
    * instead of the raw seeds'.
    */
  private val mixClusterBudgetTrainedSql: String = {
      val cellsFrom =
        s"""cbe AS (SELECT d.doc_id,
           |    list_transform(e.embedding, x -> x::DOUBLE) AS v
           |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
           |  WHERE d.text IS NOT NULL),
           |cbc AS (SELECT vec_id AS cid,
           |    list_transform(embedding, x -> x::DOUBLE) AS cv
           |  FROM embeddings WHERE vec_id < 4),
           |ce AS (SELECT doc_id AS id, v FROM cbe),
           |${lloydRoundSql(1, "ce", "cbc", "k")},
           |${lloydRoundSql(2, "ce", "cbc", "k")},
           |cbcells AS (SELECT doc_id, 'c' || cid::VARCHAR AS source FROM (
           |  SELECT cbe.doc_id, cbc.cid,
           |    row_number() OVER (PARTITION BY cbe.doc_id ORDER BY
           |      list_dot_product(cbe.v, cbc.cv) /
           |        (sqrt(list_dot_product(cbe.v, cbe.v)) *
           |         sqrt(list_dot_product(cbc.cv, cbc.cv)))
           |      DESC, cbc.cid) AS r
           |  FROM cbe, kc2 cbc) WHERE r = 1)""".stripMargin
      s"""WITH $cellsFrom,
         |${budgetKeptCtesFor(clusterRecipe,
              "(SELECT d2.doc_id, cbcells.source, d2.text " +
                "FROM cbcells JOIN documents d2 USING (doc_id)) t",
              s"len($toksSql)", "cb1")}
         |SELECT doc_id, source AS cell FROM kept""".stripMargin
  }

  // the WHOLE pretraining-pipeline replay as one CTE chain, shared by
  // the pipe_pretrain oracle (FFD fold appended), shared verbatim by
  // pipe_replay (the replay is defined bit-identical to the delivery),
  // and the funnel-stats
  // oracle (stage-boundary aggregates): LR training unrolled and the
  // batch scored with the just-derived weights (the txt_lr_store
  // discipline); the strip's global keep-first rule over history∪batch
  // restricted to batch docs (the dd_dup_strip/dd_dup_store shape —
  // history ids precede batch ids, so the store probe equals the
  // one-shot); the budget bucket algebra over the re-derived clean
  // text with REAL BPE counts, ending at `kept (doc_id, source, ntok)`
  private def pipePretrainCtesWith(extraHistorySql: String,
      recipe: Seq[(String, Long)] = pipeRecipe): String = {
    val (lrCtes, wLast) = graft.ops.LinearModel.trainCtesSql(
      lrFeatSqls, lrLabelSql, iters = 8, lrShift = 4)
    val z = lrFeatSqls.zipWithIndex
      .map { case (e, i) => s"($e) * wt.c$i" }.mkString(" + ")
    s"""f AS (SELECT n_chars, $toksSql AS w FROM documents
       |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
       |$lrCtes,
       |pfd AS (SELECT doc_id, text, $toksSql AS w FROM documents
       |  WHERE text IS NOT NULL AND doc_id >= 250 AND doc_id < 500),
       |pq AS MATERIALIZED (SELECT pfd.doc_id, pfd.text
       |  FROM pfd, $wLast wt, sigt
       |  WHERE ${graft.ops.LinearModel.sigmoidFpSql(z)} >= $pipeKeepFp),
       |psu AS (SELECT doc_id, text FROM documents
       |  WHERE text IS NOT NULL AND doc_id < 250
       |  $extraHistorySql
       |  UNION ALL SELECT doc_id, text FROM pq),
       |pst AS MATERIALIZED (SELECT doc_id, $toksSql AS toks FROM psu),
       |psw AS (SELECT doc_id, CAST(p AS BIGINT) AS i,
       |    md5(array_to_string(toks[p+1:p+4], ' ')) AS h
       |  FROM pst, unnest(range(0, len(toks) - 4 + 1)) u(p)),
       |psr AS (SELECT doc_id, i,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn,
       |    count(*) OVER (PARTITION BY h) AS cnt FROM psw),
       |prem AS (SELECT DISTINCT doc_id, i + u.kk AS idx
       |  FROM psr, unnest(range(0, 4)) u(kk) WHERE cnt >= 2 AND rn > 1),
       |ptok AS (SELECT doc_id, CAST(p AS BIGINT) AS idx,
       |    toks[p+1] AS tok
       |  FROM pst, unnest(range(0, len(toks))) u(p)
       |  WHERE doc_id >= 250),
       |pkp AS (SELECT ptok.doc_id, ptok.idx, ptok.tok FROM ptok
       |  LEFT JOIN prem
       |    ON ptok.doc_id = prem.doc_id AND ptok.idx = prem.idx
       |  WHERE prem.idx IS NULL),
       |pclean AS MATERIALIZED (SELECT pst.doc_id,
       |    coalesce(string_agg(pkp.tok, ' ' ORDER BY pkp.idx), '')
       |      AS clean_text
       |  FROM pst LEFT JOIN pkp ON pst.doc_id = pkp.doc_id
       |  WHERE pst.doc_id >= 250 GROUP BY pst.doc_id),
       |${budgetKeptCtesFor(recipe,
            "pclean JOIN documents USING (doc_id)",
            s"len(${graft.functions.Bpe.tokensSql("clean_text")})",
            "pp1")}""".stripMargin
  }

  private lazy val pipePretrainCtes: String = pipePretrainCtesWith("")

  // the full pipe_pretrain replay (chained CTEs + the FFD fold) — ONE
  // string, shared verbatim with pipe_replay: the replay gate must be
  // bit-identical to the delivery it reproduces
  private lazy val pipePretrainOracle: String = packFfdSql(
    "SELECT doc_id, shard, bin, bin_off FROM ffd " +
      "WHERE doc_id IS NOT NULL",
    nTokSql = "ntok", fromSql = "kept",
    prefixCtes = pipePretrainCtes + ",\n")

  // the requalification replay: the SAME pipe chain twice — the plain
  // history (the delivered kept set) and the history with the evidence
  // rows folded in (the corrected kept set) — then the two-way doc
  // diff. Each chain lives in its own nested WITH scope, so the shared
  // CTE names never collide; the evidence SQL mirrors the fixture's
  // frame exactly (the requalEvid* constants, re-keyed below every
  // history id).
  private lazy val pipeRequalifySql: String = {
    val evidenceSql =
      s"""UNION ALL SELECT -1000 - doc_id AS doc_id,
         |    substr(text, 1, $requalEvidLen) AS text FROM documents
         |    WHERE text IS NOT NULL AND doc_id >= ${requalEvidIds._1}
         |    AND doc_id < ${requalEvidIds._2}
         |    AND n_chars > $requalEvidLen
         |    AND source IN (${requalEvidSources
               .map(x => s"'$x'").mkString(", ")})""".stripMargin
    requalDiffSql(pipePretrainCtesWith(""),
      pipePretrainCtesWith(evidenceSql))
  }

  /** The two-oracle scaffold, ONCE (the Spark-side twin is
    * [[requalDiff]]): each chain in its own nested WITH scope so the
    * shared CTE names never collide, then the mirrored dropped/added
    * EXCEPT diff.
    */
  private def requalDiffSql(origCtes: String, reqCtes: String): String =
    s"""WITH orig AS (WITH $origCtes
       |  SELECT doc_id FROM kept),
       |req AS (WITH $reqCtes
       |  SELECT doc_id FROM kept)
       |SELECT doc_id, 'dropped' AS status FROM
       |  (SELECT doc_id FROM orig EXCEPT SELECT doc_id FROM req)
       |UNION ALL
       |SELECT doc_id, 'added' AS status FROM
       |  (SELECT doc_id FROM req EXCEPT SELECT doc_id FROM orig)"""
      .stripMargin

  // the budget-cut requalification: the same pipe chain under the
  // delivered recipe and under the cut recipe, kept sets diffed both
  // ways (the `added` side is provably empty — budgets only shrank —
  // and the hash check proves it stays so)
  private lazy val pipeRequalifyBudgetSql: String =
    requalDiffSql(pipePretrainCtesWith(""),
      pipePretrainCtesWith("", requalCutRecipe))

  // the audit-view replay — ONE string for the scan and store-served
  // budget gates (the store changes where the masses come from, never
  // the classification)
  private val smpBudgetSql: String =
    s"""WITH $budgetKeptCtes
       |SELECT bud.source, CAST(bud.budget_tok AS BIGINT) AS budget_tok,
       |  CAST(coalesce(t.tok_total, 0) AS BIGINT) AS tok_total,
       |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(coalesce(k.tok_kept, 0) AS BIGINT) AS tok_kept
       |FROM bud
       |LEFT JOIN (SELECT source, sum(ntok) AS tok_total FROM d
       |  GROUP BY 1) t USING (source)
       |LEFT JOIN (SELECT source, count(*) AS n_kept,
       |    sum(ntok) AS tok_kept FROM kept GROUP BY 1) k
       |  USING (source)""".stripMargin

  // the id-encoded corpus replay: same tokenizer, same (count DESC,
  // token) vocabulary ids, doc window re-encoded through them. ONE
  // string for the scan and store-served gates.
  private val txtBpeIdsSql: String =
    s"""WITH tk AS (SELECT unnest(${graft.functions.Bpe.tokensSql("text")})
       |    AS token
       |  FROM documents WHERE text IS NOT NULL),
       |v AS (SELECT token, count(*) AS c FROM tk GROUP BY 1),
       |vid AS (SELECT token,
       |    CAST(row_number() OVER (ORDER BY c DESC, token) - 1
       |      AS BIGINT) AS id
       |  FROM v),
       |dt AS (SELECT doc_id,
       |    ${graft.functions.Bpe.tokensSql("text")} AS toks
       |  FROM documents WHERE text IS NOT NULL AND doc_id < 100),
       |enc AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
       |    toks[CAST(p + 1 AS INT)] AS token
       |  FROM dt, unnest(range(0, len(toks))) r(p))
       |SELECT enc.doc_id, enc.pos, vid.id AS tok_id
       |FROM enc JOIN vid USING (token)""".stripMargin

  // the tokenizer drift replay: the ≤250 vocabulary re-derived from
  // raw text (same (count DESC, token) id order), the ≥250 batch
  // re-tokenized, per-id occupancy + covered characters with the OOV
  // mass on id −1. ONE string for the scan meter and the DriftStore
  // fold (the store changes accumulation, never the statistic).
  private val txtBpeDriftSql: String =
    s"""WITH tk AS (SELECT unnest(${graft.functions.Bpe.tokensSql("text")})
       |    AS token
       |  FROM documents WHERE text IS NOT NULL AND doc_id < 250),
       |v AS (SELECT token, count(*) AS c FROM tk GROUP BY 1),
       |vid AS (SELECT token,
       |    CAST(row_number() OVER (ORDER BY c DESC, token) - 1
       |      AS BIGINT) AS id
       |  FROM v),
       |bt AS (SELECT unnest(${graft.functions.Bpe.tokensSql("text")})
       |    AS token
       |  FROM documents WHERE text IS NOT NULL AND doc_id >= 250)
       |SELECT coalesce(vid.id, -1) AS tok_id,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(len(bt.token)) AS BIGINT) AS err_sum
       |FROM bt LEFT JOIN vid USING (token) GROUP BY 1""".stripMargin

  // the LM drift replay: train on <250, score ≥250 through the full
  // backoff chain (the lm_score_tri CTEs, nested so the per-doc scores
  // can fold by source), per-source token and micronat sums. Shared by
  // the scan meter and its DriftStore fold.
  private lazy val lmDriftSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS t
       |  FROM documents WHERE text IS NOT NULL AND doc_id >= 250),
       |tr AS (SELECT $toksSql AS t
       |  FROM documents WHERE text IS NOT NULL AND doc_id < 250),
       |sc AS (WITH ${graft.ops.LmOps.scoreTrigramOracleSql()})
       |SELECT d.source, CAST(sum(sc.n_tokens) AS BIGINT) AS n,
       |  CAST(sum(sc.cost_micronats) AS BIGINT) AS err_sum
       |FROM sc JOIN documents d USING (doc_id) GROUP BY 1""".stripMargin

  // the quality-model drift replay: retrain the 8-iteration GD loop in
  // unrolled SQL, score the ≥250 batch with the just-derived weights,
  // histogram by 4096-wide fixed-point bucket. Shared by the scan
  // meter and its DriftStore fold.
  private lazy val txtLrDriftSql: String = {
    val (ctes, wLast) = graft.ops.LinearModel.trainCtesSql(
      lrFeatSqls, lrLabelSql, iters = 8, lrShift = 4)
    // weight alias is `wt`, never `w` — fd carries a token-list
    // column named w the feature expressions reference
    val z = lrFeatSqls.zipWithIndex
      .map { case (e, i) => s"($e) * wt.c$i" }.mkString(" + ")
    s"""WITH f AS (SELECT n_chars, $toksSql AS w FROM documents
       |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
       |$ctes,
       |fd AS (SELECT doc_id, n_chars, $toksSql AS w FROM documents
       |  WHERE text IS NOT NULL AND doc_id >= 250),
       |sc AS (SELECT fd.doc_id,
       |    CAST(${graft.ops.LinearModel.sigmoidFpSql(z)} AS BIGINT)
       |      AS score_fp
       |  FROM fd, $wLast wt, sigt)
       |SELECT CAST(score_fp // 4096 AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(score_fp) AS BIGINT) AS err_sum
       |FROM sc GROUP BY 1""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "dd_source_stats" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct
        |FROM documents GROUP BY source""".stripMargin,
    "dd_fingerprint" ->
      s"""WITH f AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
         |  FROM documents)
         |SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_id
         |FROM f GROUP BY fp HAVING count(*) > 1""".stripMargin,
    "dd_minhash_lsh" -> minhashLshSql,
    // the store fold is bit-equal to the one-shot banding by protocol
    // (every pair emitted once, by its later member's batch) — one oracle
    "dd_lsh_store" -> minhashLshSql,
    "dd_jaccard" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($toksSql) AS toks
         |  FROM documents WHERE doc_id < 100),
         |ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |sz AS (SELECT doc_id, len(toks) AS n FROM t),
         |p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |  FROM ex x JOIN ex y ON x.tok = y.tok AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b,
         |  floor(inter::DOUBLE / (xa.n + xb.n - inter) * 10000.0) / 10000.0 AS jaccard
         |FROM p JOIN sz xa ON xa.doc_id = a JOIN sz xb ON xb.doc_id = b
         |WHERE floor(inter::DOUBLE / (xa.n + xb.n - inter) * 10000.0) / 10000.0 >= 0.5""".stripMargin,
    // the prefix join is EXACT, so its oracle is the brute-force pairwise
    // truth over the same 3-shingle sets — any candidate-filtering bug
    // (dropped true pair) hash-mismatches here
    "dd_prefix_join" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w
         |  FROM documents WHERE text IS NOT NULL),
         |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
         |    list_distinct(list_transform(range(0, len(w) - 2),
         |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
         |    ELSE [] END AS toks FROM t),
         |ex AS (SELECT doc_id, unnest(toks) AS tok FROM sh),
         |sz AS (SELECT doc_id, len(toks) AS n FROM sh),
         |p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |  FROM ex x JOIN ex y ON x.tok = y.tok AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b,
         |  floor(inter::DOUBLE / (xa.n + xb.n - inter) * 10000.0) / 10000.0 AS jaccard
         |FROM p JOIN sz xa ON xa.doc_id = a JOIN sz xb ON xb.doc_id = b
         |WHERE floor(inter::DOUBLE / (xa.n + xb.n - inter) * 10000.0) / 10000.0 >= 0.5""".stripMargin,
    "dd_lsh_verified" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($toksSql) AS toks
         |  FROM documents WHERE doc_id < 100),
         |mh AS (SELECT doc_id, list_transform(range(0, 8),
         |    s -> list_min(list_transform(toks, w -> md5(s::VARCHAR || ':' || w)))) AS sig
         |  FROM t),
         |bands AS (SELECT doc_id, b, md5(sig[2*b+1] || sig[2*b+2]) AS bk
         |  FROM mh, unnest(range(0, 4)) u(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.bk = y.bk AND x.b = y.b AND x.doc_id < y.doc_id),
         |j AS (SELECT c.a, c.b,
         |    len(list_intersect(ta.toks, tb.toks)) AS inter,
         |    len(ta.toks) AS na, len(tb.toks) AS nb
         |  FROM cand c JOIN t ta ON ta.doc_id = c.a JOIN t tb ON tb.doc_id = c.b)
         |SELECT a, b,
         |  floor(inter::DOUBLE / (na + nb - inter) * 10000.0) / 10000.0 AS jaccard
         |FROM j
         |WHERE floor(inter::DOUBLE / (na + nb - inter) * 10000.0) / 10000.0 >= 0.5""".stripMargin,
    "dd_cluster" ->
      s"""WITH RECURSIVE
         |$ccSql
         |SELECT doc_id, component FROM cl""".stripMargin,
    "dd_canonical" ->
      s"""WITH RECURSIVE
         |$ccSql,
         |$qualitySql,
         |rk AS (SELECT cl.component, cl.doc_id, q.score,
         |    row_number() OVER (PARTITION BY cl.component
         |      ORDER BY q.score DESC, cl.doc_id) AS rk,
         |    count(*) OVER (PARTITION BY cl.component) AS n_docs
         |  FROM cl JOIN q USING (doc_id))
         |SELECT component, n_docs, doc_id AS keep_id, score AS keep_score
         |FROM rk WHERE rk = 1""".stripMargin,
    "dd_pipeline" ->
      s"""WITH RECURSIVE
         |$candSql,
         |jv AS (SELECT c.a, c.b,
         |    len(list_intersect(ta.toks, tb.toks)) AS inter,
         |    len(ta.toks) AS na, len(tb.toks) AS nb
         |  FROM cand c JOIN t ta ON ta.doc_id = c.a JOIN t tb ON tb.doc_id = c.b),
         |ver AS (SELECT a, b FROM jv
         |  WHERE floor(inter::DOUBLE / (na + nb - inter) * 10000.0) / 10000.0 >= 0.5),
         |${ccFrom("ver")},
         |$qualitySql,
         |canon AS (SELECT component, doc_id AS keep_id FROM (
         |    SELECT cl.component, cl.doc_id,
         |      row_number() OVER (PARTITION BY cl.component
         |        ORDER BY q.score DESC, cl.doc_id) AS rk
         |    FROM cl JOIN q USING (doc_id)) WHERE rk = 1)
         |SELECT cl.doc_id, cl.component, cl.doc_id = canon.keep_id AS keep
         |FROM cl JOIN canon USING (component)""".stripMargin,
    "ann_lsh" ->
      """WITH e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings WHERE vec_id < 300),
        |planes AS (SELECT i, list_transform(range(0, 64), d ->
        |    CASE WHEN substr(md5('graft:' || i::VARCHAR || ':' || d::VARCHAR), 2, 1)
        |      IN ('1','3','5','7','9','b','d','f') THEN -1.0 ELSE 1.0 END) AS p
        |  FROM unnest(range(0, 8)) u(i)),
        |sigs AS (SELECT e.id,
        |    string_agg(CASE WHEN list_dot_product(e.v, pl.p) >= 0
        |      THEN '1' ELSE '0' END, '' ORDER BY pl.i) AS sig
        |  FROM e, planes pl GROUP BY e.id),
        |banded AS (SELECT id, t, substr(sig, t*4 + 1, 4) AS bucket
        |  FROM sigs, unnest(range(0, 2)) u(t)),
        |cand AS (SELECT DISTINCT x.id AS a, y.id AS b FROM banded x
        |  JOIN banded y ON x.t = y.t AND x.bucket = y.bucket AND x.id < y.id),
        |sym AS (SELECT a, b FROM cand UNION ALL SELECT b AS a, a AS b FROM cand),
        |scored AS (SELECT s.a AS q_id, s.b AS n_id,
        |    round(list_dot_product(va.v, vb.v) /
        |      (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))), 6) AS cos
        |  FROM sym s JOIN e va ON va.id = s.a JOIN e vb ON vb.id = s.b),
        |ranked AS (SELECT q_id, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT q_id, n_id, rank, cos FROM ranked WHERE rank <= 5""".stripMargin,
    "ann_ivf" -> annIvfSql,
    // the store-served variant is defined to be bit-identical to ann_ivf
    // (same centroids/nprobe/tie order); what differs is the physical
    // layout, which SQL cannot see — so the oracle is shared
    "ann_store" -> annIvfSql,
    "km_step" ->
      """WITH e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings WHERE vec_id < 300),
        |c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |assign AS (SELECT id, v, cid AS cell FROM (
        |  SELECT e.id, e.v, c.cid,
        |    row_number() OVER (PARTITION BY e.id ORDER BY
        |      list_dot_product(e.v, c.cv) /
        |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
        |      DESC, c.cid) AS r
        |  FROM e, c) WHERE r = 1),
        |px AS (SELECT cell, p - 1 AS pos,
        |    CAST(floor(v[CAST(p AS INT)] * 1000000.0) AS BIGINT) AS q
        |  FROM assign, unnest(range(1, len(v) + 1)) u(p))
        |SELECT cell AS cid, CAST(pos AS BIGINT) AS pos,
        |  CAST(sum(q) AS BIGINT)::DOUBLE / (count(*)::DOUBLE * 1000000.0) AS val,
        |  count(*) AS n
        |FROM px GROUP BY 1, 2""".stripMargin,
    "dd_simhash" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok
         |  FROM documents WHERE doc_id < 50),
         |c AS (SELECT doc_id, b,
         |  CASE WHEN substr(md5(b::VARCHAR || ':' || tok), 1, 1)
         |    IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS contrib
         |  FROM t, unnest(range(0, 16)) u(b)),
         |s AS (SELECT doc_id, b, sum(contrib) AS s FROM c GROUP BY 1, 2)
         |SELECT doc_id,
         |  string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
         |FROM s GROUP BY doc_id""".stripMargin,
    "emb_neardup" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings WHERE vec_id < 200),
        |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT a, b, cos FROM p WHERE cos > 0.3""".stripMargin,
    "emb_neardup_cells" ->
      s"""WITH $embCellsSql,
         |probed AS (SELECT id, v, cid AS cell FROM ranked WHERE r <= 2),
         |prim AS (SELECT id, v, cid AS cell FROM ranked WHERE r = 1),
         |p AS (SELECT DISTINCT least(x.id, y.id) AS a,
         |    greatest(x.id, y.id) AS b,
         |    round(list_dot_product(x.v, y.v) /
         |      (sqrt(list_dot_product(x.v, x.v)) *
         |       sqrt(list_dot_product(y.v, y.v))), 6) AS cos
         |  FROM probed x JOIN prim y
         |    ON x.cell = y.cell AND x.id <> y.id)
         |SELECT a, b, cos FROM p WHERE cos > 0.3""".stripMargin,
    "dd_semantic" ->
      s"""WITH $embCellsSql,
         |cells AS (SELECT id, v, cid AS cell FROM ranked WHERE r = 1),
         |dom AS (SELECT DISTINCT y.id FROM cells x JOIN cells y
         |  ON x.cell = y.cell AND x.id < y.id
         |  WHERE round(list_dot_product(x.v, y.v) /
         |    (sqrt(list_dot_product(x.v, x.v)) *
         |     sqrt(list_dot_product(y.v, y.v))), 6) > 0.3)
         |SELECT cells.id, cells.cell,
         |  cells.id NOT IN (SELECT id FROM dom) AS keep
         |FROM cells""".stripMargin,
    "txt_bpe_train" -> bpeTrainSql,
    "txt_bpe_trained" -> bpeTrainedSql,
    // the store round-trips the TRAINED artifact; the oracle re-derives
    // the table from scratch in SQL, so scan and store forms share it
    "txt_bpe_trained_store" -> bpeTrainedSql,
    // the vocabulary replay: same tokenizer, same (count DESC, token)
    // id order — row_number both sides, ids dense from 0
    "txt_bpe_vocab" ->
      s"""WITH tk AS (SELECT unnest(${graft.functions.Bpe.tokensSql("text")})
         |    AS token
         |  FROM documents WHERE text IS NOT NULL),
         |v AS (SELECT token, count(*) AS c FROM tk GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY c DESC, token) - 1
         |    AS BIGINT) AS id,
         |  token, c FROM v""".stripMargin,
    "txt_bpe_ids" -> txtBpeIdsSql,
    // the store changes WHERE the merge table and vocabulary come from
    // (the persisted artifact), never the encoding — shares the oracle
    "txt_bpe_ids_store" -> txtBpeIdsSql,
    // the tokenizer drift meter and its DriftStore fold share one
    // replay — the store changes accumulation, never the statistic
    "txt_bpe_drift" -> txtBpeDriftSql,
    "txt_bpe_drift_store" -> txtBpeDriftSql,
    // the auto-scaled SemDeDup oracle re-derives n, k = ceil(sqrt(n)),
    // and the exact (md5(id), id)-ordered centroid set before replaying
    // the dd_semantic pipeline over it
    "dd_semantic_auto" ->
      """WITH e AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings WHERE vec_id < 300),
        |nn AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM e),
        |c AS (SELECT cid, cv FROM (SELECT id AS cid, v AS cv,
        |    row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
        |  FROM e), nn WHERE rn <= nn.k),
        |ranked AS (SELECT e.id, e.v, c.cid,
        |    row_number() OVER (PARTITION BY e.id ORDER BY
        |      list_dot_product(e.v, c.cv) /
        |        (sqrt(list_dot_product(e.v, e.v)) *
        |         sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS r
        |  FROM e, c),
        |cells AS (SELECT id, v, cid AS cell FROM ranked WHERE r = 1),
        |dom AS (SELECT DISTINCT y.id FROM cells x JOIN cells y
        |  ON x.cell = y.cell AND x.id < y.id
        |  WHERE round(list_dot_product(x.v, y.v) /
        |    (sqrt(list_dot_product(x.v, x.v)) *
        |     sqrt(list_dot_product(y.v, y.v))), 6) > 0.3)
        |SELECT cells.id, cells.cell,
        |  cells.id NOT IN (SELECT id FROM dom) AS keep
        |FROM cells""".stripMargin,
    "emb_frontier" ->
      s"""WITH $embCellsSql,
         |cells AS (SELECT id, v, cid AS cell FROM ranked WHERE r = 1),
         |hist AS (SELECT * FROM cells WHERE id < 150),
         |batch AS (SELECT * FROM cells WHERE id >= 150),
         |dup AS (SELECT DISTINCT b.id FROM batch b JOIN hist h
         |  ON b.cell = h.cell
         |  WHERE round(list_dot_product(b.v, h.v) /
         |    (sqrt(list_dot_product(b.v, b.v)) *
         |     sqrt(list_dot_product(h.v, h.v))), 6) > 0.3)
         |SELECT b.id FROM batch b
         |WHERE b.id NOT IN (SELECT id FROM dup)""".stripMargin,
    "ann_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |scored AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |  round(list_dot_product(q.v, c.v) /
        |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
        |  FROM (SELECT * FROM e WHERE vec_id < 5) q
        |  JOIN e c ON c.vec_id <> q.vec_id),
        |ranked AS (SELECT q_id, n_id, cos,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT q_id, n_id, rank, cos FROM ranked WHERE rank <= 5""".stripMargin,
    "sk_distinct_kmv" -> kmvDistinctSql,
    // the store-served KMV estimate is defined bit-identical to the
    // in-query aggregation (same inserts, same closed form) — shared oracle
    "sk_kmv_store" -> kmvDistinctSql,
    "dd_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks
         |  FROM documents WHERE doc_id < 200),
         |sp AS (SELECT doc_id, CAST((p - 1) / 3 AS BIGINT) AS k,
         |    array_to_string(toks[p:p+2], ' ') AS s
         |  FROM t, unnest(range(1, len(toks) + 1)) u(p)
         |  WHERE (p - 1) % 3 = 0),
         |hx AS (SELECT doc_id, k, s, md5(s) AS h FROM sp),
         |a1 AS (SELECT h, min(doc_id) AS md FROM hx GROUP BY 1),
         |a2 AS (SELECT hx.h, min(hx.k) AS mk FROM hx
         |  JOIN a1 ON hx.h = a1.h AND hx.doc_id = a1.md GROUP BY 1),
         |kept AS (SELECT hx.doc_id, hx.k, hx.s FROM hx
         |  JOIN a1 ON hx.h = a1.h JOIN a2 ON hx.h = a2.h
         |  WHERE hx.doc_id = a1.md AND hx.k = a2.mk),
         |nsp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
         |  FROM sp GROUP BY 1)
         |SELECT t.doc_id,
         |  coalesce(string_agg(kept.s, ' ' ORDER BY kept.k), '') AS clean_text,
         |  CAST(count(kept.s) AS BIGINT) AS n_kept,
         |  max(nsp.n_spans) - CAST(count(kept.s) AS BIGINT) AS n_dropped
         |FROM t JOIN nsp ON t.doc_id = nsp.doc_id
         |LEFT JOIN kept ON t.doc_id = kept.doc_id
         |GROUP BY t.doc_id""".stripMargin,
    // the sliding-window dedup oracles replay the full pipeline: window
    // hashes, the >=2-occurrence aggregate, and the interval-union island
    // merge (running max of preceding ends; a window extends the island
    // iff it overlaps or touches). Exact op — any dropped or mis-merged
    // span hash-mismatches here.
    "dd_dup_spans" -> dupSpansSql(
      "SELECT doc_id, span_start, span_end, span_len FROM spans"),
    // the store probe equals the one-shot spans over history∪batch
    // restricted to batch docs — any duplicate relationship counts
    // regardless of which side holds the partner site, so the one
    // relational definition covers both paths (see DupStore's scaladoc)
    "dd_dup_store" -> dupSpansSql(
      "SELECT doc_id, span_start, span_end, span_len FROM spans " +
        "WHERE doc_id >= 250",
      where = "text IS NOT NULL AND doc_id < 500"),
    // the strip oracle replays the keep-first rule (row_number over
    // (doc, pos) per hash), the coverage explode, and the reassembly —
    // exact transform, so a mis-protected or over-cut token mismatches
    "dd_dup_strip" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |w AS (SELECT doc_id, CAST(p AS BIGINT) AS i,
         |    md5(array_to_string(toks[p+1:p+4], ' ')) AS h
         |  FROM t, unnest(range(0, len(toks) - 4 + 1)) u(p)),
         |r AS (SELECT doc_id, i,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn,
         |    count(*) OVER (PARTITION BY h) AS cnt FROM w),
         |rem AS (SELECT DISTINCT doc_id, i + u.k AS idx
         |  FROM r, unnest(range(0, 4)) u(k) WHERE cnt >= 2 AND rn > 1),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
         |  FROM rem GROUP BY 1),
         |tok AS (SELECT doc_id, CAST(p AS BIGINT) AS idx, toks[p+1] AS tok
         |  FROM t, unnest(range(0, len(toks))) u(p)),
         |kept AS (SELECT tok.doc_id, tok.idx, tok.tok FROM tok
         |  LEFT JOIN rem ON tok.doc_id = rem.doc_id AND tok.idx = rem.idx
         |  WHERE rem.idx IS NULL)
         |SELECT t.doc_id,
         |  coalesce(string_agg(kept.tok, ' ' ORDER BY kept.idx), '')
         |    AS clean_text,
         |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  coalesce(max(agg.n_removed), 0)::BIGINT AS n_removed
         |FROM t
         |LEFT JOIN kept ON t.doc_id = kept.doc_id
         |LEFT JOIN agg ON t.doc_id = agg.doc_id
         |GROUP BY t.doc_id, len(t.toks)""".stripMargin,
    "dd_dup_ratio" -> dupSpansSql(
      """SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  coalesce(sum(spans.span_len), 0)::BIGINT AS dup_tokens,
        |  CASE WHEN len(t.toks) > 0 THEN floor(
        |      coalesce(sum(spans.span_len), 0)::DOUBLE / len(t.toks)
        |        * 10000.0) / 10000.0
        |    ELSE 0.0 END AS dup_ratio
        |FROM t LEFT JOIN spans ON t.doc_id = spans.doc_id
        |GROUP BY t.doc_id, len(t.toks)""".stripMargin),
    // the trained-LM oracles replay the WHOLE pipeline from raw text:
    // tokenization, both count aggregates, N, and the integer micronat
    // log of every runtime count (IntLog.lnMicroSql — same literal
    // tables as the Spark expression, so the engines cannot drift)
    "lm_score_trained" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t
         |  FROM documents WHERE text IS NOT NULL),
         |tr AS (SELECT t FROM t WHERE doc_id < 250),
         |${graft.ops.LmOps.scoreBigramOracleSql()}""".stripMargin,
    "lm_train_bi" ->
      s"""WITH tr AS (SELECT $toksSql AS t
         |  FROM documents WHERE text IS NOT NULL AND doc_id < 250)
         |${graft.ops.LmOps.biCountsSql}""".stripMargin,
    "lm_train_tri" ->
      s"""WITH tr AS (SELECT $toksSql AS t
         |  FROM documents WHERE text IS NOT NULL AND doc_id < 250)
         |${graft.ops.LmOps.triCountsSql}""".stripMargin,
    "lm_score_tri" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t
         |  FROM documents WHERE text IS NOT NULL),
         |tr AS (SELECT t FROM t WHERE doc_id < 250),
         |${graft.ops.LmOps.scoreTrigramOracleSql()}""".stripMargin,
    // the store-served scoring is DEFINED bit-identical to lm_score_tri
    // (additive counts over any batch split == the one-shot model;
    // shared tokenizer and scorer) — shared oracle, the
    // ann_store/txt_bm25_store pattern
    "lm_score_store" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS t
         |  FROM documents WHERE text IS NOT NULL),
         |tr AS (SELECT t FROM t WHERE doc_id < 250),
         |${graft.ops.LmOps.scoreTrigramOracleSql()}""".stripMargin,
    // per-source surprisal of the post-training batch under the served
    // LM — the store fold is bit-equal to the one-shot meter (additive
    // integer sums by source), ONE oracle for both
    "lm_drift" -> lmDriftSql,
    "lm_drift_store" -> lmDriftSql,
    // the store-served CM probe is defined bit-identical to the fresh
    // sketch (order-independent sums; shape from the manifest) — shared
    // oracle, same as ann_store/ann_ivf
    "sk_cm_store" -> cmHeavySql,
    "sk_heavy_cm" -> cmHeavySql,
    // the oracle rebuilds the FILTER (same md5 bit positions), so the
    // deterministic false positives must match too — see skBloom's doc
    "sk_bloom" ->
      """WITH it AS (SELECT md5(text) AS item FROM documents WHERE doc_id < 200),
        |rs AS (SELECT r FROM unnest(range(0, 3)) u(r)),
        |bits AS (SELECT DISTINCT rs.r,
        |    CAST(concat('0x', substr(md5(rs.r::VARCHAR || ':' || it.item), 1, 15))
        |      AS BIGINT) % 256 AS bucket
        |  FROM it, rs),
        |pr AS (SELECT doc_id, md5(text) AS item FROM documents WHERE doc_id < 400),
        |pe AS (SELECT pr.doc_id, rs.r,
        |    CAST(concat('0x', substr(md5(rs.r::VARCHAR || ':' || pr.item), 1, 15))
        |      AS BIGINT) % 256 AS bucket
        |  FROM pr, rs)
        |SELECT pe.doc_id, (count(b.bucket) = 3) AS might_contain
        |FROM pe LEFT JOIN bits b ON b.r = pe.r AND b.bucket = pe.bucket
        |GROUP BY pe.doc_id""".stripMargin,
    // cells-then-codes: the cell halves reuse annIvfSql's exact cosine
    // assignment formulation (row_number ties by cid), the scoring half
    // reuses ann_pq's integer ADC — candidates are pairs sharing a
    // probed cell, then ranked by ADC
    "ann_ivfpq" -> annIvfPqSql,
    "ann_rerank" -> annRerankSql,
    // the trained-centroid search: three replayed Lloyd rounds feed the
    // ann_ivf chain with c3 as the centroid table; the store twin
    // changes layout, never answers — ONE oracle for both
    "ann_ivf_trained" -> annIvfTrainedSql,
    "ann_ivf_trained_store" -> annIvfTrainedSql,
    // the retrain ACTION hash-gated: three training rounds, then the
    // k-fixed retrain round (left-join-coalesce carry), same search
    "ann_ivf_retrained_store" -> annIvfRetrainedSql,
    // the drift meter's replay: the same three Lloyd rounds and cosine
    // assignment as the trained-search chain, then exact integer error
    // sums in the quantSqDist domain (floor(x·1000) per component)
    "ann_drift" -> annDriftSql,
    // the two-batch fold through the drift store is DEFINED equal to
    // the one-shot statistic (exact integer additivity) — shared
    // oracle, so the store's merge algebra is itself DuckDB-gated
    "ann_drift_store" -> annDriftSql,
    // the PQ twin: both Lloyd rounds replayed, then the encoder's
    // nearest-entry rule with the winning distance kept and summed
    "ann_drift_pq" -> annDriftPqSql,
    "ann_drift_pq_store" -> annDriftPqSql,
    // the trained-codebook ADC: two integer-exact PQ Lloyd rounds feed
    // the SAME encode/LUT/ADC tail the sampled chain uses; the
    // compacted-store twin changes layout, never answers — ONE oracle
    "ann_pq_trained" -> annPqTrainedSql,
    "ann_pq_trained_store" -> annPqTrainedSql,
    // the retrain is ONE more replayed round — pqRoundSql already
    // carries memberless entries, so round 3 IS pqCodebookRefined
    "ann_pq_retrained_store" ->
      s"""$ivfPqPrefix,
         |${pqRoundSql(1)},
         |${pqRoundSql(2)},
         |${pqRoundSql(3)},
         |${ivfPqTail("pcb3")},
         |ranked AS (SELECT q_id, n_id, adc,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id)
         |      AS BIGINT) AS rnk
         |  FROM adc)
         |SELECT q_id, n_id, rnk, adc FROM ranked WHERE rnk <= 5""".stripMargin,
    // the served-from-disk twin: bit-equal to annIvfPq by construction
    // (same centroids, same codebook, same candidate rule, same ADC)
    "ann_pq_store" -> annIvfPqSql,
    // the full PQ pipeline re-derived: quantize, slice, codebook,
    // nearest-code encoding (ties to smaller code), per-query LUT, ADC
    // sum, rank — integer arithmetic end to end on both engines
    "ann_pq" ->
      """WITH e AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT)) AS q
        |  FROM embeddings WHERE vec_id < 500),
        |js AS (SELECT j FROM unnest(range(0, 4)) u(j)),
        |cb AS (SELECT e.id AS code, js.j,
        |    e.q[js.j*16+1 : js.j*16+16] AS cq
        |  FROM e, js WHERE e.id < 16),
        |enc0 AS (SELECT e.id, cb.j, cb.code,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> (e.q[cb.j*16+i] - cb.cq[i]) * (e.q[cb.j*16+i] - cb.cq[i])))
        |      AS BIGINT) AS d2
        |  FROM e, cb),
        |codes AS (SELECT id, j, code FROM (
        |  SELECT id, j, code,
        |    row_number() OVER (PARTITION BY id, j ORDER BY d2, code) AS r
        |  FROM enc0) WHERE r = 1),
        |lut AS (SELECT e.id AS q_id, cb.j, cb.code,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> (e.q[cb.j*16+i] - cb.cq[i]) * (e.q[cb.j*16+i] - cb.cq[i])))
        |      AS BIGINT) AS d2
        |  FROM e, cb WHERE e.id < 10),
        |adc AS (SELECT l.q_id, c.id AS n_id, CAST(sum(l.d2) AS BIGINT) AS adc
        |  FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
        |  WHERE c.id <> l.q_id GROUP BY 1, 2),
        |ranked AS (SELECT q_id, n_id, adc,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id)
        |      AS BIGINT) AS rnk
        |  FROM adc)
        |SELECT q_id, n_id, rnk, adc FROM ranked WHERE rnk <= 5""".stripMargin,
    // the aggregator is bit-equal to the window form; the oracle IS the
    // window form (total order: n_chars desc, doc_id asc)
    "w4_grouped_topk" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM documents)
        |SELECT source, rnk, n_chars, doc_id FROM r WHERE rnk <= 3""".stripMargin,
    // the bloom prefilter is transparent, so the oracle is the PLAIN
    // exact anti-join — see ddFrontier's doc
    "dd_frontier" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id >= 200 AND doc_id < 400
        |  AND md5(text) NOT IN
        |    (SELECT md5(text) FROM documents WHERE doc_id < 200)""".stripMargin,
    "sk_quantile" ->
      """WITH s AS (SELECT source, n_chars FROM documents
        |  WHERE substr(md5('q:' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000'),
        |g AS (SELECT source,
        |  list_sort(list(n_chars::DOUBLE)) AS vs,
        |  CAST(count(*) AS BIGINT) AS n_sample
        |  FROM s GROUP BY source)
        |SELECT source, n_sample, q,
        |  vs[CAST(greatest(1, ceil(q * n_sample)) AS INT)] AS quantile
        |FROM g, unnest([0.5, 0.9, 0.99]) u(q)""".stripMargin,
    "sk_hist" -> histQuantileSql,
    "sk_hist_group" ->
      s"""WITH v AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v
         |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
         |h AS (SELECT g, ${SketchOps.histBinSql("v")} AS bin, count(*) AS cnt
         |  FROM v GROUP BY 1, 2),
         |c AS (SELECT g, bin,
         |  sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum FROM h),
         |n AS (SELECT g, max(cum) AS n FROM c GROUP BY g),
         |p(p) AS (VALUES (50),(99)),
         |r AS (SELECT n.g, p,
         |  greatest(1, (CAST(p AS BIGINT) * n.n + 99) // 100) AS rank
         |  FROM p, n)
         |SELECT r.g AS source, r.p, CAST(r.rank AS BIGINT) AS rank,
         |  CAST(min(c.bin) AS BIGINT) AS est
         |FROM r JOIN c ON c.g = r.g AND c.cum >= r.rank
         |GROUP BY r.g, r.p, r.rank""".stripMargin,
    // the store gate is DEFINED bit-identical to sk_hist (integer bin
    // sums are exact and order-free); what differs is the save/append
    // lifecycle, which SQL cannot see — shared oracle, same rule as
    // ann_store / sk_kmv_store
    "sk_hist_store" -> histQuantileSql,
    "sk_exact_pct" ->
      // the oracle pays the full sort the operator exists to avoid;
      // integer rank arithmetic mirrors exactPercentilesLong exactly
      """WITH v AS (SELECT CAST(n_chars AS BIGINT) AS x FROM documents
        |  WHERE n_chars IS NOT NULL),
        |n AS (SELECT count(*) AS c FROM v),
        |p(p) AS (VALUES (1),(50),(90),(99),(100)),
        |r AS (SELECT p, greatest(1, (p * c + 99) // 100) AS rank FROM p, n),
        |s AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
        |SELECT r.p, r.rank, s.x AS value FROM r JOIN s ON s.rn = r.rank""".stripMargin,
    "sk_exact_pct_dbl" ->
      """WITH v AS (SELECT value + 0 AS x FROM events WHERE value IS NOT NULL),
        |n AS (SELECT count(*) AS c FROM v),
        |p(p) AS (VALUES (1),(50),(90),(99)),
        |r AS (SELECT p, greatest(1, (p * c + 99) // 100) AS rank FROM p, n),
        |s AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
        |SELECT r.p, r.rank, s.x AS value FROM r JOIN s ON s.rn = r.rank""".stripMargin,
    "sk_exact_pct_dbl_group" ->
      """WITH v AS (SELECT event_type, value + 0 AS x FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |n AS (SELECT event_type, count(*) AS c FROM v GROUP BY event_type),
        |p(p) AS (VALUES (50),(90),(99)),
        |r AS (SELECT event_type, p, greatest(1, (p * c + 99) // 100) AS rank
        |  FROM p, n),
        |s AS (SELECT event_type, x, row_number() OVER
        |  (PARTITION BY event_type ORDER BY x) AS rn FROM v)
        |SELECT r.event_type, r.p, r.rank, s.x AS value
        |FROM r JOIN s ON s.event_type = r.event_type AND s.rn = r.rank""".stripMargin,
    "sk_exact_pct_group" ->
      """WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
        |  WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |n AS (SELECT source, count(*) AS c FROM v GROUP BY source),
        |p(p) AS (VALUES (50),(90),(99)),
        |r AS (SELECT source, p, greatest(1, (p * c + 99) // 100) AS rank
        |  FROM p, n),
        |s AS (SELECT source, x, row_number() OVER
        |  (PARTITION BY source ORDER BY x) AS rn FROM v)
        |SELECT r.source, r.p, r.rank, s.x AS value
        |FROM r JOIN s ON s.source = r.source AND s.rn = r.rank""".stripMargin,
    "prep_pipeline" ->
      s"""WITH q AS (SELECT doc_id,
         |  floor((least(len($toksSql)::DOUBLE / 100.0, 1.0) * 0.5
         |    + (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
         |        / length(text)) * 0.3
         |    + (len(list_filter($toksSql, t -> t IN
         |        ('the','and','of','to','a','el','la','de','los','que',
         |         'der','die','und','das','ist','le','les','des','et','une')))::DOUBLE
         |        / len($toksSql)) * 0.2) * 10000.0) / 10000.0 AS quality_score
         |  FROM documents),
         |r AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3 THEN
         |    floor((1.0 - len(list_distinct(list_transform(range(0, len(toks) - 2),
         |      i -> toks[CAST(i + 1 AS INT)] || ' ' ||
         |           toks[CAST(i + 2 AS INT)] || ' ' ||
         |           toks[CAST(i + 3 AS INT)])))::DOUBLE
         |      / (len(toks) - 2)) * 10000.0) / 10000.0
         |  ELSE 0.0 END AS rep_score
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |kept AS (SELECT d.doc_id, d.text, q.quality_score, r.rep_score
         |  FROM documents d JOIN q USING (doc_id) JOIN r USING (doc_id)
         |  WHERE q.quality_score > 0.3 AND r.rep_score < 0.5),
         |fp AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS f
         |  FROM kept),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f)
         |SELECT k.doc_id, k.quality_score, k.rep_score
         |FROM kept k JOIN keepers USING (doc_id)""".stripMargin,
    "prep_stream_twin" ->
      s"""WITH q AS (SELECT doc_id,
         |  floor((least(len($toksSql)::DOUBLE / 100.0, 1.0) * 0.5
         |    + (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
         |        / length(text)) * 0.3
         |    + (len(list_filter($toksSql, t -> t IN
         |        ('the','and','of','to','a','el','la','de','los','que',
         |         'der','die','und','das','ist','le','les','des','et','une')))::DOUBLE
         |        / len($toksSql)) * 0.2) * 10000.0) / 10000.0 AS quality_score
         |  FROM documents),
         |r AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3 THEN
         |    floor((1.0 - len(list_distinct(list_transform(range(0, len(toks) - 2),
         |      i -> toks[CAST(i + 1 AS INT)] || ' ' ||
         |           toks[CAST(i + 2 AS INT)] || ' ' ||
         |           toks[CAST(i + 3 AS INT)])))::DOUBLE
         |      / (len(toks) - 2)) * 10000.0) / 10000.0
         |  ELSE 0.0 END AS rep_score
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |kept AS (SELECT d.doc_id,
         |    md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
         |  FROM documents d JOIN q USING (doc_id) JOIN r USING (doc_id)
         |  WHERE q.quality_score > 0.3 AND r.rep_score < 0.5),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY fp)
         |SELECT k.doc_id, k.fp FROM kept k JOIN keepers USING (doc_id)""".stripMargin,
    "txt_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(0, len(toks) - 2),
         |      i -> toks[CAST(i + 1 AS INT)] || ' ' ||
         |           toks[CAST(i + 2 AS INT)] || ' ' ||
         |           toks[CAST(i + 3 AS INT)])
         |    ELSE CAST([] AS VARCHAR[]) END AS grams
         |  FROM t)
         |SELECT doc_id,
         |  CAST(len(grams) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
         |  CASE WHEN len(grams) > 0
         |    THEN floor((1.0 - len(list_distinct(grams))::DOUBLE /
         |      len(grams)::DOUBLE) * 10000.0) / 10000.0
         |    ELSE 0.0 END AS rep_score
         |FROM g""".stripMargin,
    "txt_bm25" -> bm25Sql,
    // the phrase oracle IS the definition over raw text: a token-level
    // consecutive-position self-join — the index serves the same answer
    // from |phrase| per-term list joins
    "txt_phrase" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter($toksSql, x -> x <> '') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |p AS (SELECT doc_id, j AS pos, toks[CAST(j + 1 AS INT)] AS tok
         |  FROM t, unnest(range(0, len(toks))) r(j))
         |SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
         |FROM p p0
         |JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
         |JOIN p p2 ON p2.doc_id = p0.doc_id AND p2.pos = p0.pos + 2
         |WHERE p0.tok = 'slow' AND p1.tok = 'hash' AND p2.tok = 'batch'
         |GROUP BY 1 ORDER BY n_occurrences DESC, p0.doc_id
         |LIMIT 20""".stripMargin,
    // the proximity oracle is the forward existence form: a start
    // position counts iff SOME gap-bounded chain completes — the join
    // may multiply witnesses, DISTINCT starts collapses them; the
    // engine's backward-reachability filter computes the same set
    "txt_proximity" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter($toksSql, x -> x <> '') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |p AS (SELECT doc_id, j AS pos, toks[CAST(j + 1 AS INT)] AS tok
         |  FROM t, unnest(range(0, len(toks))) r(j))
         |SELECT p0.doc_id,
         |  CAST(count(DISTINCT p0.pos) AS BIGINT) AS n_occurrences
         |FROM p p0
         |JOIN p p1 ON p1.doc_id = p0.doc_id
         |  AND p1.pos > p0.pos AND p1.pos <= p0.pos + 2
         |  AND p1.tok = 'table'
         |JOIN p p2 ON p2.doc_id = p0.doc_id
         |  AND p2.pos > p1.pos AND p2.pos <= p1.pos + 2
         |  AND p2.tok = 'hash'
         |WHERE p0.tok = 'stream'
         |GROUP BY 1 ORDER BY n_occurrences DESC, p0.doc_id
         |LIMIT 20""".stripMargin,
    // min-span replay from raw text: every query-term occurrence is a
    // candidate window start; from each, the first occurrence of each
    // term at-or-after it; span = covering width, valid only when all
    // three terms appear (HAVING) — min over starts, window filter 8
    "txt_window" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter($toksSql, x -> x <> '') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |p AS (SELECT doc_id, j AS pos, toks[CAST(j + 1 AS INT)] AS tok
         |  FROM t, unnest(range(0, len(toks))) r(j)),
         |tk AS (SELECT doc_id, pos, tok FROM p
         |  WHERE tok IN ('data', 'table', 'hash')),
         |starts AS (SELECT DISTINCT doc_id, pos FROM tk),
         |per AS (SELECT s.doc_id, s.pos, k.tok, min(k.pos) AS fp
         |  FROM starts s JOIN tk k
         |    ON k.doc_id = s.doc_id AND k.pos >= s.pos
         |  GROUP BY 1, 2, 3),
         |cand AS (SELECT doc_id, pos,
         |    max(fp) - pos + 1 AS span
         |  FROM per GROUP BY 1, 2 HAVING count(DISTINCT tok) = 3),
         |res AS (SELECT doc_id, CAST(min(span) AS BIGINT) AS span
         |  FROM cand GROUP BY 1)
         |SELECT doc_id, span FROM res WHERE span <= 8
         |ORDER BY span, doc_id LIMIT 20""".stripMargin,
    // the store gate is DEFINED bit-identical to txt_bm25 (shared
    // tokenizer + scoring tail); what differs is the bucket-pruned IO,
    // which SQL cannot see — shared oracle, the ann_store rule
    "txt_bm25_store" -> bm25Sql,
    "ret_hybrid" -> retHybridStoreSql,
    // the store form is DEFINED bit-identical to ret_hybrid: both legs
    // are the persisted-index twins of the scan legs (queryBm25 shares
    // bm25's tokenizer+tail; VectorStore.query at nprobe=|cells| scores
    // the identical candidate set), and the RRF fusion tail is shared
    // verbatim — the store changes IO, never answers (txt_bm25_store
    // rule), so it shares the oracle
    "ret_hybrid_store" -> retHybridStoreSql,
    "emb_quantize" ->
      """WITH e AS (SELECT vec_id AS id, embedding
        |  FROM embeddings WHERE vec_id < 50)
        |SELECT id, CAST(p - 1 AS BIGINT) AS pos,
        |  CAST(greatest(-127, least(127,
        |    floor(embedding[CAST(p AS INT)]::DOUBLE * 127.0))) AS TINYINT) AS q
        |FROM e, unnest(range(1, len(embedding) + 1)) u(p)""".stripMargin,
    // the oracle replays ALL 8 GD iterations from scratch (unrolled CTE
    // chain, sigmoid table inlined) — integer fixed-point makes the two
    // engines' training runs bit-identical
    "txt_lr_train" ->
      s"""WITH f AS (SELECT n_chars, $toksSql AS w FROM documents
         |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |${graft.ops.LinearModel.trainOracleSql(
            lrFeatSqls, lrLabelSql, iters = 8, lrShift = 4)}""".stripMargin,
    // the store-served scoring replay: retrain the full 8-iteration
    // loop in SQL, then score every doc with the just-derived weights
    // through the same inlined sigmoid table — the engine side scores
    // with weights LOADED from the persisted model store
    "txt_lr_store" -> {
      val (ctes, wLast) = graft.ops.LinearModel.trainCtesSql(
        lrFeatSqls, lrLabelSql, iters = 8, lrShift = 4)
      // weight alias is `wt`, never `w` — fd carries a token-list
      // column named w the feature expressions reference
      val z = lrFeatSqls.zipWithIndex
        .map { case (e, i) => s"($e) * wt.c$i" }.mkString(" + ")
      s"""WITH f AS (SELECT n_chars, $toksSql AS w FROM documents
         |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |$ctes,
         |fd AS (SELECT doc_id, n_chars, $toksSql AS w FROM documents
         |  WHERE text IS NOT NULL)
         |SELECT fd.doc_id,
         |  CAST(${graft.ops.LinearModel.sigmoidFpSql(z)} AS BIGINT)
         |    AS score_fp
         |FROM fd, $wLast wt, sigt""".stripMargin
    },
    // the score-distribution drift meter and its DriftStore fold share
    // one full-retrain replay — additive integer histogram by bucket
    "txt_lr_drift" -> txtLrDriftSql,
    "txt_lr_drift_store" -> txtLrDriftSql,
    // the sign matrix is pure md5(seed:j:i) — the oracle rebuilds it and
    // the integer dot products from scratch, no Spark-side artifact
    "emb_rproj" ->
      """WITH q AS (SELECT vec_id, i,
        |    floor(embedding[CAST(i + 1 AS INT)]::DOUBLE * 1048576.0 + 0.5)::BIGINT AS qx
        |  FROM embeddings, unnest(range(0, 64)) u(i)),
        |s AS (SELECT j, i,
        |    CASE WHEN substring(md5('graft:' || j::VARCHAR || ':' || i::VARCHAR), 1, 1) >= '8'
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM unnest(range(0, 16)) a(j), unnest(range(0, 64)) b(i))
        |SELECT q.vec_id, s.j, CAST(sum(s.sgn * q.qx) AS BIGINT) AS y
        |FROM q JOIN s ON s.i = q.i GROUP BY 1, 2""".stripMargin,
    "txt_quality" ->
      s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks,
         |  length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
         |  len(list_filter($toksSql, t -> t IN
         |    ('the','and','of','to','a','el','la','de','los','que',
         |     'der','die','und','das','ist','le','les','des','et','une'))) AS stops
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
         |  floor(length(text)::DOUBLE / len(toks) * 10000.0) / 10000.0 AS avg_chars_per_token,
         |  floor(punct::DOUBLE / length(text) * 10000.0) / 10000.0 AS punct_ratio,
         |  floor(stops::DOUBLE / len(toks) * 10000.0) / 10000.0 AS stopword_ratio,
         |  floor((least(len(toks)::DOUBLE / 100.0, 1.0) * 0.5
         |    + (1.0 - punct::DOUBLE / length(text)) * 0.3
         |    + (stops::DOUBLE / len(toks)) * 0.2) * 10000.0) / 10000.0 AS quality_score
         |FROM base""".stripMargin,
    "txt_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS n_ws_tokens,
         |  CAST(list_sum(list_transform($toksSql,
         |    t -> greatest(1, CAST(ceil(length(t) / 4.0) AS BIGINT)))) AS BIGINT)
         |    AS n_bpe_est,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents""".stripMargin,
    "txt_bpe" ->
      s"""SELECT doc_id,
         |  CAST(len(${graft.functions.Bpe.tokensSql("text")}) AS BIGINT)
         |    AS n_bpe,
         |  array_to_string(${graft.functions.Bpe.tokensSql("text")}, ' ')
         |    AS bpe_text
         |FROM documents WHERE text IS NOT NULL""".stripMargin,
    "dd_winnow" ->
      """WITH t AS (SELECT doc_id, lower(text) AS tx
        |  FROM documents WHERE doc_id < 50),
        |g AS (SELECT doc_id,
        |    CASE WHEN length(tx) >= 8 THEN
        |      list_transform(range(0, length(tx) - 8 + 1),
        |        i -> md5(substr(tx, CAST(i + 1 AS INT), 8)))
        |    ELSE [] END AS grams
        |  FROM t),
        |sel AS (SELECT doc_id,
        |    CASE WHEN len(grams) >= 4 THEN
        |      list_distinct(list_transform(range(0, len(grams) - 4 + 1),
        |        j -> list_min(grams[CAST(j + 1 AS INT):CAST(j + 4 AS INT)])))
        |    ELSE [] END AS fps
        |  FROM g)
        |SELECT doc_id, unnest(fps) AS fp FROM sel WHERE len(fps) > 0""".stripMargin,
    "smp_hash" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE substr(md5('split1:' || doc_id::VARCHAR), 1, 4)
         |  < '${SampleOps.threshold(0.2)}'""".stripMargin,
    "txt_chunks" ->
      // integer chunk-count rule mirrored exactly: 1 + (max(0, n-32)
      // + 15) // 16; list_slice's inclusive end == slice's length form
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE doc_id < 200 AND text IS NOT NULL),
         |c AS (SELECT doc_id, toks,
         |  1 + (greatest(0, len(toks) - 32) + 15) // 16 AS nc FROM t)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  array_to_string(list_slice(toks, i*16 + 1, i*16 + 32), ' ')
         |    AS chunk_text
         |FROM c, unnest(generate_series(0, nc - 1)) u(i)""".stripMargin,
    "txt_surprise" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(${graft.functions.Bpe.wordsSql("text")},
         |      x -> x <> '') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(${graft.functions.Unigram.surpriseSql("toks")} AS BIGINT)
         |    AS surprise_millinats FROM t)
         |SELECT doc_id, n_tokens, surprise_millinats,
         |  CASE WHEN n_tokens = 0 THEN 0
         |    ELSE surprise_millinats // n_tokens END AS mean_millinats,
         |  (CASE WHEN n_tokens = 0 THEN 0
         |    ELSE surprise_millinats // n_tokens END) < 4000 AS keep
         |FROM sc""".stripMargin,
    "txt_bigram" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(${graft.functions.Bpe.wordsSql("text")},
         |      x -> x <> '') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(${graft.functions.Unigram.bigramSurpriseSql("toks")} AS BIGINT)
         |    AS surprise_millinats FROM t)
         |SELECT doc_id, n_tokens, surprise_millinats,
         |  CASE WHEN n_tokens = 0 THEN 0
         |    ELSE surprise_millinats // n_tokens END AS mean_millinats
         |FROM sc""".stripMargin,
    "txt_bpe_chunks" ->
      s"""WITH t AS (SELECT doc_id, ${graft.functions.Bpe.tokensSql("text")}
         |    AS toks FROM documents
         |  WHERE doc_id < 200 AND text IS NOT NULL),
         |c AS (SELECT doc_id, toks,
         |  1 + (greatest(0, len(toks) - 32) + 15) // 16 AS nc FROM t)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  array_to_string(list_slice(toks, i*16 + 1, i*16 + 32), ' ')
         |    AS chunk_text
         |FROM c, unnest(generate_series(0, nc - 1)) u(i)""".stripMargin,
    "smp_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |    md5('ep7:' || doc_id::VARCHAR) AS hh FROM documents
        |  WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, hh,
        |    CAST(('0x' || substr(hh, 1, 8))::BIGINT % 8 AS INT) AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard
        |    ORDER BY hh, doc_id::VARCHAR) AS pos
        |FROM s""".stripMargin,
    "smp_stratified" ->
      s"""WITH f AS (SELECT source,
         |    substr(md5('mix1:' || doc_id::VARCHAR), 1, 4) AS b,
         |    CASE source
         |      WHEN 'src0' THEN '${SampleOps.threshold(mixRates("src0"))}'
         |      WHEN 'src1' THEN '${SampleOps.threshold(mixRates("src1"))}'
         |      WHEN 'src2' THEN '${SampleOps.threshold(mixRates("src2"))}'
         |      WHEN 'src3' THEN '${SampleOps.threshold(mixRates("src3"))}'
         |      ELSE '${SampleOps.threshold(mixDefault)}' END AS th
         |  FROM documents)
         |SELECT source, count(*) AS n_total,
         |  count(*) FILTER (WHERE b < th) AS n_sampled
         |FROM f GROUP BY source""".stripMargin,
    // the token-budget replay: same salted hash, same radix buckets,
    // same prior-mass window and boundary crossing rule — the kept set
    // is a pure function of (corpus, recipe, salt) both engines derive
    "smp_budget" -> smpBudgetSql,
    "smp_budget_docs" ->
      s"""WITH $budgetKeptCtes
         |SELECT doc_id, source FROM kept""".stripMargin,
    // the store changes WHERE the radix masses come from (a persisted,
    // incrementally-foldable stats table), never the classification —
    // identical masses, identical kept set: shares smp_budget's oracle
    "smp_budget_store" -> smpBudgetSql,
    // the composite replay: the budget chain's kept set becomes the
    // FFD fold's input — same salt, same whitespace counts (kept.ntok)
    "mix_pack" -> packFfdSql(
      "SELECT doc_id, shard, bin, bin_off FROM ffd WHERE doc_id IS NOT NULL",
      nTokSql = "ntok", fromSql = "kept",
      prefixCtes = budgetKeptCtes + ",\n"),
    // the WHOLE pretraining pipeline replayed from raw text, stage by
    // stage: LR training unrolled and the batch scored with the
    // just-derived weights (the txt_lr_store discipline); the strip's
    // global keep-first rule over history∪batch restricted to batch
    // docs (the dd_dup_strip/dd_dup_store shape — history ids precede
    // batch ids, so the store probe equals the one-shot); the budget
    // bucket algebra over the re-derived clean text with REAL BPE
    // counts; the recursive FFD fold over the kept set — the engine
    // side serves each stage from its persisted artifact, the oracle
    // derives everything from the data, and the packed layouts must
    // agree bit for bit
    "pipe_pretrain" -> pipePretrainOracle,
    // the replay is DEFINED bit-identical to the delivery it replays —
    // same oracle string; what the gate adds is the path the result
    // took (ledger rows → resolved generations → pins → as-of strip)
    "pipe_replay" -> pipePretrainOracle,
    // requalification: the pipe chain replayed TWICE from raw text —
    // once plain (the delivered set), once with the evidence rows in
    // the strip history (the corrected set) — and the kept doc sets
    // diffed both ways. Nested WITH scopes keep the two chains' CTE
    // names independent.
    "pipe_requalify" -> pipeRequalifySql,
    // the budget-cut direction: same chain, the recipe is what moved
    "pipe_requalify_budget" -> pipeRequalifyBudgetSql,
    // the bin audit over the same chained fold — the pack_ffd_stats
    // tail (join k for token counts) on the pipeline's kept set
    "pipe_pretrain_bins" -> packFfdSql(
      """SELECT f.shard, f.bin, count(*) AS n_docs,
        |  CAST(sum(k.n_tok) AS BIGINT) AS n_tokens,
        |  CAST(512 - sum(k.n_tok) AS BIGINT) AS pad
        |FROM ffd f JOIN k ON k.doc_id = f.doc_id
        |WHERE f.doc_id IS NOT NULL GROUP BY 1, 2""".stripMargin,
      nTokSql = "ntok", fromSql = "kept",
      prefixCtes = pipePretrainCtes + ",\n"),
    // the provenance manifest's oracle is the independently-stated
    // constants + counter algebra of the composite's fixture: the dup
    // index folds history as TWO ingests (never compacted), the model /
    // stats / tokenizer stores are single saves (ingests read as 1),
    // every cached dir is generation 0, and the per-stage params are
    // the pipeline's declared constants — n_weights from the feature
    // binding, keep_fp 32768 (p >= 1/2 in 2^16 fixed point), win 4
    // with the strip's as-of watermark at the fixture's two history
    // ingests (the read-only composite never ingests its batch),
    // radix salt pp1 over a 6-stratum recipe, the merge-table size,
    // the ep0/512 pack recipe. A drifted manifest flips its row.
    "pipe_provenance" ->
      s"""SELECT * FROM (VALUES
         |  ('quality_model', CAST(0 AS BIGINT), CAST(1 AS BIGINT),
         |   CAST(0 AS BIGINT), 'n_weights=5,keep_fp=32768'),
         |  ('dup_index', CAST(0 AS BIGINT), CAST(2 AS BIGINT),
         |   CAST(0 AS BIGINT), 'win=4,strip_asof=2'),
         |  ('mix_stats', CAST(0 AS BIGINT), CAST(1 AS BIGINT),
         |   CAST(0 AS BIGINT), 'radix_salt=pp1,recipe_strata=6'),
         |  ('tokenizer', CAST(0 AS BIGINT), CAST(1 AS BIGINT),
         |   CAST(0 AS BIGINT),
         |   'n_merges=${graft.functions.Bpe.merges.size}'),
         |  ('delivery', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |   CAST(NULL AS BIGINT), 'salt=ep0,ctx_len=512')
         |) AS t(artifact, generation, ingests, compacted_at, params)
         |""".stripMargin,
    // the forward lookup: the three-delivery lifecycle the gate appends
    // is restated as independent constants, then the same relational
    // question — deliveries that consumed dup_index generation 0
    "pipe_taint" ->
      """WITH led AS (SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'quality_model', CAST(0 AS BIGINT),
        |   CAST(1 AS BIGINT), 'n_weights=5'),
        |  (CAST(0 AS BIGINT), 'dup_index', CAST(0 AS BIGINT),
        |   CAST(2 AS BIGINT), 'win=4,strip_asof=2'),
        |  (CAST(1 AS BIGINT), 'quality_model', CAST(0 AS BIGINT),
        |   CAST(1 AS BIGINT), 'n_weights=5'),
        |  (CAST(1 AS BIGINT), 'dup_index', CAST(0 AS BIGINT),
        |   CAST(3 AS BIGINT), 'win=4,strip_asof=3'),
        |  (CAST(2 AS BIGINT), 'quality_model', CAST(1 AS BIGINT),
        |   CAST(2 AS BIGINT), 'n_weights=5'),
        |  (CAST(2 AS BIGINT), 'dup_index', CAST(1 AS BIGINT),
        |   CAST(5 AS BIGINT), 'win=4,strip_asof=5')
        |) AS t(delivery_id, artifact, generation, ingests, params))
        |SELECT delivery_id, ingests, params FROM led
        |WHERE artifact = 'dup_index' AND generation = 0""".stripMargin,
    // the learned-strata replay: the ann_ivf cell-assignment chain
    // (cosine DESC, lowest cid tie — assignCells' max_by rule) feeds
    // the budget algebra with the cell aliased as its stratum column.
    // ONE string for the scan and store-served twins — the store
    // changes where the masses come from, never the classification
    "mix_cluster_budget" -> mixClusterBudgetSql,
    "mix_cluster_budget_store" -> mixClusterBudgetSql,
    // the learned-strata replay with the learning replayed too: two
    // Lloyd rounds over the doc-joined corpus, then the same cell
    // routing and budget chain over kc2's centroids
    "mix_cluster_budget_trained" -> mixClusterBudgetTrainedSql,
    // the funnel aggregated at each stage boundary of the SAME replayed
    // chain: batch universe from the scored frame's filter, survivors
    // and clean mass from the budget chain's per-doc frame `d`, kept
    // counts from `kept`
    "pipe_pretrain_stats" ->
      s"""WITH $pipePretrainCtes
         |SELECT bud.source, CAST(bud.budget_tok AS BIGINT) AS budget_tok,
         |  CAST(coalesce(b.n_batch, 0) AS BIGINT) AS n_batch,
         |  CAST(coalesce(cq.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(cq.tok_clean, 0) AS BIGINT) AS tok_clean,
         |  CAST(coalesce(k.n_sampled, 0) AS BIGINT) AS n_sampled,
         |  CAST(coalesce(k.tok_sampled, 0) AS BIGINT) AS tok_sampled
         |FROM bud
         |LEFT JOIN (SELECT source, count(*) AS n_batch FROM documents
         |  WHERE text IS NOT NULL AND doc_id >= 250 AND doc_id < 500
         |  GROUP BY 1) b USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n_kept,
         |    sum(ntok) AS tok_clean FROM d GROUP BY 1) cq USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n_sampled,
         |    sum(ntok) AS tok_sampled FROM kept GROUP BY 1) k
         |  USING (source)""".stripMargin,
    // exact-integer replica of SampleOps.temperatureThresholds: the
    // α = 1/2 weights are floor(sqrt(count)) and the threshold an
    // integer DIV, so both engines derive the SAME k from the data
    "smp_temperature" ->
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total
        |  FROM documents GROUP BY 1),
        |wt AS (SELECT source, n_total,
        |    CAST(floor(sqrt(n_total)) AS BIGINT) AS wgt FROM s),
        |t AS (SELECT CAST(sum(n_total) AS BIGINT) AS n_corpus,
        |    CAST(sum(wgt) AS BIGINT) AS w_corpus FROM wt),
        |th AS (SELECT source, n_total,
        |    CAST(least(65536,
        |        (65536 * n_corpus * wgt) // (5 * w_corpus * n_total))
        |      AS BIGINT) AS k_threshold
        |  FROM wt, t),
        |b AS (SELECT source,
        |    CAST(concat('0x', substr(md5('temp1:' || doc_id::VARCHAR), 1, 4))
        |      AS BIGINT) AS bk
        |  FROM documents)
        |SELECT th.source, th.n_total, th.k_threshold,
        |  CAST(count(*) FILTER (WHERE b.bk < th.k_threshold) AS BIGINT)
        |    AS n_sampled
        |FROM th JOIN b ON th.source = b.source
        |GROUP BY 1, 2, 3""".stripMargin,
    "txt_scrub" ->
      s"""WITH e AS (SELECT doc_id,
         |    text || ' contact user' || doc_id::VARCHAR || '@example.com or ' ||
         |    'https://ex.org/d/' || doc_id::VARCHAR || '?ref=1 case 1234567' ||
         |    doc_id::VARCHAR AS tx
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(tx, '${TextOps.emailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(tx, '${TextOps.urlRe}')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(tx, '${TextOps.longNumRe}')) AS BIGINT) AS n_nums,
         |  md5(trim(regexp_replace(lower(
         |    regexp_replace(regexp_replace(regexp_replace(tx,
         |      '${TextOps.emailRe}', '<EMAIL>', 'g'),
         |      '${TextOps.urlRe}', '<URL>', 'g'),
         |      '${TextOps.longNumRe}', '<NUM>', 'g')),
         |    '\\s+', ' ', 'g'))) AS scrub_md5
         |FROM e""".stripMargin,
    "pack_seqs_bpe" ->
      s"""WITH k AS (SELECT doc_id,
         |    len(${graft.functions.Bpe.tokensSql("text")}) AS n_tok,
         |    md5('ep0:' || doc_id::VARCHAR) AS key FROM documents),
         |s AS (SELECT doc_id, n_tok, key, substr(key, 1, 1) AS shard FROM k),
         |o AS (SELECT doc_id, shard,
         |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY key, doc_id)
         |      - n_tok AS BIGINT) AS start_off
         |  FROM s)
         |SELECT doc_id, shard, start_off,
         |  CAST(floor(start_off::DOUBLE / 512.0) AS BIGINT) AS seq_idx
         |FROM o""".stripMargin,
    "pack_seqs" ->
      s"""WITH k AS (SELECT doc_id, len($toksSql) AS n_tok,
         |    md5('ep0:' || doc_id::VARCHAR) AS key FROM documents),
         |s AS (SELECT doc_id, n_tok, key, substr(key, 1, 1) AS shard FROM k),
         |o AS (SELECT doc_id, shard,
         |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY key, doc_id)
         |      - n_tok AS BIGINT) AS start_off
         |  FROM s)
         |SELECT doc_id, shard, start_off,
         |  CAST(floor(start_off::DOUBLE / 512.0) AS BIGINT) AS seq_idx
         |FROM o""".stripMargin,
    "pack_stats" ->
      s"""WITH k AS (SELECT doc_id, len($toksSql) AS n_tok,
         |    md5('ep0:' || doc_id::VARCHAR) AS key FROM documents),
         |s AS (SELECT doc_id, n_tok, key, substr(key, 1, 1) AS shard FROM k),
         |o AS (SELECT doc_id, shard, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY key, doc_id)
         |      - n_tok AS BIGINT) AS start_off
         |  FROM s),
         |p AS (SELECT shard, CAST(floor(start_off::DOUBLE / 512.0) AS BIGINT) AS seq_idx,
         |    n_tok FROM o)
         |SELECT shard, seq_idx, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM p GROUP BY 1, 2""".stripMargin,
    "pack_ffd" -> packFfdSql(
      "SELECT doc_id, shard, bin, bin_off FROM ffd WHERE doc_id IS NOT NULL"),
    "pack_ffd_bpe" -> packFfdSql(
      "SELECT doc_id, shard, bin, bin_off FROM ffd WHERE doc_id IS NOT NULL",
      nTokSql = s"len(${graft.functions.Bpe.tokensSql("text")})"),
    "pack_ffd_stats" -> packFfdSql(
      """SELECT f.shard, f.bin, count(*) AS n_docs,
        |  CAST(sum(k.n_tok) AS BIGINT) AS n_tokens,
        |  CAST(512 - sum(k.n_tok) AS BIGINT) AS pad
        |FROM ffd f JOIN k ON k.doc_id = f.doc_id
        |WHERE f.doc_id IS NOT NULL GROUP BY 1, 2""".stripMargin),
    // the epoch union: the SAME recursive fold once per salt, each
    // wrapped as a subquery so the k/pf/ffd CTE names stay scoped,
    // stamped with its epoch column
    "pack_epochs" -> (0 until 3).map { e =>
      "SELECT * FROM (" + packFfdSql(
        s"SELECT doc_id, shard, bin, bin_off, CAST($e AS BIGINT) AS epoch " +
          "FROM ffd WHERE doc_id IS NOT NULL",
        salt = s"ep$e") + s") ep$e"
    }.mkString("\nUNION ALL\n"),
    "dd_contaminate" ->
      s"""WITH sh AS (SELECT doc_id,
         |    unnest(list_distinct(list_transform(
         |      range(0, len($toksSql) - 3 + 1),
         |      i -> array_to_string(($toksSql)[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' '))))
         |      AS sh
         |  FROM documents WHERE len($toksSql) >= 3)
         |SELECT c.doc_id, e.doc_id AS eval_id,
         |  count(DISTINCT c.sh) AS n_shared
         |FROM (SELECT * FROM sh WHERE doc_id >= 10) c
         |JOIN (SELECT * FROM sh WHERE doc_id < 10) e ON e.sh = c.sh
         |GROUP BY 1, 2
         |HAVING count(DISTINCT c.sh) >= 2""".stripMargin,
    "txt_tfidf" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS tok
         |  FROM documents WHERE doc_id < 200),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
         |n AS (SELECT count(*) AS n_corpus FROM documents WHERE doc_id < 200),
         |sc AS (SELECT tf.doc_id, tf.tok, tf.tf, dfq.df,
         |    tf.tf::DOUBLE * (n.n_corpus + 1) / (dfq.df + 1) AS score
         |  FROM tf JOIN dfq USING (tok), n),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, tok) AS BIGINT) AS rank FROM sc)
         |SELECT doc_id, rank, tok, tf, df, score FROM r WHERE rank <= 5""".stripMargin,
    "dd_winnow_pairs" ->
      """WITH t AS (SELECT doc_id, lower(text) AS tx
        |  FROM documents WHERE doc_id < 50),
        |g AS (SELECT doc_id,
        |    CASE WHEN length(tx) >= 8 THEN
        |      list_transform(range(0, length(tx) - 8 + 1),
        |        i -> md5(substr(tx, CAST(i + 1 AS INT), 8)))
        |    ELSE [] END AS grams
        |  FROM t),
        |sel AS (SELECT doc_id,
        |    CASE WHEN len(grams) >= 4 THEN
        |      list_distinct(list_transform(range(0, len(grams) - 4 + 1),
        |        j -> list_min(grams[CAST(j + 1 AS INT):CAST(j + 4 AS INT)])))
        |    ELSE [] END AS fps
        |  FROM g),
        |f AS (SELECT doc_id, unnest(fps) AS fp FROM sel WHERE len(fps) > 0)
        |SELECT x.doc_id AS a, y.doc_id AS b, count(DISTINCT x.fp) AS n_shared
        |FROM f x JOIN f y ON y.fp = x.fp AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 HAVING count(DISTINCT x.fp) >= 2""".stripMargin,
    // the agreement replay: all three detector chains re-derived at the
    // shared window, flags via left joins over the UNION of flagged
    // pairs — each chain is the verbatim shape of its standalone oracle
    "dd_method_agree" ->
      s"""WITH mt AS (SELECT doc_id, list_distinct($toksSql) AS toks
         |  FROM documents WHERE doc_id < 50),
         |mex AS (SELECT doc_id, unnest(toks) AS tok FROM mt),
         |msz AS (SELECT doc_id, len(toks) AS n FROM mt),
         |mp AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |  FROM mex x JOIN mex y ON x.tok = y.tok AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |mj AS (SELECT a, b FROM mp
         |  JOIN msz xa ON xa.doc_id = a JOIN msz xb ON xb.doc_id = b
         |  WHERE floor(inter::DOUBLE / (xa.n + xb.n - inter) * 10000.0)
         |    / 10000.0 >= 0.5),
         |mmh AS (SELECT doc_id, list_transform(range(0, 8),
         |    s -> list_min(list_transform(toks,
         |      w -> md5(s::VARCHAR || ':' || w)))) AS sig
         |  FROM mt),
         |mbands AS (SELECT doc_id, b, md5(sig[2*b+1] || sig[2*b+2]) AS bk
         |  FROM mmh, unnest(range(0, 4)) u(b)),
         |mcand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM mbands x JOIN mbands y
         |    ON x.bk = y.bk AND x.b = y.b AND x.doc_id < y.doc_id),
         |ml AS (SELECT c.a, c.b FROM mcand c
         |  JOIN mt ta ON ta.doc_id = c.a JOIN mt tb ON tb.doc_id = c.b
         |  WHERE floor(len(list_intersect(ta.toks, tb.toks))::DOUBLE
         |      / (len(ta.toks) + len(tb.toks)
         |        - len(list_intersect(ta.toks, tb.toks))) * 10000.0)
         |    / 10000.0 >= 0.5),
         |mtx AS (SELECT doc_id, lower(text) AS tx
         |  FROM documents WHERE doc_id < 50),
         |mg AS (SELECT doc_id,
         |    CASE WHEN length(tx) >= 8 THEN
         |      list_transform(range(0, length(tx) - 8 + 1),
         |        i -> md5(substr(tx, CAST(i + 1 AS INT), 8)))
         |    ELSE [] END AS grams
         |  FROM mtx),
         |msel AS (SELECT doc_id,
         |    CASE WHEN len(grams) >= 4 THEN
         |      list_distinct(list_transform(range(0, len(grams) - 4 + 1),
         |        j -> list_min(grams[CAST(j + 1 AS INT):CAST(j + 4 AS INT)])))
         |    ELSE [] END AS fps
         |  FROM mg),
         |mf AS (SELECT doc_id, unnest(fps) AS fp FROM msel
         |  WHERE len(fps) > 0),
         |mw AS (SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM mf x JOIN mf y ON y.fp = x.fp AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(DISTINCT x.fp) >= 2),
         |mall AS (SELECT a, b FROM mj UNION
         |  SELECT a, b FROM ml UNION SELECT a, b FROM mw)
         |SELECT p.a, p.b,
         |  coalesce(j.f, false) AS by_jaccard,
         |  coalesce(l.f, false) AS by_lsh,
         |  coalesce(w.f, false) AS by_winnow
         |FROM mall p
         |LEFT JOIN (SELECT a, b, true AS f FROM mj) j USING (a, b)
         |LEFT JOIN (SELECT a, b, true AS f FROM ml) l USING (a, b)
         |LEFT JOIN (SELECT a, b, true AS f FROM mw) w USING (a, b)""".stripMargin,
    "txt_langid" ->
      s"""WITH b AS (SELECT doc_id,
         |  len(list_filter($toksSql, t -> t IN ('the','and','of','to','a'))) AS s_en,
         |  len(list_filter($toksSql, t -> t IN ('el','la','de','los','que'))) AS s_es,
         |  len(list_filter($toksSql, t -> t IN ('der','die','und','das','ist'))) AS s_de,
         |  len(list_filter($toksSql, t -> t IN ('le','les','des','et','une'))) AS s_fr
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
         |    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         |    WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         |    WHEN s_de >= s_fr THEN 'de'
         |    ELSE 'fr' END AS lang_pred,
         |  s_en, s_es, s_de, s_fr
         |FROM b""".stripMargin
  )
}
