package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Brute-force cosine top-k is the exact baseline (bounded query side ×
  * full corpus — a broadcast-joinable pattern at cluster scale); the
  * LSH-bucketed variant (random hyperplane signs) is the 100 TB path:
  * candidates come from a signature-prefix bucket join instead of the
  * full cross product.
  *
  * Dot products are computed in double precision with a sequential
  * index-order fold (`aggregate`), which matches DuckDB's list fold — the
  * oracle can reproduce values bit-for-bit before rounding.
  */
object VectorOps {

  /** Array[Float] → Array[Double] (do the math in doubles; summing floats
    * loses associativity headroom and diverges across engines).
    */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Codegen'd primitive loop (graft.functions.DotProduct) — the
    * `aggregate(zip_with(...))` form it replaces evaluated interpreted,
    * outside whole-stage codegen; the fold order (and thus every oracle
    * hash) is identical.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for a bounded query set.
    * @param queries (id, vec) — small (broadcast at scale)
    * @param corpus  (id, vec) — full
    */
  def topK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("q_id"), toDouble(col("vec")).as("q_vec"))
    val c = corpus.select(col("id").as("n_id"), toDouble(col("vec")).as("n_vec"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", round(cosine(col("q_vec"), col("n_vec")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("cos"))
  }

  /** Cosine-threshold near-duplicate pairs within a candidate set.
    * ALL-PAIRS — exact but O(n²), so strictly for bounded candidate
    * sets (an LSH bucket, a probed cell, a verification window); the
    * corpus-scale path is [[nearDupPairsBucketed]].
    */
  def nearDupPairs(vecs: DataFrame, threshold: Double): DataFrame = {
    val a = vecs.select(col("id").as("a"), toDouble(col("vec")).as("va"))
    val b = vecs.select(col("id").as("b"), toDouble(col("vec")).as("vb"))
    a.join(b, col("a") < col("b"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cos") > threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Cell-bucketed near-duplicate pairs — the corpus-scale semantic-
    * dedup candidate generator (the SemDeDup shape): every vector lands
    * in its nearest centroid cell (broadcast centroids, map-side dot
    * products), pairs form only WITHIN a shared cell, so pairwise work
    * is Σ|cell|² after one shuffle on the cell key — never the
    * |corpus|² of [[nearDupPairs]]. The trade is recall at Voronoi
    * boundaries: a near-dup pair split across two cells is invisible at
    * nprobe=1; `nprobe > 1` probes each vector into its n nearest
    * cells, recovering boundary pairs at ~nprobe× candidate cost (the
    * IVF recall knob applied to dedup). Pairs are unordered (a < b) and
    * emitted once even when two probed cells both surface them; cosine
    * is orientation-independent (same fold, commuted products), so the
    * dedup is exact. Deterministic: same centroids → same cells → same
    * pairs, any engine.
    */
  def nearDupPairsBucketed(vecs: DataFrame, centroids: DataFrame,
      threshold: Double, nprobe: Int = 1): DataFrame = {
    val probed = assignCells(vecs, centroids, nprobe)
      .select(col("id").as("a"), col("v").as("va"), col("cell"))
    val primary = assignCells(vecs, centroids, 1)
      .select(col("id").as("b"), col("v").as("vb"), col("cell"))
    probed.join(primary, Seq("cell"))
      .filter(col("a") =!= col("b"))
      // normalize orientation BEFORE distinct: with nprobe>1 only the
      // probing side fans out, so pair (x,y) may surface as (x,y) or
      // (y,x) depending on whose probe list covers whose primary cell
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"),
        round(cosine(col("va"), col("vb")), 6).as("cos"))
      .distinct()
      .filter(col("cos") > threshold)
  }

  /** SemDeDup keep decision over the full corpus: one nearest-cell
    * assignment (reused for both join sides), within-cell near-dup
    * pairs, and the deterministic smallest-id survivor policy — a row
    * is dropped iff some SMALLER id in its cell is cosine-closer than
    * `threshold`. Output (id, cell, keep) for every input row, so the
    * caller filters `keep` for the surviving corpus or audits the
    * dropped set. For transitive-closure canonicalization (keep one per
    * connected component, quality-ranked) feed
    * [[nearDupPairsBucketed]] into the [[ClusterOps]] CC pipeline
    * instead — this is the cheap one-pass policy a 100 TB prep run
    * applies inside each cell.
    */
  /** [[semanticDedup]] with the centroid count SELF-TUNED to the corpus:
    * k = ⌈√n⌉ cells, so expected cell population is ~√n and the
    * within-cell pairwise work Σ|cell|² is ~n^1.5 instead of n² — the
    * knob the fixed-centroid form leaves to the caller, set to the
    * standard balance point. Centroid choice is deterministic and
    * engine-replayable with NO RNG: the k corpus vectors smallest in
    * (md5(id), id) order — a uniform hash spread any engine reproduces,
    * fetched with a global TakeOrdered (top-k, never a full sort). The
    * gate's oracle re-derives n, k, and the same k centroids in SQL.
    */
  def semanticDedupAuto(vecs: DataFrame, threshold: Double): DataFrame = {
    // THREE consumers (the n count, the centroid top-k, the dedup pass)
    // — materialize the input once so an expensive upstream pipeline is
    // not re-executed per consumer (the ClusterOps.flatten convention)
    val v = ClusterOps.flatten(vecs)
    val n = v.count()
    require(n > 0, "semanticDedupAuto needs a non-empty corpus")
    val k = math.ceil(math.sqrt(n.toDouble)).toInt
    val cents = v
      .select(col("id"), col("vec"), md5(col("id").cast("string")).as("h"))
      .orderBy(col("h"), col("id"))
      .limit(k)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    semanticDedup(v, cents, threshold)
  }

  def semanticDedup(vecs: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame = {
    val cells = assignCells(vecs, centroids, 1)
    val x = cells.select(col("id").as("a"), col("v").as("va"), col("cell"))
    val y = cells.select(col("id").as("b"), col("v").as("vb"), col("cell"))
    val dominated = x.join(y, Seq("cell"))
      .filter(col("a") < col("b") &&
        round(cosine(col("va"), col("vb")), 6) > threshold)
      .select(col("b").as("id")).distinct()
      .withColumn("dom", lit(true))
    cells.select(col("id"), col("cell"))
      .join(dominated, Seq("id"), "left_outer")
      .select(col("id"), col("cell"), col("dom").isNull.as("keep"))
  }

  /** Random-hyperplane LSH signature: bit i = sign(v · h_i) where h_i is a
    * deterministic ±1 hyperplane derived from md5(seed:i:dim). Hamming-
    * close signatures ⇒ cosine-close vectors; bucketing on the signature
    * turns ANN into a group-by join.
    *
    * `dims` is a caller-supplied constant (embedding width is fixed by the
    * model that produced the vectors): the hyperplanes are driver-built
    * literal arrays, and deriving the width from the data would issue a
    * Spark job inside what must stay a lazy plan builder.
    */
  def rhpSignature(df: DataFrame, idCol: String, vecCol: String, dims: Int,
      bits: Int = 16, seed: String = "graft"): DataFrame = {
    require(dims > 0, s"dims=$dims must be positive")
    // hyperplanes as literal arrays: hp(i)(d) ∈ {+1,-1} from md5 parity
    val planes: Seq[Seq[Double]] = (0 until bits).map { i =>
      (0 until dims).map { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed:$i:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1.0 else -1.0
      }
    }
    val planeLits = array(planes.map(p => array(p.map(lit(_)): _*)): _*)
    df.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("sig", array_join(transform(planeLits,
        p => when(graft.functions.VectorExprs.dot_product(col("v"), p) >= 0,
          "1").otherwise("0")), ""))
  }

  /** Symmetric int8 quantization of an embedding column:
    * q = clamp(floor(x·127), −127, 127), dequantize with q/127 — 4× the
    * storage density for ANN candidate generation, with exact rescoring
    * on the float column for the final ranks. `floor`, not `round`:
    * round's half-boundary rule differs across engines, floor of a
    * bit-identical double does not. Row-local, codegen'd.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      transform(toDouble(col(vecCol)),
        x => greatest(lit(-127L), least(lit(127L), floor(x * 127.0)))
          .cast("tinyint")).as("qvec"))

  /** Johnson–Lindenstrauss random projection to `dOut` dimensions with a
    * ±1 (Achlioptas) matrix — the embedding-compression pass before ANN
    * or clustering at 100 TB: dOut/dims of the bytes downstream, pairwise
    * distances preserved within the JL distortion bound. Entirely
    * row-local and codegen'd: the sign matrix is dOut·dims literals
    * derived from md5(seed:j:i) (top bit of the first byte — the simhash
    * hex convention, so an external engine reproduces the exact matrix
    * from the seed string alone), and each output coordinate is an
    * integer dot product.
    *
    * Integer-exact by construction: inputs quantize to
    * q = floor(x·2²⁰ + ½) (float mantissas shifted into double exactness
    * — no cross-engine rounding wobble), so y_j = Σᵢ s_ji·qᵢ is a LONG
    * whose value is independent of summation order. A double formulation
    * would hash-diverge on any engine that sums in a different order;
    * this one is bit-reproducible everywhere, the property every
    * deterministic-pipeline operator in this repo holds. Undo the scale
    * with y / 2²⁰ when real-valued coordinates are needed.
    *
    * Output: (id, proj array<long>) — downstream ops keep the array;
    * oracles posexplode it.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      dims: Int, dOut: Int, seed: String = "graft"): DataFrame = {
    require(dims > 0 && dOut > 0, s"need positive dims=$dims dOut=$dOut")
    val signs: Seq[Seq[Long]] = (0 until dOut).map { j =>
      (0 until dims).map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed:$j:$i".getBytes("UTF-8"))
        if ((h(0) & 0x80) != 0) 1L else -1L
      }
    }
    val sLit = array(signs.map(r => array(r.map(lit(_)): _*)): _*)
    val q = transform(toDouble(col(vecCol)),
      x => floor(x * lit(1048576.0) + lit(0.5)).cast("long"))
    // bind the quantized array ONCE via the single-element-array trick
    // (chunksOfTokens note): the outer transform references it per output
    // dimension, and an inlined subtree would re-quantize dOut times.
    // A row whose vector length differs from `dims` fails LOUDLY: zip_with
    // would null-pad it and the fold would emit an all-null projection
    // that silently poisons every downstream distance
    df.select(col(idCol).as("id"),
      when(col(vecCol).isNull, lit(null)) // null in, null out (family rule)
        .when(size(col(vecCol)) === lit(dims),
          element_at(transform(array(q), qv =>
            transform(sLit, row =>
              aggregate(zip_with(qv, row, (x, s) => x * s),
                lit(0L), (acc, v) => acc + v))), 1))
        .otherwise(raise_error(concat(lit(s"randomProject: expected a " +
          s"$dims-dim vector, got length "), size(col(vecCol)).cast("string"),
          lit(" at id "), col(idCol).cast("string")))).as("proj"))
  }

  /** Nearest-centroid cell assignment: each row of `df` (id, vec) scored
    * against every centroid (broadcast, so the n·k dot products are
    * map-side), keeping the `nprobe` best cells per row. Ties break on
    * cid for determinism.
    *
    * Shuffle budget — BOTH paths are bounded-state aggregations, safe
    * on an UNBOUNDED df (the dedup/frontier callers probe the corpus
    * side): nprobe=1 reduces with `max_by` (partial aggregation
    * combines map-side, the exchange carries ~n rows, not n·k);
    * nprobe>1 rides [[SketchOps.topKPerGroup]] (≤nprobe entries per id
    * per partition before the exchange — the row_number window this
    * replaces shuffled ALL n·k scored rows through one exchange and
    * sorted them per id). Cosines ride the order-bits transform
    * (order-preserving, NaN above +∞ — identical to the window's
    * NaN-greatest descending sort), and the (cos DESC, cid ASC) tie
    * rule is topKPerGroup's (score DESC, id ASC) rule verbatim, so
    * results are bit-identical to the window form. The nprobe>1 path
    * re-reads `df` to re-attach vectors after the aggregation (top-k
    * state carries only (bits, cid)) — `df` must be deterministic, or
    * pre-materialized by the caller (VectorStore.query collects it;
    * the gates read parquet).
    */
  def assignCells(df: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val cents = broadcast(centroids.select(col("cid"),
      toDouble(col("cvec")).as("cv")))
    val scored = df.select(col("id"), toDouble(col("vec")).as("v"))
      .crossJoin(cents)
      .withColumn("c_cos", cosine(col("v"), col("cv")))
    if (nprobe == 1) {
      // argmax by (cos, then lower cid): cid is unique, so the ordering
      // struct is tie-free and max_by is deterministic
      scored.groupBy(col("id"))
        .agg(max_by(struct(col("v"), col("cid")),
          struct(col("c_cos"), -col("cid"))).as("m"))
        .select(col("id"), col("m.v").as("v"), col("m.cid").as("cell"))
    } else {
      val top = SketchOps.topKPerGroup(
        scored.select(col("id"),
          graft.functions.OrderBits.toBitsCol(col("c_cos")).as("ob"),
          col("cid")),
        "id", "ob", "cid", nprobe)
      top.select(col("id"), col("cid").as("cell"))
        .join(df.select(col("id"), toDouble(col("vec")).as("v")), Seq("id"))
        .select(col("id"), col("v"), col("cell"))
    }
  }

  /** One Lloyd (k-means) step: assign every vector to its nearest
    * centroid, recompute each cell's centroid as the elementwise mean.
    * Returns long form (cid, pos, val, n) — `n` is the cell population.
    * An empty cell simply disappears (standard Lloyd's on real data;
    * reseed at the caller if k must stay fixed).
    *
    * Determinism: components are floor-quantized to 1e-6 longs BEFORE
    * summing — integer addition is associative, so the mean is
    * independent of partition/summation order (a double sum over rows is
    * not, and fails a cross-engine hash gate nondeterministically). The
    * division sq/(n·1e6) is a single IEEE op on exact operands —
    * bit-identical in any engine.
    */
  def kmeansStep(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(corpus, centroids, 1)
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("q", floor(col("x") * 1e6))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .select(col("cell").as("cid"), col("pos").cast("long").as("pos"),
        (col("sq").cast("double") / (col("n").cast("double") * lit(1e6)))
          .as("val"),
        col("n"))

  /** Iterated Lloyd steps, reassembling (cid, cvec) arrays each round so
    * the output can seed [[assignCells]]/[[annIvf]]. Each round is two
    * shuffles (cell-pos aggregate, array reassembly); rounds checkpoint
    * through [[ClusterOps.flatten]] — bare localCheckpoint keeps the plan
    * flat but chains `originStats` through the per-round joins, growing
    * driver-side BigInt stat arithmetic with the iteration count.
    */
  def kmeansCentroids(corpus: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    var cents = seeds
    for (_ <- 0 until iters) {
      cents = ClusterOps.flatten(lloydMoved(corpus, cents))
    }
    cents
  }

  /** One Lloyd round's MOVED entries — (cid, cvec) for every cell that
    * attracted members, [[kmeansStep]]'s long form reassembled into
    * seed shape. ONE definition of the pos-sort reassembly (downstream
    * oracle hashes replay its tie rule), shared by the standard and
    * k-fixed trainers.
    */
  private def lloydMoved(corpus: DataFrame, cents: DataFrame): DataFrame =
    kmeansStep(corpus, cents)
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("val")))),
        x => x("val")).as("cvec"))

  /** [[kmeansCentroids]] with k FIXED: a cell that attracts no members
    * in a round carries its entry over unchanged (per round — the
    * carried entry keeps competing as an attractor in later rounds)
    * instead of disappearing with the aggregate. This is
    * [[pqCodebookRefined]]'s left-join-coalesce rule applied to the
    * full-vector trainer, and it is what a SERVING-table retrain
    * ([[VectorStore.retrain]]) needs: the store's cell count is an
    * operator-configured property of the layout, and a vacated region
    * must keep its (stale) routing entry rather than silently shrink
    * every later query's nprobe universe. Seeds widen to double at
    * entry so the carry branch and the moved branch agree in type.
    */
  def kmeansCentroidsKept(corpus: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    var cents = seeds.select(col("cid"), toDouble(col("cvec")).as("cvec"))
    for (_ <- 0 until iters) {
      val moved = lloydMoved(corpus, cents)
        .withColumnRenamed("cvec", "cvec_new")
      cents = ClusterOps.flatten(cents
        .join(moved, Seq("cid"), "left_outer")
        .select(col("cid"),
          coalesce(col("cvec_new"), col("cvec")).as("cvec")))
    }
    cents
  }

  /** Drift meter for a served centroid set: per-cell occupancy and
    * total quantized squared error of `batch` against the SERVING
    * centroids — the statistic a deployment folds per append to decide
    * RETRAINING cadence (trained centroids are built once; appended
    * data drifts the corpus distribution, and rising mean error /
    * skewing occupancy is the signal). Shape `(cell, n, err_sum)` is
    * ADDITIVE: fold batches by summing per cell — the sketch-store
    * discipline, each fold reads ONLY its batch, history never
    * rescanned (cost is one broadcast assignment pass + a map-side
    * combining aggregate over the batch). Exact integers end to end:
    * assignment is [[assignCells]]' deterministic argmax, the error is
    * [[quantSqDist]]'s floor(x·1000) int64 kernel — so the fold is
    * order-free and the statistic engine-replayable (mean error =
    * err_sum / n, derived exactly by the reader).
    */
  def driftStats(batch: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(batch, centroids, 1)
      .join(broadcast(centroids.select(col("cid").as("cell"),
        toDouble(col("cvec")).as("cv"))), Seq("cell"))
      .select(col("cell"), quantSqDist(col("v"), col("cv")).as("err"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("err")).as("err_sum"))

  /** IVF-style ANN: assign every vector to its nearest centroid cell, and
    * answer queries from the union of their `nprobe` nearest cells only.
    * Centroids are caller-provided — typically a k-means output; any
    * deterministic seed set works, the cell-partitioned search mechanics
    * are what must hold at scale: centroid scoring is a broadcast
    * map-side pass (n·k dot products, no shuffle), and the candidate join
    * shuffles once on the cell key with Σ cell² pairwise work.
    *
    * @param queries bounded (id, vec) query side
    * @param corpus  full (id, vec) corpus
    * @param centroids (cid, cvec)
    */
  def annIvf(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int = 2): DataFrame = {
    val corpusCells = assignCells(corpus, centroids, 1)
    val queryCells = assignCells(queries, centroids, nprobe)
    val scored = queryCells
      .select(col("id").as("q_id"), col("v").as("q_vec"), col("cell"))
      .join(corpusCells.select(col("id").as("n_id"),
        col("v").as("n_vec"), col("cell")), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosine(col("q_vec"), col("n_vec")), 6).as("cos"))
      .distinct() // a neighbor reachable via several probed cells scores once
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("cos"))
  }

  /** ANN via OR-amplified LSH: `tables` independent hash tables, each
    * keyed by a disjoint band of the signature, so a pair is a candidate
    * when ANY band matches (the same banding shape as the MinHash dedup
    * path, TextOps.bandKeys). Candidate generation costs Σ bucket² per
    * table with `tables · 2^(bits/tables)` effective buckets — tune
    * `bits`/`tables` to the corpus so buckets stay bounded; the
    * single-prefix variant this replaces capped out at 2^prefixBits
    * buckets and degenerated to n²/buckets at scale. Pairs are deduped
    * before scoring, so each candidate is scored exactly once.
    */
  def annLsh(df: DataFrame, idCol: String, vecCol: String, k: Int, dims: Int,
      bits: Int = 16, tables: Int = 4): DataFrame = {
    require(bits % tables == 0,
      s"bits=$bits must be divisible by tables=$tables")
    val rpt = bits / tables
    val sigs = rhpSignature(df, idCol, vecCol, dims, bits)
    val banded = sigs.select(col("id"),
        explode(sequence(lit(0), lit(tables - 1))).as("tbl"),
        col("sig"))
      .withColumn("bucket", expr(s"substr(sig, tbl * $rpt + 1, $rpt)"))
      .select(col("id"), col("tbl"), col("bucket"))
    val cand = banded.alias("x").join(banded.alias("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    // score each UNORDERED pair once — the n·d cosine kernel is the
    // dominant cost — then view the scored pair from both endpoints; the
    // swap reuses the computed cos (symmetric), halving kernel work and
    // vector-join shuffle volume vs symmetrizing before scoring
    val vecs = sigs.select(col("id"), col("v"))
    val scored = cand
      .join(vecs.select(col("id").as("a"), col("v").as("q_vec")), "a")
      .join(vecs.select(col("id").as("b"), col("v").as("n_vec")), "b")
      .withColumn("cos", round(cosine(col("q_vec"), col("n_vec")), 6))
      // both endpoint views ride ONE explode (a union of the swap would
      // re-execute the join+kernel subplan per branch)
      .select(explode(array(
          struct(col("a").as("q"), col("b").as("n")),
          struct(col("b").as("q"), col("a").as("n")))).as("e"),
        col("cos"))
      .select(col("e.q").as("a"), col("e.n").as("b"), col("cos"))
    val w = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("a").as("q_id"), col("b").as("n_id"), col("rank"), col("cos"))
  }

  // ----------------------------------------------- product quantization

  /** Integer-quantized subvector `j` of an embedding: dims
    * [j·sub, (j+1)·sub) as floor(x·1000) longs. ALL PQ math runs on
    * these integers — squared L2 in int64 is exact and
    * summation-order-free, so codes, ADC distances, and therefore the
    * whole search result are bit-reproducible cross-engine (the same
    * discipline as emb_quantize / the temperature recipe), where
    * float PQ implementations differ in the last ulp per library.
    */
  private def qsub(v: Column, j: Int, sub: Int): Column =
    transform(slice(v, j * sub + 1, sub),
      x => floor(x.cast("double") * lit(1000.0)).cast("long"))

  private def sqDistL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, d) => acc + d)

  /** EXACT full-dimension squared L2 between two vectors in the SAME
    * integer quantization the PQ path uses (floor(x·1000) per
    * component) — the re-rank metric of the two-stage serving path
    * ([[VectorStore.queryRerank]]): scoring the shortlist in the
    * domain the ADC approximates keeps the comparison meaningful
    * (exact ≤ ADC error, same units) and the whole pipeline int64
    * bit-reproducible cross-engine, where a float kernel would differ
    * in the last ulp per library. Row-local codegen.
    *
    * CALLER CONTRACT (public, dimension- and magnitude-agnostic — the
    * function does NOT guard this, because a per-element check would
    * put a branch inside the innermost codegen'd fold): with quantized
    * components bounded by B = 1000·max|x|, the accumulator is bounded
    * by dim·(2B)², which must stay under 2⁶³. Every realistic embedding
    * is orders of magnitude inside (dim 4096, |x| ≤ 10⁶ → ~2⁵⁵); a
    * caller feeding wider vectors or larger magnitudes must check
    * dim·4B² < 2⁶³ itself or the long sum overflows SILENTLY. The
    * serving wire-in ([[VectorStore.queryRerank]]) inherits the stored
    * corpus's dim (≤ thousands) and unit-scale components — inside the
    * bound by construction.
    */
  def quantSqDist(a: Column, b: Column): Column =
    sqDistL(quantFull(a), quantFull(b))

  /** The whole vector under the PQ quantization rule — [[qsub]] without
    * the subspace slice; one definition of floor(x·1000) per consumer
    * class so the codes and the exact re-rank can never quantize
    * differently.
    */
  private def quantFull(v: Column): Column =
    transform(v, x => floor(x.cast("double") * lit(1000.0)).cast("long"))

  /** Sampled PQ codebook: the first `codes` corpus vectors (by id)
    * sliced into `m` quantized subvectors — (j, code, cq). A sampled
    * codebook is the standard training-free PQ baseline; swap in
    * per-subspace k-means centroids ([[kmeansCentroids]]) when recall
    * matters more than determinism of the training loop. Tiny
    * (m·codes rows) — always broadcast.
    */
  def pqCodebook(corpus: DataFrame, m: Int, codes: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val sub = dim / m
    val base = corpus.orderBy(col("id")).limit(codes)
    val w = Window.orderBy(col("id"))
    base
      .withColumn("code", (row_number().over(w) - 1).cast("long"))
      .select(col("code"), posexplode(subsOf(col("vec"), m, sub)))
      .select(col("pos").as("j"), col("code"), col("col").as("cq"))
  }

  /** TRAINED PQ codebook: the sampled entries of [[pqCodebook]] refined
    * by `iters` Lloyd rounds PER SUBSPACE — each corpus subvector joins
    * the (broadcast, m·codes-row) entry table, takes its nearest entry
    * by the same int64 squared-L2 the encoder uses (ties to the smaller
    * code — [[pqCodesCol]]'s rule, so training and encoding can never
    * disagree about "nearest"), and each entry moves to the
    * floor-division mean of its members. INTEGER-EXACT end to end:
    * members are the floor(x·1000) quantized longs, sums are int64, and
    * the mean is the integral-division floor (s − pmod(s, n)) div n —
    * no float enters the loop, so the trained entries are
    * bit-reproducible and a SQL engine replays them exactly (the
    * property the sampled baseline's doc promises this swap-in keeps).
    * Entries that attract no members carry over unchanged, exactly like
    * the oracle's left-join-coalesce. CALLER CONTRACT (the
    * [[quantSqDist]] rule's training-side twin): per-(entry, position)
    * member sums must stay inside int64 — |s| ≤ members·1000·max|x|, so
    * ~10⁹ unit-scale members per entry are still orders inside; beyond
    * that the long sum wraps silently and the caller must pre-aggregate
    * or rescale. Per round: one broadcast join + two bounded
    * aggregations over (j, code, pos) — corpus-sized map side, m·codes·
    * sub-row reduce side; rounds flatten through [[ClusterOps.flatten]]
    * so the plan stays iteration-independent.
    *
    * Recall economics vs the sampled baseline are recorded in PERF.md
    * (`recall_adc` sampled < trained on a 500k-vector corpus) — the
    * nprobe-at-fixed-recall lever a 100 TB deployment tunes.
    */
  def pqCodebookTrained(corpus: DataFrame, m: Int, codes: Int, dim: Int,
      iters: Int): DataFrame =
    pqCodebookRefined(corpus, pqCodebook(corpus, m, codes, dim), m, dim,
      iters)

  /** The Lloyd loop of [[pqCodebookTrained]] with the STARTING entries
    * caller-supplied — the retraining path: a deployment warm-starts
    * from the codebook its store currently SERVES (k and the code
    * space stay fixed, entries move toward where the appended data
    * went) instead of re-sampling from scratch. Same integer-exact
    * rounds, same tie rule, same caller contract as the cold-start
    * form — which is this function applied to the sampled baseline.
    */
  def pqCodebookRefined(corpus: DataFrame, cb0: DataFrame, m: Int,
      dim: Int, iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val sub = dim / m
    // quantized subvector rows (id, j, sq) — ONE quantization pass,
    // re-read each round (the corpus is parquet-backed at every caller)
    val subs = corpus.filter(col("vec").isNotNull)
      .select(col("id"), posexplode(subsOf(col("vec"), m, sub)))
      .select(col("id"), col("pos").as("j"), col("col").as("sq"))
    var cb = cb0
    for (_ <- 0 until iters) {
      val entries = broadcast(cb.select(col("j"), col("code"), col("cq")))
      // nearest entry per (id, j): struct-min over (d2, code, sq) IS the
      // (d2 ASC, code ASC) rule — (d2, code) is unique per group, so the
      // trailing sq never participates in the ordering, it just rides
      val best = subs.join(entries, Seq("j"))
        .groupBy(col("id"), col("j"))
        .agg(min(struct(sqDistL(col("sq"), col("cq")).as("d2"),
          col("code").as("code"), col("sq").as("msq"))).as("b"))
        .select(col("j"), col("b.code").as("code"),
          posexplode(col("b.msq")))
      val means = best
        .groupBy(col("j"), col("code"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        // floor division in INT64 end to end: subtracting pmod makes the
        // dividend exactly divisible, so the integral `div` (which stays
        // in long arithmetic) returns the exact floor — the `/` operator
        // would cast both sides to double and round once a member sum
        // passed 2^53, silently drifting from the oracle's exact BIGINT
        // replay. (The truncating long `/` alone is wrong too: member
        // components are signed, and truncate-vs-floor flips every
        // negative mean's last unit.)
        .select(col("j"), col("code"), col("pos"),
          expr("(s - pmod(s, n)) div n").as("cq_i"))
        .groupBy(col("j"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("cq_i")))), x => x("cq_i")).as("cq_new"))
      cb = ClusterOps.flatten(cb.join(means, Seq("j", "code"), "left_outer")
        .select(col("j"), col("code"),
          coalesce(col("cq_new"), col("cq")).as("cq")))
    }
    cb
  }

  /** All `m` quantized subvectors as one array — built BEFORE any
    * explode, so the vector is quantized exactly once (each dim lands
    * in exactly one slice), not once per exploded subspace row.
    */
  private def subsOf(v: Column, m: Int, sub: Int): Column =
    array((0 until m).map(j => qsub(v, j, sub)): _*)

  /** PQ-encode the corpus: every vector becomes `m` 4-bit-scale codes —
    * the nearest codebook entry per subspace, ties to the smaller code.
    * dim/m longs of storage per vector collapse to m small ints; at
    * 100 TB this is the difference between an index that fits in memory
    * and one that doesn't.
    *
    * The codebook is m·codes rows — kilobytes by contract — so it is
    * collected once and inlined as a LITERAL, making the whole encode a
    * scan-local projection: per subspace, an array of (d2, code)
    * structs over the literal entries and an `array_min` (struct
    * ordering = d2 then code, exactly the tie rule). ZERO shuffles and
    * zero joins, where the join formulation paid an m-way explode, a
    * 16-way join, and two aggregations per vector (measured 4.5× on
    * a 500k-vector build, PERF.md). Argmin semantics identical, so every
    * downstream oracle hash is unchanged.
    */
  /** The code-assignment EXPRESSION for one vector column — exposed so
    * store builds can compute codes in the same projection as the cell
    * assignment instead of joining two derivations back on id.
    *
    * EAGER: building this Column collects the codebook (one bounded
    * job — m·codes rows, kilobytes by contract), so callers on the
    * lazy-builder discipline should `localCheckpoint()` the codebook
    * once and reuse the Column rather than re-deriving it per call.
    * The expression itself evaluates only non-null vectors; null rows
    * must be filtered by the caller (as [[pqEncode]] and the store
    * builds do — a null vector has no codes and must not be encoded).
    */
  def pqCodesCol(vec: Column, codebook: DataFrame, m: Int,
      dim: Int): Column =
    transform(pqBestsCol(vec, codebook, m, dim), b => b.getField("code"))

  /** The per-subspace argmin WITH its distance — array of struct(d2,
    * code), one element per subspace: [[pqCodesCol]] keeps only the
    * `code` field (storage discards the distance), [[pqDriftStats]]
    * also reads `d2` (the quantization error the codes carry
    * implicitly). ONE definition of "nearest entry" for both consumers,
    * so the drift meter can never disagree with the encoder about which
    * code a vector takes. Same EAGER collect contract as
    * [[pqCodesCol]]'s doc states.
    */
  def pqBestsCol(vec: Column, codebook: DataFrame, m: Int,
      dim: Int): Column = {
    val sub = dim / m
    // cbMat(j)(code) = quantized centroid subvector
    val rows = codebook.select(col("j"), col("code"), col("cq")).collect()
    val cbMat: Seq[Seq[Seq[Long]]] = (0 until m).map { j =>
      val forJ = rows.filter(_.getInt(0) == j)
      require(forJ.nonEmpty, s"codebook has no entries for subspace $j")
      forJ.sortBy(_.getLong(1)).zipWithIndex.map { case (r, i) =>
        require(r.getLong(1) == i.toLong,
          s"codebook codes for subspace $j are not contiguous from 0")
        r.getSeq[Long](2).toSeq
      }.toSeq
    }
    val nCodes = cbMat.head.length
    transform(subsOf(vec, m, sub), (sq, j) =>
      array_min(transform(sequence(lit(0), lit(nCodes - 1)),
        c => struct(
          sqDistL(sq, element_at(element_at(typedLit(cbMat), j + 1), c + 1))
            .as("d2"),
          c.cast("long").as("code")))))
  }

  /** Drift meter for a served PQ codebook — [[driftStats]]' twin for
    * the OTHER trained artifact: per-(subspace, code) occupancy and
    * exact integer quantization error of `batch` against the SERVING
    * entries, the statistic that says when appended data stopped
    * fitting the codebook (rising err_sum/n per subspace, occupancy
    * collapsing onto few codes). Same additive contract: fold batches
    * by summing (n, err_sum) per (j, code) — each fold reads ONLY its
    * batch, and the whole pass is the encoder's scan-local literal
    * projection ([[pqBestsCol]]) plus one map-side-combining aggregate
    * over m rows per vector; history is never rescanned. Exact int64
    * end to end (the [[quantSqDist]] floor(x·1000) domain), so the fold
    * is order-free and SQL-replayable.
    */
  def pqDriftStats(batch: DataFrame, codebook: DataFrame, m: Int,
      dim: Int): DataFrame =
    batch.filter(col("vec").isNotNull)
      .select(posexplode(pqBestsCol(col("vec"), codebook, m, dim)))
      .select(col("pos").cast("long").as("j"), col("col.code").as("code"),
        col("col.d2").as("err"))
      .groupBy(col("j"), col("code"))
      .agg(count(lit(1)).as("n"), sum(col("err")).as("err_sum"))

  def pqEncode(corpus: DataFrame, codebook: DataFrame, m: Int,
      dim: Int): DataFrame =
    // null vectors have no codes: the former join formulation dropped
    // them implicitly, the projection form must drop them explicitly
    corpus.filter(col("vec").isNotNull)
      .select(col("id"), pqCodesCol(col("vec"), codebook, m, dim).as("codes"))

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    * query precomputes a distance table to every codebook entry
    * (m·codes int64s, broadcast), and a corpus vector's approximate
    * distance is m table lookups summed — the full-dimension kernel
    * never touches the corpus at query time. Exact integer arithmetic
    * end to end; ties by (adc, n_id).
    */
  /** Per-query PQ distance table: (q_id, j, code, d2) for every
    * codebook entry — m·codes int64 rows per query, always broadcast.
    */
  def pqLut(queries: DataFrame, codebook: DataFrame, m: Int,
      dim: Int): DataFrame =
    queries
      .select(col("id").as("q_id"), posexplode(subsOf(col("vec"), m, dim / m)))
      .select(col("q_id"), col("pos").as("j"), col("col").as("sq"))
      .join(codebook, Seq("j"))
      .select(col("q_id"), col("j"), col("code"),
        sqDistL(col("sq"), col("cq")).as("d2"))

  def pqSearch(queries: DataFrame, encoded: DataFrame, codebook: DataFrame,
      m: Int, dim: Int, k: Int): DataFrame = {
    val lut = pqLut(queries, codebook, m, dim)
    val adc = encoded
      .select(col("id").as("n_id"), posexplode(col("codes")))
      .select(col("n_id"), col("pos").as("j"), col("col").as("code"))
      .join(broadcast(lut), Seq("j", "code"))
      .filter(col("n_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("d2")).as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("n_id"))
    adc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("adc"))
  }

  /** IVF+PQ — the canonical big-corpus ANN composition: coarse cells
    * prune the candidate set ([[assignCells]], the [[VectorStore]]
    * partition-filter layout), then only the probed cells' vectors are
    * scored, and scored by ADC over their PQ codes, never their raw
    * components. At 100 TB that compounds the two savings this family
    * demonstrates separately: IO touches ~nprobe/cells of the data, and
    * what is touched costs m lookups per vector instead of a
    * full-dimension kernel. Candidate pairs are cell-bounded (the
    * broadcast query-cell table semi-joins the corpus cells before any
    * scoring), ADC stays exact int64.
    */
  def annIvfPq(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      codebook: DataFrame, m: Int, dim: Int, k: Int,
      nprobe: Int = 2): DataFrame = {
    val cells = assignCells(corpus, centroids, 1)
      .select(col("id").as("n_id"), col("cell"))
    val qcells = assignCells(queries, centroids, nprobe)
      .select(col("id").as("q_id"), col("cell"))
    val cand = cells.join(broadcast(qcells), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id")).distinct()
    val lut = pqLut(queries, codebook, m, dim)
    val enc = pqEncode(corpus, codebook, m, dim)
      .select(col("id").as("n_id"), posexplode(col("codes")))
      .select(col("n_id"), col("pos").as("j"), col("col").as("code"))
    val adc = cand
      .join(enc, Seq("n_id"))
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("d2")).as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("n_id"))
    adc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("adc"))
  }
}
