package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup clustering: connected components over a near-duplicate candidate
  * pair graph (the LSH output), then one canonical document per cluster.
  *
  * This is the step a real training-data pipeline runs AFTER pair
  * generation — near-dup is transitive in practice (A≈B, B≈C ⇒ drop two
  * of the three), so the unit of deduplication is the component, not the
  * pair.
  *
  * Scale design: min-label propagation with star collapse and a
  * pointer-doubling shortcut. Per round:
  *   1. relax:    r(v) ← min(lbl(v), min over neighbors' lbl)
  *   2. collapse: r(v) ← min over the group sharing v's OLD label of r
  *                (everyone pointing at one representative inherits the
  *                group's best discovery at once — without this the
  *                plain relax+shortcut loop measured ~50 rounds on a
  *                2k-node random functional graph, the O(log²) regime)
  *   3. shortcut: lbl(v) ← r(r(v))  (pointer doubling)
  * Labels are monotone non-increasing, so Σ lbl is an exact-integer
  * convergence witness. Every round checkpoints AND severs the
  * checkpoint's stats chain (see `flatten` below — without that, round
  * cost explodes exponentially in the driver from ~round 17). The min
  * aggregations combine map-side, so a hub node receives #partitions
  * rows, never its degree.
  */
object ClusterOps {

  /** Connected components of an undirected edge set.
    *
    * @param edges (a, b) candidate pairs, any orientation, self-loops ok
    * @param nodes (id) the full node universe — singletons (no edges)
    *              appear in the output labeled by themselves
    * @return (id, component) where component = min node id reachable
    */
  /** Checkpoint an iterative round AND sever its stats chain.
    * localCheckpoint truncates the PLAN but chains `originStats`: a
    * checkpointed round's sizeInBytes is the product of the previous
    * round's through its joins, so the stat doubles its digit count
    * every round and by round ~20 the driver spends minutes multiplying
    * million-digit BigInts inside the stats visitor (measured: 0.5 s
    * rounds growing 3× per round from round 17). Rebuilding from the
    * checkpointed RDD severs the chain — stats reset to the default.
    * Any DataFrame loop that checkpoints per round must route through
    * this (CC below, VectorOps.kmeansCentroids).
    */
  private[graft] def flatten(df: DataFrame): DataFrame = {
    explainDump(df)
    df.sparkSession.createDataFrame(df.localCheckpoint().rdd, df.schema)
  }

  /** Debug-only plan capture: when GRAFT_EXPLAIN_DIR names a directory,
    * every materialization routed through [[flatten]] first writes its
    * formatted plan there — the only way to SEE the real executed round
    * plans of the iterative kernels, whose returned frames are RDD-backed
    * (their own explain is just `Scan ExistingRDD`). Zero cost unset.
    */
  private val explainSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def explainDump(df: DataFrame): Unit =
    sys.env.get("GRAFT_EXPLAIN_DIR").foreach { dir =>
      // best-effort: a stale env var pointing at an unwritable dir must
      // not fail the iterative kernels' hot loop it instruments
      try {
        val n = explainSeq.incrementAndGet()
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f"$dir/flatten_$n%03d.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } catch {
        case e: java.io.IOException =>
          System.err.println(s"GRAFT_EXPLAIN_DIR dump skipped: $e")
      }
    }

  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 60): DataFrame = {
    val e = edges.select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    // the symmetric edge table is STATIC across rounds and every round
    // joins it on v — partition+sort it by v ONCE and persist (the
    // pageRank edge-cache design): each round's join then streams the
    // cache with no exchange and no sort on the edge side, so the only
    // per-round movement is the O(nodes) label frame. A flatten here
    // (the old shape) erased the partitioning and re-shuffled the
    // O(edges) side every round.
    val sym =
      e.union(e.select(col("v").as("u"), col("u").as("v"))).distinct()
        .repartition(col("v")).sortWithinPartitions(col("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try ccKernelOn(sym, nodes, maxRounds)
    finally {
      // the final flatten already materialized lbl, so releasing the
      // cache cannot force a recompute — and on the non-convergence
      // throw, releasing here keeps a long-lived session from
      // accumulating pinned O(edges) caches across failed calls
      sym.unpersist(blocking = false)
    }
  }

  /** Connected components served from a persisted [[GraphStore]] that
    * holds the SYMMETRIC edge set (save both directions — min-label
    * propagation pulls across an edge in one direction only, so a
    * directed-only store would compute reachability, not weak
    * components). The stored table is bucketed by `src`; relabeling
    * `src` as the round-join key `v` lets every round consume the
    * pinned scan with zero exchange and zero sort on the O(edges)
    * side — [[connectedComponents]]'s per-call symmetrize +
    * repartition + sort build is skipped entirely, the
    * [[pageRankStored]] economics applied to clustering. Parallel
    * edges are harmless here (min over a multiset) and self-loops are
    * filtered, so the same store serves rank and components.
    */
  def connectedComponentsStored(st: GraphStore.Loaded,
      maxRounds: Int = 60): DataFrame = {
    // the precondition is RECORDED, not just documented: a directed
    // store (e.g. one built for PageRank) silently yields reachability
    // labels, not weak components — refuse unless the saver asserted
    // both directions are stored (GraphStore.save(symmetric = true))
    require(st.symmetric,
      "connectedComponentsStored needs a store saved with symmetric = " +
        "true — min-label propagation pulls across an edge in one " +
        "direction only, so a directed-edge store would compute " +
        "reachability, not weak components; store both directions and " +
        "assert the flag at save time")
    val sym = st.edges.filter(col("src") =!= col("dst"))
      .select(col("dst").as("u"), col("src").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try ccKernelOn(sym, st.nodes, maxRounds)
    finally sym.unpersist(blocking = false)
  }

  /** The shared label-propagation loop over an ALREADY-LAID-OUT
    * symmetric edge frame `sym (u, v)` — partitioned by `v`, pinned by
    * the caller, who also releases it.
    */
  private def ccKernelOn(sym: DataFrame, nodes: DataFrame,
      maxRounds: Int): DataFrame = {
    var lbl = flatten(
      nodes.select(col("id").cast("long").as("id"))
        .distinct()
        .withColumn("lbl", col("id")))
    // None = no round yet (ids may be negative, so no sentinel value is
    // collision-free). BigDecimal, not Long: with 64-bit-hash node ids
    // (the natural key at dedup scale) a Long Σ lbl overflows after a few
    // same-sign additions — ANSI mode would fail the job, non-ANSI would
    // wrap and quietly break the exact-integer convergence witness.
    var prevSum: Option[BigDecimal] = None
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // relax: pull the min label across each node's neighborhood
      val nbrMin = sym.join(lbl.select(col("id").as("v"), col("lbl").as("nlbl")), "v")
        .groupBy(col("u").as("id"))
        .agg(min(col("nlbl")).as("nmin"))
      // no flatten here: `relaxed` chains onto the checkpointed `lbl`, so
      // its plan depth is bounded within the round (the cross-ROUND chain
      // is what explodes stats, and `next`'s flatten severs that); its two
      // consumers (grpMin + the collapse join) dedup via AQE exchange
      // reuse exactly as `collapsed`'s two references below do — one
      // fewer eager-checkpoint job per round
      val relaxed = lbl.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("r"))
      // collapse: the group sharing an old representative takes its best r
      val grpMin = relaxed.groupBy(col("old")).agg(min(col("r")).as("gm"))
      val collapsed = relaxed.join(grpMin, "old")
        .select(col("id"), least(col("r"), col("gm")).as("lbl"))
      // shortcut: jump to the label's own label (pointer doubling).
      // The convergence witness (Σ lbl) rides the SAME job: flatten's
      // eager localCheckpoint executes this plan, and the CollectMetrics
      // node emits the sum as an observed metric — no separate .head()
      // action per round.
      val obs = org.apache.spark.sql.Observation(s"cc_sum_r$round")
      val next = flatten(collapsed.alias("x")
        .join(collapsed.select(col("id").as("lbl"), col("lbl").as("ll")).alias("y"),
          Seq("lbl"), "left")
        .select(col("x.id").as("id"), coalesce(col("ll"), col("lbl")).as("lbl"))
        .observe(obs,
          sum(col("lbl").cast("decimal(38,0)")).as("lbl_sum")))
      // obs.get blocks only until the (already-executed) query's metrics
      // drain off the listener bus — milliseconds, never a job.
      // sum is NULL (not 0) over an empty node universe — converge at once
      val s: Option[BigDecimal] =
        Option(obs.get("lbl_sum"))
          .map(v => BigDecimal(v.asInstanceOf[java.math.BigDecimal]))
          .orElse(prevSum.orElse(Some(BigDecimal(0))))
      converged = prevSum.isDefined && s == prevSum
      prevSum = s
      lbl = next
      round += 1
    }
    require(converged, s"connected components did not converge in $maxRounds rounds")
    lbl.select(col("id"), col("lbl").as("component"))
  }

  /** One canonical document per cluster: highest quality score wins, ties
    * broken by lowest id (a total order — required for determinism).
    * @param clustered (id, component)
    * @param quality   (id, score)
    * @return (component, n_docs, keep_id, keep_score)
    */
  /** Integer-exact PageRank over a directed edge set — the graph
    * centrality every crawl/link pipeline ranks pages, domains, or
    * near-dup clusters with, built from the same iterate-join-aggregate
    * shape as [[connectedComponents]] and bit-reproducible across
    * engines and runs the way the engine's whole numeric family is
    * ([[LinearModel]], ADC, surprisal): ranks live in integer
    * MICRO-units, every division is integer division, so a DuckDB
    * oracle replays the complete iteration unrolled
    * ([[pageRankOracleSql]]) and hash-matches.
    *
    * Per iteration: r'(v) = (1000−d)·1000 + (d · Σ_{u→v} r(u) div
    * deg(u)) div 1000, with d in milli-units. Dangling mass is NOT
    * redistributed (sinks leak, the common web-graph simplification) —
    * ranks are a centrality ORDERING, not a probability vector, and
    * the leak is the price of never materializing a dangling-node
    * broadcast per round. Parallel edges are weights (each contributes
    * its source's share once).
    *
    * Scale shape: the edge table is partitioned by src and sorted ONCE,
    * then persisted — every round's sort-merge join streams it with
    * ZERO exchange and ZERO sort on the edge side (the invariant a
    * plan-lock test pins); per round the only data that moves is the
    * rank vector (O(nodes), exchanged to meet the edges) and the
    * map-side-combined contribution sums (≤ O(nodes) after partial
    * aggregation, whatever the edge count). Rounds are O(iters),
    * independent of graph size. The rank vector routes through
    * [[flatten]] each round — the CC lesson: an un-severed stats chain
    * explodes the driver by round ~17; the STATIC edge table is
    * persisted, not flattened, precisely so its partitioning survives
    * for the join to reuse.
    *
    * @param edges (src, dst) directed; parallel edges allowed
    * @param nodes (id) full node universe — sources, sinks, and
    *              isolated nodes all emit a row
    * @return (id, rank_micro); rank_micro ≥ (1000−dampingMilli)·1000
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int,
      dampingMilli: Int = 850): DataFrame =
    prKernel(edges, flatten(nodes.select(col("id")).distinct())
        .select(col("id"), lit(true).as("seed")),
      iters, dampingMilli)

  /** Personalized PageRank (random walk with restart): the teleport
    * term lands ONLY on the `seeds` set, so rank measures graph
    * proximity to the seeds — the contamination-tracing query over a
    * near-dup graph ("rank every document by how close it sits to the
    * known benchmark set"), and the related-item query over any link
    * graph. Non-seed nodes start at 0 and earn rank only through
    * incoming walks. Same integer arithmetic, iteration shape, cached
    * edge layout, and unrolled oracle as [[pageRank]]
    * ([[pageRankOracleSql]] with `personalized = true` over an
    * `nd (id, seed)` CTE).
    */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame,
      seeds: DataFrame, iters: Int, dampingMilli: Int = 850): DataFrame =
    prKernel(edges,
      flatten(nodes.select(col("id")).distinct()
        .join(seeds.select(col("id")).distinct()
          .withColumn("seed", lit(true)), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("seed"), lit(false)).as("seed"))),
      iters, dampingMilli)

  /** The per-src-partitioned, sorted, persisted edge cache every round
    * streams — package-visible so the PlanSpec lock inspects the REAL
    * production layout, not a test replica.
    */
  private[graft] def prEdgeCache(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    edges.select(col("src"), col("dst")).join(deg, "src")
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** One round's contribution sums over the cached edges — the join the
    * PlanSpec lock asserts streams the cache with no exchange or sort
    * on the edge side.
    */
  private[graft] def prContrib(e: DataFrame, r: DataFrame): DataFrame =
    e.join(r.select(col("id").as("src"), col("rank")), "src")
      .select(col("dst"), expr("rank div deg").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("s"))

  /** Shared iteration kernel: `n` carries (id, seed), already flattened
    * by the wrappers; seeds receive the teleport base and the initial
    * unit mass, non-seeds neither.
    */
  private def prKernel(edges: DataFrame, n: DataFrame, iters: Int,
      dampingMilli: Int): DataFrame = {
    val e = prEdgeCache(edges)
    try prKernelOn(e, n, iters, dampingMilli)
    finally {
      // after the final flatten r is materialized, so releasing the
      // cache cannot force a recompute; on a FAILED round the release
      // matters even more — without it a long-lived session accumulates
      // pinned O(edges) caches from every failed call
      e.unpersist(blocking = false)
    }
  }

  /** PageRank served from a persisted [[GraphStore]]: the stored edge
    * and degree tables arrive bucketed+sorted by `src`, so the
    * degree join moves NOTHING (bucketed-⋈-bucketed, zero exchange,
    * zero sort — PlanSpec locks it) and [[prEdgeCache]]'s per-call
    * repartition+sort build is skipped entirely; the frame is pinned
    * WITHOUT reshaping so every round reads memory, the cache build
    * costing only the co-located scan. The store's node set replaces
    * the caller-supplied frame — a rank job needs no graph inputs at
    * all, only the store path (the reference's serve-from-store
    * architecture: every traversal hits the stored topology, never the
    * ingest join — `GraphBase.java:431-448`).
    */
  def pageRankStored(st: GraphStore.Loaded, iters: Int,
      dampingMilli: Int = 850): DataFrame =
    withServedFrame(st)(e => prKernelOn(e,
      flatten(st.nodes.select(col("id")).distinct())
        .select(col("id"), lit(true).as("seed")),
      iters, dampingMilli))

  /** The ONE serving-frame build every store-served rank variant rides:
    * stored edges ⋈ degrees (bucketed-⋈-bucketed — zero exchange, the
    * PlanSpec-locked property), pinned for the iteration span and
    * released afterward even on failure. A per-variant copy is exactly
    * the drift this exists to prevent — a storage-level or join-key fix
    * must land once.
    */
  private def withServedFrame[A](st: GraphStore.Loaded)(
      body: DataFrame => A): A = {
    val e = st.edges.join(st.degrees, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(e)
    finally e.unpersist(blocking = false)
  }

  /** [[personalizedPageRank]] served from a persisted [[GraphStore]] —
    * the same economics as [[pageRankStored]] (bucketed edges ⋈
    * degrees, zero exchange on the stored side, no per-call
    * prEdgeCache build), with the teleport base and initial mass
    * masked to the seed set. One saved graph thus serves plain rank,
    * personalized rank, and (in symmetric form) components — the
    * reference's one-graph-many-traversals serving model
    * (`GraphBase.java:431-448`).
    */
  def personalizedPageRankStored(st: GraphStore.Loaded, seeds: DataFrame,
      iters: Int, dampingMilli: Int = 850): DataFrame =
    withServedFrame(st)(e => prKernelOn(e,
      flatten(st.nodes.select(col("id"))
        .join(seeds.select(col("id")).distinct()
            .withColumn("seed", lit(true)), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("seed"), lit(false)).as("seed"))),
      iters, dampingMilli))

  /** BATCHED personalized PageRank from a persisted store: rank `s`
    * seed sets in ONE iteration loop with (set_id, id)-keyed mass —
    * the contamination-tracing workload probes MANY suspect sets
    * against one graph, and s sequential [[personalizedPageRankStored]]
    * jobs re-pay the iteration floor (scheduling + the edge join's
    * rank-side exchange) s times for walks over the SAME cached edges.
    * Here every round joins the stored edges once and moves O(s·nodes)
    * mass rows; the edge side still streams its bucketed layout with
    * zero exchange (the [[prContrib]] property — the join key is
    * unchanged, only the rank side is wider). Per-set answers are
    * bit-identical to s independent runs by construction: set_id rides
    * every aggregation key, so the integer arithmetic per set never
    * mixes (PropertySpec pins it; PERF.md records the s=8 A/B).
    *
    * @param seedSets (set_id, id) — every set ranks every store node
    * @param setIds   the set universe as a (set_id) frame — pass it
    *                 when a requested set may have NO seeds in the
    *                 graph (its ranks are all zero, but it must still
    *                 answer); None derives the universe from the
    *                 seedSets rows, under which an empty set has no
    *                 identity to rank
    * @return (set_id, id, rank_micro)
    */
  def personalizedPageRankMultiStored(st: GraphStore.Loaded,
      seedSets: DataFrame, iters: Int, dampingMilli: Int = 850,
      setIds: Option[DataFrame] = None): DataFrame =
    withServedFrame(st) { e =>
      val sets = flatten(
        seedSets.select(col("set_id"), col("id")).distinct())
      val seedSetIds = sets.select(col("set_id")).distinct()
      // a seed row whose set_id is missing from a DECLARED universe
      // would be silently dropped by the universe×nodes join below, and
      // a consumer would read the absent set as "no contamination
      // found" — fail fast instead (both frames are request-bounded,
      // so the probe is one tiny job over the flattened seeds)
      setIds.foreach { u =>
        val orphan = seedSetIds
          .join(u.select(col("set_id")).distinct(), Seq("set_id"),
            "left_anti")
          .head(1)
        require(orphan.isEmpty,
          s"seedSets carry set_id ${orphan.head.get(0)} absent from " +
            "the declared setIds universe — it would be silently " +
            "dropped; declare it or remove its seeds")
      }
      val universe = setIds
        .map(_.select(col("set_id")).distinct())
        .getOrElse(seedSetIds)
      // the (set × node) mass universe: set ids are a handful of rows —
      // the cross join broadcasts them along the node scan, never the
      // reverse
      val n = flatten(universe
        .crossJoin(st.nodes.select(col("id")))
        .join(sets.withColumn("seed", lit(true)),
          Seq("set_id", "id"), "left_outer")
        .select(col("set_id"), col("id"),
          coalesce(col("seed"), lit(false)).as("seed")))
      prKernelMultiOn(e, n, iters, dampingMilli)
    }

  /** The damped contribution term over a round's summed column `s`,
    * riding decimal(38,0) against long overflow (a hub's contribution
    * sum is bounded only by total rank mass) — ONE definition for all
    * three iteration kernels; `extra` is the fixed-point variant's
    * per-node dangling share (0 elsewhere, arithmetic-identical to its
    * absence).
    */
  private def dampedTerm(dampingMilli: Int, extra: Long = 0L) =
    expr(s"(cast($dampingMilli as decimal(38,0)) * " +
      s"(coalesce(s, 0L) + $extra)) div 1000")

  /** One batched round's contribution sums — [[prContrib]] with set_id
    * riding the rank side and every aggregation key; the edge side's
    * join key is unchanged (src), so the stored/cached layout streams
    * exactly as in the single-set kernel (the PlanSpec lock inspects
    * THIS helper, not a test replica).
    */
  private[graft] def prContribMulti(e: DataFrame, r: DataFrame): DataFrame =
    e.join(r.select(col("set_id"), col("id").as("src"), col("rank")),
        "src")
      .select(col("set_id"), col("dst").as("id"),
        expr("rank div deg").as("c"))
      .groupBy(col("set_id"), col("id")).agg(sum(col("c")).as("s"))

  /** The batched twin of [[prKernelOn]]: identical integer arithmetic
    * per (set_id, id) cell — `n` carries (set_id, id, seed), already
    * flattened by the wrapper.
    */
  private def prKernelMultiOn(e: DataFrame, n: DataFrame, iters: Int,
      dampingMilli: Int): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(dampingMilli >= 0 && dampingMilli <= 1000,
      s"dampingMilli=$dampingMilli must be in [0, 1000]")
    val baseOf = when(col("seed"),
        lit((1000L - dampingMilli) * 1000L)).otherwise(lit(0L))
    var r = n.select(col("set_id"), col("id"), col("seed"),
      when(col("seed"), lit(1000000L)).otherwise(lit(0L)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = prContribMulti(e, r)
      r = flatten(n.join(contrib, Seq("set_id", "id"), "left_outer")
        .select(col("set_id"), col("id"), col("seed"),
          (baseOf + dampedTerm(dampingMilli)).as("rank")))
    }
    r.select(col("set_id"), col("id"), col("rank").as("rank_micro"))
  }

  /** Run `body` with AQE disabled, restoring the prior value. Scoped to
    * the FIXED-POINT rank loop only, on measurement: AQE materializes
    * every exchange as its own serialized barrier job (profiled: 5-7
    * driver-round-trip jobs per round where one suffices), and the
    * fixed-point kernel pays that floor for ~15 rounds — A/B'd at
    * gr_pr_converged 10.8→9.0 / 11.3→9.5 s (alternating same-session
    * runs), jobs 101→24. The FIXED-ITERATION kernels (pageRank 4-iter,
    * PPR, the batched multi) measured neutral-to-worse without AQE —
    * its runtime broadcast demotion of the O(nodes) contrib frame in
    * the round-update join is worth more than the stage-job floor at 4
    * rounds — so they keep AQE (the CC kernel too: 3.3→85 s task time
    * without the demotions). Scale note: the per-round job floor is
    * paid per ROUND at any data size, and the fixed-point round count
    * (~log_{1/d} 10⁶) is size-independent, so the trade carries.
    */
  private def withoutAqe[A](df: DataFrame)(body: => A): A = {
    val conf = df.sparkSession.conf
    val k = "spark.sql.adaptive.enabled"
    val prev = conf.get(k)
    conf.set(k, "false")
    try body finally conf.set(k, prev)
  }

  /** The shared iteration loop over an ALREADY-LAID-OUT edge frame
    * `e (src, dst, deg)` — partitioned (and ideally sorted) by `src`,
    * pinned by the caller, who also releases it.
    */
  private def prKernelOn(e: DataFrame, n: DataFrame, iters: Int,
      dampingMilli: Int): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(dampingMilli >= 0 && dampingMilli <= 1000,
      s"dampingMilli=$dampingMilli must be in [0, 1000]")
    val baseOf = when(col("seed"),
        lit((1000L - dampingMilli) * 1000L)).otherwise(lit(0L))
    // r0 is a cheap projection of the already-flattened n — each
    // round's flatten below is what severs the cross-round chain
    var r = n.select(col("id"), col("seed"),
      when(col("seed"), lit(1000000L)).otherwise(lit(0L)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = prContrib(e, r)
      // the damped product rides decimal(38,0): a hub's contribution
      // sum s is bounded only by total rank mass (~n·10⁶), so the
      // plain long product dampingMilli·s would wrap silently past
      // ~1.1e10 nodes — inside advertised web-graph scale. `div` on
      // decimal yields long (the bm25Rank arithmetic), bit-identical
      // to the long path wherever the long path doesn't overflow, and
      // the oracle computes the same term in HUGEINT.
      r = flatten(n.join(contrib, n("id") === contrib("dst"), "left_outer")
        .select(col("id"), col("seed"),
          (baseOf + dampedTerm(dampingMilli)).as("rank")))
    }
    r.select(col("id"), col("rank").as("rank_micro"))
  }

  /** A fixed-point PageRank run: the converged ranks and the number of
    * rounds the iteration actually took.
    */
  final case class PrFixedPoint(ranks: DataFrame, rounds: Int)

  /** PageRank iterated to the EXACT integer fixed point instead of a
    * fixed round count — the [[connectedComponents]] witness discipline
    * applied to ranks: every round's flatten job also observes
    * Σ(r_t − r_{t−1}) (a CollectMetrics rider, no extra action), and
    * the loop stops the first time the delta is exactly zero.
    *
    * Why this CANNOT cycle (integer iterations in general can — the
    * natural r0 = 10⁶ start measures a period-2 limit cycle with the
    * dangling feedback, oscillating forever at delta ≈ 1742 on the
    * sf0.001 trade graph): iteration starts from r0 = base, the
    * all-teleport LOWER bound, and the round map is MONOTONE — floor
    * divisions of nonneg sums are nondecreasing in every input, and so
    * is the dangling share. By induction every component is
    * nondecreasing (r1 = base + nonneg ≥ r0), and total mass is
    * bounded (damping < 1), so each integer component must stop
    * moving: the iteration reaches the LEAST fixed point exactly, in
    * finitely many rounds. A zero delta is then genuinely terminal —
    * every further application reproduces the vector — which is what
    * lets a DuckDB oracle unrolled to ANY round count ≥ the
    * convergence round hash-match the early-stopped engine
    * ([[pageRankOracleSql]] `fixedPoint = true` layers are idempotent
    * past the fixed point; `minRounds` forces extra rounds to PROVE
    * that on a real graph — PropertySpec's fixed-point test does).
    *
    * `redistributeDangling` closes the rank leak [[pageRank]] accepts:
    * each round the previous round's total dangling mass D (rank on
    * nodes with no out-edge, observed on the SAME rider — no extra
    * aggregate job) is split `D div n` across all n nodes inside the
    * damped term: r'(v) = base + (d·(Σ contrib + D div n)) div 1000.
    * The div remainder (< n micro-units per round) still leaks —
    * exactness is what makes the oracle replayable, and a probability
    * vector was never the contract ([[pageRank]]'s ordering argument).
    *
    * Convergence economics: increments shrink by ~damping per round
    * and floor to zero below one micro-unit, so rounds ≈
    * log_{1/d}(10⁶) — ~20 at d = 0.5, ~85 at d = 0.85. Pick the
    * damping with the round budget in mind; the per-round cost shape
    * is [[pageRank]]'s (cached edges, O(nodes) movement).
    *
    * @param minRounds keep iterating this many rounds even after the
    *                  fixed point — the idempotence probe
    */
  def pageRankFixedPoint(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 100, dampingMilli: Int = 850,
      redistributeDangling: Boolean = false,
      minRounds: Int = 0): PrFixedPoint = {
    val e = prEdgeCache(edges)
    try {
      // has_out is STATIC — compute it once, carry it on the rank rows
      // so the per-round dangling sum is a rider, not a join. Source it
      // from the persisted edge CACHE, not the raw edges frame: the
      // distinct-src probe then reads the cache the first round needs
      // anyway instead of re-scanning O(edges) input a second time
      val n = flatten(nodes.select(col("id")).distinct()
        .join(e.select(col("src").as("id")).distinct()
            .withColumn("o", lit(true)), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("o"), lit(false)).as("has_out")))
      prFixedPointOn(e, n, maxRounds, dampingMilli, redistributeDangling,
        minRounds)
    } finally e.unpersist(blocking = false)
  }

  /** [[pageRankFixedPoint]] served from a persisted [[GraphStore]] —
    * the PRODUCTION rank variant (converged ranks, dangling
    * redistribution) on the [[pageRankStored]] economics: the stored
    * edge and degree tables arrive bucketed+sorted by `src`, so the
    * serving-frame build moves nothing and [[prEdgeCache]]'s per-call
    * repartition+sort is skipped; the store's degree table doubles as
    * the has_out set (one row per source — O(nodes), cheaper than the
    * edge-cache distinct the scan path pays), and its node set replaces
    * the caller's frame, so a converged-rank job needs only the store
    * path (the reference's build-once/traverse-forever serving shape,
    * `GraphBase.java:431-448`). Bit-identical to the scan path by
    * construction — same kernel, same integer arithmetic; the store
    * changes layout, never answers.
    *
    * NO WARM START after [[GraphStore.append]] — a refusal, not an
    * omission (the period-2-cycle discipline): restarting from the
    * PREVIOUS fixed point is sound only if it lower-bounds the grown
    * graph's least fixed point, and appends break that — new out-edges
    * on a ranked node dilute its per-edge contribution (deg grows), so
    * its old targets' new fixed point drops BELOW their old one
    * (PropertySpec's fixed-point test constructs the violation and
    * requires it). Without the
    * lower-bound premise the monotone termination proof does not
    * transfer: the warm iterates are only squeezed from above by the
    * OLD vector, so a zero delta certifies SOME fixed point of the
    * integer map, not the canonical least one the oracle unrolls to —
    * that it happens to coincide on a given graph is luck, not a
    * contract. Rank a grown
    * store from base — the iteration floor (~log_{1/d} 10⁶ rounds) is
    * the price of the bit-reproducibility contract.
    */
  def pageRankFixedPointStored(st: GraphStore.Loaded, maxRounds: Int = 100,
      dampingMilli: Int = 850, redistributeDangling: Boolean = false,
      minRounds: Int = 0): PrFixedPoint =
    withServedFrame(st) { e =>
      val n = flatten(st.nodes.select(col("id"))
        .join(st.degrees.select(col("src").as("id"))
            .withColumn("o", lit(true)), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("o"), lit(false)).as("has_out")))
      prFixedPointOn(e, n, maxRounds, dampingMilli, redistributeDangling,
        minRounds)
    }

  /** The shared fixed-point loop over an ALREADY-LAID-OUT edge frame
    * `e (src, dst, deg)` (partitioned by `src`, pinned and released by
    * the caller) and a flattened node frame `n (id, has_out)`.
    */
  private def prFixedPointOn(e: DataFrame, n: DataFrame, maxRounds: Int,
      dampingMilli: Int, redistributeDangling: Boolean,
      minRounds: Int): PrFixedPoint = withoutAqe(e) {
    require(maxRounds >= 1, s"maxRounds=$maxRounds must be >= 1")
    // an idempotence probe asking for more forced rounds than the cap
    // would silently truncate and "pass" with fewer rounds than claimed
    require(minRounds <= maxRounds,
      s"minRounds=$minRounds exceeds maxRounds=$maxRounds — the probe " +
        "would silently run fewer rounds than requested")
    require(dampingMilli >= 0 && dampingMilli <= 1000,
      s"dampingMilli=$dampingMilli must be in [0, 1000]")
    val nNodes = n.count()
      require(nNodes > 0, "pageRankFixedPoint needs a non-empty node set")
      val base = (1000L - dampingMilli) * 1000L
      // r0 = base: the monotone-from-below start (see scaladoc) — the
      // ONLY start for which cycle-freedom is provable
      var r = n.select(col("id"), col("has_out"),
        lit(base).as("rank"))
      // initial dangling mass: count·base over the dangling set (r0 is
      // uniform) — one column-pruned count, no rank scan
      var dMass: Long =
        if (redistributeDangling)
          n.filter(!col("has_out")).count() * base
        else 0L
      var rounds = 0
      var converged = false
      while ((!converged || rounds < minRounds) && rounds < maxRounds) {
        val contrib = prContrib(e, r)
        val share = dMass / nNodes // both non-negative: floor division
        val obs = org.apache.spark.sql.Observation(s"pr_fp_r$rounds")
        val next = flatten(
          r.join(contrib, r("id") === contrib("dst"), "left_outer")
            .select(col("id"), col("has_out"), col("rank").as("prev"),
              (lit(base) + dampedTerm(dampingMilli, share)).as("rank"))
            .observe(obs,
              sum(abs(col("rank") - col("prev")).cast("decimal(38,0)"))
                .as("delta"),
              sum(when(!col("has_out"), col("rank")).otherwise(lit(0L))
                .cast("decimal(38,0)")).as("dmass"))
            .select(col("id"), col("has_out"), col("rank")))
        def metric(name: String): BigDecimal =
          Option(obs.get(name))
            .map(v => BigDecimal(v.asInstanceOf[java.math.BigDecimal]))
            .getOrElse(BigDecimal(0))
        converged = metric("delta") == 0
        if (redistributeDangling) {
          val dm = metric("dmass")
          require(dm.isValidLong, s"dangling mass $dm exceeds Long")
          dMass = dm.toLong
        }
        r = next
        rounds += 1
      }
      require(converged,
        s"pageRankFixedPoint did not reach a fixed point in $maxRounds " +
          "rounds — integer rank dynamics can in principle cycle; raise " +
          "maxRounds or fall back to pageRank(iters)")
      PrFixedPoint(r.select(col("id"), col("rank").as("rank_micro")),
        rounds)
  }

  /** The unrolled-SQL twin of [[pageRank]]/[[personalizedPageRank]] for
    * a DuckDB oracle (the [[LinearModel.trainOracleSql]] pattern): one
    * CTE pair per iteration over caller-provided CTEs `e (src, dst)`
    * and `nd (id)` — or `nd (id, seed)` when `personalized`, where the
    * teleport base and initial mass land on seeds only. DuckDB's `//`
    * and Spark's `div` agree on non-negative integers, which ranks
    * always are.
    */
  /** Unrolled min-label propagation as CTE layers — the CC oracle for
    * graphs whose components are too LARGE for the transitive-closure
    * form (the `dd_cluster` recursive CTE materializes O(n·|component|)
    * reach rows — fine for small near-dup clusters, quadratic on a
    * connected trade graph). One layer = each node takes the min of its
    * own label and its neighbors' previous labels — O(edges) per layer,
    * and idempotent at the fixed point, so unrolling PAST convergence
    * is safe (the pageRank-oracle discipline; plain propagation reaches
    * the per-component min in diameter rounds, while the engine gets
    * there faster by pointer doubling — both stop at the same fixed
    * point, component = min node id). Layers are MATERIALIZED: layer t
    * is referenced twice (self + neighbor min) and DuckDB would
    * otherwise inline the chain exponentially. Expects CTEs
    * `e (u, v)` — the SYMMETRIC edge set — and `nd (id)`; emits `cl
    * (id, component)`.
    */
  def ccLabelOracleSql(layers: Int): String = {
    require(layers >= 1, s"layers=$layers must be >= 1")
    val l0 = "l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nd)"
    val steps = (1 to layers).map { t =>
      s"""l$t AS MATERIALIZED (SELECT n.id,
         |  least(n.lbl, coalesce(m.nmin, n.lbl)) AS lbl
         |  FROM l${t - 1} n LEFT JOIN (
         |    SELECT e.u AS id, min(l.lbl) AS nmin
         |    FROM e JOIN l${t - 1} l ON l.id = e.v GROUP BY e.u) m
         |  USING (id))""".stripMargin
    }
    (l0 +: steps).mkString(",\n") +
      s",\ncl AS (SELECT id, lbl AS component FROM l$layers)"
  }

  def pageRankOracleSql(iters: Int, dampingMilli: Int = 850,
      personalized: Boolean = false,
      redistributeDangling: Boolean = false,
      fixedPoint: Boolean = false): String = {
    require(iters >= 1 && dampingMilli >= 0 && dampingMilli <= 1000,
      "same domain as pageRank")
    require(!(personalized && (redistributeDangling || fixedPoint)),
      "dangling redistribution / fixed-point start are the plain-PR " +
        "variant (pageRankFixedPoint)")
    require(!redistributeDangling || fixedPoint,
      "redistributeDangling is only engine-reachable via " +
        "pageRankFixedPoint, which always uses the fixed-point start; " +
        "pass fixedPoint = true with it")
    val base = (1000L - dampingMilli) * 1000L
    val baseSql =
      if (personalized) s"CASE WHEN nd.seed THEN $base ELSE 0 END" else s"$base"
    val r0Sql =
      if (personalized) "CASE WHEN seed THEN 1000000 ELSE 0 END"
      else if (fixedPoint) s"$base" // the monotone-from-below start
      else "1000000"
    // with the dangling rider, r_{t-1} has TWO consumers (c$t and d$t)
    // and deg/ed are referenced once PER LAYER — DuckDB may INLINE
    // multiply-referenced CTEs, which doubles the plan per layer and
    // goes exponential in the unroll depth (a 22-layer dangling oracle
    // measured 2²² parquet re-opens). ONE materialization flag for head
    // and rounds: materializing one side but not the other would
    // reintroduce the replay.
    val mat = if (redistributeDangling) " MATERIALIZED" else ""
    val head =
      s"""deg AS$mat (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |ed AS$mat (SELECT e.src, e.dst, deg.deg FROM e
         |  JOIN deg USING (src)),
         |nn AS (SELECT count(*) AS n FROM nd),
         |r0 AS (SELECT id, CAST($r0Sql AS BIGINT) AS rank FROM nd)"""
        .stripMargin
    val its = (1 to iters).map { t =>
      // the dangling CTE replays pageRankFixedPoint's rider: previous
      // round's rank mass on no-out-edge nodes, its floor share D//n
      // folded into the damped term
      val dang =
        if (!redistributeDangling) ""
        else s"""d$t AS (SELECT coalesce(sum(r.rank), 0) AS dm
                |  FROM r${t - 1} r WHERE NOT EXISTS
                |    (SELECT 1 FROM deg WHERE deg.src = r.id)),
                |""".stripMargin
      val contribSql =
        if (redistributeDangling)
          s"CAST(coalesce(c$t.s, 0) AS HUGEINT) + d$t.dm // nn.n"
        else s"CAST(coalesce(c$t.s, 0) AS HUGEINT)"
      val extraFrom = if (redistributeDangling) s", d$t, nn" else ""
      s"""${dang}c$t AS (SELECT ed.dst, sum(r.rank // ed.deg) AS s FROM ed
         |  JOIN r${t - 1} r ON r.id = ed.src GROUP BY 1),
         |r$t AS$mat (SELECT nd.id, CAST($baseSql +
         |    ($dampingMilli * ($contribSql)) // 1000
         |    AS BIGINT) AS rank
         |  FROM nd LEFT JOIN c$t ON nd.id = c$t.dst$extraFrom)""".stripMargin
    }
    s"$head,\n${its.mkString(",\n")}\n" +
      s"SELECT id, rank AS rank_micro FROM r$iters"
  }

  def canonicalPerCluster(clustered: DataFrame, quality: DataFrame): DataFrame = {
    val joined = clustered.join(quality, "id")
    // the ~id tie-break below needs an integral id: a string id would
    // cast to NULL and every max-score row would tie — max_by would then
    // pick per-partitioning, SILENT nondeterminism. Fail fast instead
    // (hash the id to a long upstream, the engine-wide convention).
    val idType = joined.schema("id").dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(idType),
      s"canonicalPerCluster needs an integral id column, got " +
        s"${idType.simpleString} — map ids to longs first (deterministic " +
        "argmax ties break on ~id)")
    // argmax as an AGGREGATE, not a window: row_number over
    // partitionBy(component) lands a giant near-dup component's full
    // membership in ONE task's sort — the adversarial case dedup exists
    // for — where max_by combines map-side and moves one row per
    // component per partition. The ordering key reverses id order with
    // bitwise NOT (~id is monotone DECREASING over the whole long
    // domain, where -id overflows at Long.MinValue), so one max_by
    // yields (score DESC, id ASC) — ids are unique, so the key is
    // tie-free and the argmax deterministic.
    joined.groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        max_by(struct(col("id"), col("score")),
          struct(col("score"), bitwise_not(col("id").cast("long")))).as("k"))
      .select(col("component"), col("n_docs"),
        col("k.id").as("keep_id"), col("k.score").as("keep_score"))
  }
}
