package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Core relational operator surface (SURVEY.md §2.2–§2.8) expressed over the
  * driver testdata, one query per operator family, each with a DuckDB oracle
  * in [[Relational.oracle]] using identical column aliases (the driver
  * hash-compares columns sorted by name).
  *
  * Cross-engine determinism rules used throughout:
  *   - double aggregates are `round()`ed (Spark and DuckDB sum in different
  *     orders; last-ulp differences would fail the hash compare);
  *   - integer sums are kept in BIGINT on the oracle side (DuckDB widens
  *     SUM(BIGINT) to HUGEINT, Spark keeps LongType);
  *   - timestamps cross the boundary as formatted strings (parquet ns vs µs
  *     precision and pandas dtype mismatches otherwise);
  *   - every LIMIT / window rank has a total tiebreak order.
  *
  * Scale notes (100 TB thinking, verified via .explain on the local runs):
  *   - dimension joins (region, nation) are explicit `broadcast()`;
  *     fact-fact joins are left to Catalyst + AQE (sort-merge with runtime
  *     skew handling);
  *   - every scan projects/filters first so parquet pushdown + column
  *     pruning apply; no collect()-driven logic anywhere;
  *   - group-bys are single-shuffle partial/final hash aggregates.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- scans/aggs

  /** Flagship: TPC-H Q1-style pricing summary (SURVEY §2.4 A-family). */
  val q1Agg: Q = (s, d) =>
    lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style: multiway join + agg + deterministic top-k (O2 + J4). */
  val q3TopkJoin: Q = (s, d) => {
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = orders(s, d).filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
    val l = lineitem(s, d).filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  // ------------------------------------------------- point lookups / filters

  /** P1: exact point lookup by numeric key (reference: Lucene uid index,
    * GraphBase.java:122-136 → parquet pushdown `PushedFilters: [EqualTo]`). */
  val p1PointLookup: Q = (s, d) =>
    customer(s, d).filter(col("c_custkey") === 42L)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))

  /** P2: exact lookup by name (GraphBase.java:145-159). */
  val p2LookupName: Q = (s, d) =>
    nation(s, d).filter(col("n_name") === "NATION_7")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))

  /** P5: partition a request id list into found / not-found
    * (tree_of_life_v3.java:293-330 in-tree vs not-in-tree split). */
  val p5IdPartition: Q = (s, d) =>
    s.range(1400L, 1601L).toDF("id")
      .join(customer(s, d).select(col("c_custkey")),
        col("id") === col("c_custkey"), "left_outer")
      .select(col("id"), col("c_custkey").isNotNull.as("found"))

  /** P7: projection + range filter, pushdown-friendly (node blob projection
    * GraphExplorer.java:203-214). */
  val p7ProjectionFilter: Q = (s, d) =>
    orders(s, d).filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("o_orderstatus"))

  /** P9/F4: label formatting + newick-safe name scrub
    * (GraphExplorer.java:673-694, JadeNode.java:23). */
  val p9LabelScrub: Q = (s, d) =>
    customer(s, d).select(
      col("c_custkey"),
      regexp_replace(lower(col("c_name")), "[^a-z0-9]+", "_").as("scrubbed"),
      concat(col("c_name"), lit(" ott"), col("c_custkey")).as("name_and_id"))

  // ----------------------------------------------------------------- joins

  /** J1: semi-join (taxonomy ⋉ tree tips, IngestSynthesisData.java:161-208). */
  val j1SemiJoin: Q = (s, d) =>
    customer(s, d).join(orders(s, d).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  /** J6: anti-join (ids not found reported back, tree_of_life_v3.java:303-309). */
  val j6AntiJoin: Q = (s, d) =>
    customer(s, d).join(
        orders(s, d).filter(col("o_orderstatus") === "P").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** J2: left-outer join (tree ⟕ annotations, IngestSynthesisData.java:430-434). */
  val j2LeftOuterJoin: Q = (s, d) =>
    orders(s, d).filter(col("o_orderkey") < 1000L)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"), "left_outer")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_mktsegment"))

  /** J4: multiway fact⋈dims join — revenue per region; dims broadcast. */
  val j4MultiwayJoin: Q = (s, d) =>
    lineitem(s, d)
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))

  /** J5: small dim⋈dim broadcast join (sources ⋈ source_map). */
  val j5BroadcastJoin: Q = (s, d) =>
    nation(s, d).join(broadcast(region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))

  // ------------------------------------------------------------- aggregations

  /** A3: distinct + sort (synth tree ids, GraphExplorer.java:95-114). */
  val a3DistinctSort: Q = (s, d) =>
    orders(s, d).select(col("o_orderpriority")).distinct()
      .orderBy(col("o_orderpriority"))

  /** A5: distinct pair accumulation (unique sources, GraphExplorer.java:300-332). */
  val a5DistinctPairs: Q = (s, d) =>
    documents(s, d).select(col("lang"), col("source")).distinct()

  /** A7: per-parent child count (ChildNumberEvaluator.java:25-40). */
  val a7GroupCount: Q = (s, d) =>
    orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))

  /** A8: effective-parents inverse Simpson index (GraphExporter.java:302-307):
    * per nation, 1 / Σ (segment share)². Computed as tot²/Σcnt² in exact
    * integer arithmetic first — a float Σ over rows is summation-order-
    * dependent and not reproducible cross-engine; a single division of
    * exact integers is bit-identical everywhere.
    */
  val a8EffectiveParents: Q = (s, d) =>
    customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("c_nationkey"))
      .agg(sum(col("cnt")).as("tot"), sum(col("cnt") * col("cnt")).as("ss"))
      .select(col("c_nationkey"),
        (floor((col("tot") * col("tot")).cast("double") / col("ss") * 10000.0)
          / 10000.0).as("eff_segments"))

  // ------------------------------------------------------------------ windows

  /** W1: rank within partition (lineage position ordering, GraphExplorer.java:228-236). */
  val w1RankTopn: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
    orders(s, d).withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"), col("rn"))
  }

  /** W2: first/last representative per group (GraphExplorer.java:451-490). */
  val w2FirstLast: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d)
      .select(col("o_custkey"),
        first(col("o_orderkey")).over(w).as("first_orderkey"),
        last(col("o_orderkey")).over(w).as("last_orderkey"))
      .distinct()
  }

  /** W3: running sum with an explicit frame (depth/accumulation analog). */
  val w3RunningSum: Q = (s, d) => {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lineitem(s, d).filter(col("l_suppkey") < 10L)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        round(sum(col("l_extendedprice")).over(w), 2).as("running_price"))
  }

  // -------------------------------------------------------------- sort / topk

  /** O1: global sort (tree-id sort, GraphExplorer.java:94-107). */
  val o1Sort: Q = (s, d) =>
    supplier(s, d).orderBy(col("s_acctbal").desc, col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), round(col("s_acctbal"), 2).as("s_acctbal"))

  /** O2: deterministic top-k (result-size guards / caps, tree_of_life_v3.java:591). */
  val o2Topk: Q = (s, d) =>
    customer(s, d).orderBy(col("c_acctbal").desc, col("c_custkey")).limit(10)
      .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("c_acctbal"))

  // ---------------------------------------------------------------- set ops

  /** SET1: except (tips = children − internal, GraphExplorer.java:527). */
  val set1Except: Q = (s, d) =>
    orders(s, d).filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct()
      .except(orders(s, d).filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct())

  /** SET2: intersect (path retainAll, GraphExplorer.java:750-753). */
  val set2Intersect: Q = (s, d) =>
    orders(s, d).filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .intersect(orders(s, d).filter(col("o_orderstatus") === "F").select(col("o_custkey")))

  /** SET3: union + distinct (HashSet unions, IngestSynthesisData.java:161-180). */
  val set3UnionDistinct: Q = (s, d) =>
    customer(s, d).select(col("c_nationkey").as("nationkey"))
      .union(supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .distinct()

  // ---------------------------------------------------------- scalar functions

  /** F1: packed-string → map round-trip (stringToMap, GraphExplorer.java:601-612).
    * Delimiters are the ASCII record/unit separators, not ','/':' — a lang
    * or source value containing the delimiter would otherwise mis-split and
    * silently diverge from the oracle (which reads the columns directly).
    */
  val f1StrToMap: Q = (s, d) =>
    documents(s, d)
      .withColumn("packed",
        concat(lit("lang"), col("lang"), lit("src"), col("source")))
      .withColumn("m", str_to_map(col("packed"), lit(""), lit("")))
      .select(col("doc_id"), col("m")("lang").as("lang2"), col("m")("src").as("src2"))

  /** F5: id codec `ott<uid>` format + parse (IngestSynthesisData.java:124,241). */
  val f5IdCodec: Q = (s, d) =>
    customer(s, d).select(
      col("c_custkey"),
      concat(lit("ott"), col("c_custkey")).as("ott_id"),
      expr("CAST(substring(concat('ott', c_custkey), 4) AS BIGINT)").as("parsed_back"))

  /** F8: zero → epsilon branch-length rule (JadeNode.java:174-179). */
  val f8ZeroEpsilon: Q = (s, d) =>
    lineitem(s, d)
      .withColumn("eps_disc",
        when(col("l_discount") === 0.0, lit(1e-22)).otherwise(col("l_discount")))
      .groupBy(col("l_returnflag"))
      .agg(min(col("eps_disc")).as("min_disc"), count(lit(1)).as("n"))

  /** F9-analog: JSON field extraction from the events props column. */
  val fjJsonExtract: Q = (s, d) =>
    events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))
      .filter(col("k_val") > 90L)

  /** Event-time bucketed aggregation (batch form of the streaming surface). */
  val evHourAgg: Q = (s, d) =>
    events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  // ---------------------------------------------------------------- registry

  /** J7-skew: salted fact⋈dim equi-join — result identical to the plain
    * join (the oracle IS the plain join); the salt only spreads hot keys
    * across reducers. The right side is `part` (dimension-sized), per
    * [[graft.ops.SkewOps.saltedJoin]]'s contract: the dim replicates
    * `salts`-fold, which is cheap; replicating a fact table is not.
    */
  val j7SaltedJoin: Q = (s, d) => {
    val li = lineitem(s, d)
      .select(col("l_partkey").as("partkey"), col("l_quantity"))
    val p = part(s, d)
      .select(col("p_partkey").as("partkey"), col("p_brand"))
    graft.ops.SkewOps.saltedJoin(li, p, "partkey", salts = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** The customer↔supplier trade graph (orders ⋈ lineitem, both
    * directions so rank actually circulates — one-directional bipartite
    * edges would converge after a single hop), shared by both PageRank
    * gates and memoized per (session, sf dir): the lineitem join is the
    * graph-BUILD cost, paid once however many centrality queries run
    * over it — the serving shape of a link-analysis deployment. Node
    * ids are LONGS (customers even, suppliers odd) — every round
    * shuffles the rank vector on this key, and string ids measured
    * ~1.7× slower end to end.
    */
  private val grShared = new graft.SessionCache[DataFrame]()
  private def tradeEdges(s: SparkSession, d: String): DataFrame =
    grShared.get(s, "edges|" + d) {
      val pairs = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2L).as("a"),
          (col("l_suppkey") * 2L + 1L).as("b"))
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint()
    }
  private def tradeNodes(s: SparkSession, d: String): DataFrame = {
    val e = tradeEdges(s, d) // materialize before the dependent get —
    // nested computeIfAbsent is the documented recursive-update hazard
    grShared.get(s, "nodes|" + d)(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
        .localCheckpoint())
  }

  /** Integer-exact PageRank over the trade graph: 4 iterations;
    * parallel edges act as weights. The oracle replays the whole
    * iteration unrolled ([[graft.ops.ClusterOps.pageRankOracleSql]]).
    */
  val grPagerank: Q = (s, d) =>
    graft.ops.ClusterOps.pageRank(tradeEdges(s, d), tradeNodes(s, d),
      iters = 4)

  /** The same ranks served from a persisted [[graft.ops.GraphStore]]
    * (built once per data dir): edges and degrees load pre-bucketed by
    * `src` and the store carries the node set too (plain parquet — it
    * only feeds the per-round dst-keyed aggregate, which shuffles
    * regardless), so a rank job needs no graph inputs at all and
    * [[graft.ops.ClusterOps.prEdgeCache]]'s per-call repartition+sort
    * build is skipped — the degree join over the stored tables moves
    * nothing (PlanSpec-locked). Bit-identical to [[grPagerank]] by
    * construction (same kernel, same integer arithmetic; the store
    * changes layout, never answers), so it shares the oracle.
    */
  val grPagerankStore: Q = (s, d) => {
    val dir = graft.StoreUtil.cachedStoreDir("gstore", d) { p =>
      graft.ops.GraphStore.save(s, tradeEdges(s, d), p)
    }
    graft.ops.ClusterOps.pageRankStored(
      graft.ops.GraphStore.load(s, dir), iters = 4)
  }

  /** The ISLAND trade graph: edges kept only where customer and
    * supplier agree mod 8, so the connected graph splits into exactly
    * 8 provable components — CC over one giant component is a boring
    * gate; this one exercises real component discovery. Filters the
    * memoized symmetric frame (build cost stays shared); the node
    * universe is the island endpoints (isolated nodes are excluded so
    * the scan and store forms see identical universes — GraphStore
    * derives its node set from the stored edges).
    */
  private def islandEdges(s: SparkSession, d: String): DataFrame =
    tradeEdges(s, d)
      .filter(expr("(src div 2) % 8 = (dst div 2) % 8"))

  /** Connected components over the island trade graph
    * ([[graft.ops.ClusterOps.connectedComponents]] — pointer doubling,
    * log-rounds). The oracle unrolls 12 MATERIALIZED min-label layers
    * ([[graft.ops.ClusterOps.ccLabelOracleSql]]): plain propagation
    * converges by layer 8 at every SF and layers past the fixed point
    * are idempotent, so both engines stop at component = min node id.
    * The `dd_cluster` transitive-closure oracle form would be
    * O(n·|component|) here — thousands of nodes per island.
    */
  val grCc: Q = (s, d) => {
    val e = islandEdges(s, d)
    graft.ops.ClusterOps.connectedComponents(
      e.select(col("src").as("a"), col("dst").as("b")),
      e.select(col("src").as("id")))
  }

  /** The same components served from the persisted symmetric
    * [[graft.ops.GraphStore]] — built ONCE per data dir and SHARED
    * with nothing else (the rank store holds the full graph; this one
    * the island subgraph), loaded pre-bucketed by `src` which the CC
    * kernel consumes as its round-join key `v`, so the per-call
    * symmetrize+repartition+sort build is skipped. Bit-identical to
    * [[grCc]] (same kernel, the store changes layout, never answers) —
    * shares the oracle.
    */
  val grCcStore: Q = (s, d) => {
    val dir = graft.StoreUtil.cachedStoreDir("gstore_cc", d) { p =>
      // islandEdges filters the SYMMETRIC trade frame on a predicate
      // that is itself symmetric in (src, dst), so both directions of
      // every surviving link are stored — the flag the CC consumer
      // refuses without
      graft.ops.GraphStore.save(s, islandEdges(s, d), p, symmetric = true)
    }
    graft.ops.ClusterOps.connectedComponentsStored(
      graft.ops.GraphStore.load(s, dir))
  }

  /** Personalized PageRank from the nation-0/1/2 suppliers as seeds —
    * the contamination-tracing shape (rank every node by walk proximity
    * to a known set) run over the same trade graph as [[grPagerank]].
    */
  private def pprSeeds(s: SparkSession, d: String): DataFrame =
    supplier(s, d).filter(col("s_nationkey") < 3)
      .select((col("s_suppkey") * 2L + 1L).as("id"))

  val grPpr: Q = (s, d) =>
    graft.ops.ClusterOps.personalizedPageRank(tradeEdges(s, d),
      tradeNodes(s, d), pprSeeds(s, d), iters = 4)

  /** The SAME persisted store as [[grPagerankStore]] serving the
    * personalized variant — one saved graph, many traversal kinds (the
    * reference's serving model); the store's node set equals
    * [[tradeNodes]] (edge endpoints), so the two forms iterate
    * identical maps. Bit-identical by construction — shares the
    * oracle.
    */
  val grPprStore: Q = (s, d) => {
    val dir = graft.StoreUtil.cachedStoreDir("gstore", d) { p =>
      graft.ops.GraphStore.save(s, tradeEdges(s, d), p)
    }
    graft.ops.ClusterOps.personalizedPageRankStored(
      graft.ops.GraphStore.load(s, dir), pprSeeds(s, d), iters = 4)
  }

  /** BATCHED contamination tracing: three probe sets (the suppliers of
    * nations 0, 1, 2 — together exactly [[pprSeeds]]' universe, apart
    * three disjoint personalizations) ranked in ONE iteration loop over
    * the same persisted graph
    * ([[graft.ops.ClusterOps.personalizedPageRankMultiStored]]).
    * Per-set answers are bit-identical to three independent [[grPpr]]
    * runs (PropertySpec pins it against the single-set kernel); the
    * oracle replays each set's full unrolled iteration and stacks them
    * under a set_id column.
    */
  private def pprSeedSets(s: SparkSession, d: String): DataFrame =
    supplier(s, d).filter(col("s_nationkey") < 3)
      .select(col("s_nationkey").cast("long").as("set_id"),
        (col("s_suppkey") * 2L + 1L).as("id"))

  val grPprMulti: Q = (s, d) => {
    val dir = graft.StoreUtil.cachedStoreDir("gstore", d) { p =>
      graft.ops.GraphStore.save(s, tradeEdges(s, d), p)
    }
    import s.implicits._
    // the set universe is DECLARED (0, 1, 2), not derived from the
    // seeds: at sf0.001 no supplier sits in nations 0-2, and a
    // requested probe set with zero seeds must still answer (all-zero
    // ranks) — exactly what the oracle's three stacked replays emit
    graft.ops.ClusterOps.personalizedPageRankMultiStored(
      graft.ops.GraphStore.load(s, dir), pprSeedSets(s, d), iters = 4,
      setIds = Some(Seq(0L, 1L, 2L).toDF("set_id")))
  }

  /** Fixed-point PageRank with dangling-mass redistribution over the
    * DIRECTED trade graph — customer→supplier edges only, so suppliers
    * are genuine sinks and the dangling term moves real mass. The
    * directed subset filters the memoized symmetric frame (customer ids
    * are even), so the graph-build cost stays shared with
    * [[grPagerank]]/[[grPpr]]. Iteration stops at the EXACT integer
    * fixed point (~14 rounds at damping 0.3, independent of SF — the
    * round count is log-driven, not size-driven); the oracle unrolls 22
    * layers, green because layers past the fixed point are idempotent
    * ([[graft.ops.ClusterOps.pageRankFixedPoint]]'s monotone-start
    * argument; PropertySpec forces extra rounds to prove it on a random
    * graph).
    */
  val grPrConverged: Q = (s, d) =>
    graft.ops.ClusterOps.pageRankFixedPoint(
      tradeEdges(s, d).filter(col("src") % 2L === 0L),
      tradeNodes(s, d), maxRounds = 60, dampingMilli = 300,
      redistributeDangling = true).ranks

  /** The PRODUCTION rank variant (converged ranks + dangling
    * redistribution) served from the persisted [[graft.ops.GraphStore]]
    * over the directed trade graph — built once per data dir; the
    * stored degree table doubles as the has_out set and the store's
    * node universe equals [[grPrConverged]]'s (every trade pair
    * contributes both endpoints to the directed edge list), so the
    * two forms iterate identical maps from identical starts.
    * Bit-identical by construction — shares the oracle.
    */
  val grPrConvergedStore: Q = (s, d) => {
    val dir = graft.StoreUtil.cachedStoreDir("gstore_prfp", d) { p =>
      graft.ops.GraphStore.save(s,
        tradeEdges(s, d).filter(col("src") % 2L === 0L), p)
    }
    graft.ops.ClusterOps.pageRankFixedPointStored(
      graft.ops.GraphStore.load(s, dir), maxRounds = 60,
      dampingMilli = 300, redistributeDangling = true).ranks
  }

  val registry: Map[String, Q] = Map(
    "gr_pagerank" -> grPagerank,
    "gr_pagerank_store" -> grPagerankStore,
    "gr_cc" -> grCc,
    "gr_cc_store" -> grCcStore,
    "gr_ppr" -> grPpr,
    "gr_ppr_store" -> grPprStore,
    "gr_ppr_multi" -> grPprMulti,
    "gr_pr_converged" -> grPrConverged,
    "gr_pr_converged_store" -> grPrConvergedStore,
    "j7_salted_join" -> j7SaltedJoin,
    "q1_agg" -> q1Agg,
    "q3_topk_join" -> q3TopkJoin,
    "p1_point_lookup" -> p1PointLookup,
    "p2_lookup_name" -> p2LookupName,
    "p5_id_partition" -> p5IdPartition,
    "p7_projection_filter" -> p7ProjectionFilter,
    "p9_label_scrub" -> p9LabelScrub,
    "j1_semi_join" -> j1SemiJoin,
    "j2_left_outer_join" -> j2LeftOuterJoin,
    "j4_multiway_join" -> j4MultiwayJoin,
    "j5_broadcast_join" -> j5BroadcastJoin,
    "j6_anti_join" -> j6AntiJoin,
    "a3_distinct_sort" -> a3DistinctSort,
    "a5_distinct_pairs" -> a5DistinctPairs,
    "a7_group_count" -> a7GroupCount,
    "a8_effective_parents" -> a8EffectiveParents,
    "w1_rank_topn" -> w1RankTopn,
    "w2_first_last" -> w2FirstLast,
    "w3_running_sum" -> w3RunningSum,
    "o1_sort" -> o1Sort,
    "o2_topk" -> o2Topk,
    "set1_except" -> set1Except,
    "set2_intersect" -> set2Intersect,
    "set3_union_distinct" -> set3UnionDistinct,
    "f1_str_to_map" -> f1StrToMap,
    "f5_id_codec" -> f5IdCodec,
    "f8_zero_epsilon" -> f8ZeroEpsilon,
    "fj_json_extract" -> fjJsonExtract,
    "ev_hour_agg" -> evHourAgg
  )

  // the oracle replays all 4 PageRank iterations from scratch
  // (unrolled CTE chain) — integer micro-unit ranks make the two
  // engines' iterations bit-identical. ONE string for the scan and
  // store-served gates: the store changes layout, never answers
  // (same kernel, same arithmetic), so the two share it.
  private val grPagerankSql =
    s"""WITH p AS (SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM p
       |  UNION ALL SELECT b AS src, a AS dst FROM p),
       |nd AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
       |${graft.ops.ClusterOps.pageRankOracleSql(iters = 4)}"""
      .stripMargin

  // the island-CC oracle: symmetric mod-8-filtered trade edges, node
  // universe = island endpoints, 12 unrolled min-label layers
  // (idempotent past the layer-8 fixed point). ONE string for the scan
  // and store-served gates — the store changes layout, never answers.
  private val grCcSql =
    s"""WITH p AS (SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_custkey % 8 = l_suppkey % 8),
       |e AS MATERIALIZED (SELECT a AS u, b AS v FROM p
       |  UNION ALL SELECT b, a FROM p),
       |nd AS MATERIALIZED (SELECT DISTINCT u AS id FROM e),
       |${graft.ops.ClusterOps.ccLabelOracleSql(layers = 12)}
       |SELECT id, component FROM cl""".stripMargin

  // the fixed-point oracle unrolls PAST the engine's convergence
  // round (22 vs ~14-15 measured at every SF) — extra layers are
  // idempotent at the fixed point, which the monotone start makes
  // provable and PropertySpec checks. ONE string for the scan and
  // store-served gates: the store changes layout, never answers.
  private val grPrConvergedSql =
    s"""WITH p AS (SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM p),
       |nd AS (SELECT DISTINCT id FROM
       |  (SELECT a AS id FROM p UNION ALL SELECT b AS id FROM p)),
       |${graft.ops.ClusterOps.pageRankOracleSql(iters = 22,
          dampingMilli = 300, redistributeDangling = true,
          fixedPoint = true)}""".stripMargin

  // ONE string for the scan and store-served PPR gates — the store
  // changes layout, never answers
  private val grPprSql =
    s"""WITH p AS (SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM p
       |  UNION ALL SELECT b AS src, a AS dst FROM p),
       |sd AS (SELECT s_suppkey * 2 + 1 AS id FROM supplier
       |  WHERE s_nationkey < 3),
       |nd AS (SELECT u.id, (sd.id IS NOT NULL) AS seed FROM
       |  (SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)) u
       |  LEFT JOIN sd ON u.id = sd.id),
       |${graft.ops.ClusterOps.pageRankOracleSql(iters = 4,
          personalized = true)}"""
      .stripMargin

  // the batched replay: one full unrolled single-set iteration per
  // probe set (pageRankOracleSql reused verbatim inside a subquery —
  // its CTE names stay scoped), stacked under a set_id column. Batched
  // and sequential runs are the same integer map per set, so the
  // UNION of three single-set replays IS the batched answer.
  private def grPprMultiSetSql(k: Int): String =
    s"""SELECT CAST($k AS BIGINT) AS set_id, id, rank_micro FROM (
       |WITH p AS (SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM p
       |  UNION ALL SELECT b AS src, a AS dst FROM p),
       |sd AS (SELECT s_suppkey * 2 + 1 AS id FROM supplier
       |  WHERE s_nationkey = $k),
       |nd AS (SELECT u.id, (sd.id IS NOT NULL) AS seed FROM
       |  (SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)) u
       |  LEFT JOIN sd ON u.id = sd.id),
       |${graft.ops.ClusterOps.pageRankOracleSql(iters = 4,
          personalized = true)})""".stripMargin

  private val grPprMultiSql: String =
    (0 to 2).map(grPprMultiSetSql).mkString("\nUNION ALL\n")

  val oracle: Map[String, String] = Map(
    "gr_pagerank" -> grPagerankSql,
    "gr_pagerank_store" -> grPagerankSql,
    "gr_cc" -> grCcSql,
    "gr_cc_store" -> grCcSql,
    "gr_pr_converged" -> grPrConvergedSql,
    "gr_pr_converged_store" -> grPrConvergedSql,
    "gr_ppr" -> grPprSql,
    "gr_ppr_store" -> grPprSql,
    "gr_ppr_multi" -> grPprMultiSql,
    "j7_salted_join" ->
      """SELECT p_brand, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |GROUP BY p_brand""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk_join" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "p1_point_lookup" ->
      "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = 42",
    "p2_lookup_name" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_name = 'NATION_7'",
    "p5_id_partition" ->
      """SELECT t.id, (c_custkey IS NOT NULL) AS found
        |FROM generate_series(1400, 1600) t(id)
        |LEFT JOIN customer ON t.id = c_custkey""".stripMargin,
    "p7_projection_filter" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice, o_orderstatus
        |FROM orders WHERE o_totalprice > 400000.0""".stripMargin,
    "p9_label_scrub" ->
      """SELECT c_custkey,
        |  regexp_replace(lower(c_name), '[^a-z0-9]+', '_', 'g') AS scrubbed,
        |  c_name || ' ott' || c_custkey AS name_and_id
        |FROM customer""".stripMargin,
    "j1_semi_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
    "j2_left_outer_join" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey < 1000""".stripMargin,
    "j4_multiway_join" ->
      """SELECT r_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "j5_broadcast_join" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "j6_anti_join" ->
      // NOT EXISTS, not NOT IN: a single NULL o_custkey would make NOT IN
      // return 0 rows while left_anti keeps every non-matching customer.
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin,
    "a3_distinct_sort" ->
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
    "a5_distinct_pairs" ->
      "SELECT DISTINCT lang, source FROM documents",
    "a7_group_count" ->
      """SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "a8_effective_parents" ->
      """WITH c AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        |  FROM customer GROUP BY c_nationkey, c_mktsegment),
        |t AS (
        |  SELECT c_nationkey, CAST(sum(cnt) AS BIGINT) AS tot,
        |    CAST(sum(cnt * cnt) AS BIGINT) AS ss
        |  FROM c GROUP BY c_nationkey)
        |SELECT c_nationkey,
        |  floor(CAST(tot * tot AS DOUBLE) / ss * 10000.0) / 10000.0 AS eff_segments
        |FROM t""".stripMargin,
    "w1_rank_topn" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, rn
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "w2_first_last" ->
      """SELECT DISTINCT o_custkey,
        |  first_value(o_orderkey) OVER w AS first_orderkey,
        |  last_value(o_orderkey) OVER w AS last_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,
    "w3_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_extendedprice) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_price
        |FROM lineitem WHERE l_suppkey < 10""".stripMargin,
    "o1_sort" ->
      """SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
        |FROM supplier ORDER BY s_acctbal DESC, s_suppkey""".stripMargin,
    "o2_topk" ->
      // ORDER BY must be table-qualified: a bare c_acctbal binds to the
      // rounded SELECT alias in DuckDB, while Spark sorts the raw column —
      // at a round boundary the two could keep different top-10 sets.
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
        |FROM customer ORDER BY customer.c_acctbal DESC, c_custkey LIMIT 10""".stripMargin,
    "set1_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "set2_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "set3_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,
    "f1_str_to_map" ->
      "SELECT doc_id, lang AS lang2, source AS src2 FROM documents",
    "f5_id_codec" ->
      """SELECT c_custkey, 'ott' || c_custkey AS ott_id,
        |  CAST(substring('ott' || c_custkey, 4) AS BIGINT) AS parsed_back
        |FROM customer""".stripMargin,
    "f8_zero_epsilon" ->
      """SELECT l_returnflag,
        |  min(CASE WHEN l_discount = 0.0 THEN 1e-22 ELSE l_discount END) AS min_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "fj_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90""".stripMargin,
    "ev_hour_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin
  )
}
