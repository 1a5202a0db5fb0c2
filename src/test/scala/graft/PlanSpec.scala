package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.queries._

/** Physical-plan audit: the properties that make these operators scale are
  * asserted here so a regression (lost pushdown, lost broadcast, broken
  * codegen) fails loudly rather than silently costing a full scan or an
  * extra shuffle at 100 TB.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def finalPlan(df: DataFrame): String = {
    df.collect() // let AQE settle to the final plan
    // AQE's toString appends the pre-optimization "== Initial Plan ==" —
    // keep ONLY the final section, or every occurrence-count assertion
    // below is vacuous (one node prints once per section, so a lost
    // partial aggregate still matches "HashAggregate" twice)
    val p = df.queryExecution.executedPlan.toString
    p.indexOf("== Initial Plan ==") match {
      case -1 => p
      case i => p.substring(0, i)
    }
  }

  test("spread no-ops on a derived frame WITHOUT materializing stages — " +
      "and still widens a plain scan") {
    import org.apache.spark.sql.functions.col
    // the r14 hazard this guard exists for: spread's narrowness probe
    // (df.rdd) on a frame with an exchange below makes AQE materialize
    // the query stages to answer — the caller's subquery executes twice
    // (mix_cluster_budget_trained 2.7→4.0 s before its revert). The
    // guard must return a join/aggregate frame UNCHANGED without
    // running a single Spark job.
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val docs = Tables.documents(spark, sf)
    val joined = docs.select(col("doc_id"), col("source"))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val agged = docs.groupBy(col("source"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    spark.sparkContext.addSparkListener(l)
    val (outJ, outA) =
      try (Tables.spread(joined, "doc_id"), Tables.spread(agged, "source"))
      finally {
        Thread.sleep(500) // listener bus drains asynchronously
        spark.sparkContext.removeSparkListener(l)
      }
    assert(outJ eq joined, "derived join frame must come back UNCHANGED")
    assert(outA eq agged, "aggregate frame must come back UNCHANGED")
    assert(jobs.get == 0,
      s"spread's probe materialized ${jobs.get} job(s) on a derived frame")
    // the positive half: a plain scan(+filter) still spreads when narrow
    val scan = docs.filter(col("text").isNotNull)
    val out = Tables.spread(scan, "doc_id")
    if (scan.rdd.getNumPartitions <
        spark.sparkContext.defaultParallelism) {
      assert(out.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism,
        "scan-shaped frame below parallelism must be repartitioned")
    }
  }

  test("point lookup pushes the equality filter into the parquet scan") {
    val p = finalPlan(Relational.p1PointLookup(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)]"), p)
  }

  test("projection prunes the parquet read schema to selected columns") {
    val p = finalPlan(Relational.p9LabelScrub(spark, sf))
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"), p)
  }

  test("dim joins broadcast; no shuffle of the small side") {
    val p = finalPlan(Relational.j5BroadcastJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("semi/anti joins stay semi/anti at the physical level") {
    assert(finalPlan(Relational.j1SemiJoin(spark, sf)).contains("LeftSemi"))
    assert(finalPlan(Relational.j6AntiJoin(spark, sf)).contains("LeftAnti"))
  }

  test("q1 aggregation is a partial/final hash aggregate inside codegen") {
    val p = finalPlan(Relational.q1Agg(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // map-side combine
    assert(p.contains("*("), p) // whole-stage codegen spans
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // PERF's skew story is two-layered: explicit salting (SkewOps) for
    // known-extreme keys, AQE's runtime skew split for everything else.
    // This locks the second layer: a hot key must come out of AQE as a
    // split sort-merge join, not one straggler partition. Thresholds are
    // shrunk so the local fixture qualifies; the join shape is the lock.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      // one hot key carrying 50k rows beside 100 singleton keys
      val hot = spark.range(50000).select(lit(0L).as("k"),
        col("id").as("payload"))
      val rest = spark.range(1, 101).select(col("id").as("k"),
        col("id").as("payload"))
      val left = hot.union(rest)
      val right = spark.range(0, 101).select(col("id").as("k"),
        col("id").as("rv"))
      val joined = left.join(right, "k").select(sum(col("payload")).as("s"))
      val p = finalPlan(joined)
      assert(p.contains("skew=true"), s"AQE did not split the skew:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("span dedup is aggregates + equi-joins: no windows, nothing pairwise") {
    val p = finalPlan(TrainingQueries.ddSpans(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p) // unbounded-group windows don't scale
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("runtime bloom filter prunes the big side of a selective fact join") {
    // at 100 TB the shuffle of the probe side dominates a selective
    // fact⋈fact join; Spark's runtime bloom filter (built from the
    // filtered build side, applied at the probe scan) cuts that shuffle
    // volume — this locks that our join shape stays eligible for it. The
    // size thresholds are deployment tuning, so they are relaxed here to
    // make the local fixture eligible; the join SHAPE is what must not
    // regress.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf)
        .filter(col("o_totalprice") > 500000.0) // selective build side
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))
      // injection is a PLANNING-time property: assert on the optimized
      // plan. The executed final plan can't carry it here — the filter is
      // so selective that AQE's empty-relation propagation replaces the
      // whole join at fixture scale (which is also why asserting on the
      // executed string was only ever matching the Initial Plan section)
      joined.collect()
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.toLowerCase.contains("bloom"),
        s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("deterministic top-k fuses into TakeOrderedAndProject (no full sort)") {
    val p = finalPlan(Relational.o2Topk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ANN top-k broadcasts the bounded query side") {
    val e = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding").as("vec"))
    val p = finalPlan(graft.ops.VectorOps.topK(
      e.filter(org.apache.spark.sql.functions.col("id") < 3), e, 3))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("interval subtree filter broadcasts the single-row root bound") {
    val p = finalPlan(TreeQueries.treeSubtree(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("LSH ANN candidate joins are hash/merge equi-joins, never a full nested loop") {
    val e = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding").as("vec"))
    val p = finalPlan(graft.ops.VectorOps.annLsh(e, "id", "vec",
      k = 3, dims = 64, bits = 8, tables = 2))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("annLsh construction is lazy: no Spark job until an action") {
    // resolve the source first: parquet schema inference issues its own
    // jobs at read time, which are not the operator's doing
    val e = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding").as("vec"))
    e.schema
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.ops.VectorOps.annLsh(e, "id", "vec", k = 3, dims = 64,
        bits = 8, tables = 2)
      graft.ops.VectorOps.rhpSignature(e, "id", "vec", dims = 64)
      // flush marker: one dummy RDD action (exactly one job — a Dataset
      // count is 2+ under AQE); poll until its event lands, then the
      // construction above must account for zero of the recorded jobs
      spark.sparkContext.range(0, 1).count()
      val deadline = System.nanoTime() + 5_000_000_000L
      while (jobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() == 1,
        s"expected only the marker job, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("labelParsed starts at most one Spark job, even on a deep tree") {
    // the parsed-tree labeler is one driver-side sweep; pointer-doubling
    // rounds (a checkpoint + count per round) must not come back here.
    // A 200-level caterpillar would take 8 doubling rounds.
    val nwk = (1 to 200).foldLeft("t0")((acc, k) => s"($acc,t$k)") + ";"
    val parsed = graft.tree.Newick.parse(nwk)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marked = new java.util.concurrent.CountDownLatch(1)
    val marker = "graft.test.marker"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(marker) != null)
          marked.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val labeled =
      try {
        val l = graft.tree.TreeIngest.labelParsed(spark, parsed)
        // flush marker: events arrive in order, so once the marked job is
        // seen every job labelParsed started has been counted
        sc.setLocalProperty(marker, "1")
        try sc.range(0, 1).count() finally sc.setLocalProperty(marker, null)
        assert(marked.await(10, java.util.concurrent.TimeUnit.SECONDS))
        l
      } finally sc.removeSparkListener(listener)
    assert(jobs.get() <= 1, s"labelParsed started ${jobs.get()} jobs")
    val root = labeled.filter(org.apache.spark.sql.functions.col("pre") === 0L)
      .collect()
    assert(labeled.count() == parsed.length)
    assert(root.map(_.getAs[Long]("post")).toSeq == Seq(parsed.length - 1L))
  }

  test("ingest starts no Spark job: ingestParsed, ingest and ingestAll, and " +
      "treeIdStr and sourceBlobs on what they return") {
    // the side files are read on the driver and the node rows are built
    // lazily, so the first job is the first action on `nodes`
    import graft.tree.{Newick, TreeIngest}
    val fx = GaviaFixture.fx
    val g1 = TreeIngest.TreeSource(s"$fx/gavia.tre", s"$fx/gavia_annotations.json",
      s"$fx/gavia_taxonomy.tsv", "opentree4.1")
    val g2 = TreeIngest.TreeSource(s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
      s"$fx/gavia_taxonomy.tsv", "opentree5.0")
    val parsed = Newick.parse(GaviaFixture.GoldenGavia)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marked = new java.util.concurrent.CountDownLatch(1)
    val marker = "graft.test.marker"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(marker) != null)
          marked.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val ingested =
      try {
        val multi = TreeIngest.ingestAll(spark, Seq(g1, g2))
        val all = Seq(
          TreeIngest.ingestParsed(spark, parsed, g1.annotationsPath,
            g1.taxonomyPath, g1.treeId),
          TreeIngest.ingest(spark, g2.newickPath, g2.annotationsPath,
            g2.taxonomyPath, g2.treeId),
          multi.tree(g1.treeId), multi.tree(g2.treeId))
        all.foreach { t => t.treeIdStr; t.sourceBlobs }
        sc.setLocalProperty(marker, "1")
        try sc.range(0, 1).count() finally sc.setLocalProperty(marker, null)
        assert(marked.await(10, java.util.concurrent.TimeUnit.SECONDS))
        all
      } finally sc.removeSparkListener(listener)
    assert(jobs.get() == 0, s"ingest started ${jobs.get()} jobs")
    assert(ingested.map(_.treeIdStr) ==
      Seq("opentree4.1", "opentree5.0", "opentree4.1", "opentree5.0"))
    assert(ingested.head.sourceBlobs("pg_01@tree1")("git_sha") == "abc123")
    assert(ingested.map(_.nodes.count()) == Seq(9L, 5L, 9L, 5L))
  }

  test("served extracts start no Spark job once the store is indexed") {
    // newick / induced_subtree / arguson answer from the serving index
    // after one build; a second build of the same frame is memoised
    import graft.tree.{TreeApi, TreeIngest, TreeOps, TreeServing}
    val fx = GaviaFixture.fx
    val t = TreeIngest.ingest(spark, s"$fx/gavia.tre",
      s"$fx/gavia_annotations.json", s"$fx/gavia_taxonomy.tsv", "opentree4.1")
    val idx = TreeServing.build(t)
    t.sourceBlobs
    val root = idx.byOtId("ott803675").get.getLong(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marked = new java.util.concurrent.CountDownLatch(1)
    val marker = "graft.test.marker"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(marker) != null)
          marked.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val again =
      try {
        assert(TreeOps.newick(t.nodes, root, idsForUnnamed = true) ==
          GaviaFixture.GoldenGavia)
        assert(TreeApi.inducedSubtree(t, Seq("ott1085739", "ott90560")).ok)
        assert(TreeApi.arguson(t, root).contains("\"source_id_map\""))
        val b = TreeServing.build(t)
        sc.setLocalProperty(marker, "1")
        try sc.range(0, 1).count() finally sc.setLocalProperty(marker, null)
        assert(marked.await(10, java.util.concurrent.TimeUnit.SECONDS))
        b
      } finally sc.removeSparkListener(listener)
    assert(jobs.get() == 0, s"indexed extracts started ${jobs.get()} jobs")
    assert(again eq idx, "a second build of the same frame must reuse the index")
  }

  test("repetition and quantization are scan-local: zero exchanges") {
    val rep = finalPlan(graft.queries.TrainingQueries.txtRepetition(spark, sf))
    assert(!rep.contains("Exchange"), rep)
    val qz = finalPlan(graft.queries.TrainingQueries.embQuantize(spark, sf))
    assert(!qz.contains("Exchange"), qz)
    // and the token-split n-gram build pushes column pruning to the scan
    assert(rep.contains("ReadSchema: struct<doc_id:bigint,text:string>"), rep)
  }

  test("BPE and surprisal gates are scan-local: zero exchanges, pruned " +
      "reads, pushed null filter") {
    // 64 merge passes / the LM table lookup are pure projections — the
    // moment either plans an exchange CARRYING ITS OUTPUT, the 100 TB
    // story is gone. txt_bpe's r14 exception: ONE scale-gated spread of
    // the RAW doc rows below the encode (Tables.spread — a no-op at
    // production split counts, where the scan already carries ≥ the
    // session's parallelism), so the encoded rows still never shuffle;
    // the pruned read and pushed null filter must survive the spread.
    for ((g, spreads) <- Seq(("txt_bpe", 1), ("txt_surprise", 0))) {
      val p = finalPlan(graft.queries.TrainingQueries.registry(g)(spark, sf))
      assert("Exchange hashpartitioning".r.findAllIn(p).length == spreads,
        s"$g:\n$p")
      assert(!p.contains("rangepartitioning"), s"$g:\n$p")
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$g:\n$p")
      assert(p.contains("IsNotNull(text)"), s"$g:\n$p")
    }
  }

  test("KMV sketch aggregates partially before the exchange") {
    val p = finalPlan(graft.queries.TrainingQueries.skDistinctKmv(spark, sf))
    // typed Aggregator → ObjectHashAggregate with a partial pass: a group
    // of any cardinality ships k longs per partition, not its rows
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.toLowerCase.contains("partial_kmvagg"), p)
  }

  test("contamination broadcasts the eval side; the corpus side reaches " +
      "the join without a shuffle") {
    val docs = Tables.documents(spark, sf)
    val df = graft.ops.TextOps.contamination(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 10),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") < 10),
      "doc_id", "text")
    val p = finalPlan(df) // already Initial-Plan-stripped
    // the corpus (streamed) side flows scan → join with NO shuffle: in
    // the top-down plan text everything below the join line is its two
    // children (corpus subtree + broadcast side), and the only hash
    // exchanges sit ABOVE it in the post-join candidate-bounded aggregates
    val idx = p.indexOf("BroadcastHashJoin")
    assert(idx >= 0, p)
    val below = p.substring(idx)
    assert(!below.contains("Exchange hashpartitioning") &&
      !below.contains("ShuffleQueryStage"), below)
  }

  test("bounded-reservoir quantiles aggregate partially before the exchange") {
    val p = finalPlan(graft.queries.TrainingQueries.skQuantile(spark, sf))
    // typed Aggregator → ObjectHashAggregate with a partial pass: a hot
    // group ships ≤ cap (rank, value) pairs per partition into the
    // exchange, never its sampled rows
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.toLowerCase.contains("partial_reservoiragg"), p)
  }

  test("KMV distinct-count plans without an Expand (distinct-first shape)") {
    // mixing count_distinct with the KMV udaf in one agg makes the
    // planner Expand-duplicate every input row; the gate pre-dedupes
    // (group, value) pairs instead — md5 and the sketch insert must run
    // once per distinct value, never per corpus row
    val p = finalPlan(TrainingQueries.skDistinctKmv(spark, sf))
    assert(!p.contains("Expand"), p)
  }

  test("minhash→jaccard verifier joins only on candidate keys (no token self-join)") {
    val w = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 100)
    val p = finalPlan(graft.ops.TextOps.jaccardVerify(
      graft.ops.TextOps.minhashCandidates(w, "doc_id", "text"),
      w, "doc_id", "text", 0.5))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hash sampling is a scan-local predicate: zero exchanges in the plan") {
    val p = finalPlan(graft.ops.SampleOps.hashSample(
      Tables.documents(spark, sf), "doc_id", 0.2, "split1"))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("*("), p) // the md5 gate runs inside codegen
  }

  test("stratified sampling broadcasts the rate table") {
    val p = finalPlan(graft.ops.SampleOps.stratifiedSample(
      Tables.documents(spark, sf), "doc_id", "source",
      Map("src0" -> 0.5), 0.1, "mix"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("kmeans step centroids broadcast; means are partial/final hash aggregates") {
    val e = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding").as("vec"))
    val seeds = Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 8)
      .select(org.apache.spark.sql.functions.col("vec_id").as("cid"),
        org.apache.spark.sql.functions.col("embedding").as("cvec"))
    val p = finalPlan(graft.ops.VectorOps.kmeansStep(e, seeds))
    assert(p.contains("BroadcastNestedLoopJoin"), p) // bounded centroid side
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // map-side combine
    assert(!p.contains("CartesianProduct"), p)
  }

  test("semantic dedup: centroids broadcast, pairing is a cell-key " +
      "equi-join — never a corpus×corpus product") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Tables.embeddings(spark, sf).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val p = finalPlan(graft.ops.VectorOps.semanticDedup(e, cents, 0.3))
    // the only nested-loop joins are the broadcast centroid scorings
    // (bounded side by contract); the within-cell pairing must be a
    // hash/merge EQUI-join on the cell key, so pairwise work is
    // Σ|cell|², never |corpus|²
    assert(!p.contains("CartesianProduct"), p)
    assert("SortMergeJoin".r.findAllIn(p).length +
      "ShuffledHashJoin".r.findAllIn(p).length +
      "BroadcastHashJoin".r.findAllIn(p).length >= 1, p)
    // at most ONE BroadcastNestedLoopJoin: the single assignCells
    // centroid scoring pass (broadcast 8-row side). A second BNLJ
    // would mean a join lost its equi-keys and fell back to a
    // nested-loop corpus scan
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
  }

  test("multi-probe cell assignment plans WITHOUT a window: bounded " +
      "top-k aggregation, map-side partial") {
    import org.apache.spark.sql.functions.col
    // the nprobe>1 path must stay safe on an UNBOUNDED probing side
    // (the dedup/frontier callers): a row_number window here shuffles
    // all n·k scored rows and sorts per id — the regression this locks
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Tables.embeddings(spark, sf).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val p = finalPlan(
      graft.ops.VectorOps.nearDupPairsBucketed(e, cents, 0.3, nprobe = 2))
    assert(!p.contains("Window"), p)
    // the top-k aggregate combines map-side before its exchange
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2 ||
      "SortAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("sequence packing shuffles once: shard-partitioned window, no global sort") {
    val p = finalPlan(graft.queries.TrainingQueries.packSeqs(spark, sf))
    // exactly ONE exchange (the shard-partitioned window's) — ">= 1"
    // would let a regression add shuffles without failing the lock
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("rangepartitioning"), p) // no single-stream global order
  }

  test("mix_pack composite: recipe/boundary frames broadcast, nothing " +
      "pairwise, no global sort") {
    // the composite's own lock (its stages are locked separately, but a
    // regression INTRODUCED BY THE COMPOSITION — e.g. the kept-set union
    // forcing a sort-merge against the recipe, or the fold picking up a
    // range partitioning — would hide between them)
    val p = finalPlan(TrainingQueries.mixPack(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // budget recipe + boundary-bucket joins reach the corpus as
    // broadcasts; nothing corpus-sized sort-merges
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only ordering is packFfd's WITHIN-partition shard sort — a
    // range partitioning would mean the fold regressed to a global sort
    assert(!p.contains("rangepartitioning"), p)
  }

  test("pipe_pretrain composite: nothing pairwise, no global sort, " +
      "history index scanned without a corpus-side shuffle join") {
    val p = finalPlan(TrainingQueries.registry("pipe_pretrain")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("rangepartitioning"), p)
    // the probe's history join and the sampler's recipe/boundary joins
    // must all broadcast the bounded side — a sort-merge anywhere here
    // means a store-sized exchange snuck into the serving path
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
  }

  test("trained-PQ serving plan: training changes the codebook, never " +
      "the shape — ADC stays broadcast-joined, nothing pairwise") {
    // the trained store serves through the same queryAdc path the
    // sampled one does; this pins that wiring the TRAINED artifact in
    // (a different codebook literal, a different store dir) cannot
    // regress the serving plan to a corpus-sized exchange
    val p = finalPlan(TrainingQueries.registry("ann_pq_trained")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("PQ drift fold is join-free: literal-projection encode, one " +
      "exchange for the (j, code) aggregate") {
    // the meter's 100 TB claim is structural — the encode half must
    // stay pqBestsCol's scan-local literal projection (never a join
    // back to a codebook frame) and the whole fold must shuffle only
    // the partial-aggregate rows (m·codes-bounded, not batch-sized)
    val p = finalPlan(TrainingQueries.registry("ann_drift_pq")(spark, sf))
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
  }

  test("tokenizer drift fold: row-local encode, broadcast vocab id " +
      "join, one exchange for the (tok_id) aggregate") {
    // the text twin of the PQ-drift plan lock — the meter's per-append
    // price is structural: tokenization must stay the scan-local
    // literal replace chain, the token→id lookup a BROADCAST join
    // (vocab-bounded — if it ever sort-merges, the exploded batch pays
    // a corpus-scale exchange on a string key), and the only shuffles
    // are the partial-aggregate rows (≤ vocab+1, never the token
    // stream) plus — since r14 — ONE scale-gated spread of the RAW
    // batch rows below the encode (Tables.spread; a no-op at
    // production split counts): 2 hash exchanges total, token stream
    // still never moves
    val p = finalPlan(TrainingQueries.registry("txt_bpe_drift")(spark, sf))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
  }

  test("trained cluster-budget composite: recipe/boundary frames still " +
      "broadcast, nothing pairwise, no global sort") {
    // same lock as mix_pack, over the TRAINED-strata composition: the
    // two Lloyd rounds run behind a flatten, so the served plan must
    // look exactly like the untrained twin's — cells broadcast-crossed
    // into the corpus (assignCells' n·k scoring: the ONE legitimate
    // nested-loop, always with the bounded centroid side as the build),
    // budget algebra broadcast, no sort-merge anywhere. This lock
    // caught the kept-set semi-join regressing to a corpus-wide
    // sort-merge when upstream stats were checkpoint-opaque — the
    // broadcast hint on fullKeep is the fix it pins.
    val p = finalPlan(
      TrainingQueries.registry("mix_cluster_budget_trained")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).toSeq
    assert(bnlj.forall(_.contains("Cross")),
      s"non-cross nested loop joins: $bnlj")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  test("salted join hash-partitions on (key, salt) and matches the plain join") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey").as("partkey"), col("l_quantity"))
    val p2 = Tables.part(spark, sf)
      .select(col("p_partkey").as("partkey"), col("p_brand"))
    // force the shuffle join: at 100 TB neither side broadcasts, and a
    // broadcast plan would never key an exchange on the salt at all
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val salted = graft.ops.SkewOps.saltedJoin(li, p2, "partkey", salts = 8)
      val p = finalPlan(salted)
      assert("hashpartitioning\\([^)]*__salt".r.findFirstIn(p).isDefined, p)
      val plain = li.join(p2, "partkey")
      assert(salted.count() == plain.count())
      assert(salted.columns.toSet == plain.columns.toSet)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("custom codec expression leaves pushdown and codegen intact") {
    val p = finalPlan(ExtQueries.mrcaCodec(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(c_custkey), LessThan(c_custkey,100)]"), p)
    assert(p.contains("mrcapack"), p)
    assert(p.contains("*("), p)
  }

  test("temperature sampling broadcasts the recipe; corpus side never sort-merges") {
    // the recipe table is #strata rows — if it ever degrades to a
    // sort-merge join the whole corpus pays an exchange for a
    // kilobyte-sized dimension
    val p = finalPlan(TrainingQueries.registry("smp_temperature")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("deterministic shuffle costs exactly one exchange — the per-shard " +
      "rank — and no global sort") {
    // the whole point is beating orderBy(rand()): shard assignment must
    // stay a scan-local projection and the only distributed work the
    // shard-partitioned window rank; a global Sort or a second Exchange
    // means the deal regressed to the full-sort shape
    val df = graft.queries.TrainingQueries.registry("smp_shuffle")(spark, sf)
    df.collect()
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val all = PlanWalk.nodes(df.queryExecution.executedPlan)
    assert(all.count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
      df.queryExecution.executedPlan.toString)
    val globalSorts = all.collect { case s: SortExec if s.global => s }
    assert(globalSorts.isEmpty, df.queryExecution.executedPlan.toString)
  }

  test("store-served pagerank: the loaded edge⋈degree frame moves " +
      "nothing — zero exchange, zero sort below the degree join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // the GraphStore's whole reason to exist: edges and degrees are
    // bucketed+sorted by src with one bucket count, so composing the
    // serving frame the way pageRankStored does must be a pure
    // bucketed-⋈-bucketed merge — an Exchange or Sort anywhere in this
    // plan means the store degraded to prEdgeCache's per-call build
    val edges = (0L until 2000L).map(i => (i % 97L, (i * 7L) % 89L))
      .toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft_gstore_plan")
      .toString + "/g"
    graft.ops.GraphStore.save(spark, edges, dir, buckets = 8)
    val st = graft.ops.GraphStore.load(spark, dir)
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the one-time serving-frame build: bucketed-⋈-bucketed, so ZERO
      // exchange and no global sort — Spark may insert bucket-LOCAL
      // sorts (it declines to trust multi-file bucket sort metadata),
      // which cost CPU once before the persist, never network
      val served = st.edges.join(st.degrees, "src")
      served.collect()
      val plan = PlanWalk.nodes(served.queryExecution.executedPlan)
      assert(!plan.exists(_.isInstanceOf[ShuffleExchangeLike]),
        served.queryExecution.executedPlan.toString)
      assert(!plan.collect { case s: SortExec if s.global => s }.nonEmpty,
        served.queryExecution.executedPlan.toString)
      assert(served.queryExecution.executedPlan.toString
        .contains("Bucketed: true"),
        served.queryExecution.executedPlan.toString)
      // per-ROUND invariant (the pageRankStored shape): once the frame
      // is pinned, a round's contribution join must consume the cache
      // verbatim — nothing moves or re-sorts the edge side, exactly
      // the prEdgeCache lock one test down
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      import org.apache.spark.sql.execution.joins._
      import org.apache.spark.sql.functions.lit
      val pinned = served.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinned.count()
      val round = graft.ops.ClusterOps.prContrib(pinned,
        st.nodes.withColumn("rank", lit(1000000L)))
      round.collect()
      def containsCache(p: SparkPlan): Boolean =
        PlanWalk.nodes(p).exists(_.isInstanceOf[InMemoryTableScanExec])
      val joins = PlanWalk.nodes(round.queryExecution.executedPlan)
        .filter(p => p.isInstanceOf[BroadcastHashJoinExec] ||
          p.isInstanceOf[SortMergeJoinExec] ||
          p.isInstanceOf[ShuffledHashJoinExec])
      assert(joins.exists(containsCache),
        "no join over the pinned store frame:\n" +
          round.queryExecution.executedPlan)
      joins.filter(containsCache).foreach { j =>
        j.children.filter(containsCache).foreach { side =>
          val moved = PlanWalk.nodes(side).filter(p =>
            p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[SortExec])
          assert(moved.isEmpty,
            "stored edge side re-shuffled or re-sorted per round:\n" +
              round.queryExecution.executedPlan)
        }
      }
      pinned.unpersist()
      // and a full served run agrees with the rebuild path bit for bit
      val nodes = st.nodes
      val a = graft.ops.ClusterOps.pageRankStored(st, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = graft.ops.ClusterOps.pageRank(edges, nodes, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b && a.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("batched ppr round streams the pinned store frame: no exchange, " +
      "no sort on the edge side despite the wider rank vector") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.functions.{col, lit}
    // the batching contract: set_id widens only the RANK side — the
    // edge join key stays src, so the pinned bucketed frame must stream
    // through a batched round exactly as through a single-set one; an
    // exchange or sort under the edge side means batching silently
    // re-pays the layout every round × every set
    val edges = (0L until 2000L).map(i => (i % 97L, (i * 7L) % 89L))
      .toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft_gstore_mppr")
      .toString + "/g"
    graft.ops.GraphStore.save(spark, edges, dir, buckets = 8)
    val st = graft.ops.GraphStore.load(spark, dir)
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pinned = st.edges.join(st.degrees, "src").persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinned.count()
      val r0 = Seq(0L, 1L, 2L).toDF("set_id")
        .crossJoin(st.nodes.select(col("id")))
        .withColumn("rank", lit(1000000L))
      val round = graft.ops.ClusterOps.prContribMulti(pinned, r0)
      round.collect()
      def containsCache(p: SparkPlan): Boolean =
        PlanWalk.nodes(p).exists(_.isInstanceOf[InMemoryTableScanExec])
      val joins = PlanWalk.nodes(round.queryExecution.executedPlan)
        .filter(p => p.isInstanceOf[BroadcastHashJoinExec] ||
          p.isInstanceOf[SortMergeJoinExec] ||
          p.isInstanceOf[ShuffledHashJoinExec])
      assert(joins.exists(containsCache),
        "no join over the pinned store frame:\n" +
          round.queryExecution.executedPlan)
      joins.filter(containsCache).foreach { j =>
        j.children.filter(containsCache).foreach { side =>
          val moved = PlanWalk.nodes(side).filter(p =>
            p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[SortExec])
          assert(moved.isEmpty,
            "stored edge side re-shuffled or re-sorted in a batched " +
              "round:\n" + round.queryExecution.executedPlan)
        }
      }
      pinned.unpersist()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("store-served fixed-point pagerank: stored frame moves nothing, " +
      "and converged ranks + rounds equal the scan path bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // a graph with GENUINE sinks (dst ids 100.. never appear as src), so
    // the dangling-redistribution term moves real mass — the production
    // variant's whole point; the store's degree table doubles as the
    // has_out set, which this locks against the scan path's edge-cache
    // derivation
    val edges = (0L until 2000L).map(i => (i % 97L, 100L + (i * 7L) % 89L))
      .toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft_gstore_fp")
      .toString + "/g"
    graft.ops.GraphStore.save(spark, edges, dir, buckets = 8)
    val st = graft.ops.GraphStore.load(spark, dir)
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the serving-frame build must stay a pure bucketed-⋈-bucketed
      // merge — zero exchange, no global sort (bucket-LOCAL sorts are
      // Spark distrusting multi-file bucket metadata, CPU not network)
      val served = st.edges.join(st.degrees, "src")
      served.collect()
      val plan = PlanWalk.nodes(served.queryExecution.executedPlan)
      assert(!plan.exists(_.isInstanceOf[ShuffleExchangeLike]),
        served.queryExecution.executedPlan.toString)
      assert(plan.collect { case s: SortExec if s.global => s }.isEmpty,
        served.queryExecution.executedPlan.toString)
      val a = graft.ops.ClusterOps.pageRankFixedPointStored(st,
        maxRounds = 60, dampingMilli = 400, redistributeDangling = true)
      val b = graft.ops.ClusterOps.pageRankFixedPoint(edges, st.nodes,
        maxRounds = 60, dampingMilli = 400, redistributeDangling = true)
      assert(a.rounds == b.rounds)
      val am = a.ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bm = b.ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(am == bm && am.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("pagerank round streams the cached edge partitioning: no exchange, " +
      "no sort on the edge side") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // one round over a small graph: the edge cache is built partitioned
    // and sorted by src, so the per-round join must consume it verbatim —
    // an Exchange or Sort ABOVE the InMemoryTableScan means every
    // iteration re-shuffles the O(edges) side and the design regressed
    // to per-round edge movement
    val edges = (0L until 2000L).map(i => (i % 97L, (i * 7L) % 89L))
      .toDF("src", "dst")
    val nodes = (0L until 100L).toDF("id")
    val df = graft.ops.ClusterOps.pageRank(edges, nodes, iters = 2)
    df.collect()
    // the operator's returned frame is flattened (RDD-backed), so lock
    // the round plan by composing the SAME package-private kernels the
    // loop runs — prEdgeCache + prContrib — not a test-local replica:
    // dropping the repartition/sort/persist from prEdgeCache, or
    // changing prContrib's join, fails HERE
    val e2 = graft.ops.ClusterOps.prEdgeCache(edges)
    e2.count()
    val round = graft.ops.ClusterOps.prContrib(e2,
      nodes.withColumn("rank", lit(1000000L)))
    round.collect()
    val all = PlanWalk.nodes(round.queryExecution.executedPlan)
    // the invariant: on the JOIN's edge side, nothing may sit between
    // the in-memory scan and the join that moves or re-sorts the edges.
    // (The exchange ABOVE the join — partially-aggregated contributions
    // keyed by dst — is the one legitimate PageRank shuffle.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins._
    def containsCache(p: SparkPlan): Boolean =
      PlanWalk.nodes(p).exists(_.isInstanceOf[InMemoryTableScanExec])
    val joins = all.filter(p =>
      p.isInstanceOf[BroadcastHashJoinExec] ||
        p.isInstanceOf[SortMergeJoinExec] ||
        p.isInstanceOf[ShuffledHashJoinExec])
    assert(joins.nonEmpty && joins.exists(containsCache),
      "no join over the edge cache:\n" + round.queryExecution.executedPlan)
    joins.filter(containsCache).foreach { j =>
      val edgeSide = j.children.filter(containsCache)
      assert(edgeSide.nonEmpty)
      edgeSide.foreach { side =>
        val moved = PlanWalk.nodes(side).filter(p =>
          p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[SortExec])
        assert(moved.isEmpty,
          "edge side re-shuffled or re-sorted per round:\n" +
            round.queryExecution.executedPlan)
      }
    }
    e2.unpersist()
    // and the real operator's answer is sane: every node emits a row
    assert(df.count() == 100L)
  }

  test("induced kernel counts distincts by rank — no per-row set building") {
    // count(distinct) over a window isn't expressible, and the
    // collect_set fallback materializes the whole set PER ROW (O(p²)
    // partition memory on a large request); the kernel must use the
    // max(dense_rank) form instead
    val p = finalPlan(TreeQueries.registry("tree_induced")(spark, sf))
    assert(!p.contains("collect_set"), p)
    assert(p.contains("dense_rank"), p)
    // all window passes ride ONE clustering of the exploded path frame —
    // exactly one anc Exchange NODE (the spec string also appears in
    // window/sort arguments, so count Exchange nodes, not mentions);
    // >= 1 would stay green on a regression that plans a second one,
    // which is exactly what the pre-r7 two-consumer shape did
    assert("Exchange hashpartitioning\\(anc".r.findAllIn(p).length == 1, p)
  }

  test("trigram scoring under a broadcastable vocab never exchanges the " +
      "corpus token stream") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    // lm_score_tri runs the broadcast fast path: all five count joins
    // (w2, w1, (w1,w2), (w0,w1), (w0,w1,w2)) must be BroadcastHashJoins
    // — a shuffled join anywhere means the exploded corpus moved for a
    // vocabulary-sized side — and every exchange that remains (the
    // per-doc aggregate, the lazily-built trigram count table, the
    // single-row N total) must sit directly above a PARTIAL aggregate:
    // raw exploded token rows never enter a shuffle. r14 exception,
    // same shape as the txt_bpe lock: ONE scale-gated spread of the
    // RAW doc rows below the tokenize (Tables.spread — no Generate in
    // its subtree, so it can never carry the exploded stream).
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.GenerateExec
    val df = graft.queries.TrainingQueries.registry("lm_score_tri")(spark, sf)
    df.collect()
    val all = PlanWalk.nodes(df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan.toString
    assert(!all.exists(p => p.isInstanceOf[SortMergeJoinExec] ||
      p.isInstanceOf[ShuffledHashJoinExec]), plan)
    assert(all.count(_.isInstanceOf[BroadcastHashJoinExec]) == 5, plan)
    val exchanges = all.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.nonEmpty, plan)
    // spread = the one exchange carrying RAW doc rows: its subtree must
    // hold no Generate (exploded stream), no aggregate (count frames),
    // and no JOIN — an exchange above e.g. a broadcast-join output would
    // carry corpus-scale widened rows, which is not the stated "raw doc
    // rows below the tokenize" invariant
    val (spreads, aggEx) = exchanges.partition { e =>
      !PlanWalk.nodes(e.asInstanceOf[
          org.apache.spark.sql.execution.SparkPlan].children.head)
        .exists(n => n.isInstanceOf[GenerateExec] ||
          n.isInstanceOf[BaseAggregateExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
    }
    assert(spreads.length <= 1,
      s"more than the one pre-tokenize spread exchange:\n$plan")
    assert(aggEx.nonEmpty, plan)
    aggEx.foreach { e =>
      val firstAgg = PlanWalk.nodes(e.asInstanceOf[
          org.apache.spark.sql.execution.SparkPlan].children.head)
        .collectFirst { case a: BaseAggregateExec => a }
      assert(firstAgg.exists(_.aggregateExpressions.forall(
        _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial)),
        s"exchange without a map-side combine below it: $e\n$plan")
    }
  }

  test("trigram scoring with a non-broadcastable vocab exchanges the " +
      "token stream at most twice — and scores equal the broadcast path") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // the unbounded-vocab shape: counts too big to hint broadcast, so
    // the five count joins are shuffled joins — but the CORPUS side
    // must move only twice (once clustered by w2 for the first join,
    // once by w1 for the four remaining key sets); a regression to
    // per-join corpus movement re-shuffles the exploded token stream
    // five times. Corpus-side exchange = an exchange whose subtree
    // contains the posexplode (GenerateExec) and no aggregate below it
    // (count-frame exchanges sit above their partial count aggregate).
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val docs = Tables.documents(spark, sf).limit(300)
    import graft.ops.LmOps
    val uni = LmOps.trainUnigram(docs, "text")
    val bi = LmOps.trainBigram(docs, "text")
    val tri = LmOps.trainTrigram(docs, "text")
    def run(bcast: Boolean) = {
      val df = LmOps.scoreTrigram(docs, "doc_id", "text", uni, bi, tri,
        broadcastCounts = bcast, clusterCorpus = !bcast)
      (df, df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap)
    }
    // kill auto-broadcast for the slow run: at spec scale AQE would
    // broadcast the tiny count frames and the lock would never see the
    // shuffled-join shape it exists to constrain
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (slow, slowScores) =
      try run(false)
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    val (_, fastScores) = run(true)
    assert(slowScores == fastScores && slowScores.nonEmpty,
      "big-vocab path diverged from the broadcast path")
    def corpusSide(e: SparkPlan): Boolean = {
      val below = PlanWalk.nodes(e.children.head)
      below.exists(_.isInstanceOf[GenerateExec]) &&
        !below.exists(_.isInstanceOf[BaseAggregateExec])
    }
    val all = PlanWalk.nodes(slow.queryExecution.executedPlan)
    // the five count joins really ARE shuffled joins in this plan
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    assert(all.count(p => p.isInstanceOf[SortMergeJoinExec] ||
      p.isInstanceOf[ShuffledHashJoinExec]) >= 5,
      slow.queryExecution.executedPlan.toString)
    val corpusEx = all.collect {
      case e: ShuffleExchangeLike if corpusSide(e) => e }
    assert(corpusEx.length <= 2 && corpusEx.nonEmpty,
      s"${corpusEx.length} token-stream exchanges:\n" +
        slow.queryExecution.executedPlan)
  }

  test("subset-key co-partition canary: default multi-key joins still " +
      "exchange both sides; an opted-in skewed subset layout stays " +
      "correct") {
    // requireAllClusterKeysForCoPartition=false is flipped ENGINE-WIDE
    // (GraftSession) for the big-vocab LM shape. Its blast radius is
    // bounded by two facts this canary pins: (1) the flip never invents
    // subset layouts — a join with NO explicit pre-partitioning still
    // exchanges both sides on the full key set; (2) when code DOES
    // opt a side in via repartition(col), the layout is reused (exactly
    // the explicit exchange below the join, no re-exchange) and the
    // answer over a heavily skewed subset key is still exact. A future
    // join landing on a skewed subset layout is therefore a deliberate
    // repartition() someone wrote, not planner drift.
    import org.apache.spark.sql.functions.{col, sum, when}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val fact = spark.range(0L, 60000L).toDF("i").select(
      when(col("i") % 16 < 15, 0L).otherwise(col("i") % 7L).as("k"),
      (col("i") % 40L).as("j"), col("i").as("v"))
    val dim = spark.range(0L, 7L * 40L).toDF("x")
      .select((col("x") % 7L).as("k"), (col("x") % 40L).as("j"),
        (col("x") * 13L % 101L).as("w"))
    def checksum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("v") * col("w"))).head().getLong(0)
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // (1) default planning unchanged by the conf flip
      val plain = fact.join(dim, Seq("k", "j"))
      val want = checksum(plain)
      val pNodes = PlanWalk.nodes(plain.queryExecution.executedPlan)
      val pJoin = pNodes.find(p => p.isInstanceOf[SortMergeJoinExec] ||
        p.isInstanceOf[ShuffledHashJoinExec]).get
      pJoin.children.foreach { side =>
        assert(PlanWalk.nodes(side).count(_.isInstanceOf[ShuffleExchangeLike])
          == 1, plain.queryExecution.executedPlan.toString)
      }
      // (2) the opted-in shape: the pre-partitioned side's ONLY
      // exchange is the explicit repartition — and the skewed-key
      // answer is exact
      val opted = fact.repartition(col("k")).join(dim, Seq("k", "j"))
      assert(checksum(opted) == want)
      val oNodes = PlanWalk.nodes(opted.queryExecution.executedPlan)
      val oJoin = oNodes.find(p => p.isInstanceOf[SortMergeJoinExec] ||
        p.isInstanceOf[ShuffledHashJoinExec]).get
      // fail LOUDLY when the marker string is missing — falling back to
      // an arbitrary child would let the assertion pass vacuously
      // against the dim side (which legitimately has one exchange)
      val factSide = oJoin.children.find(s =>
        PlanWalk.nodes(s).exists(_.toString.contains("REPARTITION_BY_COL")))
        .getOrElse(fail("no REPARTITION_BY_COL marker under the join — " +
          "the canary cannot locate the opted-in side:\n" +
          opted.queryExecution.executedPlan))
      assert(PlanWalk.nodes(factSide)
          .count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
        "the explicit k-layout was re-exchanged (or doubled):\n" +
          opted.queryExecution.executedPlan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("canonicalPerCluster is an argmax aggregate — no per-component window") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    import org.apache.spark.sql.execution.window.WindowExec
    // a giant near-dup component puts its WHOLE membership into one
    // task under row_number().over(partitionBy(component)) — the argmax
    // must be a partial/final aggregate (one row per component per
    // partition moves), with zero window operators anywhere
    val clustered = spark.range(0L, 5000L).toDF("id")
      .withColumn("component", lit(0L)) // one giant component
    val quality = spark.range(0L, 5000L).toDF("id")
      .withColumn("score", pmod(xxhash64(col("id")), lit(100L)))
    val df = graft.ops.ClusterOps.canonicalPerCluster(clustered, quality)
    val row = df.collect()
    val all = PlanWalk.nodes(df.queryExecution.executedPlan)
    assert(!all.exists(_.isInstanceOf[WindowExec]),
      df.queryExecution.executedPlan.toString)
    // map-side combine survives: a partial + final aggregate pair
    assert(all.count(_.nodeName.contains("Aggregate")) >= 2,
      df.queryExecution.executedPlan.toString)
    // and the argmax semantics hold: score ties (pmod 100 over 5000 ids
    // guarantees them) break to the LOWEST id among max-score rows
    assert(row.length == 1 && row(0).getLong(1) == 5000L)
    val q = quality.orderBy(col("score").desc, col("id")).limit(1).collect()(0)
    assert(row(0).getLong(2) == q.getLong(0) && row(0).getLong(3) == q.getLong(1))
  }
}
