package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** Streaming surface: the windowed aggregation and sessionization streams
  * must converge to their batch formulations on the same data.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def batchEvents = Tables.events(spark, sf)

  /** Write `df` as ONE parquet file named `dir`/`name` — the micro-batch
    * feed for maxFilesPerTrigger=1 streams (write to a temp dir, move the
    * single part file into place so the file arrives atomically).
    */
  private def writeEventFile(dir: String, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val sub = Files.createTempDirectory("graft_evt_tmp").toString + "/w"
    df.coalesce(1).write.parquet(sub)
    val f = new java.io.File(sub).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(f.toPath, Paths.get(s"$dir/$name"))
  }

  /** (event_id, "yyyy-MM-dd HH:mm:ss", value) rows → the events schema
    * (legacy ns-long ts, fixed user/type unless overridden).
    */
  private def eventsOf(rows: Seq[(Long, String, Double)],
      userId: Long = 1L,
      eventType: String = "x"): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "t", "value")
      .select(col("event_id"),
        unix_micros(to_timestamp(col("t"))) * 1000,
        lit(userId).as("user_id"), lit(eventType).as("event_type"),
        col("value"), lit("{}").as("props"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Same rows in the driver's CURRENT encoding — TIMESTAMP(micros)
    * without UTC adjustment (TIMESTAMP_NTZ) — for fixtures that must
    * coexist with a copied driver file in one stream directory.
    */
  private def eventsOfNtz(rows: Seq[(Long, String, Double)],
      userId: Long = 1L,
      eventType: String = "x"): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "t", "value")
      .select(col("event_id"),
        to_timestamp(col("t")).cast("timestamp_ntz").as("ts"),
        lit(userId).as("user_id"), lit(eventType).as("event_type"),
        col("value"), lit("{}").as("props"))
  }

  test("streaming windowed agg (complete mode) equals batch windowed agg") {
    val dir = Files.createTempDirectory("graft_win").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/part-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.windowedAgg(stream)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("win_out")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    val want = EventStreams.windowedAggBatch(batchEvents)
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("stream-static point-in-interval join equals batch: streamed " +
      "events land in their stored sessions") {
    // the serving shape: session intervals are a STORED artifact (built
    // batch-side), the point stream joins against them statelessly —
    // the chunked equi-join works unchanged as a stream-static join
    val dir = Files.createTempDirectory("graft_ivs").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/part-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val guarded = batchEvents.filter(col("event_id").isNotNull &&
      col("ts").isNotNull && col("user_id").isNotNull &&
      col("value").isNotNull)
    val ivs = EventStreams.sessionIntervals(batchEvents).localCheckpoint()
    val stream = EventStreams.readEvents(spark, dir)
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"))
    val q = graft.ops.TemporalOps.pointInIntervalJoin(stream, ivs,
        "user_id", "ts", "session_start", "session_end", chunkSeconds = 3600)
      .writeStream.format("memory").queryName("ivj_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), unix_micros(col("session_start")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = key(spark.table("ivj_out"))
    val want = key(graft.ops.TemporalOps.pointInIntervalJoin(
      guarded.select(col("user_id"), col("event_id"), col("ts")), ivs,
      "user_id", "ts", "session_start", "session_end", chunkSeconds = 3600))
    assert(got == want)
    assert(got.size == guarded.count()) // every event in exactly one session
  }

  test("stream-static as-of join equals batch: streamed clicks enrich " +
      "against the stored view snapshot") {
    // the SCD-enrichment serving shape: the dimension history closes
    // batch-side into an asofSnapshot, the click stream joins it
    // STATELESSLY — asofJoin's union+window cannot stream, this can
    val dir = Files.createTempDirectory("graft_asof").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/part-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val views = batchEvents.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val snap = graft.ops.TemporalOps.asofSnapshot(views,
      "user_id", "view_ts", "view_id").localCheckpoint()
    val clickStream = EventStreams.readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val q = graft.ops.TemporalOps.asofJoinStreamStatic(clickStream, snap,
        "user_id", "click_ts")
      .select(col("click_id"), col("matched.view_id").as("view_id"))
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val got = key(spark.table("asof_out"))
    val clicks = batchEvents.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val want = key(graft.ops.TemporalOps.asofJoin(views, clicks,
        "user_id", "view_ts", "click_ts", "view_id")
      .select(col("click_id"), col("matched.view_id").as("view_id")))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming KMV distinct sketch exactly equals its batch twin") {
    // the sketch is a deterministic function of the distinct-value SET, so
    // streaming and batch don't just converge — they are equal, unlike HLL
    val dir = Files.createTempDirectory("graft_kmv").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/part-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = EventStreams.readEvents(spark, dir)
    val q = stream.groupBy(col("event_type"))
      .agg(graft.ops.SketchOps.kmvDistinct(col("user_id"), 64).as("est_users"))
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("kmv_out").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = batchEvents.groupBy(col("event_type"))
      .agg(graft.ops.SketchOps.kmvDistinct(col("user_id"), 64).as("est_users"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming count-min counters exactly equal their batch twin") {
    // every CM counter is a SUM of increments — streaming partial
    // aggregation is just more summands, so the sketch (not merely the
    // estimates) is equal, and per-group streaming state is sketch-sized
    val dir = Files.createTempDirectory("graft_cm").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/part-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = EventStreams.readEvents(spark, dir)
      .select(col("event_type").as("item"))
    val q = graft.ops.SketchOps.cmCounters(stream, "item", 3, 16)
      .writeStream.format("memory").queryName("cm_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("cm_out").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = graft.ops.SketchOps.cmCounters(
        batchEvents.select(col("event_type").as("item")), "item", 3, 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("foreachBatch maintains the persisted CM store across micro-batches") {
    // the store-maintenance loop a streaming pipeline runs: each
    // micro-batch is sketched ALONE and folded into the persisted
    // counters (appendCm) — history never rescanned — and the final
    // artifact equals sketching the whole corpus at once
    val inDir = Files.createTempDirectory("graft_cm_fb_in").toString
    writeEventFile(inDir, "a.parquet",
      batchEvents.filter(col("event_id") % 2 === 0))
    writeEventFile(inDir, "b.parquet",
      batchEvents.filter(col("event_id") % 2 =!= 0))
    val store = Files.createTempDirectory("graft_cm_fb_store").toString + "/cm"
    var batches = 0
    val stream = spark.readStream.schema(batchEvents.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .select(col("event_type").as("item"))
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches += 1
        val b = graft.ops.SketchOps.cmSketch(df, "item", 3, 16)
        // PROBE for the store, never catch-and-create around appendCm:
        // the catch would also swallow "store broken" (crash mid-save)
        // and silently reset history to this batch's counters
        if (graft.ops.SketchOps.cmStoreExists(spark, store))
          graft.ops.SketchOps.appendCm(spark, store, b)
        else graft.ops.SketchOps.saveCm(b, store)
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected >= 2 micro-batches, got $batches")
    val served = graft.ops.SketchOps.loadCm(spark, store)
    val got = served.counters.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = graft.ops.SketchOps.cmCounters(
        batchEvents.select(col("event_type").as("item")), "item", 3, 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("foreachBatch maintains the persisted KMV store across micro-batches") {
    // the KMV leg of the store-maintenance lifecycle: each micro-batch's
    // per-group states fold into the persisted store (appendKmv) — the
    // stored state is the mergeable summary, history never rescanned —
    // and the final artifact is BIT-IDENTICAL to sketching the whole
    // corpus in one pass (KMV state is a deterministic function of the
    // distinct-value set, however it is partitioned into batches)
    val inDir = Files.createTempDirectory("graft_kmv_fb_in").toString
    writeEventFile(inDir, "a.parquet",
      batchEvents.filter(col("event_id") % 2 === 0))
    writeEventFile(inDir, "b.parquet",
      batchEvents.filter(col("event_id") % 2 =!= 0))
    val store = Files.createTempDirectory("graft_kmv_fb_store").toString + "/kmv"
    var batches = 0
    val stream = spark.readStream.schema(batchEvents.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .select(col("event_type"), col("event_id"))
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        val states = df.groupBy(col("event_type"))
          .agg(graft.ops.SketchOps.kmvState(col("event_id"), 16).as("state"))
        // PROBE for the store (same discipline as the CM leg); thread the
        // micro-batch id through for restart idempotence
        if (graft.ops.SketchOps.kmvStoreExists(spark, store))
          graft.ops.SketchOps.appendKmv(spark, store, states, Some(id))
        else graft.ops.SketchOps.saveKmv(states, 16, store, Some(id))
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected >= 2 micro-batches, got $batches")
    val (st, k) = graft.ops.SketchOps.loadKmv(spark, store)
    assert(k == 16)
    val got = st.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val want = batchEvents.groupBy(col("event_type"))
      .agg(graft.ops.SketchOps.kmvState(col("event_id"), 16).as("state"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got == want)
    assert(got.nonEmpty)
    // zombie re-delivery of the LAST batch id is a no-op, not a
    // double-fold (KMV folding is idempotent anyway; the guard is the
    // protocol the CM leg — where double-counting is real — relies on)
    val lastId = graft.ops.SketchOps.lastBatchId(spark, store,
      graft.ops.SketchOps.KmvManifestFile)
    assert(lastId.isDefined)
    graft.ops.SketchOps.appendKmv(spark, store,
      st.sparkSession.createDataFrame(st.rdd, st.schema), lastId)
    val again = graft.ops.SketchOps.loadKmv(spark, store)._1.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(again == want)
  }

  test("foreachBatch maintains the persisted histogram store across " +
      "micro-batches") {
    // the quantile leg of the store-maintenance lifecycle: each
    // micro-batch is binned ALONE and its bins fold into the store
    // (appendHist — integer sums, exact merge), and the served
    // quantiles equal sketching the whole corpus at once
    val inDir = Files.createTempDirectory("graft_hist_fb_in").toString
    writeEventFile(inDir, "a.parquet",
      batchEvents.filter(col("event_id") % 2 === 0))
    writeEventFile(inDir, "b.parquet",
      batchEvents.filter(col("event_id") % 2 =!= 0))
    val store = Files.createTempDirectory("graft_hist_fb_store")
      .toString + "/hist"
    var batches = 0
    val stream = spark.readStream.schema(batchEvents.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .select(col("event_id").as("v"))
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        val b = graft.ops.SketchOps.decHist(df, "v")
        // PROBE, never catch-and-create (the CM-leg discipline): the
        // catch would swallow "store broken" and reset history
        if (graft.ops.SketchOps.histStoreExists(spark, store))
          graft.ops.SketchOps.appendHist(spark, store, b, Some(id))
        else graft.ops.SketchOps.saveHist(b, store, Some(id))
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected >= 2 micro-batches, got $batches")
    def q50(h: org.apache.spark.sql.DataFrame) =
      graft.ops.SketchOps.histQuantiles(h, Seq(50, 99))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val served = graft.ops.SketchOps.loadHist(spark, store)
    val want = graft.ops.SketchOps.decHist(
      batchEvents.select(col("event_id").as("v")), "v")
    assert(served.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      want.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(q50(served) == q50(want) && q50(served).nonEmpty)
  }

  test("foreachBatch maintains the postings store across micro-batches") {
    // the retrieval leg of the store-maintenance lifecycle: each doc
    // micro-batch indexes ALONE and appends into the bucketed layout
    // (new ids only — the enforced contract), stats fold in the
    // manifest, and the served BM25 equals indexing the whole corpus
    // at once
    import graft.ops.PostingsStore
    val docs = Tables.documents(spark, sf)
    val inDir = Files.createTempDirectory("graft_post_fb_in").toString
    writeEventFile(inDir, "a.parquet", docs.filter(col("doc_id") % 2 === 0))
    writeEventFile(inDir, "b.parquet", docs.filter(col("doc_id") % 2 =!= 0))
    val store = Files.createTempDirectory("graft_post_fb").toString + "/p"
    var batches = 0
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        // PROBE, never catch-and-create (the family discipline)
        if (PostingsStore.storeExists(spark, store))
          PostingsStore.append(spark, store, df, "doc_id", "text", Some(id))
        else PostingsStore.save(df, "doc_id", "text", store,
          batchId = Some(id))
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected >= 2 micro-batches, got $batches")
    val grown = PostingsStore.load(spark, store)
    val oneDir = Files.createTempDirectory("graft_post_fb_one").toString
    PostingsStore.save(docs, "doc_id", "text", oneDir)
    val one = PostingsStore.load(spark, oneDir)
    assert((grown.nDocs, grown.totalLen) == (one.nDocs, one.totalLen))
    val terms = Seq("data", "query", "table")
    assert(PostingsStore.queryBm25(grown, terms, 20)
      .collect().map(_.toSeq).toSeq ==
      PostingsStore.queryBm25(one, terms, 20).collect().map(_.toSeq).toSeq)
    // zombie re-delivery of the last batch id is a no-op (re-indexing
    // would trip the duplicate-id check; the guard must fire FIRST)
    val lastId = graft.ops.SketchOps.lastBatchId(spark, store,
      PostingsStore.ManifestFile)
    assert(lastId.isDefined)
    PostingsStore.append(spark, store, docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", lastId)
    assert(PostingsStore.load(spark, store).nDocs == one.nDocs)
  }

  test("foreachBatch maintains the IVF vector store — the grown store's " +
      "frontier and top-k equal the one-shot store's") {
    // the embedding leg of the store-maintenance lifecycle, beside its
    // eight sibling families (VectorStoreSpec holds a 2-batch
    // query-equality case; this one adds the FRONTIER — the probe a
    // crawl loop actually serves between appends — across 3 batches):
    // each vector micro-batch routes to cells via the STORED centroids
    // and appends; probing the grown store then equals probing a store
    // built from the whole history at once. Routing never drifts
    // because append reads the centroids from the store, not the caller.
    import graft.ops.VectorStore
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val hist = all.filter(col("id") < 150)
    val cents = Tables.embeddings(spark, sf).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val inDir = Files.createTempDirectory("graft_vec_fb_in").toString
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet", hist.filter(col("id") % 3 === m))
    }
    val store = Files.createTempDirectory("graft_vec_fb").toString + "/v"
    var batches = 0
    val stream = spark.readStream.schema(hist.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        // PROBE, never catch-and-create (the family discipline); the
        // first batch's save fixes the centroids every later append
        // routes through
        if (VectorStore.storeExists(spark, store))
          VectorStore.append(spark, store, df, Some(id))
        else VectorStore.save(df, cents, store, batchId = Some(id))
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >= 3 micro-batches, got $batches")
    val grown = VectorStore.load(spark, store)
    val oneDir = Files.createTempDirectory("graft_vec_fb_one").toString
    VectorStore.save(hist, cents, oneDir)
    val one = VectorStore.load(spark, oneDir)
    val batch = all.filter(col("id") >= 150)
    def frontierIds(st: VectorStore.Loaded) =
      VectorStore.frontier(st, batch, threshold = 0.3)
        .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(frontierIds(grown) == frontierIds(one) && frontierIds(one).nonEmpty)
    def topk(st: VectorStore.Loaded) =
      VectorStore.query(st, all.filter(col("id") === 0), k = 10, nprobe = 8)
        .collect().map(_.toSeq).toSeq
    assert(topk(grown) == topk(one))
    // zombie re-delivery of the last batch id is a FULL no-op — a
    // re-appended batch would duplicate vectors and skew every top-k
    val lastId = graft.ops.SketchOps.lastBatchId(spark, store,
      VectorStore.ManifestFile)
    assert(lastId.isDefined)
    val before = grown.cells.count()
    VectorStore.append(spark, store, hist.filter(col("id") % 3 === 2), lastId)
    assert(VectorStore.load(spark, store).cells.count() == before)
  }

  test("foreachBatch maintains the graph edge store — ranks from the " +
      "grown store equal a one-shot build, degrees fold additively") {
    // the link-analysis leg of the store-maintenance lifecycle: each
    // edge micro-batch appends O(batch) edges and folds its per-src
    // counts into the O(nodes) degree table — stored edges are never
    // re-scanned — and PageRank served from the grown store equals
    // ranking a store built from all edges at once
    import graft.ops.{ClusterOps, GraphStore}
    import spark.implicits._
    val edges = (0L until 3000L)
      .map(i => (i % 101L, (i * 13L) % 97L)).toDF("src", "dst")
      .withColumn("part", pmod(col("src") + col("dst"), lit(3L)))
    val inDir = Files.createTempDirectory("graft_gs_fb_in").toString
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet",
        edges.filter(col("part") === m).drop("part"))
    }
    val store = Files.createTempDirectory("graft_gs_fb").toString + "/g"
    var batches = 0
    val stream = spark.readStream
      .schema(edges.drop("part").schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        // PROBE, never catch-and-create (the family discipline)
        if (GraphStore.storeExists(spark, store))
          GraphStore.append(spark, store, df, Some(id))
        else GraphStore.save(spark, df, store, buckets = 8,
          batchId = Some(id))
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >= 3 micro-batches, got $batches")
    val grown = GraphStore.load(spark, store)
    val oneDir = Files.createTempDirectory("graft_gs_fb_one").toString + "/g"
    GraphStore.save(spark, edges.drop("part"), oneDir, buckets = 8)
    val one = GraphStore.load(spark, oneDir)
    // the folded degree table equals the one-shot aggregate exactly
    def degs(st: GraphStore.Loaded) = st.degrees.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(degs(grown) == degs(one) && degs(one).nonEmpty)
    def ranks(st: GraphStore.Loaded) =
      ClusterOps.pageRankStored(st, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(grown) == ranks(one))
    // zombie re-delivery of the last batch id is a FULL no-op
    val lastId = graft.ops.SketchOps.lastBatchId(spark, store,
      GraphStore.ManifestFile)
    assert(lastId.isDefined)
    val before = grown.edges.count()
    GraphStore.append(spark, store,
      edges.filter(col("part") === 2).drop("part"), lastId)
    assert(GraphStore.load(spark, store).edges.count() == before)
  }

  test("foreachBatch maintains the LM count store — scores against the " +
      "grown store equal a one-shot-trained model bit for bit") {
    // the language-model leg of the store-maintenance lifecycle: each
    // doc micro-batch's n-gram counts fold into the store (additive —
    // history never re-read), and trigram scoring against the
    // accumulated counts equals training once over the whole corpus
    import graft.ops.{LmOps, LmStore}
    val docs = Tables.documents(spark, sf)
    val inDir = Files.createTempDirectory("graft_lm_fb_in").toString
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet", docs.filter(col("doc_id") % 3 === m))
    }
    val store = Files.createTempDirectory("graft_lm_fb").toString + "/lm"
    var batches = 0
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        LmStore.ingestBatch(spark, store, df, "text", Some(id))
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >= 3 micro-batches, got $batches")
    val st = LmStore.load(spark, store)
    def scores(u: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame,
        t: org.apache.spark.sql.DataFrame) =
      LmOps.scoreTrigram(docs, "doc_id", "text", u, b, t,
          broadcastCounts = true)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val grown = scores(st.uni, st.bi, st.tri)
    val one = scores(LmOps.trainUnigram(docs, "text"),
      LmOps.trainBigram(docs, "text"), LmOps.trainTrigram(docs, "text"))
    assert(grown == one && grown.nonEmpty)
  }

  test("the graph-store maintenance loop ACTS on its compaction nudge " +
      "mid-stream — the BUCKETED family rotates too, ranks unchanged") {
    // rotateIfDue is family-agnostic: the bucketed append-grown stores
    // expose the same needsCompact/compact shape as the fold stores,
    // so the identical loop body compacts a growing edge store whose
    // appends stack files per bucket. slack 1 forces a rotation after
    // every post-save append.
    import graft.ops.{ClusterOps, GraphStore}
    import spark.implicits._
    val edges = (0L until 3000L)
      .map(i => (i % 101L, (i * 13L) % 97L)).toDF("src", "dst")
      .withColumn("part", pmod(col("src") + col("dst"), lit(3L)))
    val inDir = Files.createTempDirectory("graft_gsrot_in").toString
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet",
        edges.filter(col("part") === m).drop("part"))
    }
    var current = Files.createTempDirectory("graft_gsrot").toString + "/g"
    var rotations = 0
    var batches = 0
    val stream = spark.readStream.schema(edges.drop("part").schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        if (GraphStore.storeExists(spark, current))
          GraphStore.append(spark, current, df, Some(id))
        else GraphStore.save(spark, df, current, buckets = 8,
          batchId = Some(id))
        val next = StoreUtil.rotateIfDue(current,
          p => GraphStore.needsCompact(spark, p, slack = 1),
          (s, d) => GraphStore.compact(spark, s, d))
        if (next != current) { rotations += 1; current = next }
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3 && rotations >= 2,
      s"batches=$batches rotations=$rotations")
    assert(!GraphStore.needsCompact(spark, current, slack = 1))
    // ranks from the rotated chain equal a one-shot build bit for bit
    val oneDir = Files.createTempDirectory("graft_gsrot_one").toString + "/g"
    GraphStore.save(spark, edges.drop("part"), oneDir, buckets = 8)
    def ranks(p: String) = ClusterOps.pageRankStored(
        GraphStore.load(spark, p), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(current) == ranks(oneDir))
    // the zombie guard rode the rotation chain: re-delivering the last
    // batch to the CURRENT (compacted) store is a full no-op
    val before = GraphStore.load(spark, current).edges.count()
    GraphStore.append(spark, current,
      edges.filter(col("part") === 2).drop("part"),
      graft.ops.SketchOps.lastBatchId(spark, current,
        GraphStore.ManifestFile))
    assert(GraphStore.load(spark, current).edges.count() == before)
  }

  test("the postings maintenance loop ACTS on its compaction nudge " +
      "mid-stream — BM25 answers ride the rotation chain unchanged") {
    // postings is the family that actually GROWS in production (8
    // appends stacked 216 files, PERF.md); this drives its
    // rotate-compact loop in-stream, through rotateWithGrace: slack 1
    // trips a rotation after every post-save append, grace 1 keeps one
    // retired generation readable and GCs older ones.
    import graft.ops.PostingsStore
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") < 240 && col("text").isNotNull)
    val inDir = Files.createTempDirectory("graft_postrot_in").toString
    // disjoint ascending id ranges — append indexes NEW documents only
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet",
        docs.filter(col("doc_id") >= m * 80 && col("doc_id") < (m + 1) * 80))
    }
    val base = Files.createTempDirectory("graft_postrot").toString + "/post"
    var current = base
    var rotations = 0
    var batches = 0
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        if (PostingsStore.storeExists(spark, current))
          PostingsStore.append(spark, current, df, "doc_id", "text", Some(id))
        else PostingsStore.save(df, "doc_id", "text", current,
          buckets = 8, batchId = Some(id))
        val next = StoreUtil.rotateWithGrace(spark, current,
          p => PostingsStore.needsCompact(spark, p, slack = 1),
          (s, d) => PostingsStore.compact(spark, s, d), grace = 1)
        if (next != current) { rotations += 1; current = next }
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3 && rotations >= 2,
      s"batches=$batches rotations=$rotations")
    assert(!PostingsStore.needsCompact(spark, current, slack = 1))
    // grace GC horizon: the base generation is past grace 1 and gone,
    // the immediately-previous generation survives for in-flight readers
    assert(!new java.io.File(base).exists, "generation 0 past grace")
    assert(new java.io.File(StoreUtil.nextGeneration(base)).exists,
      "generation 1 inside the grace horizon")
    // BM25 from the rotated head is bit-equal to a one-shot index
    val oneDir = Files.createTempDirectory("graft_postrot_one").toString + "/p"
    PostingsStore.save(docs, "doc_id", "text", oneDir, buckets = 8)
    def bm25(p: String) = PostingsStore.queryBm25(
        PostingsStore.load(spark, p), Seq("data", "table"), topK = 20)
      .collect().map(_.toSeq).toSet
    val got = bm25(current)
    assert(got == bm25(oneDir))
    assert(got.nonEmpty)
    // zombie straddling the rotation: the last batch's id rode the
    // compacted manifest, so redelivery to the new head is a full no-op
    val before = PostingsStore.load(spark, current).postings.count()
    PostingsStore.append(spark, current,
      docs.filter(col("doc_id") >= 160), "doc_id", "text",
      graft.ops.SketchOps.lastBatchId(spark, current,
        PostingsStore.ManifestFile))
    assert(PostingsStore.load(spark, current).postings.count() == before)
    // restart discovery: a rebooted loop finds the serving head from the
    // base name alone (grace-kept generations are older, passed over)
    assert(StoreUtil.latestGeneration(spark, base) == current)
  }

  test("the vector-store maintenance loop ACTS on its compaction nudge " +
      "mid-stream — ANN answers ride the rotation chain unchanged") {
    // the IVF family: appends stack a file per touched cell directory;
    // the loop compacts back to one file per cell without changing a
    // single neighbor (cells are assignment-stable across the rewrite)
    import graft.ops.VectorStore
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Tables.embeddings(spark, sf).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val inDir = Files.createTempDirectory("graft_vecrot_in").toString
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet",
        emb.filter(col("id") >= m * 100 && col("id") < (m + 1) * 100))
    }
    val base = Files.createTempDirectory("graft_vecrot").toString + "/v"
    var current = base
    var rotations = 0
    var batches = 0
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        if (VectorStore.storeExists(spark, current))
          VectorStore.append(spark, current, df, Some(id))
        else VectorStore.save(df, cents, current, Some(id))
        val next = StoreUtil.rotateWithGrace(spark, current,
          p => VectorStore.needsCompact(spark, p, slack = 1),
          (s, d) => VectorStore.compact(spark, s, d), grace = 1)
        if (next != current) { rotations += 1; current = next }
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3 && rotations >= 2,
      s"batches=$batches rotations=$rotations")
    assert(!VectorStore.needsCompact(spark, current, slack = 1))
    // ANN from the rotated head equals a one-shot store bit for bit
    val oneDir = Files.createTempDirectory("graft_vecrot_one").toString + "/v"
    VectorStore.save(emb, cents, oneDir)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def topk(p: String) = VectorStore.query(VectorStore.load(spark, p),
        queries, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val got = topk(current)
    assert(got == topk(oneDir))
    assert(got.nonEmpty)
    // zombie straddling the rotation: redelivered last batch is a no-op
    val before = VectorStore.load(spark, current).cells.count()
    VectorStore.append(spark, current,
      emb.filter(col("id") >= 200),
      graft.ops.SketchOps.lastBatchId(spark, current,
        VectorStore.ManifestFile))
    assert(VectorStore.load(spark, current).cells.count() == before)
    assert(StoreUtil.latestGeneration(spark, base) == current)
  }

  test("the tree-store maintenance loop ACTS on its compaction nudge " +
      "mid-stream — per-tree views and the duplicate guard ride the " +
      "rotation chain") {
    // synthesis versions arrive as a stream of trees; each delivery
    // appends one tree (stacking a file set per bucket) and the loop
    // rotate-compacts when due. Tree ids double as the redelivery
    // guard: tree_meta rides the compact rewrite, so a duplicate
    // append refuses on the NEW head too.
    import spark.implicits._
    def synth(base: Long, n: Int, treeId: String): graft.tree.TreeIngest.Ingested = {
      // deterministic heap-shaped tree: node i attaches to node i/2
      val edges = (1 to n).map(i => (base + i, base + i / 2, i % 3))
        .toDF("child_id", "parent_id", "child_ord")
        .withColumn("branch_length", lit(null).cast("double"))
        .withColumn("tree_id", lit(treeId))
      val labeled = graft.tree.TreeLabeler.label(spark, edges)
        .withColumn("tree_id", lit(treeId))
      graft.tree.TreeIngest.Ingested(labeled, edges, Seq(treeId).toDF("tree_id"),
        Seq.empty[(String, String, String, String, String, String)]
          .toDF("source_id", "git_sha", "source_tree_id", "study_id",
            "taxonomy", "tree_id"))
    }
    val inDir = Files.createTempDirectory("graft_treerot_in").toString
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet", Seq(m.toLong).toDF("m"))
    }
    val base = Files.createTempDirectory("graft_treerot").toString + "/t"
    var current = base
    var rotations = 0
    var batches = 0
    val stream = spark.readStream
      .schema(Seq(0L).toDF("m").schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        val m = df.collect().head.getLong(0)
        val t = synth(1000L * (m + 1L), 20 + m.toInt, s"synth$m")
        if (graft.StoreUtil.readMarker(spark, current,
            graft.tree.TreeStore.ManifestFile).isDefined)
          graft.tree.TreeStore.appendIngested(spark, current, t)
        else graft.tree.TreeStore.save(t, current, buckets = 4)
        val next = StoreUtil.rotateWithGrace(spark, current,
          p => graft.tree.TreeStore.needsCompact(spark, p, slack = 1),
          (s, d) => graft.tree.TreeStore.compact(spark, s, d), grace = 1)
        if (next != current) { rotations += 1; current = next }
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3 && rotations >= 2,
      s"batches=$batches rotations=$rotations")
    assert(!graft.tree.TreeStore.needsCompact(spark, current, slack = 1))
    // the rotated head serves exactly what a never-rotated store does
    val oneDir = Files.createTempDirectory("graft_treerot_one").toString + "/t"
    (0 until 3).foreach { m =>
      val t = synth(1000L * (m + 1L), 20 + m, s"synth$m")
      if (m == 0) graft.tree.TreeStore.save(t, oneDir, buckets = 4)
      else graft.tree.TreeStore.appendIngested(spark, oneDir, t)
    }
    def sig(p: String) = graft.tree.TreeStore.loadMulti(spark, p).nodes
      .select("node_id", "pre", "post", "depth", "tree_id")
      .collect().map(_.toSeq).toSet
    val got = sig(current)
    assert(got == sig(oneDir))
    assert(got.nonEmpty)
    // the duplicate-tree guard rode the rotation chain: re-appending a
    // tree already in the store refuses on the compacted head
    val ex = intercept[IllegalArgumentException] {
      graft.tree.TreeStore.appendIngested(spark, current,
        synth(100000L, 10, "synth2"))
    }
    assert(ex.getMessage.contains("already exist"), ex.getMessage)
    assert(StoreUtil.latestGeneration(spark, base) == current)
  }

  test("the LM maintenance loop ACTS on its compaction nudge mid-stream: " +
      "rotate-compact changes no scores, the zombie guard survives it") {
    // round-10 left needsCompact as a nudge nobody acted on; this is
    // the acting loop: every micro-batch folds counts, then the body
    // rotates the serving path through StoreUtil.rotateIfDue whenever
    // the watermark rule trips (slack = 2 forces several rotations in
    // six batches) — and the final store must score bit-identically to
    // a one-shot-trained model, with the nudge RESET and the last
    // batch's zombie guard carried through the rotation chain
    import graft.ops.{LmOps, LmStore}
    val docs = Tables.documents(spark, sf)
    val inDir = Files.createTempDirectory("graft_lmrot_in").toString
    (0 until 6).foreach { m =>
      writeEventFile(inDir, s"$m.parquet", docs.filter(col("doc_id") % 6 === m))
    }
    var current = Files.createTempDirectory("graft_lmrot").toString + "/lm"
    var rotations = 0
    var batches = 0
    val retired = scala.collection.mutable.ArrayBuffer.empty[String]
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        LmStore.ingestBatch(spark, current, df, "text", Some(id))
        // this loop also RETIRES old generations (it is the single
        // writer and reader): the chain must not accumulate one full
        // store copy per rotation
        val next = StoreUtil.rotateIfDue(current,
          p => LmStore.needsCompact(spark, p, slack = 2),
          (s, d) => LmStore.compact(spark, s, d),
          p => { retired += p; StoreUtil.deleteDir(spark, p) })
        if (next != current) { rotations += 1; current = next }
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // every retired generation is genuinely gone from disk
    assert(retired.nonEmpty && retired.forall(p => !new java.io.File(p).exists),
      s"retired generations left on disk: $retired")
    // restart discovery: a rebooted loop's serving-path variable is
    // gone and the base dir was retired — latestGeneration must find
    // the one surviving generation from the base path alone
    assert(StoreUtil.latestGeneration(spark, retired.head) == current,
      s"latestGeneration found ${StoreUtil.latestGeneration(spark,
        retired.head)}, loop ended at $current")
    // and with the family's health probe, a HALF-WRITTEN newer
    // generation (a crash inside compact: data landed, manifest
    // didn't) is skipped in favor of the still-serving predecessor
    val halfDone = StoreUtil.nextGeneration(current)
    spark.range(1).toDF("w").write.parquet(s"$halfDone/uni")
    val servable = (p: String) =>
      try LmStore.exists(spark, p)
      catch { case _: IllegalStateException => false }
    assert(StoreUtil.latestGeneration(spark, retired.head, servable)
      == current, "discovery served a manifest-less generation")
    assert(batches >= 6, s"expected >= 6 micro-batches, got $batches")
    assert(rotations >= 2, s"the nudge should have tripped repeatedly " +
      s"at slack 2 over 6 batches; rotations = $rotations")
    assert(!LmStore.needsCompact(spark, current, slack = 2),
      "a rotation must RESET the nudge (compact advances the watermark)")
    val st = LmStore.load(spark, current)
    def scores(u: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame,
        t: org.apache.spark.sql.DataFrame) =
      LmOps.scoreTrigram(docs, "doc_id", "text", u, b, t,
          broadcastCounts = true)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val grown = scores(st.uni, st.bi, st.tri)
    val one = scores(LmOps.trainUnigram(docs, "text"),
      LmOps.trainBigram(docs, "text"), LmOps.trainTrigram(docs, "text"))
    assert(grown == one && grown.nonEmpty)
    // zombie redelivery STRADDLING the compaction chain: the final
    // batch id was recorded pre-rotation and must still no-op against
    // the rotated store (compact carries last_batch)
    val uniBefore = LmStore.load(spark, current).uni.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    LmStore.ingestBatch(spark, current, docs.filter(col("doc_id") % 6 === 5),
      "text", Some(batches.toLong - 1L))
    assert(LmStore.load(spark, current).uni.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == uniBefore)
  }

  test("the LSH maintenance loop ACTS on its compaction nudge mid-stream: " +
      "the pair log and band index survive rotation unchanged") {
    import graft.ops.{LshStore, TextOps}
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    val inDir = Files.createTempDirectory("graft_lshrot_in").toString
    (0 until 6).foreach { m =>
      writeEventFile(inDir, s"$m.parquet", docs.filter(col("doc_id") % 6 === m))
    }
    var current =
      Files.createTempDirectory("graft_lshrot").toString + "/lsh"
    var rotations = 0
    var batches = 0
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        LshStore.ingestBatch(spark, current, df, "doc_id", "text",
          batchId = Some(id))
        val next = StoreUtil.rotateIfDue(current,
          p => LshStore.needsCompact(spark, p, slack = 2),
          (s, d) => LshStore.compact(spark, s, d))
        if (next != current) { rotations += 1; current = next }
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 6 && rotations >= 2,
      s"batches=$batches rotations=$rotations")
    assert(!LshStore.needsCompact(spark, current, slack = 2))
    // the accumulated pair log equals one-shot banding — compaction in
    // the middle of the fold changed nothing
    val got = LshStore.pairLog(spark, current).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = TextOps.minhashCandidates(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // zombie straddling the rotation chain: no-op on the rotated store
    val before = LshStore.pairLog(spark, current).count()
    LshStore.ingestBatch(spark, current,
      docs.filter(col("doc_id") % 6 === 5), "doc_id", "text",
      batchId = Some(batches.toLong - 1L))
    assert(LshStore.pairLog(spark, current).count() == before)
  }

  test("the dup-hash maintenance loop ACTS on its compaction nudge " +
      "mid-stream: a post-stream probe equals the one-shot spans") {
    import graft.ops.{DupStore, TextOps}
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val hist = all.filter(col("doc_id") < 120)
    val probe = all.filter(col("doc_id") >= 120)
    val inDir = Files.createTempDirectory("graft_duprot_in").toString
    (0 until 6).foreach { m =>
      writeEventFile(inDir, s"$m.parquet", hist.filter(col("doc_id") % 6 === m))
    }
    var current =
      Files.createTempDirectory("graft_duprot").toString + "/dup"
    var rotations = 0
    var batches = 0
    val stream = spark.readStream.schema(hist.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        DupStore.ingestBatch(spark, current, df, "doc_id", "text",
          batchId = Some(id))
        val next = StoreUtil.rotateIfDue(current,
          p => DupStore.needsCompact(spark, p, slack = 2),
          (s, d) => DupStore.compact(spark, s, d))
        if (next != current) { rotations += 1; current = next }
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 6 && rotations >= 2,
      s"batches=$batches rotations=$rotations")
    assert(!DupStore.needsCompact(spark, current, slack = 2))
    def spanSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "span_start", "span_end").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = spanSet(DupStore.probeSpans(DupStore.load(spark, current),
      probe, "doc_id", "text"))
    val want = spanSet(TextOps.duplicatedSpans(all, "doc_id", "text",
      win = 4).filter(col("doc_id") >= 120))
    assert(got == want && got.nonEmpty)
    // zombie straddling the rotation chain
    val before = DupStore.load(spark, current).hashes.count()
    DupStore.ingestBatch(spark, current,
      hist.filter(col("doc_id") % 6 === 5), "doc_id", "text",
      batchId = Some(batches.toLong - 1L))
    assert(DupStore.load(spark, current).hashes.count() == before)
  }

  test("streaming corpus prep equals batch on the surviving fingerprint set") {
    // the prep_pipeline composition under streaming: row-local gates
    // stream unchanged; dedup becomes dropDuplicatesWithinWatermark on
    // the fingerprint. Batch keeps min doc_id, streaming keeps first
    // arrival — the invariant BOTH satisfy is one survivor per distinct
    // token set, so the fingerprint sets must be equal
    import graft.streaming.DocStreams
    val docs = Tables.documents(spark, sf)
      .withColumn("ts", timestamp_micros(
        lit(1577836800000000L) + col("doc_id") * 1000000L))
    val inDir = Files.createTempDirectory("graft_prep_in").toString
    writeEventFile(inDir, "a.parquet", docs.filter(col("doc_id") % 2 === 0))
    writeEventFile(inDir, "b.parquet", docs.filter(col("doc_id") % 2 =!= 0))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = DocStreams.prepStream(stream, "text", "ts")
      .writeStream.format("memory").queryName("prep_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("prep_out")
    // exactly one survivor per fingerprint, despite the cross-batch split
    assert(out.groupBy(col("fp")).count().filter(col("count") > 1).count() == 0)
    val got = out.select(col("fp")).collect().map(_.getString(0)).toSet
    val want = DocStreams.prepBatch(docs, "doc_id", "text")
      .select(col("fp")).collect().map(_.getString(0)).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // anchor the twin itself: prepBatch's survivors must be the
    // oracle-gated prep_pipeline's survivors (same thresholds, the
    // independently-verified code path) — without this, stream==batch
    // could hold on a commonly-wrong gate
    val viaGate = graft.queries.TrainingQueries.prepPipeline(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val viaTwin = DocStreams.prepBatch(docs, "doc_id", "text")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(viaTwin == viaGate)
  }

  test("streaming surprisal scoring equals the batch gate row for row") {
    // the LM quality filter is a stateless projection — it must stream
    // UNCHANGED (same expressions, no rewrite, no state), which is the
    // point of the integer literal-table design
    import graft.functions.{Bpe, Unigram}
    val docs = Tables.documents(spark, sf)
    val inDir = Files.createTempDirectory("graft_surp_in").toString
    writeEventFile(inDir, "a.parquet", docs.filter(col("doc_id") % 2 === 0))
    writeEventFile(inDir, "b.parquet", docs.filter(col("doc_id") % 2 =!= 0))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    def scored(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        Unigram.surpriseOfTokens(Bpe.wordsCol(col("text"))).as("sc"))
      .select(col("doc_id"), col("sc.n_tokens").as("n"),
        col("sc.surprise_millinats").as("m"))
    val q = scored(stream)
      .writeStream.format("memory").queryName("surp_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = rows(spark.table("surp_out"))
    val want = rows(scored(docs))
    assert(got == want && got.nonEmpty)
    // and the batch side is the gate's own scoring (same columns)
    val viaGate = graft.queries.TrainingQueries
      .registry("txt_surprise")(spark, sf)
      .select(col("doc_id"), col("n_tokens"), col("surprise_millinats"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaGate == want)
  }

  test("foreachBatch maintains the persisted LSH band index — streamed " +
      "near-dup pairs equal the one-shot banding") {
    // the near-dup leg of the store-maintenance lifecycle: each
    // micro-batch's pairs are found against the PERSISTED band index
    // (history probed, never re-shingled), then its band rows join the
    // index — and the accumulated pair log equals banding the whole
    // corpus at once. ingestBatch handles create-vs-append itself with
    // the broken-store refusal built in, so the loop body is one call.
    import graft.ops.{LshStore, TextOps}
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    val inDir = Files.createTempDirectory("graft_lsh_fb_in").toString
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet", docs.filter(col("doc_id") % 3 === m))
    }
    val store = Files.createTempDirectory("graft_lsh_fb_store").toString + "/lsh"
    var batches = 0
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        LshStore.ingestBatch(spark, store, df, "doc_id", "text",
          batchId = Some(id))
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >= 3 micro-batches, got $batches")
    val got = LshStore.pairLog(spark, store).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = TextOps.minhashCandidates(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // each pair surfaced exactly once across the whole run
    val log = LshStore.pairLog(spark, store)
    assert(log.count() == log.select("a", "b").distinct().count())
  }

  test("foreachBatch maintains the dup-hash index — a post-stream probe " +
      "equals the one-shot spans restricted to the probe batch") {
    // the substring-dedup leg of the store-maintenance lifecycle: each
    // micro-batch's window hashes fold into the persisted index, then a
    // fresh batch probes the accumulated history — and the probe equals
    // running duplicatedSpans over everything at once, restricted to the
    // probe docs (the store's frontier contract).
    import graft.ops.{DupStore, TextOps}
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val hist = all.filter(col("doc_id") < 120)
    val probe = all.filter(col("doc_id") >= 120)
    val inDir = Files.createTempDirectory("graft_dup_fb_in").toString
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet", hist.filter(col("doc_id") % 3 === m))
    }
    val store = Files.createTempDirectory("graft_dup_fb_store").toString + "/dup"
    var batches = 0
    val stream = spark.readStream.schema(hist.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        DupStore.ingestBatch(spark, store, df, "doc_id", "text",
          batchId = Some(id))
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >= 3 micro-batches, got $batches")
    def spanSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "span_start", "span_end").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = spanSet(DupStore.probeSpans(DupStore.load(spark, store),
      probe, "doc_id", "text"))
    val want = spanSet(TextOps.duplicatedSpans(all, "doc_id", "text",
      win = 4).filter(col("doc_id") >= 120))
    assert(got == want)
    assert(got.nonEmpty)
    // zombie re-delivery of the final micro-batch: manifest-guarded no-op
    val before = DupStore.load(spark, store).hashes.count()
    DupStore.ingestBatch(spark, store, hist.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", batchId = Some(batches.toLong - 1L))
    assert(DupStore.load(spark, store).hashes.count() == before)
  }

  test("streamed strip-then-ingest reproduces the one-shot corpus strip " +
      "row for row, and a zombie redelivery is a full no-op") {
    // the production cleaning loop, driven through the PACKAGED
    // composition (DupStore.probeStripThenIngest — the foreachBatch
    // body): each micro-batch is stripped against the store (history
    // wins), its cleaned rows land in an idempotent per-batch output
    // directory, then its hashes ingest. Because batch order follows id
    // order, the accumulated per-batch outputs must equal the one-shot
    // keep-first strip of the whole corpus: a window's protecting site
    // lives in the earliest batch that carries its hash, and later
    // batches can never retroactively change an earlier batch's output
    // — the property that makes the streamed form safe to emit
    // incrementally.
    import graft.ops.{DupStore, TextOps}
    val all = Tables.documents(spark, sf).filter(col("doc_id") < 150)
    val inDir = Files.createTempDirectory("graft_strip_fb_in").toString
    (0 until 3).foreach { m =>
      // contiguous id ranges per batch — the ids-follow-arrival contract
      writeEventFile(inDir, s"$m.parquet",
        all.filter(col("doc_id") >= m * 50 && col("doc_id") < (m + 1) * 50))
    }
    val store =
      Files.createTempDirectory("graft_strip_fb_store").toString + "/dup"
    val outDir =
      Files.createTempDirectory("graft_strip_fb_out").toString + "/clean"
    var batches = 0
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        DupStore.probeStripThenIngest(spark, store, outDir, df,
          "doc_id", "text", batchId = id)
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >= 3 micro-batches, got $batches")
    def cleanedMap() = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))))
      .toMap
    val got = cleanedMap()
    val want = TextOps.stripDuplicatedSpans(all, "doc_id", "text", win = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3))))
      .toMap
    assert(got == want)
    assert(want.values.exists(_._2 > 0L),
      "fixture degenerated: nothing was stripped")
    // zombie redelivery of the final micro-batch: output AND index
    // untouched (the manifest guard short-circuits the whole body)
    val hashesBefore = DupStore.load(spark, store).hashes.count()
    DupStore.probeStripThenIngest(spark, store, outDir,
      all.filter(col("doc_id") >= 100), "doc_id", "text",
      batchId = (batches - 1).toLong)
    assert(DupStore.load(spark, store).hashes.count() == hashesBefore)
    assert(cleanedMap() == want)
  }

  test("foreachBatch maintains the persisted bloom filter across " +
      "micro-batches") {
    // the frontier-membership leg of the store-maintenance lifecycle:
    // each micro-batch's content hashes OR into the persisted bit table
    // (history never rescanned), and the maintained filter is
    // bit-identical to building over the whole corpus at once — the OR
    // is idempotent, so overlapping batches cannot corrupt it either
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val inDir = Files.createTempDirectory("graft_bloom_fb_in").toString
    writeEventFile(inDir, "a.parquet", docs.filter(col("doc_id") % 2 === 0))
    writeEventFile(inDir, "b.parquet", docs.filter(col("doc_id") % 2 =!= 0))
    val store =
      Files.createTempDirectory("graft_bloom_fb_store").toString + "/bloom"
    var batches = 0
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .select(md5(col("text")).as("h"))
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        val b = graft.ops.SketchOps.bloomSketch(df, "h", 3, 256)
        if (graft.ops.SketchOps.bloomStoreExists(spark, store))
          graft.ops.SketchOps.appendBloom(spark, store, b, Some(id))
        else graft.ops.SketchOps.saveBloom(b, store, Some(id))
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected >= 2 micro-batches, got $batches")
    val served = graft.ops.SketchOps.loadBloom(spark, store)
    val want = graft.ops.SketchOps.bloomSketch(
      docs.select(md5(col("text")).as("h")), "h", 3, 256)
    def bitSet(s: graft.ops.SketchOps.BloomSketch) =
      s.bits.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(bitSet(served) == bitSet(want))
    assert(bitSet(served).nonEmpty)
    // zombie re-delivery of the last batch: manifest-guarded no-op
    graft.ops.SketchOps.appendBloom(spark, store,
      graft.ops.SketchOps.bloomSketch(
        docs.filter(col("doc_id") % 2 =!= 0).select(md5(col("text")).as("h")),
        "h", 3, 256),
      Some(batches - 1L))
    assert(bitSet(graft.ops.SketchOps.loadBloom(spark, store)) == bitSet(want))
  }

  test("streaming-maintained radix masses re-derive the exact " +
      "token-budget kept set") {
    // the budget sampler's classification is a pure function of the
    // per-(source, bucket) token masses, which are ADDITIVE — so the
    // mix-stats store folds them across micro-batches unchanged
    // (tokenBucketStats deliberately matches the appendMixStats
    // contract), and sampling against the grown store must equal the
    // one-shot sample document for document
    import graft.ops.SampleOps
    val docs = Tables.documents(spark, sf)
    val wsTok = size(graft.ops.TextOps.tokensCol(col("text"))).cast("long")
    val inDir = Files.createTempDirectory("graft_budget_in").toString
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet", docs.filter(col("doc_id") % 3 === m))
    }
    val store = Files.createTempDirectory("graft_budget_st").toString + "/b"
    var batches = 0
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        val stats = SampleOps.tokenBucketStats(df, "doc_id", "source",
          wsTok, "tb1")
        if (SampleOps.mixStatsStoreExists(spark, store))
          SampleOps.appendMixStats(spark, store, stats, Some(id))
        else SampleOps.saveMixStats(stats, store, Some(id))
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >= 3 micro-batches, got $batches")
    import spark.implicits._
    val budgets = Seq(("src0", 600L), ("src1", 2000L), ("src2", 150L))
      .toDF("source", "budget_tok")
    def keptOf(stats: org.apache.spark.sql.DataFrame) =
      SampleOps.tokenBudgetSampleWith(docs, "doc_id", "source", wsTok,
        budgets, "tb1", stats)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val grown = keptOf(SampleOps.loadMixStats(spark, store))
    val oneShot = keptOf(SampleOps.tokenBucketStats(docs, "doc_id",
      "source", wsTok, "tb1"))
    assert(grown == oneShot && grown.nonEmpty)
    // and the in-flight convenience form agrees too (one definition of
    // the bucket algebra behind all three entries)
    val direct = SampleOps.tokenBudgetSample(docs, "doc_id", "source",
      wsTok, budgets, "tb1")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(direct == oneShot)
  }

  test("streaming-maintained mix stats re-derive the exact batch temperature recipe") {
    // the sampling-recipe leg of the store-maintenance lifecycle: each
    // micro-batch's per-stratum counts fold into the persisted mix-stats
    // store (history never rescanned), the temperature thresholds are
    // re-derived from the MAINTAINED counts, and — because thresholds are
    // integer arithmetic over exact counts — recipe AND sampled row set
    // are bit-identical to the one-pass batch derivation
    val inDir = Files.createTempDirectory("graft_mix_in").toString
    writeEventFile(inDir, "a.parquet",
      batchEvents.filter(col("event_id") % 2 === 0))
    writeEventFile(inDir, "b.parquet",
      batchEvents.filter(col("event_id") % 2 =!= 0))
    val store = Files.createTempDirectory("graft_mix_store").toString + "/mix"
    var batches = 0
    val stream = spark.readStream.schema(batchEvents.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .select(col("event_type"), col("event_id"))
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        val stats = graft.ops.SampleOps.mixStats(df, "event_type")
        // PROBE, never catch-and-create (same discipline as the CM leg)
        if (graft.ops.SampleOps.mixStatsStoreExists(spark, store))
          graft.ops.SampleOps.appendMixStats(spark, store, stats, Some(id))
        else graft.ops.SampleOps.saveMixStats(stats, store, Some(id))
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected >= 2 micro-batches, got $batches")

    val maintained = graft.ops.SampleOps.loadMixStats(spark, store)
    val gotTh = graft.ops.SampleOps.temperatureThresholdsFromStats(
        maintained, "event_type", 1L, 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val wantTh = graft.ops.SampleOps.temperatureThresholds(
        batchEvents, "event_type", 1L, 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotTh == wantTh)
    assert(gotTh.nonEmpty)

    // the recipe applied via the serving path selects the SAME rows as
    // the one-shot batch sampler
    val th = graft.ops.SampleOps.temperatureThresholdsFromStats(
      maintained, "event_type", 1L, 5L)
    val gotSample = graft.ops.SampleOps.temperatureSampleWith(
        batchEvents, th, "event_id", "event_type", salt = "mix7")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    val wantSample = graft.ops.SampleOps.temperatureSample(
        batchEvents, "event_id", "event_type", 1L, 5L, salt = "mix7")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(gotSample == wantSample)
    assert(gotSample.nonEmpty)

    // zombie re-delivery of the last batch id must be a no-op — for
    // counts a double-fold is real corruption, not merely redundant
    val lastId = graft.ops.SketchOps.lastBatchId(spark, store,
      graft.ops.SampleOps.MixManifestFile)
    assert(lastId.isDefined)
    graft.ops.SampleOps.appendMixStats(spark, store,
      maintained.sparkSession.createDataFrame(maintained.rdd,
        maintained.schema), lastId)
    val again = graft.ops.SampleOps.loadMixStats(spark, store)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = maintained.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == want)
  }

  test("appendCm skips an already-applied batchId instead of double-counting") {
    val store = Files.createTempDirectory("graft_cm_idem").toString + "/cm"
    val items = batchEvents.select(col("event_type").as("item"))
    val sk = graft.ops.SketchOps.cmSketch(items, "item", 3, 16)
    graft.ops.SketchOps.saveCm(sk, store)
    graft.ops.SketchOps.appendCm(spark, store, sk, Some(7L))
    val after = graft.ops.SketchOps.loadCm(spark, store).counters.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the re-delivered batch 7 must be a no-op...
    graft.ops.SketchOps.appendCm(spark, store, sk, Some(7L))
    val redelivered = graft.ops.SketchOps.loadCm(spark, store).counters
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(redelivered == after)
    // ...while the NEXT batch id folds in normally (every counter grows
    // by the batch's own counter value)
    val one = sk.counters.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    graft.ops.SketchOps.appendCm(spark, store, sk, Some(8L))
    val next = graft.ops.SketchOps.loadCm(spark, store).counters.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(next == after.map { case (kk, v) => kk -> (v + one(kk)) })
  }

  test("sessionization with multiple open sessions across micro-batches") {
    // user 1 holds TWO open sessions after batch 1 (00:00 and 00:20, gap
    // 10 min); batch 2 delivers 00:25, which must extend the NEWER session
    // — the regression was matching only against the oldest buffer and
    // spuriously opening a third session
    val dir = Files.createTempDirectory("graft_multisess").toString
    writeEventFile(dir, "part-000.parquet", eventsOf(Seq(
      (1L, "2020-01-01 00:00:00", 1.0), (2L, "2020-01-01 00:20:00", 2.0))))
    writeEventFile(dir, "part-001.parquet",
      eventsOf(Seq((3L, "2020-01-01 00:25:00", 4.0))))
    writeEventFile(dir, "part-002.parquet",
      eventsOf(Seq((99L, "2030-01-01 00:00:00", 0.0))))
    writeEventFile(dir, "part-003.parquet",
      eventsOf(Seq((98L, "2030-06-01 00:00:00", 0.0))))

    // all-legacy directory: readEvents' probe must take the ns-long arm
    val stream = EventStreams.readEvents(spark, s"$dir/part-*.parquet",
      Map("maxFilesPerTrigger" -> "1"))
    val q = EventStreams.sessionize(stream)
      .writeStream.format("memory").queryName("multisess_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("multisess_out")
      .filter(col("session_start") < "2029-01-01")
      .select(date_format(col("session_start"), "HH:mm").as("s"),
        col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(got == Set(Seq("00:00", 1L, 1.0), Seq("00:20", 2L, 6.0)))
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    val dir = Files.createTempDirectory("graft_dedup").toString
    // batch 1 delivers events 1,2; batch 2 redelivers 2 (a retry) plus 3
    writeEventFile(dir, "part-000.parquet", eventsOf(Seq(
      (1L, "2020-01-01 00:00:00", 1.0), (2L, "2020-01-01 00:05:00", 2.0))))
    writeEventFile(dir, "part-001.parquet", eventsOf(Seq(
      (2L, "2020-01-01 00:05:00", 2.0), (3L, "2020-01-01 00:10:00", 3.0))))

    val stream = EventStreams.readEvents(spark, s"$dir/part-*.parquet",
      Map("maxFilesPerTrigger" -> "1"))
    val q = EventStreams.dedupEvents(stream)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("dedup_out")
      .select(col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("readEvents is encoding-independent: legacy ns-long and NTZ-micros " +
      "streams of the same rows produce identical windowed aggregates") {
    val rows = Seq(
      (1L, "2020-01-01 00:00:00", 1.0), (2L, "2020-01-01 00:05:00", 2.0),
      (3L, "2020-01-01 01:30:00", 3.0), (4L, "2020-01-01 01:59:59", 4.0))
    def runThrough(name: String,
        df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val dir = Files.createTempDirectory(s"graft_enc_$name").toString
      writeEventFile(dir, "part-000.parquet", df)
      val q = EventStreams.windowedAgg(EventStreams.readEvents(spark, dir))
        .writeStream.format("memory").queryName(s"enc_$name")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(s"enc_$name")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("w"),
          col("event_type"), col("n"), col("sum_value"))
        .collect().map(_.toSeq).toSet
    }
    val legacy = runThrough("legacy", eventsOf(rows))
    val ntz = runThrough("ntz", eventsOfNtz(rows))
    assert(legacy == ntz)
    // and both denote the INSTANTS the fixture declared, not a
    // unit-shifted echo (the 1970-collapse failure mode)
    assert(legacy.map(_.head).contains("2020-01-01 00:00:00"))
    assert(legacy.map(r => (r(2), r(3))).contains((2L, 3.0)))
  }

  test("timestamp/micros helpers round-trip pre-epoch instants") {
    // truncating division would flip -0.5 s to +0.5 s, and setNanos
    // throws on a negative remainder — both must hold across the epoch
    for (us <- Seq(-500000L, -1L, 0L, 1L, 500000L, -1234567890123L)) {
      val t = EventStreams.microsToTs(us)
      assert(EventStreams.tsToMicros(t) == us, s"round trip broke at $us")
    }
    val preEpoch = java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5")
    assert(EventStreams.microsToTs(
      EventStreams.tsToMicros(preEpoch)) == preEpoch)
  }

  test("cmStoreExists distinguishes absent, healthy, and broken stores") {
    val base = Files.createTempDirectory("graft_cm_probe").toString
    val store = s"$base/cm"
    assert(!graft.ops.SketchOps.cmStoreExists(spark, store)) // absent
    val sk = graft.ops.SketchOps.cmSketch(
      batchEvents.select(col("event_type").as("item")), "item", 3, 16)
    graft.ops.SketchOps.saveCm(sk, store)
    assert(graft.ops.SketchOps.cmStoreExists(spark, store)) // healthy
    // simulate a crash between manifest delete and rewrite: counters
    // remain, manifest gone — the probe must REFUSE, not report absent
    // (reporting absent would let a maintenance loop reset history)
    StoreUtil.deleteMarker(spark, store, graft.ops.SketchOps.CmManifestFile)
    intercept[IllegalStateException] {
      graft.ops.SketchOps.cmStoreExists(spark, store)
    }
  }

  test("stream-stream attribution join equals its batch form") {
    val dir = Files.createTempDirectory("graft_attr").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/part-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.attributionJoin(stream)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("attr_out").collect().map(_.toSeq).toSet
    val want = EventStreams.attributionJoin(batchEvents).collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming sessionization equals batch gaps-and-islands") {
    // three-file feed: real data, then two future sentinels that advance the
    // watermark so event-time timeouts fire and sessions flush
    val dir = Files.createTempDirectory("graft_stream").toString
    Files.copy(
      Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/part-000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // sentinels share the directory with the copied driver file, so they
    // must match ITS encoding (NTZ-micros) — a file stream has one schema
    writeEventFile(dir, "part-001.parquet",
      eventsOfNtz(Seq((-1L, "2030-01-01 00:00:00", 0.0)),
        userId = -1L, eventType = "sentinel"))
    writeEventFile(dir, "part-002.parquet",
      eventsOfNtz(Seq((-2L, "2030-06-01 00:00:00", 0.0)),
        userId = -1L, eventType = "sentinel"))

    val stream = EventStreams.readEvents(spark, s"$dir/part-*.parquet",
      Map("maxFilesPerTrigger" -> "1"))
    val q = EventStreams.sessionize(stream)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("sess_out").filter(col("user_id") >= 0)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"), round(col("sum_value"), 2).as("sum_value"))
      .collect().map(_.toSeq).toSet
    val want = EventStreams.sessionizeBatch(batchEvents)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("the streamed pretraining pipeline — dup index and radix masses " +
      "maintained per micro-batch — packs the one-shot composite's " +
      "layout row for row") {
    // pipe_pretrain's streaming twin: the trained artifacts (quality
    // model, BPE tokenizer) are pinned once; the two GROWING stores are
    // maintained inside the foreachBatch body — each delivery is
    // quality-gated with the stored model, stripped against everything
    // the crawl has seen THEN ingested (DupStore.probeStripThenIngest),
    // and its cleaned rows' stored-tokenizer radix masses fold into the
    // mix-stats store. Because micro-batch order follows id order, the
    // accumulated cleaned output equals the one-shot strip, the additive
    // masses sum to the one-shot masses, and the budget sample + FFD
    // pack over the maintained stores must therefore reproduce the
    // composite gate bit for bit — the five-store composition holds
    // under incremental maintenance, not just in one batch run.
    import graft.ops.{DupStore, SampleOps}
    import graft.queries.TrainingQueries
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
    val dupBase =
      Files.createTempDirectory("graft_pipe_dup").toString + "/dup"
    var dupDir = dupBase
    // history arrives as the same two ingests the gate's fixture folds
    DupStore.ingestBatch(spark, dupDir,
      hist.filter(col("doc_id") < 125), "doc_id", "text")
    DupStore.ingestBatch(spark, dupDir,
      hist.filter(col("doc_id") >= 125), "doc_id", "text")
    var rotations = 0
    val inDir = Files.createTempDirectory("graft_pipe_in").toString
    // contiguous ascending id ranges per file — the ids-follow-arrival
    // contract the strip's streamed/one-shot equality rides on
    (0 until 3).foreach { m =>
      writeEventFile(inDir, s"$m.parquet",
        batch.filter(col("doc_id") >= 250 + m * 84 &&
          col("doc_id") < 250 + (m + 1) * 84))
    }
    val outDir =
      Files.createTempDirectory("graft_pipe_out").toString + "/clean"
    val statsDir =
      Files.createTempDirectory("graft_pipe_stats").toString + "/mass"
    val provDir =
      Files.createTempDirectory("graft_pipe_prov").toString + "/ledger"
    // the per-delivery expectation, captured INSIDE the loop at append
    // time — the ledger must replay these, not whatever the final
    // state happens to be
    val genByBatch = scala.collection.mutable.Map.empty[Long, Long]
    var batches = 0
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        batches += 1
        // the head this delivery is CLEANED AGAINST — captured before
        // the in-batch rotation can advance it, because that is the
        // generation the ledger must attribute the strip to
        val cleanedWith = dupDir
        // stages 1+2: gate with the stored model, strip against all
        // seen hashes, ingest this delivery's own
        DupStore.probeStripThenIngest(spark, dupDir, outDir,
          TrainingQueries.pipeQualityGate(spark, sf, df),
          "doc_id", "text", batchId = id)
        // an AUDIT pin on delivery 0's generation, placed while it is
        // still the serving head (pin-while-protected: BEFORE the
        // in-batch rotation can age it past the grace horizon) — the
        // replay below needs this generation alive after rotations the
        // grace GC would otherwise reclaim it through
        if (id == 0L) StoreUtil.pinGeneration(spark, cleanedWith, "audit0")
        // the dup index is a LIVE maintained store: its rotate-compact
        // loop runs INSIDE the pipeline body (slack 1 trips every
        // batch) — the composite's answers must be oblivious to where
        // in the generation chain each delivery landed
        val nextDup = StoreUtil.rotateWithGrace(spark, dupDir,
          p => DupStore.needsCompact(spark, p, slack = 1),
          (s2, d2) => DupStore.compact(spark, s2, d2), grace = 1)
        if (nextDup != dupDir) { rotations += 1; dupDir = nextDup }
        // stage-3 maintenance: fold this delivery's cleaned masses
        val stats = SampleOps.tokenBucketStats(
          TrainingQueries.pipeStagedFrame(spark, sf,
            spark.read.parquet(s"$outDir/batch=$id")),
          "doc_id", "source", col("n_tok_bpe"), "pp1")
        if (SampleOps.mixStatsStoreExists(spark, statsDir))
          SampleOps.appendMixStats(spark, statsDir, stats, Some(id))
        else SampleOps.saveMixStats(stats, statsDir, Some(id))
        // the delivery LEDGER: each micro-batch appends the provenance
        // rows of the stores it ACTUALLY read — the dup row stamps the
        // PRE-rotation head the strip ran against (the in-batch
        // rotation advances dupDir BEFORE this point, so stamping the
        // current head would attribute the clean to the generation
        // compacted AFTER it) — stamped with its delivery id: the
        // audit trail that answers "which dup-index generation cleaned
        // batch N" after any number of rotations. The grace horizon is
        // what keeps cleanedWith's manifest readable here.
        graft.ops.ProvenanceLog.append(spark, provDir,
          TrainingQueries.pipeProvenanceFrame(spark,
            TrainingQueries.lrStoreDir(spark, sf), cleanedWith, statsDir,
            TrainingQueries.bpeStoreDir(spark, sf),
            // the strip consumed the PRE-ingest state — the recorded
            // as-of watermark is what makes the delivery replayable
            dupIngestedThisDelivery = true)
            .withColumn("delivery_id", lit(id)),
          Some(id))
        genByBatch(id) = StoreUtil.generationNumber(cleanedWith)
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >= 3 micro-batches, got $batches")
    assert(rotations >= 2,
      s"the in-pipeline rotation should have tripped at slack 1; " +
        s"rotations = $rotations")
    // restart discovery: a rebooted pipeline's serving-path variable is
    // gone — latestGeneration must land on the chain's serving head
    // from the base name alone, skipping the grace-kept older one
    assert(StoreUtil.latestGeneration(spark, dupBase) == dupDir,
      s"discovery found ${StoreUtil.latestGeneration(spark, dupBase)}, " +
        s"pipeline ended at $dupDir")
    def packSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "bin", "bin_off").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
    val streamed = packSet(TrainingQueries.pipePackStage(spark,
      TrainingQueries.pipeStagedFrame(spark, sf,
        spark.read.parquet(outDir)
          .select(col("doc_id"), col("clean_text"))),
      SampleOps.loadMixStats(spark, statsDir)))
    val oneShot = packSet(
      TrainingQueries.registry("pipe_pretrain")(spark, sf))
    assert(streamed == oneShot)
    assert(streamed.nonEmpty, "fixture degenerated: nothing was packed")
    // the provenance manifest stamps the serving heads this twin
    // ACTUALLY read — after in-stream rotations, the recorded dup
    // generation must equal the rotated head's, not the base path's
    val prov = TrainingQueries.pipeProvenanceFrame(spark,
        TrainingQueries.lrStoreDir(spark, sf), dupDir, statsDir,
        TrainingQueries.bpeStoreDir(spark, sf))
      .collect().map(r => r.getString(0) -> r).toMap
    // the expectation is INDEPENDENTLY derived from the loop's own
    // rotation count (each rotation advances the chain by one from the
    // base at 0) — not from generationNumber(dupDir), which is what the
    // provenance frame itself computes
    assert(prov("dup_index").getLong(1) == rotations.toLong,
      s"recorded dup generation ${prov("dup_index").getLong(1)} != " +
        s"the $rotations in-stream rotations this twin performed")
    assert(prov("dup_index").getLong(1) >= 2,
      "the rotations should have moved the recorded generation past 2")
    // 2 history ingests + one per micro-batch, carried across every
    // compact — a rotation that reset the counter would show here
    assert(prov("dup_index").getLong(2) == 2L + batches,
      s"dup ingest counter ${prov("dup_index").getLong(2)} != " +
        s"${2 + batches}")
    assert(prov("mix_stats").getLong(1) == 0L,
      "the never-rotated stats store must record generation 0")
    assert(prov("delivery").isNullAt(1),
      "the delivery row is not a store — counters must be NULL")
    // the LEDGER replays per-delivery history: each delivery's recorded
    // dup generation equals what the loop captured at append time (the
    // generations CLIMB through the rotation chain — the final state
    // alone could never show that), and a zombie re-append of the last
    // delivery is a full no-op
    val ledger = graft.ops.ProvenanceLog.load(spark, provDir).collect()
    assert(ledger.length == batches * 5,
      s"ledger holds ${ledger.length} rows for $batches deliveries")
    val dupByDelivery = ledger
      .filter(_.getString(0) == "dup_index")
      .map(r => r.getLong(5) -> r.getLong(1)).toMap
    assert(dupByDelivery == genByBatch.toMap,
      s"ledger generations $dupByDelivery != captured $genByBatch")
    val climb = dupByDelivery.toSeq.sorted.map(_._2)
    assert(climb == climb.sorted && climb.distinct.length > 1,
      s"per-delivery dup generations should climb through the chain: " +
        s"$climb")
    graft.ops.ProvenanceLog.append(spark, provDir,
      TrainingQueries.pipeProvenanceFrame(spark,
        TrainingQueries.lrStoreDir(spark, sf), dupDir, statsDir,
        TrainingQueries.bpeStoreDir(spark, sf))
        .withColumn("delivery_id", lit((batches - 1).toLong)),
      Some((batches - 1).toLong))
    assert(graft.ops.ProvenanceLog.load(spark, provDir).count() ==
      batches * 5L, "zombie re-append must be a full no-op")
    // zombie redelivery of the final micro-batch: cleaned output, dup
    // index, and mass store all manifest-guarded — the packed layout
    // cannot drift
    val before = DupStore.load(spark, dupDir).hashes.count()
    DupStore.probeStripThenIngest(spark, dupDir, outDir,
      TrainingQueries.pipeQualityGate(spark, sf,
        batch.filter(col("doc_id") >= 250 + 2 * 84)),
      "doc_id", "text", batchId = (batches - 1).toLong)
    SampleOps.appendMixStats(spark, statsDir,
      SampleOps.tokenBucketStats(
        TrainingQueries.pipeStagedFrame(spark, sf,
          spark.read.parquet(s"$outDir/batch=${batches - 1}")),
        "doc_id", "source", col("n_tok_bpe"), "pp1"),
      Some((batches - 1).toLong))
    assert(DupStore.load(spark, dupDir).hashes.count() == before)
    assert(packSet(TrainingQueries.pipePackStage(spark,
      TrainingQueries.pipeStagedFrame(spark, sf,
        spark.read.parquet(outDir)
          .select(col("doc_id"), col("clean_text"))),
      SampleOps.loadMixStats(spark, statsDir))) == oneShot)
    // ---- REPLAY delivery 0 from the ledger, through the audit pin ----
    // the generations between delivery 0's and the grace horizon were
    // GC'd by the in-stream rotations; ONLY the pin kept generation 0
    assert(new java.io.File(dupBase).exists,
      "the audit pin must have held delivery 0's generation through GC")
    assert(!new java.io.File(s"${dupBase}_g1").exists,
      "an unpinned generation past the horizon should be gone — " +
        "without the pin, delivery 0's would be too")
    val batch0 = batch.filter(col("doc_id") >= 250 &&
      col("doc_id") < 250 + 84)
    val replayed = TrainingQueries.pipeReplayCleaned(spark, provDir, 0L,
        batch0, TrainingQueries.lrStoreDir(spark, sf), dupBase)
      .select(col("doc_id"), col("clean_text"))
    // the delivery captured at append time IS the comparison target —
    // exceptAll both ways, so extra rows and missing rows both fail
    val delivered = spark.read.parquet(s"$outDir/batch=0")
      .select(col("doc_id"), col("clean_text"))
    assert(replayed.exceptAll(delivered).isEmpty &&
      delivered.exceptAll(replayed).isEmpty,
      "the ledger replay of delivery 0 must be bit-identical to the " +
        "delivery it recorded")
    assert(delivered.count() > 0, "fixture degenerated: empty delivery 0")
    // the FULL composite replay must REFUSE: the mix-stats store was
    // folded into twice since delivery 0, so its recorded state is
    // gone — replaying against the current masses would be silently
    // wrong, and the ingest counter is what catches it
    val drifted = intercept[IllegalStateException] {
      TrainingQueries.pipeReplay(spark, sf, provDir, 0L, batch0,
        TrainingQueries.lrStoreDir(spark, sf), dupBase, statsDir,
        TrainingQueries.bpeStoreDir(spark, sf))
    }
    assert(drifted.getMessage.contains("folded into"), drifted.getMessage)
    // the refused replay released its pins: the audit pin is the only
    // thing left holding generation 0, and the first GC after unpin
    // reclaims it
    StoreUtil.unpinGeneration(spark, dupBase, "audit0")
    val reclaimed = StoreUtil.retireWithGrace(spark, dupDir, 1)
    assert(reclaimed.contains(dupBase),
      s"GC after the audit unpin must reclaim $dupBase, got $reclaimed")
    assert(!new java.io.File(dupBase).exists)
  }

  test("LM drift-adaptation loop: per-batch surprisal folds accumulate " +
      "in a drift store, the crossed signal folds the batch INTO the " +
      "LM and re-baselines — adaptation without rotation") {
    // the text-family member of the drift-triggered maintenance story
    // (VectorStoreSpec drives the rotate-and-retrain variant for the
    // vector artifacts): the LM's corrective action is the family's own
    // count additivity — ingest the drifted batch and its n-grams are
    // seen — so the loop adapts IN PLACE, no rotation, and the drift
    // store re-baselines per adaptation (a retired signal must not
    // accuse the adapted model). Two in-domain batches hold the signal
    // at baseline; the first out-of-domain batch crosses and must
    // trigger EXACTLY one adaptation; the follow-up batch from the SAME
    // new domain scores cheap against the adapted counts and must not
    // re-trigger.
    import spark.implicits._
    import graft.ops.{DriftStore, LmOps, LmStore}
    def docs(ids: Range, words: Seq[String], src: String) =
      ids.map(i => (i.toLong,
          Seq.tabulate(6)(k => words((i + k) % words.size)).mkString(" "),
          src))
        .toDF("doc_id", "text", "source")
    val domA = Seq("alpha", "beta", "gamma", "delta")
    val domB = Seq("omega", "sigma", "tau", "rho")
    val inDir = Files.createTempDirectory("graft_lmdrift_in").toString
    writeEventFile(inDir, "b0.parquet", docs(0 until 5, domA, "a"))
    writeEventFile(inDir, "b1.parquet", docs(5 until 10, domA, "a"))
    writeEventFile(inDir, "b2.parquet", docs(10 until 15, domB, "b"))
    writeEventFile(inDir, "b3.parquet", docs(15 until 20, domB, "b"))
    val base = Files.createTempDirectory("graft_lmdrift").toString
    val lmDir = s"$base/lm"
    var driftDir = s"$base/drift_g0"
    var baseline = -1.0
    var adapts = List.empty[Long]
    def surprisalStats(df: org.apache.spark.sql.DataFrame) = {
      val st = LmStore.load(spark, lmDir)
      LmOps.scoreTrigram(df, "doc_id", "text", st.uni, st.bi, st.tri,
          broadcastCounts = true)
        .join(df.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("n"),
          sum(col("cost_micronats")).as("err_sum"))
    }
    def meanErr(p: String): Double = {
      val r = DriftStore.load(spark, p)
        .agg(sum(col("err_sum")), sum(col("n"))).head
      r.getLong(0).toDouble / r.getLong(1)
    }
    val schema = docs(0 until 1, domA, "a").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          if (!LmStore.exists(spark, lmDir)) {
            // the initial training batch IS the first model; its drift
            // is measured against itself — the trained-time baseline
            LmStore.ingestBatch(spark, lmDir, df, "text", Some(id))
            DriftStore.save(surprisalStats(df), driftDir, Some(id))
            baseline = meanErr(driftDir)
          } else {
            // measure BEFORE the fold — the signal is the batch against
            // the model that would have served it
            DriftStore.append(spark, driftDir, surprisalStats(df),
              Some(id))
            val crossed = meanErr(driftDir) > 1.5 * baseline
            // the crawl folds every batch (the LM store's growing
            // lifecycle); for the drifted batch this fold IS the
            // corrective action — counts are additive, so no rotation
            LmStore.ingestBatch(spark, lmDir, df, "text", Some(id))
            if (crossed) {
              adapts ::= id
              driftDir = s"$base/drift_g${adapts.size}"
              DriftStore.save(surprisalStats(df), driftDir, Some(id))
              baseline = meanErr(driftDir)
            }
          }
          ()
      }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(adapts == List(2L), s"adaptations fired at $adapts")
    // the re-baselined signal sits under the trigger after b3
    assert(meanErr(driftDir) <= 1.5 * baseline)
    // and the adaptation genuinely lowered the new domain's surprisal:
    // domain-B text under the final store costs less per token than it
    // did under the pre-adaptation (domain-A-only) counts
    val preA = docs(0 until 10, domA, "a")
    val st = LmStore.load(spark, lmDir)
    def cost(u: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame,
        t: org.apache.spark.sql.DataFrame): Double = {
      val r = LmOps.scoreTrigram(docs(15 until 20, domB, "b"), "doc_id",
          "text", u, b, t, broadcastCounts = true)
        .agg(sum(col("cost_micronats")), sum(col("n_tokens"))).head
      r.getLong(0).toDouble / r.getLong(1)
    }
    assert(cost(st.uni, st.bi, st.tri) <
      cost(LmOps.trainUnigram(preA, "text"),
        LmOps.trainBigram(preA, "text"),
        LmOps.trainTrigram(preA, "text")))
  }

  test("tokenizer drift-retrain loop: the OOV share crosses, the " +
      "artifact is retrained WHOLE and re-saved in place, the counter " +
      "advances — the third action shape, stream-driven") {
    // the three trained-artifact action shapes, each now driven by its
    // drift signal in a stream: the vector stores ROTATE through a
    // retrained generation (VectorStoreSpec), the LM FOLDS the batch
    // in (previous test), and the tokenizer — whose store documents
    // that inserting merges would re-rank history, so growing means
    // retraining WHOLE — RE-SAVES in place with the save counter
    // advancing (the hook that lets a ledger replay refuse the
    // retrained artifact). The signal is the meter's OOV share: the
    // mass encodeIds' in-plan guard would have raised on, read here to
    // retrain BEFORE the guard starts failing jobs.
    import spark.implicits._
    import graft.ops.{BpeStore, DriftStore}
    import graft.functions.Bpe
    def docs(ids: Range, words: Seq[String], src: String) =
      ids.map(i => (i.toLong,
          Seq.tabulate(6)(k => words((i + k) % words.size)).mkString(" "),
          src))
        .toDF("doc_id", "text", "source")
    val domA = Seq("alpha", "beta", "gamma", "delta")
    // CHARACTER-disjoint from domA (the PropertySpec lesson): a merely
    // word-disjoint domain still tokenizes into single chars the old
    // vocab knows, and the OOV share never moves
    val domB = Seq("zorro", "quix", "funk", "vows")
    val inDir = Files.createTempDirectory("graft_bpedrift_in").toString
    writeEventFile(inDir, "b0.parquet", docs(0 until 5, domA, "a"))
    writeEventFile(inDir, "b1.parquet", docs(5 until 10, domA, "a"))
    writeEventFile(inDir, "b2.parquet", docs(10 until 15, domB, "b"))
    writeEventFile(inDir, "b3.parquet", docs(15 until 20, domB, "b"))
    val base = Files.createTempDirectory("graft_bpedrift").toString
    val bpeDir = s"$base/bpe"
    var driftDir = s"$base/drift_g0"
    var retrains = List.empty[Long]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def trainAndSave(corpus: org.apache.spark.sql.DataFrame): Unit = {
      val wf = corpus
        .select(explode(Bpe.wordsCol(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val merges = Bpe.train(wf, "w", "c", nMerges = 8)
      val vocab = corpus
        .select(explode(Bpe.tokensCol(col("text"), merges)).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
        .withColumn("id", (row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("token"))) - 1).cast("long"))
      BpeStore.save(spark, merges, vocab, bpeDir)
    }
    def oovShare(p: String): Double = {
      val r = DriftStore.load(spark, p)
        .agg(sum(when(col("tok_id") === -1L, col("n")).otherwise(0L)),
          sum(col("n"))).head
      r.getLong(0).toDouble / r.getLong(1)
    }
    val schema = docs(0 until 1, domA, "a").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          seen ++= df.collect().map(r => (r.getLong(0), r.getString(1)))
          val corpus = seen.toSeq.toDF("doc_id", "text")
          if (!BpeStore.exists(spark, bpeDir)) {
            trainAndSave(corpus)
            DriftStore.save(BpeStore.driftStats(
              BpeStore.load(spark, bpeDir), df.toDF(), "text"),
              driftDir, Some(id))
          } else {
            // measure against the SERVING artifact before any action
            DriftStore.append(spark, driftDir, BpeStore.driftStats(
              BpeStore.load(spark, bpeDir), df.toDF(), "text"), Some(id))
            if (oovShare(driftDir) > 0.3) {
              retrains ::= id
              trainAndSave(corpus) // retrain WHOLE, re-save in place
              driftDir = s"$base/drift_g${retrains.size}"
              DriftStore.save(BpeStore.driftStats(
                BpeStore.load(spark, bpeDir), df.toDF(), "text"),
                driftDir, Some(id))
            }
          }
          ()
      }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // exactly one retrain, at the first out-of-domain batch; b3 from
    // the same new domain stays under the trigger against the
    // retrained artifact
    assert(retrains == List(2L), s"retrains fired at $retrains")
    assert(oovShare(driftDir) <= 0.3)
    // the save counter advanced: initial train + one retrain — the
    // value a ledger-driven replay checks to REFUSE the retrained
    // tokenizer in place of the recorded one
    val mf = StoreUtil.readMarker(spark, bpeDir, BpeStore.ManifestFile).get
    assert(StoreUtil.ingestsOf(mf) == 2L, mf)
    // and the adaptation holds where the guard would have failed: the
    // retrained artifact id-encodes the new domain in-plan
    val st = BpeStore.load(spark, bpeDir)
    assert(BpeStore.encodeIds(st, docs(15 until 20, domB, "b"),
      "doc_id", "text").count() > 0)
    // whereas a domain-A-only artifact raises its OOV guard on it —
    // the meter is that failure, caught as a statistic one batch early
    val aOnly = Files.createTempDirectory("graft_bpedrift_a").toString
    val wfA = docs(0 until 10, domA, "a")
      .select(explode(Bpe.wordsCol(col("text"))).as("w"))
      .filter(col("w") =!= "").groupBy(col("w")).agg(count(lit(1)).as("c"))
    val mA = Bpe.train(wfA, "w", "c", nMerges = 8)
    BpeStore.save(spark, mA, docs(0 until 10, domA, "a")
      .select(explode(Bpe.tokensCol(col("text"), mA)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .withColumn("id", (row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("token"))) - 1).cast("long")),
      aOnly)
    val ex = intercept[Exception] {
      BpeStore.encodeIds(BpeStore.load(spark, aOnly),
        docs(15 until 20, domB, "b"), "doc_id", "text").count()
    }
    assert(ex.getMessage.contains("not in the stored BPE vocabulary"),
      ex.getMessage)
  }
}
