package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{VectorOps, VectorStore}

/** The IVF store exists for ONE property: a query must read only the
  * `nprobe` cells it routes to, as file-level partition pruning — plus the
  * obvious one that the pruned answer equals the in-memory [[VectorOps
  * .annIvf]] bit for bit. Both are asserted here on the executed plan and
  * the collected rows, not on documentation.
  */
class VectorStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val corpus = Tables.embeddings(spark, sf)
    .filter(col("vec_id") < 300)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  lazy val cents = Tables.embeddings(spark, sf)
    .filter(col("vec_id") < 8)
    .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  lazy val storeDir = {
    val dir = Files.createTempDirectory("graft_vstore").toString
    VectorStore.save(corpus, cents, dir)
    dir
  }
  lazy val store = VectorStore.load(spark, storeDir)

  /** One parquet file per micro-batch: maxFilesPerTrigger=1 then maps
    * files to batches deterministically.
    */
  private def writeOneFile(inDir: String, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val sub = Files.createTempDirectory("graft_vstore_fb_tmp").toString + "/w"
    df.coalesce(1).write.parquet(sub)
    val f = new java.io.File(sub).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$inDir/$name"))
  }

  test("store round trip preserves every vector exactly") {
    val orig = corpus.select(col("id"),
        VectorOps.toDouble(col("vec")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val back = store.cells.select(col("id"), col("vec"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(back.keySet == orig.keySet)
    assert(back.forall { case (id, v) => orig(id) == v })
    // every corpus vector lives in exactly one cell
    assert(store.cells.groupBy("id").count().filter(col("count") > 1)
      .count() == 0)
  }

  test("store query equals in-memory annIvf bit for bit") {
    val queries = corpus.filter(col("id") < 20)
    val fromStore = VectorStore.query(store, queries, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val inMemory = VectorOps.annIvf(queries, corpus, cents, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(fromStore == inMemory)
    assert(fromStore.nonEmpty)
  }

  test("query scan prunes to the probed cells' partitions only") {
    // a single query vector with nprobe=1 routes to exactly one cell
    val one = corpus.filter(col("id") === 42)
    val res = VectorStore.query(store, one, k = 3, nprobe = 1)
    res.collect()
    // AQE nests the final plan inside the adaptive node and each stage
    // inside a leaf QueryStageExec wrapper — PlanWalk recurses through both
    val scans = PlanWalk.collect(res.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f
      }
      .filter(_.output.exists(_.name == "cell"))
    assert(scans.nonEmpty, res.queryExecution.executedPlan.toString)
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty, "cell predicate must be a " +
      s"partition filter, not a data filter:\n$scan")
    val cellsOnDisk = new java.io.File(s"$storeDir/cells")
      .listFiles().count(_.getName.startsWith("cell="))
    val cellsRead = scan.selectedPartitions.partitionCount
    assert(cellsOnDisk > 1, s"fixture degenerated to $cellsOnDisk cell(s)")
    assert(cellsRead == 1,
      s"nprobe=1 single query must read 1 of $cellsOnDisk cells, read $cellsRead")
  }

  test("append routes new vectors into existing cells; queries see the union") {
    val dir = Files.createTempDirectory("graft_vstore_app").toString
    val first = corpus.filter(col("id") < 150)
    val second = corpus.filter(col("id") >= 150)
    VectorStore.save(first, cents, dir)
    VectorStore.append(spark, dir, second)
    val st2 = VectorStore.load(spark, dir)
    // every vector present exactly once, in the same cell the full build
    // would have chosen (same centroids ⇒ same routing)
    val full = store.cells.select("id", "cell")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val app = st2.cells.select("id", "cell")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(app == full)
    // an ANN query over the appended store equals the full-build answer
    val queries = corpus.filter(col("id") < 20)
    val a = VectorStore.query(st2, queries, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val b = VectorStore.query(store, queries, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("load of a non-store directory fails fast on the missing manifest") {
    val dir = Files.createTempDirectory("graft_not_a_vstore").toString
    intercept[IllegalStateException] { VectorStore.load(spark, dir) }
  }

  test("storeExists distinguishes absent / healthy / BROKEN (cells, no " +
      "manifest) — the maintenance-loop probe discipline") {
    val absent = Files.createTempDirectory("graft_vs_absent").toString
    assert(!VectorStore.storeExists(spark, s"$absent/v"))
    assert(VectorStore.storeExists(spark, storeDir))
    // a crashed save: cells on disk, manifest gone — must REFUSE, not
    // read as absent (the save branch would overwrite history)
    val broken = Files.createTempDirectory("graft_vs_broken").toString
    corpus.limit(5)
      .select(col("id"), col("vec"), lit("c0").as("cell"))
      .write.partitionBy("cell").parquet(s"$broken/cells")
    val e = intercept[IllegalStateException](
      VectorStore.storeExists(spark, broken))
    assert(e.getMessage.contains("no " + VectorStore.ManifestFile))
  }

  test("foreachBatch maintains the vector store across micro-batches") {
    // the ANN leg of the store-maintenance lifecycle (CM/KMV/mix-stats
    // siblings live in StreamingSpec): each embedding micro-batch is
    // routed against the FIXED stored centroids and appended — history
    // never reassigned — and the final store is row- and query-identical
    // to the one-shot build. Save on batch 0 (overwrite ⇒ restart-safe),
    // append with the batchId guard after.
    import org.apache.spark.sql.streaming.Trigger
    val inDir = Files.createTempDirectory("graft_vstore_fb_in").toString
    writeOneFile(inDir, "a.parquet", corpus.filter(col("id") < 150))
    writeOneFile(inDir, "b.parquet", corpus.filter(col("id") >= 150))
    val dir = Files.createTempDirectory("graft_vstore_fb").toString + "/v"
    var batches = 0
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += 1
        // PROBE for the store, never a bare manifest peek: cells
        // without a manifest mean a crashed write, and the save branch
        // would overwrite the accumulated corpus with one micro-batch
        if (VectorStore.storeExists(spark, dir))
          VectorStore.append(spark, dir, df, Some(id))
        else VectorStore.save(df, cents, dir, Some(id))
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected >= 2 micro-batches, got $batches")

    val st2 = VectorStore.load(spark, dir)
    // every vector exactly once, in the cell the one-shot build chose
    val full = store.cells.select("id", "cell")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val app = st2.cells.select("id", "cell")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(app == full)
    val queries = corpus.filter(col("id") < 20)
    val a = VectorStore.query(st2, queries, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val b = VectorStore.query(store, queries, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.nonEmpty)

    // zombie re-delivery of the LAST batch id must be a no-op — vector
    // re-append is real duplication, not an idempotent fold
    val lastId = graft.ops.SketchOps.lastBatchId(spark, dir,
      VectorStore.ManifestFile)
    assert(lastId.isDefined)
    VectorStore.append(spark, dir, corpus.filter(col("id") >= 150), lastId)
    assert(VectorStore.load(spark, dir).cells.count() == full.size)

    // batch-0 crash-redelivery: save() records the creating batchId, so
    // a restart that re-delivers batch 0 takes the append branch and
    // no-ops instead of landing batch-0's vectors twice
    val dir0 = Files.createTempDirectory("graft_vstore_b0").toString + "/v"
    val firstHalf = corpus.filter(col("id") < 150)
    VectorStore.save(firstHalf, cents, dir0, Some(0L))
    VectorStore.append(spark, dir0, firstHalf, Some(0L))
    assert(VectorStore.load(spark, dir0).cells.count() == firstHalf.count())
  }

  test("compact rewrites an append-grown store to one file per cell, " +
      "query-identical") {
    val dir = Files.createTempDirectory("graft_vstore_cpt").toString
    // grow a store through three appends → several files per touched cell
    VectorStore.save(corpus.filter(col("id") < 100), cents, dir)
    VectorStore.append(spark, dir, corpus.filter(col("id") >= 100 && col("id") < 200))
    VectorStore.append(spark, dir, corpus.filter(col("id") >= 200))
    def filesPerCell(d: String): Map[String, Int] =
      new java.io.File(s"$d/cells").listFiles()
        .filter(_.getName.startsWith("cell=")).map { cd =>
          cd.getName -> cd.listFiles().count(_.getName.endsWith(".parquet"))
        }.toMap
    val grown = filesPerCell(dir)
    assert(grown.values.exists(_ > 1), s"appends did not fragment: $grown")
    val dest = Files.createTempDirectory("graft_vstore_cpt2").toString
    VectorStore.compact(spark, dir, dest)
    val compacted = filesPerCell(dest)
    assert(compacted.keySet == grown.keySet) // same cells survive
    assert(compacted.values.forall(_ == 1), s"not one file per cell: $compacted")
    // bit-identical ANN answers before/after the layout rewrite
    val queries = corpus.filter(col("id") < 20)
    val before = VectorStore.query(VectorStore.load(spark, dir), queries,
      k = 5, nprobe = 2).collect().map(_.toSeq).toSet
    val after = VectorStore.query(VectorStore.load(spark, dest), queries,
      k = 5, nprobe = 2).collect().map(_.toSeq).toSet
    assert(before == after && before.nonEmpty)
    // compaction refuses an overlapping destination
    intercept[IllegalArgumentException] {
      VectorStore.compact(spark, dir, s"$dir/cells")
    }
  }

  test("PQ layout: ADC serving equals in-memory annIvfPq, prunes to " +
      "probed cells, and refuses the wrong loader") {
    import graft.ops.VectorOps
    val cb = VectorOps.pqCodebook(corpus, m = 4, codes = 16, dim = 64)
    val dir = Files.createTempDirectory("graft_pqstore").toString
    VectorStore.savePq(corpus, cents, cb, dir, m = 4, dim = 64)
    val st = VectorStore.loadPq(spark, dir)
    assert(st.m == 4 && st.dim == 64)
    val queries = corpus.filter(col("id") < 10)
    val served = VectorStore.queryAdc(st, queries, k = 5, nprobe = 2)
    val inMem = VectorOps.annIvfPq(queries, corpus, cents, cb,
      m = 4, dim = 64, k = 5, nprobe = 2)
    assert(served.collect().map(_.toSeq).toSet ==
      inMem.collect().map(_.toSeq).toSet)
    assert(served.count() == 50)
    // the ADC scan reads only the probed cells' partitions
    val one = corpus.filter(col("id") === 42)
    val res = VectorStore.queryAdc(st, one, k = 3, nprobe = 1)
    res.collect()
    val scans = PlanWalk.collect(res.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f
      }
      .filter(_.output.exists(_.name == "codes"))
    assert(scans.nonEmpty, res.queryExecution.executedPlan.toString)
    assert(scans.head.partitionFilters.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"nprobe=1 must read 1 cell, read " +
        s"${scans.head.selectedPartitions.partitionCount}")
    // a plain-IVF store refuses the PQ loader (codebook would be absent)
    intercept[IllegalArgumentException] {
      VectorStore.loadPq(spark, storeDir)
    }

    // incremental growth: batch appended through the STORED
    // centroids+codebook equals the one-shot build, redelivery no-ops
    val grow = Files.createTempDirectory("graft_pqstore_app").toString
    VectorStore.savePq(corpus.filter(col("id") < 150), cents, cb, grow,
      m = 4, dim = 64, batchId = Some(0L))
    VectorStore.appendPq(spark, grow, corpus.filter(col("id") >= 150),
      batchId = Some(1L))
    val grown = VectorStore.loadPq(spark, grow)
    val gotRows = grown.cells.select("id", "codes", "cell").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1).toSeq, r.getString(2))).toMap
    val fullRows = st.cells.select("id", "codes", "cell").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1).toSeq, r.getString(2))).toMap
    assert(gotRows == fullRows)
    VectorStore.appendPq(spark, grow, corpus.filter(col("id") >= 150),
      batchId = Some(1L)) // zombie
    assert(VectorStore.loadPq(spark, grow).cells.count() == fullRows.size)
    assert(VectorStore.queryAdc(grown, queries, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet ==
      served.collect().map(_.toSeq).toSet)
  }

  test("two-stage re-rank: exact pass touches only the shortlist's rows " +
      "(broadcast + pruned), and a cell-wide shortlist recovers the " +
      "exhaustive quantized answer") {
    import graft.ops.VectorOps
    val cb = VectorOps.pqCodebook(corpus, m = 4, codes = 16, dim = 64)
    val dir = Files.createTempDirectory("graft_pqrerank").toString
    VectorStore.savePq(corpus, cents, cb, dir, m = 4, dim = 64)
    val st = VectorStore.loadPq(spark, dir)
    val queries = corpus.filter(col("id") < 10)
    // membership: every re-ranked neighbor came from the ADC shortlist
    val rerank = VectorStore.queryRerank(st, queries, k = 5, c = 20,
      nprobe = 2)
    rerank.collect() // settle AQE before plan inspection below
    val shortIds = VectorStore.queryAdc(st, queries, k = 20, nprobe = 2)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rerankRows = rerank.collect()
    assert(rerankRows.map(r => (r.getLong(0), r.getLong(1)))
      .forall(shortIds.contains))
    assert(rerankRows.length == 50) // 10 queries × k
    // exact-per-query ranks are 1..k with ascending d2
    assert(rerankRows.groupBy(_.getLong(0)).values.forall { rs =>
      val sorted = rs.sortBy(_.getLong(2))
      sorted.map(_.getLong(2)).toSeq == (1L to 5L) &&
        sorted.map(_.getLong(3)).toSeq == sorted.map(_.getLong(3)).sorted.toSeq
    })
    // plan lock: the exact stage's raw-vector scan stays cell-pruned
    // (partition filters, not data filters) and meets the shortlist as
    // a BROADCAST — i.e. the full-dimension kernel runs on candidate
    // rows only; a sort-merge here would exchange the whole cell scan
    val scans = PlanWalk.collect(rerank.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f
      }
      .filter(_.output.exists(_.name == "vec"))
    assert(scans.nonEmpty, rerank.queryExecution.executedPlan.toString)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "the exact pass lost its cell pruning")
    val planStr = rerank.queryExecution.executedPlan.toString
    assert(!planStr.contains("SortMergeJoin"), planStr)
    // with the shortlist widened past every candidate, the two-stage
    // answer IS the exhaustive integer-exact top-k over the probed
    // cells — PQ distortion fully corrected
    val wide = VectorStore.queryRerank(st, queries, k = 5, c = 100000,
      nprobe = 2).collect().map(_.toSeq).toSet
    // independent exhaustive reference: exact quantized L2 against every
    // candidate in the probed cells (driver-side, test scale only)
    val cellOf = st.cells.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecOf = st.cells.select("id", "vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def quant(v: Array[Double]) = v.map(x => math.floor(x * 1000.0).toLong)
    val qcells = VectorOps.assignCells(queries, st.centroids, 2)
      .select(col("id"), col("cell")).collect()
      .map(r => (r.getLong(0), "c" + r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    val expected = qcells.flatMap { case (q, cells) =>
      val qv = quant(vecOf(q))
      cellOf.filter { case (n, c) => n != q && cells.contains(c) }
        .map { case (n, _) =>
          val nv = quant(vecOf(n))
          val d2 = qv.zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum
          (q, n, d2)
        }
        .toSeq.sortBy(t => (t._3, t._2)).take(5).zipWithIndex
        .map { case ((qq, n, d2), i) => Seq(qq, n, (i + 1).toLong, d2) }
    }.toSet
    assert(wide == expected)
    // recall is monotone: every exact neighbor ADC's own top-k finds
    // sits in the shortlist and so survives the exact re-rank
    def pairs(rows: Iterable[Seq[Any]]) =
      rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
    val truth = pairs(wide)
    val adcHits = pairs(VectorStore.queryAdc(st, queries, k = 5, nprobe = 2)
      .select("q_id", "n_id").collect().map(_.toSeq)) intersect truth
    assert(adcHits.subsetOf(pairs(rerankRows.map(_.toSeq))))
  }

  test("PQ store compaction preserves codes, codebook, and ingest tags " +
      "— ADC and rerank identical across the rotation, nudge resets, " +
      "zombie guard carried") {
    // regression: compact's column-pruning select silently DESTROYED a
    // PQ store (codes + tags dropped, codebook not copied) — the new
    // generation declared layout ivf-pq but could not load, while
    // rotation retired the old one. The codebook here is the TRAINED
    // one (the recall lever ann_pq_trained_store serves): the artifact
    // a compaction must carry verbatim is exactly the one a deployment
    // paid training for
    import graft.ops.VectorOps
    val cb = VectorOps.pqCodebookTrained(corpus, m = 4, codes = 16,
      dim = 64, iters = 2)
    val dir = Files.createTempDirectory("graft_pqcpt").toString + "/pq"
    VectorStore.savePq(corpus.filter(col("id") < 100), cents, cb, dir,
      m = 4, dim = 64, batchId = Some(0L))
    VectorStore.appendPq(spark, dir,
      corpus.filter(col("id") >= 100 && col("id") < 200), Some(1L))
    VectorStore.appendPq(spark, dir,
      corpus.filter(col("id") >= 200), Some(2L))
    // the PQ manifest now carries the family watermark: two appends on
    // a fresh save trip the nudge at slack 2
    assert(VectorStore.needsCompact(spark, dir, slack = 2))
    val queries = corpus.filter(col("id") < 10)
    def rerankSet(p: String) = VectorStore.queryRerank(
        VectorStore.loadPq(spark, p), queries, k = 5, c = 20, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val before = rerankSet(dir)
    val next = StoreUtil.rotateWithGrace(spark, dir,
      p => VectorStore.needsCompact(spark, p, slack = 2),
      (s, d) => VectorStore.compact(spark, s, d), grace = 1)
    assert(next != dir, "the nudge should have rotated")
    assert(!VectorStore.needsCompact(spark, next, slack = 2),
      "compaction must advance the watermark")
    // loadPq would THROW before the fix (codebook gone); answers must
    // be bit-identical across the rewrite
    assert(rerankSet(next) == before)
    val st2 = VectorStore.loadPq(spark, next)
    // the TRAINED codebook itself crossed the rewrite row for row —
    // answers-equal alone could mask a codebook/codes pair drifting
    // together
    def cbSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(_.toSeq).toSet
    assert(cbSet(st2.codebook) == cbSet(cb),
      "the trained codebook did not survive compaction verbatim")
    assert(st2.cells.columns.contains("ingest_batch") &&
      st2.cells.columns.contains("ingest_seq"),
      "rollback identity (ingest tags) lost in the rewrite")
    // the zombie guard rode the rotation chain
    val n0 = st2.cells.count()
    VectorStore.appendPq(spark, next,
      corpus.filter(col("id") >= 200), Some(2L))
    assert(VectorStore.loadPq(spark, next).cells.count() == n0)
  }

  test("retraining moves the serving centroids to the drifted corpus: " +
      "quantization error falls, cells re-route, the zombie guard " +
      "survives the generation swap") {
    // the drift scenario the meter exists to catch: both serving
    // centroids point at cluster A's direction, cluster B (appended
    // later in a real lifecycle) has no nearby cell — every B vector
    // quantizes terribly. retrain() is the ACTION: warm-start Lloyd on
    // the current corpus, reassign, fresh generation.
    import spark.implicits._
    import graft.ops.VectorOps
    def mk(hi: Range, i: Int): Seq[Double] =
      Seq.tabulate(8)(d => if (hi.contains(d)) 1.0 + 0.01 * (i % 3)
        else 0.01)
    val a = (0 until 30).map(i => (i.toLong, mk(0 until 4, i)))
    val b = (30 until 60).map(i => (i.toLong, mk(4 until 8, i)))
    val corpus2 = (a ++ b).toDF("id", "vec")
    // stale seeds: one ON cluster A, one NEAR it (no seed anywhere
    // close to B's direction)
    val seeds = Seq((0L, mk(0 until 4, 0)),
      (1L, Seq.tabulate(8)(d => if (d < 4) 1.0 else 0.2)))
      .toDF("cid", "cvec")
    val base = Files.createTempDirectory("graft_vretrain").toString
    val g0 = s"$base/g0"
    VectorStore.save(corpus2, seeds, g0, batchId = Some(7L))
    def totalErr(cents: org.apache.spark.sql.DataFrame): Long =
      VectorOps.driftStats(corpus2, cents)
        .agg(sum(col("err_sum"))).head.getLong(0)
    val errStale = totalErr(VectorStore.load(spark, g0).centroids)
    val g1 = s"$base/g1"
    VectorStore.retrain(spark, g0, g1, iters = 3)
    val st1 = VectorStore.load(spark, g1)
    val errNew = totalErr(st1.centroids)
    assert(errNew < errStale, s"retraining must cut the meter's error " +
      s"on the corpus it trained on: $errNew !< $errStale")
    // routing followed the moved table: the two clusters now occupy
    // one cell each (the stale layout crammed them by A-direction)
    val occ = VectorOps.driftStats(corpus2, st1.centroids)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(occ == Seq(30L, 30L), s"occupancy $occ")
    assert(st1.cells.count() == 60L, "retraining must not lose rows")
    // stored cells agree with a fresh assignment against the new table
    val expect = VectorOps.assignCells(corpus2, st1.centroids, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = st1.cells.select(col("id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expect.map { case (id, c) => id -> s"c$c" })
    // the carried manifest keeps last_batch: redelivering the creating
    // batch against the retrained generation appends NOTHING
    VectorStore.append(spark, g1, corpus2, batchId = Some(7L))
    assert(VectorStore.load(spark, g1).cells.count() == 60L,
      "zombie redelivery appended through the retrained generation")
    // and the generation serves
    assert(VectorStore.query(st1, corpus2.filter(col("id") < 3),
      k = 2, nprobe = 1).count() > 0)
  }

  test("drift-triggered maintenance loop: per-batch folds accumulate " +
      "in the drift store, the crossed signal retrains and rotates, " +
      "the fresh generation re-baselines and serves") {
    // the whole retraining-cadence story composed and STREAM-DRIVEN:
    // meter (driftStats) → persisted signal (DriftStore folds per
    // micro-batch) → decision (mean error vs the trained-time
    // baseline) → action (retrain) → rotation (the existing grace
    // protocol) → re-baseline for the fresh artifact. Two in-direction
    // batches fit the serving centroids; the first drifted batch
    // crosses the threshold and must trigger EXACTLY one retrain.
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.ops.{DriftStore, VectorOps}
    def mk(hi: Range, i: Int): Seq[Double] =
      Seq.tabulate(8)(d => if (hi.contains(d)) 1.0 + 0.01 * (i % 3)
        else 0.01)
    val all = ((0 until 30).map(i => (i.toLong, mk(0 until 4, i))) ++
      (30 until 60).map(i => (i.toLong, mk(4 until 8, i))))
      .toDF("id", "vec")
    val seeds = Seq((0L, mk(0 until 4, 0)),
      (1L, Seq.tabulate(8)(d => if (d < 4) 1.0 else 0.2)))
      .toDF("cid", "cvec")
    val inDir = Files.createTempDirectory("graft_drift_loop_in").toString
    writeOneFile(inDir, "b0.parquet", all.filter(col("id") < 15))
    writeOneFile(inDir, "b1.parquet",
      all.filter(col("id") >= 15 && col("id") < 30))
    writeOneFile(inDir, "b2.parquet",
      all.filter(col("id") >= 30 && col("id") < 45))
    writeOneFile(inDir, "b3.parquet", all.filter(col("id") >= 45))
    val base = Files.createTempDirectory("graft_drift_loop").toString
    var serving = s"$base/v"
    var driftDir = s"$base/drift_g0"
    var baseline = -1.0
    var retrains = List.empty[Long]
    def meanErr(p: String): Double = {
      val r = DriftStore.load(spark, p)
        .agg(sum(col("err_sum")), sum(col("n"))).head
      r.getLong(0).toDouble / r.getLong(1)
    }
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        if (VectorStore.storeExists(spark, serving))
          VectorStore.append(spark, serving, df, Some(id))
        else VectorStore.save(df, seeds, serving, Some(id))
        val cents = VectorStore.load(spark, serving).centroids
        if (DriftStore.exists(spark, driftDir))
          DriftStore.append(spark, driftDir,
            VectorOps.driftStats(df, cents), Some(id))
        else DriftStore.save(VectorOps.driftStats(df, cents), driftDir,
          Some(id))
        if (baseline < 0) baseline = meanErr(driftDir)
        if (meanErr(driftDir) > 5.0 * baseline) {
          retrains ::= id
          serving = StoreUtil.rotateWithGrace(spark, serving, _ => true,
            (s, d) => VectorStore.retrain(spark, s, d, iters = 3),
            grace = 1)
          // a fresh artifact gets fresh statistics: the retired
          // generation's error must not accuse its successor. The
          // re-baseline fold reads the corpus the retrain just fit.
          driftDir = s"$base/drift_g${retrains.size}"
          val st = VectorStore.load(spark, serving)
          DriftStore.save(VectorOps.driftStats(
            st.cells.select(col("id"), col("vec")), st.centroids),
            driftDir, Some(id))
          baseline = meanErr(driftDir)
        }
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // exactly ONE retrain, at the first drifted batch (b2 = batch 2);
    // the fitted follow-up batch must NOT re-trigger
    assert(retrains == List(2L), s"retrains fired at $retrains")
    assert(serving != s"$base/v", "the trigger must have rotated")
    val st = VectorStore.load(spark, serving)
    assert(st.cells.count() == 60L, "rows lost across the rotation")
    // the retrained table fits the full corpus better than the seeds,
    // and the two directions now occupy one cell each
    def totalErr(c: org.apache.spark.sql.DataFrame): Long =
      VectorOps.driftStats(all, c).agg(sum(col("err_sum"))).head.getLong(0)
    assert(totalErr(st.centroids) < totalErr(seeds))
    assert(VectorOps.driftStats(all, st.centroids)
      .collect().map(_.getLong(1)).sorted.toSeq == Seq(30L, 30L))
    // the serving drift store's signal is back under the trigger
    assert(meanErr(driftDir) <= 5.0 * baseline)
    // and the rotated generation answers
    assert(VectorStore.query(st, all.filter(col("id") < 3), k = 2,
      nprobe = 1).count() > 0)
  }

  test("retraining keeps k fixed: a fully vacated cell carries its " +
      "stale entry instead of disappearing with the Lloyd round") {
    // every vector shares one direction; seed 1 points where no data
    // is. Plain Lloyd drops the memberless cell in round one — a
    // retrained generation would silently serve k-1 cells, and
    // repeated retrains would ratchet the operator's configured cell
    // count down with no signal. The k-fixed trainer carries the
    // stale entry (still a routing-table row, still probeable).
    import spark.implicits._
    def dirA(i: Int): Seq[Double] =
      Seq.tabulate(8)(d => if (d < 4) 1.0 + 0.01 * (i % 3) else 0.01)
    val corpus3 = (0 until 20).map(i => (i.toLong, dirA(i)))
      .toDF("id", "vec")
    val vacated = Seq.tabulate(8)(d => if (d < 4) 0.01 else 1.0)
    val seeds = Seq((0L, dirA(0)), (1L, vacated)).toDF("cid", "cvec")
    val base = Files.createTempDirectory("graft_vretrain_k").toString
    VectorStore.save(corpus3, seeds, s"$base/g0", batchId = Some(0L))
    VectorStore.retrain(spark, s"$base/g0", s"$base/g1", iters = 2)
    val st = VectorStore.load(spark, s"$base/g1")
    val cents = st.centroids.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.keySet == Set(0L, 1L),
      s"retraining must preserve k; got cells ${cents.keySet}")
    assert(cents(1L) == vacated,
      "the vacated cell must carry its stale entry verbatim")
    assert(st.cells.count() == 20L)
    // probing both cells still answers (the empty cell prunes to
    // nothing, it does not error)
    assert(VectorStore.query(st, corpus3.filter(col("id") < 2), k = 3,
      nprobe = 2).count() > 0)
  }

  test("PQ codebook retraining refines the served entries on the " +
      "current corpus: error falls, rows re-encode, tags survive") {
    import graft.ops.VectorOps
    val g0 = Files.createTempDirectory("graft_pq_retrain").toString + "/g0"
    // the sampled baseline IS the stale state (training-free, never
    // refined); savePq with it, then retrain two rounds in place of a
    // from-scratch re-derivation
    val cb0 = VectorOps.pqCodebook(corpus, m = 4, codes = 16, dim = 64)
    VectorStore.savePq(corpus, cents, cb0, g0, m = 4, dim = 64,
      batchId = Some(3L))
    def totalErr(cb: org.apache.spark.sql.DataFrame): Long =
      VectorOps.pqDriftStats(corpus, cb, m = 4, dim = 64)
        .agg(sum(col("err_sum"))).head.getLong(0)
    val errStale = totalErr(VectorStore.loadPq(spark, g0).codebook)
    val g1 = Files.createTempDirectory("graft_pq_retrain").toString + "/g1"
    VectorStore.retrainPq(spark, g0, g1, iters = 2)
    val st1 = VectorStore.loadPq(spark, g1)
    // the same strict decrease the trained-codebook invariant test
    // observes on this fixture, now through the store lifecycle
    val errNew = totalErr(st1.codebook)
    assert(errNew < errStale, s"$errNew !< $errStale")
    // codes and codebook moved TOGETHER: every stored row's codes equal
    // a fresh encode against the refined entries (serving refined
    // entries over stale codes is the corruption class the compaction
    // regression test guards from the other side)
    val expect = VectorOps.pqEncode(corpus, st1.codebook, m = 4, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = st1.cells.select(col("id"), col("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == expect, "stored codes drifted from the refined codebook")
    // rollback identity and routing survive the rewrite untouched
    assert(st1.cells.columns.contains("ingest_seq") &&
      st1.cells.filter(col("ingest_seq").isNull).count() == 0L)
    assert(st1.cells.count() == corpus.count())
    // and the refined generation serves ADC
    assert(VectorStore.queryAdc(st1, corpus.filter(col("id") < 5),
      k = 3, nprobe = 2).count() > 0)
  }

  test("appendPq crash windows: rollback drops ONLY the tagged batch; " +
      "a completed append with a lost marker delete is kept whole") {
    import graft.ops.VectorOps
    val cb = VectorOps.pqCodebook(corpus, m = 4, codes = 16, dim = 64)
    def rows(p: String) = VectorStore.loadPq(spark, p).cells
      .select("id", "codes", "cell").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1).toSeq, r.getString(2)))
      .toMap
    // --- window 1: crash mid-append (manifest gone, rows half-written)
    val dir = Files.createTempDirectory("graft_pq_crash").toString
    VectorStore.savePq(corpus.filter(col("id") < 150), cents, cb, dir,
      m = 4, dim = 64, batchId = Some(0L))
    val preMf = graft.StoreUtil
      .readMarker(spark, dir, VectorStore.ManifestFile).get
    val good = rows(dir)
    // simulate: pending marker down (tag 1, counter snapshot 0), manifest
    // deleted, a partial cell file appended with the batch tag
    graft.StoreUtil.writeMarker(spark, dir, VectorStore.PendingFile,
      s"1:0\n$preMf")
    graft.StoreUtil.deleteMarker(spark, dir, VectorStore.ManifestFile)
    corpus.filter(col("id") >= 150 && col("id") < 160)
      .select(col("id"), VectorOps.toDouble(col("vec")).as("vec"),
        VectorOps.pqCodesCol(VectorOps.toDouble(col("vec")), cb, 4, 64)
          .as("codes"),
        lit(1L).as("ingest_batch"), lit(1L).as("ingest_seq"),
        lit("c0").as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
    intercept[IllegalStateException](VectorStore.loadPq(spark, dir))
    val dest = Files.createTempDirectory("graft_pq_rec").toString
    intercept[IllegalArgumentException](
      VectorStore.recoverAppendPq(spark, dir, dir))
    VectorStore.recoverAppendPq(spark, dir, dest)
    assert(rows(dest) == good) // tagged partial rows rolled out
    // the recovered store still serves
    assert(VectorStore.queryAdc(VectorStore.loadPq(spark, dest),
      corpus.filter(col("id") < 5), k = 3, nprobe = 2).count() == 15)

    // --- window 2: append COMPLETED, only the marker delete was lost
    val dir2 = Files.createTempDirectory("graft_pq_done").toString
    VectorStore.savePq(corpus.filter(col("id") < 150), cents, cb, dir2,
      m = 4, dim = 64, batchId = Some(0L))
    VectorStore.appendPq(spark, dir2, corpus.filter(col("id") >= 150),
      batchId = Some(1L))
    val full = rows(dir2)
    graft.StoreUtil.writeMarker(spark, dir2, VectorStore.PendingFile,
      s"1:0\n$preMf") // stale marker: counter already moved 0 → 1
    val dest2 = Files.createTempDirectory("graft_pq_done_rec").toString
    VectorStore.recoverAppendPq(spark, dir2, dest2)
    assert(rows(dest2) == full) // nothing filtered
    // a store with no interrupted append refuses recovery
    intercept[IllegalStateException](
      VectorStore.recoverAppendPq(spark, dest2, dest))
  }

  test("semantic frontier: survivors have no within-cell stored near-dup, " +
      "appending them closes the frontier, probing only widens the dup set") {
    import spark.implicits._
    val histDir = Files.createTempDirectory("graft_vfront").toString
    val hist = corpus.filter(col("id") < 150)
    val batch = corpus.filter(col("id") >= 150)
    VectorStore.save(hist, cents, histDir)
    val st = VectorStore.load(spark, histDir)
    val kept = VectorStore.frontier(st, batch, threshold = 0.3)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    // ground truth recomputed directly from the assignments: a batch
    // row survives iff NO history row in its primary cell is closer
    // than the threshold
    val cellOf = VectorOps.assignCells(corpus, cents, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val vecs = corpus.select(col("id"),
        VectorOps.toDouble(col("vec")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val histIds = (0L until 150L).filter(vecs.contains)
    batch.select(col("id")).collect().map(_.getLong(0)).foreach { b =>
      val hasDup = histIds.exists(h =>
        cellOf(h) == cellOf(b) && cos(vecs(b), vecs(h)) > 0.3)
      assert(kept.contains(b) == !hasDup, s"batch id $b")
    }
    // the maintenance loop: append the survivors, re-probe the same
    // batch — every row is now a dup (of itself at cosine 1, or of a
    // stored near-dup), so the frontier is EMPTY
    VectorStore.append(spark, histDir,
      batch.join(kept.toSeq.toDF("id"), Seq("id"), "left_semi"))
    val again = VectorStore.frontier(VectorStore.load(spark, histDir),
      batch, threshold = 0.3)
    assert(again.count() == 0,
      "appended survivors must close the frontier for their own batch")
    // probing wider can only FIND MORE dups — survivors shrink
    val kept2 = VectorStore.frontier(st, batch, threshold = 0.3, nprobe = 2)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(kept2.subsetOf(kept))
  }

  test("foreachBatch semantic-dedup loop: frontier gates each batch " +
      "before it appends, so only genuinely novel vectors accumulate") {
    // the realistic maintenance composition: per micro-batch,
    // frontier-vs-store first, then append ONLY the survivors. Batch 2
    // carries exact re-keyed copies of batch 1 (cosine 1 dups) plus the
    // 150–300 rows; the loop's final store must equal seed ∪ the
    // one-shot frontier answer — copies never land
    import org.apache.spark.sql.streaming.Trigger
    val inDir = Files.createTempDirectory("graft_vfb_in").toString
    val seed = corpus.filter(col("id") < 150)
    val rest = corpus.filter(col("id") >= 150)
    writeOneFile(inDir, "a.parquet", seed)
    writeOneFile(inDir, "b.parquet", rest.unionByName(
      seed.select((col("id") + 1000L).as("id"), col("vec"))))
    val dir = Files.createTempDirectory("graft_vfb").toString + "/v"
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (VectorStore.storeExists(spark, dir)) {
          val novel = VectorStore.frontier(VectorStore.load(spark, dir),
            df, threshold = 0.3)
          VectorStore.append(spark, dir, novel, Some(id))
        } else VectorStore.save(df, cents, dir, Some(id))
        ()
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = VectorStore.load(spark, dir).cells
      .select("id").collect().map(_.getLong(0)).toSet
    // no re-keyed copy survives (each is a cosine-1 dup of history)
    assert(got.forall(_ < 1000L), s"copies leaked: ${got.filter(_ >= 1000L)}")
    // survivors equal the one-shot frontier of the same rows
    val oneShotDir = Files.createTempDirectory("graft_vfb_ref").toString
    VectorStore.save(seed, cents, oneShotDir)
    val want = VectorStore.frontier(VectorStore.load(spark, oneShotDir),
        rest, threshold = 0.3)
      .select("id").collect().map(_.getLong(0)).toSet ++
      seed.select("id").collect().map(_.getLong(0)).toSet
    assert(got == want)
  }

  test("rollback of a crashed append whose batchId ALIASES the creation " +
      "tag keeps the original corpus (seq-based recovery identity)") {
    import graft.ops.VectorOps
    // a fresh-checkpoint stream restarts at batch 0 — the same explicit
    // id the store was CREATED with. Tag-based rollback would filter
    // ingest_batch != 0 and silently delete the whole original corpus;
    // the store-unique ingest_seq must keep it.
    val cb = VectorOps.pqCodebook(corpus, m = 4, codes = 16, dim = 64)
    val dir = Files.createTempDirectory("graft_pq_alias").toString
    VectorStore.savePq(corpus.filter(col("id") < 120), cents, cb, dir,
      m = 4, dim = 64, batchId = Some(0L)) // creation rows tagged 0, seq 0
    VectorStore.appendPq(spark, dir, corpus.filter(col("id") >= 120 &&
      col("id") < 150), batchId = Some(1L)) // seq 1
    val good = VectorStore.loadPq(spark, dir).cells
      .select("id").collect().map(_.getLong(0)).toSet
    val preMf = graft.StoreUtil
      .readMarker(spark, dir, VectorStore.ManifestFile).get
    // new stream generation delivers ITS batch 0 (guard: Some(0) !=
    // last_batch Some(1), proceeds) and crashes mid-append: tag 0 —
    // aliasing the creation rows — seq 2, counter snapshot 1
    graft.StoreUtil.writeMarker(spark, dir, VectorStore.PendingFile,
      s"0:1\n$preMf")
    graft.StoreUtil.deleteMarker(spark, dir, VectorStore.ManifestFile)
    corpus.filter(col("id") >= 150 && col("id") < 160)
      .select(col("id"), VectorOps.toDouble(col("vec")).as("vec"),
        VectorOps.pqCodesCol(VectorOps.toDouble(col("vec")), cb, 4, 64)
          .as("codes"),
        lit(0L).as("ingest_batch"), lit(2L).as("ingest_seq"),
        lit("c0").as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
    val dest = Files.createTempDirectory("graft_pq_alias_rec").toString
    VectorStore.recoverAppendPq(spark, dir, dest)
    val kept = VectorStore.loadPq(spark, dest).cells
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == good,
      "creation rows sharing the crashed batch's tag must survive rollback")
  }

  test("a manual no-batchId append preserves the zombie guard (both " +
      "layouts)") {
    import graft.ops.VectorOps
    // stream appends batch 5, crashes before its checkpoint commits; an
    // operator runs a manual catch-up; the restarted stream re-delivers
    // batch 5 — which must STILL no-op
    val cb = VectorOps.pqCodebook(corpus, m = 4, codes = 16, dim = 64)
    val pq = Files.createTempDirectory("graft_pq_manual").toString
    VectorStore.savePq(corpus.filter(col("id") < 100), cents, cb, pq,
      m = 4, dim = 64, batchId = Some(0L))
    VectorStore.appendPq(spark, pq, corpus.filter(col("id") >= 100 &&
      col("id") < 150), batchId = Some(5L))
    VectorStore.appendPq(spark, pq,
      corpus.filter(col("id") >= 150 && col("id") < 180)) // manual
    val nPq = VectorStore.loadPq(spark, pq).cells.count()
    VectorStore.appendPq(spark, pq, corpus.filter(col("id") >= 100 &&
      col("id") < 150), batchId = Some(5L)) // the zombie
    assert(VectorStore.loadPq(spark, pq).cells.count() == nPq)

    val iv = Files.createTempDirectory("graft_ivf_manual").toString
    VectorStore.save(corpus.filter(col("id") < 100), cents, iv,
      batchId = Some(0L))
    VectorStore.append(spark, iv, corpus.filter(col("id") >= 100 &&
      col("id") < 150), batchId = Some(5L))
    VectorStore.append(spark, iv,
      corpus.filter(col("id") >= 150 && col("id") < 180)) // manual
    val nIv = VectorStore.load(spark, iv).cells.count()
    VectorStore.append(spark, iv, corpus.filter(col("id") >= 100 &&
      col("id") < 150), batchId = Some(5L)) // the zombie
    assert(VectorStore.load(spark, iv).cells.count() == nIv)
  }

  test("query fails fast past the bounded-collect cap") {
    val queries = corpus.filter(col("id") < 20) // 20 ids × nprobe 2 = 40 rows
    intercept[IllegalArgumentException] {
      VectorStore.query(store, queries, k = 5, nprobe = 2, maxQueryRows = 39)
    }
    // at the exact bound the query still serves
    assert(VectorStore.query(store, queries, k = 5, nprobe = 2,
      maxQueryRows = 40).collect().nonEmpty)
  }

  test("the compaction nudge trips after slack appends, resets on " +
      "compact, and the zombie guard survives compaction") {
    val dir = Files.createTempDirectory("graft_vstore_nc").toString
    VectorStore.save(corpus.filter(col("id") < 100), cents, dir, Some(0L))
    assert(!VectorStore.needsCompact(spark, dir, slack = 2),
      "a fresh save is compact by construction")
    VectorStore.append(spark, dir,
      corpus.filter(col("id") >= 100 && col("id") < 200), Some(1L))
    assert(!VectorStore.needsCompact(spark, dir, slack = 2))
    VectorStore.append(spark, dir, corpus.filter(col("id") >= 200),
      Some(2L))
    assert(VectorStore.needsCompact(spark, dir, slack = 2))
    val dest = Files.createTempDirectory("graft_vstore_ncd").toString
    VectorStore.compact(spark, dir, dest)
    assert(!VectorStore.needsCompact(spark, dest, slack = 2),
      "compact advances the watermark")
    // the zombie guard must SURVIVE compaction: re-delivering the last
    // micro-batch to the compacted store is a no-op, not a double-append
    val before = VectorStore.load(spark, dest).cells.count()
    VectorStore.append(spark, dest, corpus.filter(col("id") >= 200),
      Some(2L))
    assert(VectorStore.load(spark, dest).cells.count() == before,
      "a redelivered batch double-appended after compaction")
    // and compaction changed layout only: queries agree bit for bit
    val queries = corpus.filter(col("id") < 20)
    val a = VectorStore.query(VectorStore.load(spark, dest), queries,
      k = 5, nprobe = 2).collect().map(_.toSeq).toSet
    val b = VectorStore.query(store, queries, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }
}
