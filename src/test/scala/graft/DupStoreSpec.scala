package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{DupStore, TextOps}

/** The dup-hash store exists for ONE property: probing a new batch
  * against the persisted window-hash index must equal the one-shot
  * [[TextOps.duplicatedSpans]] over history∪batch restricted to batch
  * docs — while history is only ever scanned (batch broadcast), never
  * re-tokenized or shuffled. Both halves are asserted here, plus the
  * family durability protocol (zombie no-op, pending refusal, rollback,
  * merging compaction).
  */
class DupStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def corpus = Tables.documents(spark, sf)
    .filter(col("doc_id") < 200)
  private def hist = corpus.filter(col("doc_id") < 120)
  private def batch = corpus.filter(col("doc_id") >= 120)

  private def spanSet(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "span_start", "span_end").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  lazy val oneShotBatchSpans: Set[(Long, Long, Long)] = spanSet(
    TextOps.duplicatedSpans(corpus, "doc_id", "text", win = 4)
      .filter(col("doc_id") >= 120))

  test("two-snapshot fold + probe equals the one-shot spans restricted " +
      "to batch docs") {
    val dir = Files.createTempDirectory("graft_dup_fold").toString
    // interleaved split: duplicate partners straddle the snapshot
    // boundary, so the probe exercises the store path, not just
    // within-batch counting
    DupStore.ingestBatch(spark, dir, hist.filter(col("doc_id") % 2 === 0),
      "doc_id", "text")
    DupStore.ingestBatch(spark, dir, hist.filter(col("doc_id") % 2 === 1),
      "doc_id", "text")
    val st = DupStore.load(spark, dir)
    assert(spanSet(DupStore.probeSpans(st, batch, "doc_id", "text"))
      == oneShotBatchSpans)
    assert(oneShotBatchSpans.nonEmpty, "fixture degenerated: no dup spans")
    // the coverage view rides the same equality
    val gotStats = DupStore.probeStats(st, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val wantStats = TextOps.duplicationStatsFromSpans(batch, "doc_id",
        "text", TextOps.duplicatedSpans(corpus, "doc_id", "text", win = 4)
          .filter(col("doc_id") >= 120))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(gotStats == wantStats)
  }

  test("probeStrip equals the one-shot strip when history ids precede " +
      "batch ids — and diverges by contract when they don't") {
    import spark.implicits._
    val boiler = "shared boilerplate sentence repeated across snapshots ok"
    val h = Seq((1L, s"aa bb $boiler cc"), (2L, "plain old clean text here"))
      .toDF("doc_id", "text")
    val b = Seq((10L, s"xx $boiler yy zz"), (11L, "another clean document"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_dup_strip").toString
    DupStore.ingestBatch(spark, dir, h, "doc_id", "text")
    val st = DupStore.load(spark, dir)
    val got = DupStore.probeStrip(st, b, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(3))))
      .toMap
    val want = TextOps.stripDuplicatedSpans(h.unionByName(b), "doc_id",
        "text", win = 4)
      .filter(col("doc_id") >= 10L)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(3))))
      .toMap
    assert(got == want)
    // doc 10 lost the boiler (history holds the earlier copy), 11 intact
    assert(got(10L) == (("xx yy zz", 7L)))
    assert(got(11L)._2 == 0L)
    // contract boundary: ingest HIGH ids as history, probe LOW ids — the
    // one-shot protects the (low-id) batch site, the store protects
    // history, so the two answers must differ exactly there
    val dir2 = Files.createTempDirectory("graft_dup_strip2").toString
    DupStore.ingestBatch(spark, dir2, b, "doc_id", "text")
    val gotRev = DupStore.probeStrip(DupStore.load(spark, dir2), h,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(gotRev(1L) > 0L,
      "store must cut the batch copy even though its id is smaller")
  }

  test("probeStrip is unchanged by history that shares no window with " +
      "the batch — index growth changes cost, never answers") {
    val dir = Files.createTempDirectory("graft_dup_grow").toString
    DupStore.ingestBatch(spark, dir, hist, "doc_id", "text")
    def strip() = DupStore.probeStrip(DupStore.load(spark, dir), batch,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(3))))
      .toMap
    val before = strip()
    // filler docs whose tokens occur nowhere else
    val filler = spark.range(1000L, 1300L).toDF("doc_id")
      .withColumn("text", array_join(transform(sequence(lit(0), lit(39)),
        i => concat(lit("f"), col("doc_id"), lit("x"), i)), " "))
    DupStore.ingestBatch(spark, dir, filler, "doc_id", "text")
    assert(strip() == before)
    assert(before.values.exists(_._2 > 0L), "fixture degenerated: no cuts")
  }

  test("probe broadcasts the batch side — history is never shuffled") {
    val dir = Files.createTempDirectory("graft_dup_plan").toString
    DupStore.ingestBatch(spark, dir, hist, "doc_id", "text")
    val st = DupStore.load(spark, dir)
    val probe = DupStore.probeSpans(st, batch, "doc_id", "text")
    probe.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val joins = PlanWalk.collect(probe.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }
    val historyJoin = joins.filter(j =>
      PlanWalk.collect(j.left) { case f: FileSourceScanExec => f }
        .exists(_.relation.location.rootPaths.exists(
          _.toString.contains(dir))))
    assert(historyJoin.nonEmpty,
      "no broadcast join streams the stored hash files:\n" +
        probe.queryExecution.executedPlan.toString)
    assert(historyJoin.forall(_.buildSide.toString == "BuildRight"),
      probe.queryExecution.executedPlan.toString)
  }

  test("zombie re-delivery of the last batch is a complete no-op") {
    val dir = Files.createTempDirectory("graft_dup_zombie").toString
    DupStore.ingestBatch(spark, dir, hist.filter(col("doc_id") < 60),
      "doc_id", "text", batchId = Some(0L))
    DupStore.ingestBatch(spark, dir, hist.filter(col("doc_id") >= 60),
      "doc_id", "text", batchId = Some(1L))
    val before = DupStore.load(spark, dir).hashes.count()
    DupStore.ingestBatch(spark, dir, hist.filter(col("doc_id") >= 60),
      "doc_id", "text", batchId = Some(1L))
    assert(DupStore.load(spark, dir).hashes.count() == before)
  }

  test("window-length mismatch is refused on append; pending marker " +
      "refuses every reader until recovery rolls the partial batch out") {
    val dir = Files.createTempDirectory("graft_dup_crash").toString
    DupStore.ingestBatch(spark, dir, hist, "doc_id", "text",
      batchId = Some(0L))
    intercept[IllegalArgumentException] {
      DupStore.ingestBatch(spark, dir, batch, "doc_id", "text", win = 5)
    }
    val goodRows = DupStore.load(spark, dir).hashes.count()
    val goodSpans = spanSet(DupStore.probeSpans(DupStore.load(spark, dir),
      batch, "doc_id", "text"))
    // simulate a crash mid-ingest of batch 7 (marker down, some rows
    // appended with the crashed seq, manifest pre-batch)
    StoreUtil.writeMarker(spark, dir, DupStore.PendingFile, "7:1")
    spark.range(3).select(unhex(md5(col("id").cast("string"))).as("h"),
        lit(2L).as("n"),
        lit(7L).as("ingest_batch"), lit(2L).as("ingest_seq"))
      .write.mode("append").parquet(s"$dir/hashes")
    intercept[IllegalStateException](DupStore.load(spark, dir))
    intercept[IllegalStateException](DupStore.exists(spark, dir))
    intercept[IllegalStateException] {
      DupStore.ingestBatch(spark, dir, batch, "doc_id", "text")
    }
    val dest = Files.createTempDirectory("graft_dup_recovered").toString
    intercept[IllegalArgumentException](
      DupStore.recoverIngest(spark, dir, dir))
    DupStore.recoverIngest(spark, dir, dest)
    val st = DupStore.load(spark, dest)
    assert(st.hashes.count() == goodRows && st.win == 4)
    assert(spanSet(DupStore.probeSpans(st, batch, "doc_id", "text"))
      == goodSpans)
  }

  test("compact merges to one row per hash with probe answers unchanged") {
    val dir = Files.createTempDirectory("graft_dup_compact").toString
    // three batches guarantee repeated hashes ACROSS row-sets (the synth
    // corpus shares boilerplate), so the merge path is exercised
    DupStore.ingestBatch(spark, dir, hist.filter(col("doc_id") < 40),
      "doc_id", "text")
    DupStore.ingestBatch(spark, dir,
      hist.filter(col("doc_id") >= 40 && col("doc_id") < 80),
      "doc_id", "text")
    DupStore.ingestBatch(spark, dir, hist.filter(col("doc_id") >= 80),
      "doc_id", "text")
    val st = DupStore.load(spark, dir)
    val spansBefore = spanSet(DupStore.probeSpans(st, batch,
      "doc_id", "text"))
    val rowsBefore = st.hashes.count()
    val distinctH = st.hashes.select("h").distinct().count()
    assert(rowsBefore > distinctH,
      "fixture degenerated: no hash repeats across batches, merge unproven")
    val dest = Files.createTempDirectory("graft_dup_compacted").toString
    DupStore.compact(spark, dir, dest)
    val cst = DupStore.load(spark, dest)
    assert(cst.hashes.count() == distinctH)
    // as many files as the source has, under the cap of 32: a small
    // store's file set must not grow
    def files(p: String) = StoreUtil.dataFileNames(spark, s"$p/hashes").size
    assert(files(dest) == math.min(32, files(dir)),
      s"${files(dest)} != min(32, ${files(dir)})")
    assert(spanSet(DupStore.probeSpans(cst, batch, "doc_id", "text"))
      == spansBefore)
    // merged counts preserve the total occurrence mass
    val massBefore = st.hashes.agg(sum("n")).head().getLong(0)
    assert(cst.hashes.agg(sum("n")).head().getLong(0) == massBefore)
    // strip answers ride on hash existence only — unchanged across the
    // merge too
    assert(DupStore.probeStrip(cst, batch, "doc_id", "text")
      .agg(sum("n_removed")).head().getLong(0) ==
      DupStore.probeStrip(st, batch, "doc_id", "text")
        .agg(sum("n_removed")).head().getLong(0))
    // the maintenance nudge (family-shared watermark rule): 3 ingests
    // uncompacted trips slack 3; compaction resets; the next fold on
    // the compacted store carries — not erases — the watermark
    assert(DupStore.needsCompact(spark, dir, slack = 3))
    assert(!DupStore.needsCompact(spark, dir, slack = 4))
    assert(!DupStore.needsCompact(spark, dest, slack = 1))
    DupStore.ingestBatch(spark, dest, hist.filter(col("doc_id") < 40),
      "doc_id", "text", batchId = Some(9L))
    assert(DupStore.needsCompact(spark, dest, slack = 1))
    assert(!DupStore.needsCompact(spark, dest, slack = 2))
  }
}
