package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{LshStore, TextOps}

/** The LSH band store exists for ONE property: folding a corpus through
  * the persisted index batch by batch must surface exactly the candidate
  * pairs the one-shot banding finds — each exactly once — while the
  * history side is only ever probed, never re-shingled or shuffled. Both
  * halves are asserted here: pair-set equality on adversarial batch
  * splits, and the broadcast build side on the executed plan. The
  * durability protocol (zombie no-op, pending-marker refusal, rollback)
  * follows the sibling stores' suites.
  */
class LshStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def window = Tables.documents(spark, sf)
    .filter(col("doc_id") < 100)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val oneShot: Set[(Long, Long)] =
    pairSet(TextOps.minhashCandidates(window, "doc_id", "text"))

  test("three-batch interleaved fold reproduces the one-shot banding") {
    // doc_id % 3 split: near-dup groups (consecutive ids in the synth
    // data) straddle every batch boundary, so most pairs are CROSS-batch
    // — the store path, not the within-batch fallback
    val dir = Files.createTempDirectory("graft_lsh_fold").toString
    (0 until 3).foreach { m =>
      LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") % 3 === m),
        "doc_id", "text")
    }
    assert(pairSet(LshStore.pairLog(spark, dir)) == oneShot)
    assert(oneShot.nonEmpty, "fixture degenerated: no candidate pairs")
    // exactly once: the log has no duplicate pairs across batches
    val log = LshStore.pairLog(spark, dir)
    assert(log.count() == log.select("a", "b").distinct().count())
  }

  test("pairsWithin over the stored index equals the one-shot banding") {
    val dir = Files.createTempDirectory("graft_lsh_within").toString
    LshStore.ingestBatch(spark, dir, window, "doc_id", "text")
    assert(pairSet(LshStore.pairsWithin(LshStore.load(spark, dir))) == oneShot)
  }

  test("zombie re-delivery of the last batch is a complete no-op") {
    val dir = Files.createTempDirectory("graft_lsh_zombie").toString
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") < 50),
      "doc_id", "text", batchId = Some(0L))
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") >= 50),
      "doc_id", "text", batchId = Some(1L))
    val bandsBefore = LshStore.load(spark, dir).bands.count()
    val pairsBefore = LshStore.pairLog(spark, dir).count()
    // restart-replayed batch 1: same id, must change nothing
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") >= 50),
      "doc_id", "text", batchId = Some(1L))
    assert(LshStore.load(spark, dir).bands.count() == bandsBefore)
    assert(LshStore.pairLog(spark, dir).count() == pairsBefore)
    assert(pairSet(LshStore.pairLog(spark, dir)) == oneShot)
  }

  test("batch 0 arriving twice on a fresh store is also a no-op") {
    // the window VectorStore's round-7 fix closed: a crash right after
    // batch 0's save, replayed on restart, must not double the store
    val dir = Files.createTempDirectory("graft_lsh_b0").toString
    val b0 = window.filter(col("doc_id") < 50)
    LshStore.ingestBatch(spark, dir, b0, "doc_id", "text", batchId = Some(0L))
    val before = LshStore.load(spark, dir).bands.count()
    LshStore.ingestBatch(spark, dir, b0, "doc_id", "text", batchId = Some(0L))
    assert(LshStore.load(spark, dir).bands.count() == before)
  }

  test("signature-parameter mismatch is refused on append and probe") {
    val dir = Files.createTempDirectory("graft_lsh_params").toString
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") < 50),
      "doc_id", "text", k = 8, bands = 4)
    val e = intercept[IllegalArgumentException] {
      LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") >= 50),
        "doc_id", "text", k = 16, bands = 4)
    }
    assert(e.getMessage.contains("k=8"))
    // candidates() takes parameters from the manifest, so a probe cannot
    // mismatch by construction — the Loaded handle carries them
    val st = LshStore.load(spark, dir)
    assert(st.k == 8 && st.nBands == 4)
  }

  test("candidates broadcasts the batch side — history is never shuffled") {
    val dir = Files.createTempDirectory("graft_lsh_plan").toString
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") < 80),
      "doc_id", "text")
    val st = LshStore.load(spark, dir)
    val cand = LshStore.candidates(st,
      window.filter(col("doc_id") >= 80), "doc_id", "text")
    cand.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val joins = PlanWalk.collect(cand.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }
    // the HISTORY×batch join specifically — identified by its streamed
    // (left) side scanning the store's bands files — must broadcast the
    // BATCH side. The within-batch self-join is also a broadcast join
    // with the same key count, so matching on keys alone would pass
    // vacuously with the history hint removed; anchoring on the store
    // scan makes a history-shuffle regression actually fail here.
    val historyJoin = joins.filter(j =>
      PlanWalk.collect(j.left) { case f: FileSourceScanExec => f }
        .exists(_.relation.location.rootPaths.exists(
          _.toString.contains(dir))))
    assert(historyJoin.nonEmpty,
      "no broadcast join streams the stored band files:\n" +
        cand.queryExecution.executedPlan.toString)
    assert(historyJoin.forall(_.buildSide.toString == "BuildRight"),
      cand.queryExecution.executedPlan.toString)
    // and the answer is the one-shot banding restricted to the pairs
    // that touch the batch (history-internal pairs are already logged)
    assert(pairSet(cand) ==
      oneShot.filter { case (a, b) => a >= 80 || b >= 80 })
  }

  test("pending marker refuses every reader until recovery, which rolls " +
      "the partial batch out") {
    val dir = Files.createTempDirectory("graft_lsh_crash").toString
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") < 50),
      "doc_id", "text", batchId = Some(0L))
    val goodPairs = pairSet(LshStore.pairLog(spark, dir))
    val goodBands = LshStore.load(spark, dir).bands.count()
    // simulate a crash mid-ingest of batch 7: pending marker down (bid 7,
    // started when the counter was 1), pair log partially appended, band
    // append never ran, manifest pre-batch
    StoreUtil.writeMarker(spark, dir, LshStore.PendingFile, "7:1")
    spark.range(3).select(lit(9990L).as("a"), (col("id") + 9991L).as("b"),
        lit(7L).as("ingest_batch"), lit(2L).as("ingest_seq"))
      .write.mode("append").parquet(s"$dir/pairs")
    intercept[IllegalStateException](LshStore.load(spark, dir))
    intercept[IllegalStateException](LshStore.exists(spark, dir))
    intercept[IllegalStateException](LshStore.pairLog(spark, dir))
    intercept[IllegalStateException] {
      LshStore.ingestBatch(spark, dir, window, "doc_id", "text")
    }
    val dest = Files.createTempDirectory("graft_lsh_recovered").toString
    intercept[IllegalArgumentException](
      LshStore.recoverIngest(spark, dir, dir))
    LshStore.recoverIngest(spark, dir, dest)
    assert(pairSet(LshStore.pairLog(spark, dest)) == goodPairs)
    val st = LshStore.load(spark, dest)
    assert(st.bands.count() == goodBands && st.k == 8)
  }

  test("crash after completion (marker delete lost) recovers losslessly") {
    val dir = Files.createTempDirectory("graft_lsh_done").toString
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") < 50),
      "doc_id", "text", batchId = Some(0L))
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") >= 50),
      "doc_id", "text", batchId = Some(1L))
    val full = pairSet(LshStore.pairLog(spark, dir))
    // batch 1 finished (the manifest's counter moved past the marker's
    // start snapshot) but the marker delete was lost: recovery must
    // detect completion and keep batch 1's rows
    StoreUtil.writeMarker(spark, dir, LshStore.PendingFile, "1:1")
    val dest = Files.createTempDirectory("graft_lsh_done_rec").toString
    LshStore.recoverIngest(spark, dir, dest)
    assert(pairSet(LshStore.pairLog(spark, dest)) == full)
    // and the restored manifest still no-ops a batch-1 zombie
    LshStore.ingestBatch(spark, dest, window.filter(col("doc_id") >= 50),
      "doc_id", "text", batchId = Some(1L))
    assert(pairSet(LshStore.pairLog(spark, dest)) == full)
  }

  test("bands without a manifest (first ingest crashed) is refused as " +
      "broken, not treated as absent") {
    val dir = Files.createTempDirectory("graft_lsh_broken").toString
    spark.range(2).select(col("id"), lit(0).as("band"),
        lit("xx").as("band_key"), lit(0L).as("ingest_batch"))
      .write.parquet(s"$dir/bands")
    val e = intercept[IllegalStateException](LshStore.exists(spark, dir))
    assert(e.getMessage.contains("no " + LshStore.ManifestFile))
  }

  test("a manual no-batchId ingest preserves the zombie guard") {
    // the crash-window interleaving the guard must survive: a stream
    // completes batch 5, crashes before its checkpoint commits, an
    // operator runs a manual catch-up ingest while the stream is down,
    // and the restarted stream re-delivers batch 5 — which must STILL
    // no-op, i.e. the manual ingest must not have erased last_batch
    val dir = Files.createTempDirectory("graft_lsh_manual").toString
    val b5 = window.filter(col("doc_id") < 40)
    LshStore.ingestBatch(spark, dir, b5, "doc_id", "text",
      batchId = Some(5L))
    LshStore.ingestBatch(spark, dir,
      window.filter(col("doc_id") >= 40 && col("doc_id") < 70),
      "doc_id", "text") // manual: no batchId
    val bandsBefore = LshStore.load(spark, dir).bands.count()
    val pairsBefore = LshStore.pairLog(spark, dir).count()
    LshStore.ingestBatch(spark, dir, b5, "doc_id", "text",
      batchId = Some(5L)) // the zombie
    assert(LshStore.load(spark, dir).bands.count() == bandsBefore)
    assert(LshStore.pairLog(spark, dir).count() == pairsBefore)
  }

  test("completed DEFAULT-tag ingest is recognized by recovery and kept") {
    // default-tag ingests never write last_batch, so completion must be
    // witnessed by the ingest counter moving past the marker's start
    // snapshot — otherwise a crash after the manifest rewrite would
    // roll a COMPLETED batch out
    val dir = Files.createTempDirectory("graft_lsh_defdone").toString
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") < 50),
      "doc_id", "text") // bid 0, ingests → 1
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") >= 50),
      "doc_id", "text") // bid 1, ingests → 2, completed
    val full = pairSet(LshStore.pairLog(spark, dir))
    // lost marker delete: bid 1 started when the counter was 1
    StoreUtil.writeMarker(spark, dir, LshStore.PendingFile, "1:1")
    val dest = Files.createTempDirectory("graft_lsh_defdone_rec").toString
    LshStore.recoverIngest(spark, dir, dest)
    assert(pairSet(LshStore.pairLog(spark, dest)) == full)
    assert(pairSet(LshStore.pairLog(spark, dest)) == oneShot)
  }

  test("manual-then-explicit tag collision: recovery rolls out ONLY the " +
      "crashed stream batch, never the completed manual one") {
    // 0-based stream ids and the ingest counter track in lockstep, so a
    // manual catch-up ingest tagged with the RAW counter would share its
    // tag with the NEXT stream batch; default tags are negative
    // (-(ingests+1)) precisely so this interleaving cannot alias
    val dir = Files.createTempDirectory("graft_lsh_collide").toString
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") < 40),
      "doc_id", "text", batchId = Some(0L)) // stream batch 0, ingests → 1
    LshStore.ingestBatch(spark, dir,
      window.filter(col("doc_id") >= 40 && col("doc_id") < 70),
      "doc_id", "text") // manual catch-up — tag must NOT be 1
    val goodPairs = pairSet(LshStore.pairLog(spark, dir))
    val goodBands = LshStore.load(spark, dir).bands.count()
    assert(goodBands > 0)
    // the restarted stream's batch 1 crashes mid-append: marker down
    // (bid 1, counter snapshot 2), partial pair rows tagged 1
    StoreUtil.writeMarker(spark, dir, LshStore.PendingFile, "1:2")
    spark.range(3).select(lit(9990L).as("a"), (col("id") + 9991L).as("b"),
        lit(1L).as("ingest_batch"), lit(3L).as("ingest_seq"))
      .write.mode("append").parquet(s"$dir/pairs")
    val dest = Files.createTempDirectory("graft_lsh_collide_rec").toString
    LshStore.recoverIngest(spark, dir, dest)
    // the crashed batch's rows are gone, the manual batch's are intact
    assert(pairSet(LshStore.pairLog(spark, dest)) == goodPairs)
    assert(LshStore.load(spark, dest).bands.count() == goodBands)
  }

  test("crashed batch whose explicit id ALIASES an older ingest's tag " +
      "rolls out ONLY its own rows (seq-based recovery identity)") {
    // a fresh-checkpoint stream restarts at batch 0 — the same explicit
    // id an OLDER generation already ingested under. The zombie guard
    // only remembers the LATEST batch, so the new batch 0 proceeds; if
    // it crashes, tag-based rollback (ingest_batch != 0) would delete
    // the completed old batch-0 rows too. ingest_seq is store-unique,
    // so only the crashed ingest's rows go.
    val dir = Files.createTempDirectory("graft_lsh_alias").toString
    LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") < 40),
      "doc_id", "text", batchId = Some(0L)) // gen-1 batch 0, seq 1
    LshStore.ingestBatch(spark, dir,
      window.filter(col("doc_id") >= 40 && col("doc_id") < 70),
      "doc_id", "text", batchId = Some(1L)) // gen-1 batch 1, seq 2
    val goodPairs = pairSet(LshStore.pairLog(spark, dir))
    val goodBands = LshStore.load(spark, dir).bands.count()
    // gen-2 batch 0 crashes mid-append: marker (bid 0, snapshot 2),
    // partial rows tagged batch 0 / seq 3
    StoreUtil.writeMarker(spark, dir, LshStore.PendingFile, "0:2")
    spark.range(3).select(lit(9990L).as("a"), (col("id") + 9991L).as("b"),
        lit(0L).as("ingest_batch"), lit(3L).as("ingest_seq"))
      .write.mode("append").parquet(s"$dir/pairs")
    val dest = Files.createTempDirectory("graft_lsh_alias_rec").toString
    LshStore.recoverIngest(spark, dir, dest)
    assert(pairSet(LshStore.pairLog(spark, dest)) == goodPairs,
      "gen-1 batch-0 rows sharing the crashed batch's tag must survive")
    assert(LshStore.load(spark, dest).bands.count() == goodBands)
  }

  test("compact rewrites an ingest-grown store losslessly") {
    val dir = Files.createTempDirectory("graft_lsh_cp").toString
    (0 until 3).foreach { m =>
      LshStore.ingestBatch(spark, dir, window.filter(col("doc_id") % 3 === m),
        "doc_id", "text", batchId = Some(m.toLong))
    }
    val dest = Files.createTempDirectory("graft_lsh_cp_out").toString
    intercept[IllegalArgumentException](LshStore.compact(spark, dir, dir))
    LshStore.compact(spark, dir, dest)
    assert(pairSet(LshStore.pairLog(spark, dest)) ==
      pairSet(LshStore.pairLog(spark, dir)))
    def bandSet(p: String) = LshStore.load(spark, p).bands
      .collect().map(_.toSeq).toSet
    assert(bandSet(dest) == bandSet(dir))
    // the zombie guard survives the manifest copy: re-delivering the
    // last ingested batch to the COMPACTED store is still a no-op
    val before = LshStore.load(spark, dest).bands.count()
    LshStore.ingestBatch(spark, dest, window.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", batchId = Some(2L))
    assert(LshStore.load(spark, dest).bands.count() == before)
    // and the file count actually shrank
    def files(p: String) = new java.io.File(s"$p/bands").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(dest) < files(dir),
      s"compacted ${files(dest)} vs grown ${files(dir)}")
    // the maintenance nudge (family-shared watermark rule): 3 ingests
    // uncompacted trips slack 3; the compacted store resets; a fresh
    // ingest on top carries — not erases — the watermark
    assert(LshStore.needsCompact(spark, dir, slack = 3))
    assert(!LshStore.needsCompact(spark, dir, slack = 4))
    assert(!LshStore.needsCompact(spark, dest, slack = 1))
    LshStore.ingestBatch(spark, dest, window.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", batchId = Some(7L))
    assert(LshStore.needsCompact(spark, dest, slack = 1))
    assert(!LshStore.needsCompact(spark, dest, slack = 2))
  }

  test("gate dd_lsh_store equals gate dd_minhash_lsh bit for bit") {
    val a = pairSet(graft.queries.TrainingQueries.ddLshStore(spark, sf))
    val b = pairSet(graft.queries.TrainingQueries.ddMinhashLsh(spark, sf))
    assert(a == b && a.nonEmpty)
  }
}
