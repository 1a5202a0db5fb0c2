package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.IntLog
import graft.ops.LmOps

class LmSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Driver-side reference of the integer log — the exact definition,
    * independently coded (bit ops, not the column expression).
    */
  private def refLnMicro(x: Long): Long = {
    require(x >= 1)
    val m = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val top = if (m >= 8) x >> (m - 8) else x << (8 - m)
    m.toLong * IntLog.Ln2Micro + IntLog.lnTab((top - 256).toInt)
  }

  test("integer log: column expression equals the bit-ops reference and " +
      "stays within 0.004 nats of real ln, monotone") {
    import spark.implicits._
    val probes = (Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 9L, 255L, 256L, 257L,
      511L, 512L, 513L, 1000L, 65535L, 65536L, 1000000L,
      (1L << 40) - 1, 1L << 40, (1L << 40) + 1, (1L << 55) - 1, 1L << 55)
      ++ (1 to 200).map(i => math.abs(scala.util.hashing.MurmurHash3
        .stringHash(s"x$i").toLong) % ((1L << 50) - 1) + 1)).distinct
    val got = probes.toDF("x")
      .select(col("x"), IntLog.lnMicroCol(col("x")).as("ln"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probes.foreach { x =>
      assert(got(x) == refLnMicro(x), s"x=$x")
      val err = math.abs(got(x) / 1e6 - math.log(x.toDouble))
      assert(err < 0.004, s"x=$x err=$err")
    }
    // monotone non-decreasing (cost differences of nested counts must
    // never go negative)
    probes.sorted.sliding(2).foreach {
      case Seq(a, b) => assert(refLnMicro(a) <= refLnMicro(b), s"$a,$b")
      case _ =>
    }
  }

  test("trained bigram LM: seen bigrams cheap, backoff pricier, OOV " +
      "priciest; costs replay by hand on a planted corpus") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick fox jumps the quick fox sleeps"),
      (2L, "the quick fox jumps again")).toDF("doc_id", "text")
    val uni = LmOps.trainUnigram(train, "text")
    val bi = LmOps.trainBigram(train, "text")
    val uc = uni.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 13 training tokens; "the quick" occurs 3x, "the"=3, "quick"=3
    assert(uc("the") == 3L && uc("quick") == 3L && uc.values.sum == 13L)
    val score = Seq(
      (10L, "the quick"), // uni(the) + seen bigram
      (11L, "quick sleeps"), // uni(quick) + backoff (pair unseen)
      (12L, "zz yy")) // OOV everywhere
      .toDF("doc_id", "text")
    val got = LmOps.scoreBigram(score, "doc_id", "text", uni, bi)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    def ln(x: Long) = refLnMicro(x)
    val n = 13L
    assert(got(10L) == (ln(n) - ln(3)) + (ln(3) - ln(3)))
    assert(got(11L) ==
      (ln(n) - ln(3)) + (LmOps.BackoffMicro + ln(n) - ln(1 /*sleeps*/)))
    assert(got(12L) ==
      (ln(n) - ln(1)) + (LmOps.BackoffMicro + ln(n) - ln(1)))
    // the intended ordering: fluent < disfluent < gibberish (per token)
    assert(got(10L) < got(11L) && got(11L) < got(12L))
  }

  test("trained trigram LM: every backoff-chain branch replays by hand; " +
      "broadcast fast path is bit-identical to the default") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick fox jumps the quick fox sleeps"),
      (2L, "the quick fox jumps again")).toDF("doc_id", "text")
    val uni = LmOps.trainUnigram(train, "text")
    val bi = LmOps.trainBigram(train, "text")
    val tri = LmOps.trainTrigram(train, "text")
    val score = Seq(
      (10L, "the quick fox"), // uni + seen bigram + SEEN trigram
      (11L, "quick fox again"), // trigram unseen, (fox again) unseen →
      // double backoff to uni(again)
      (12L, "sleeps the quick"), // trigram (sleeps,the,quick) unseen,
      // bigram (the,quick) seen → single backoff
      (13L, "zz yy xx")) // OOV at every order
      .toDF("doc_id", "text")
    def run(bcast: Boolean) =
      LmOps.scoreTrigram(score, "doc_id", "text", uni, bi, tri, bcast)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = run(bcast = false)
    assert(got == run(bcast = true), "broadcast path diverged")
    def ln(x: Long) = refLnMicro(x)
    val n = 13L
    val bk = LmOps.BackoffMicro
    // c(the quick)=3, c(the quick fox)=3, c(quick fox)=3
    assert(got(10L) == (ln(n) - ln(3)) + (ln(3) - ln(3)) + (ln(3) - ln(3)))
    // p2 of doc 11: (quick, fox, again) unseen; (fox, again) unseen →
    // 2·backoff + uni(again)=1
    assert(got(11L) == (ln(n) - ln(3)) + (ln(3) - ln(3)) +
      (2 * bk + ln(n) - ln(1)))
    // p2 of doc 12: trigram unseen, bigram (the, quick) seen c=3,
    // c(the)=3 → backoff + ln 3 − ln 3; p1 (sleeps, the) unseen →
    // backoff + uni(the)
    assert(got(12L) == (ln(n) - ln(1 /*sleeps*/)) +
      (bk + ln(n) - ln(3)) + (bk + ln(3) - ln(3)))
    // OOV: p0 uni(1); p1 backoff+uni(1); p2 double-backoff+uni(1)
    assert(got(13L) == (ln(n) - ln(1)) + (bk + ln(n) - ln(1)) +
      (2 * bk + ln(n) - ln(1)))
    assert(got(10L) < got(12L) && got(12L) < got(13L))
  }

  test("LM store: batch folds equal the one-shot model, zombies no-op, " +
      "crashes refuse and roll back, compact preserves the counts") {
    import graft.ops.LmStore
    val docs = Tables.documents(spark, sf)
    def countsMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq.init.mkString("\u0000") ->
        r.getLong(r.length - 1)).toMap
    val oneUni = countsMap(LmOps.trainUnigram(docs, "text"))
    val oneTri = countsMap(LmOps.trainTrigram(docs, "text"))
    // fold in three UNEVEN batches — additivity must not care
    val dir = java.nio.file.Files.createTempDirectory("graft_lm").toString + "/lm"
    LmStore.ingestBatch(spark, dir, docs.filter(col("doc_id") % 3 === 0),
      "text", Some(0L))
    LmStore.ingestBatch(spark, dir, docs.filter(col("doc_id") % 3 === 1),
      "text", Some(1L))
    LmStore.ingestBatch(spark, dir, docs.filter(col("doc_id") % 3 === 2),
      "text", Some(2L))
    val st = LmStore.load(spark, dir)
    assert(countsMap(st.uni) == oneUni && countsMap(st.tri) == oneTri)
    // zombie re-delivery of the last batch: manifest-guarded no-op
    LmStore.ingestBatch(spark, dir, docs.filter(col("doc_id") % 3 === 2),
      "text", Some(2L))
    assert(countsMap(LmStore.load(spark, dir).uni) == oneUni)
    // a pending marker (crashed mid-ingest) refuses load/ingest and
    // recoverIngest rolls the tagged rows out into a clean twin
    graft.StoreUtil.writeMarker(spark, dir, LmStore.PendingFile, "7:3")
    intercept[IllegalStateException] { LmStore.load(spark, dir) }
    // plant rows that pretend to be the crashed batch (seq 4, tag 7)
    spark.range(1).select(lit("zzz_crashed").as("w"), lit(9L).as("c"),
        lit(7L).as("ingest_batch"), lit(4L).as("ingest_seq"))
      .write.mode("append").parquet(s"$dir/uni")
    val rec = java.nio.file.Files.createTempDirectory("graft_lmr").toString + "/lm"
    LmStore.recoverIngest(spark, dir, rec)
    assert(countsMap(LmStore.load(spark, rec).uni) == oneUni,
      "rollback must remove exactly the crashed batch's rows")
    // compact merges to one row per n-gram with identical aggregates
    val cd = java.nio.file.Files.createTempDirectory("graft_lmc").toString + "/lm"
    LmStore.compact(spark, rec, cd)
    val cst = LmStore.load(spark, cd)
    assert(countsMap(cst.uni) == oneUni && countsMap(cst.tri) == oneTri)
    assert(spark.read.parquet(s"$cd/uni").count() == oneUni.size)
  }

  test("LM drift action: folding the drifted batch into the store " +
      "lowers its surprisal, bit-equal to a one-shot retrain") {
    // the lm_drift meter's ACTION is the LM family's own additivity:
    // counts fold, so ingesting the drifted batch IS the adaptation
    // step. Two claims, each independent of the other: (1) direction —
    // a vocabulary-disjoint batch pays the full backoff chain before
    // the fold and must cost strictly less after its n-grams are seen;
    // (2) exactness — the adapted store scores bit-identically to a
    // model trained ONE-SHOT on train+batch via LmOps.train* (the
    // trainers, not the store — so the fold is checked against an
    // independent construction, not against itself)
    import graft.ops.LmStore
    import spark.implicits._
    val train = Seq((0L, "alpha beta gamma delta"),
      (1L, "beta gamma alpha beta")).toDF("doc_id", "text")
    // omega/sigma/tau never occur in train — disjoint by construction
    val batch = Seq((10L, "omega sigma tau omega sigma"),
      (11L, "sigma tau omega tau")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lmd")
      .toString + "/lm"
    LmStore.ingestBatch(spark, dir, train, "text", Some(0L))
    def cost(uni: org.apache.spark.sql.DataFrame,
        bi: org.apache.spark.sql.DataFrame,
        tri: org.apache.spark.sql.DataFrame): Long =
      LmOps.scoreTrigram(batch, "doc_id", "text", uni, bi, tri,
          broadcastCounts = true)
        .agg(sum(col("cost_micronats"))).head.getLong(0)
    val st0 = LmStore.load(spark, dir)
    val before = cost(st0.uni, st0.bi, st0.tri)
    LmStore.ingestBatch(spark, dir, batch, "text", Some(1L))
    val st1 = LmStore.load(spark, dir)
    val after = cost(st1.uni, st1.bi, st1.tri)
    assert(after < before,
      s"adapting to the batch must lower its surprisal ($before -> $after)")
    val both = train.unionByName(batch)
    val oneShot = cost(LmOps.trainUnigram(both, "text"),
      LmOps.trainBigram(both, "text"), LmOps.trainTrigram(both, "text"))
    assert(after == oneShot,
      "the folded store must score bit-identically to a one-shot retrain")
  }

  test("LM store: needsCompact nudges after slack ingests and resets at " +
      "the compaction watermark") {
    import graft.ops.LmStore
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_lmn")
      .toString + "/lm"
    (0 until 3).foreach { m =>
      LmStore.ingestBatch(spark, dir, docs.filter(col("doc_id") % 3 === m),
        "text", Some(m.toLong))
    }
    // 3 ingests, never compacted: due at slack 3, not yet at slack 4
    assert(LmStore.needsCompact(spark, dir, slack = 3))
    assert(!LmStore.needsCompact(spark, dir, slack = 4))
    // compact advances the watermark: nothing due until slack MORE
    // batches fold on top of the compacted store
    val cd = java.nio.file.Files.createTempDirectory("graft_lmnc")
      .toString + "/lm"
    LmStore.compact(spark, dir, cd)
    assert(!LmStore.needsCompact(spark, cd, slack = 1))
    // a compaction writes as many files as the source table has (under
    // the cap): compacting this small store must not grow its file sets
    Seq("uni", "bi", "tri").foreach { t =>
      def files(p: String) =
        graft.StoreUtil.dataFileNames(spark, s"$p/$t").size
      assert(files(cd) == files(dir), s"$t: ${files(cd)} != ${files(dir)}")
    }
    // the watermark survives further folds and re-triggers at slack
    LmStore.ingestBatch(spark, cd, docs.filter(col("doc_id") % 3 === 0),
      "text", Some(3L))
    assert(LmStore.needsCompact(spark, cd, slack = 1))
    assert(!LmStore.needsCompact(spark, cd, slack = 2))
    // and the zombie guard still carries through the compacted manifest
    val before = spark.read.parquet(s"$cd/uni").count()
    LmStore.ingestBatch(spark, cd, docs.filter(col("doc_id") % 3 === 0),
      "text", Some(3L))
    assert(spark.read.parquet(s"$cd/uni").count() == before)
  }

  test("LM store: compaction caps each table's file count at 8") {
    import graft.ops.LmStore
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_lmcap")
      .toString + "/lm"
    LmStore.ingestBatch(spark, dir, docs, "text", Some(0L))
    def files(p: String, t: String) =
      graft.StoreUtil.dataFileNames(spark, s"$p/$t").size
    // spread the source's uni rows over 12 files, rows unchanged
    val spread = s"$dir/uni_spread"
    spark.read.parquet(s"$dir/uni").repartition(12)
      .write.parquet(spread)
    graft.StoreUtil.deleteDir(spark, s"$dir/uni")
    java.nio.file.Files.move(java.nio.file.Paths.get(spread),
      java.nio.file.Paths.get(s"$dir/uni"))
    assert(files(dir, "uni") == 12)
    val cd = java.nio.file.Files.createTempDirectory("graft_lmcapc")
      .toString + "/lm"
    LmStore.compact(spark, dir, cd)
    assert(files(cd, "uni") == 8)
    Seq("bi", "tri").foreach(t =>
      assert(files(cd, t) == math.min(8, files(dir, t)), t))
    def counts(p: String) = spark.read.parquet(s"$p/uni")
      .groupBy("w").agg(sum("c").as("c")).collect().toSet
    assert(counts(cd) == counts(dir))
  }
}
