package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{DupStore, GraphStore, LmStore, LshStore, VectorOps,
  VectorStore}
import graft.tree.{TreeIngest, TreeStore}

/** The crash matrix for the six pending-marker stores: every store is
  * crashed after EACH step of its append and of its compaction (through
  * [[StoreCommit.stepHook]]), and the state the crash leaves must be one
  * of the protocol's outcomes — every reader refuses with
  * IllegalStateException and recovery yields the store built without the
  * batch (or, once the manifest had landed, with it); a crashed compaction
  * leaves the source serving and a destination that refuses. Plus the
  * marker-parsing and mixed-schema rollback cases the stores share.
  */
class StoreCommitSpec extends AnyFunSuite {
  import SparkTestSession._
  import GaviaFixture.fx

  private final class Crash(step: String)
      extends RuntimeException(s"crash after $step")

  /** Run `body` with the step hook armed to throw after the `n`-th step
    * (0-based) on this thread; returns every step name seen.
    */
  private def withCrashAt(n: Int)(body: => Unit): Seq[String] = {
    val me = Thread.currentThread()
    val seen = Seq.newBuilder[String]
    var i = 0
    StoreCommit.stepHook = s =>
      if (Thread.currentThread() eq me) {
        seen += s
        i += 1
        if (i - 1 == n) throw new Crash(s)
      }
    try body
    finally StoreCommit.stepHook = _ => ()
    seen.result()
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_commit_$tag").toString + "/s"

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p: Path =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally walk.close()
  }

  /** One store under the matrix. `state` is what "equal stores" means:
    * every table's rows plus the manifest without its `compacted_at`
    * (recovery may rewrite a store compactly and advance the watermark).
    */
  private case class Subject(name: String, manifestFile: String,
      pendingFile: String, tables: Seq[String],
      build: String => Unit, append: String => Unit,
      recover: (String, String) => Unit, compact: (String, String) => Unit,
      readers: Seq[String => Any], exists: Option[String => Boolean],
      keepsCompleted: Boolean, truncated: String => String)

  // binary columns (the dup store's md5 keys) compare by content
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.schema.fields.sortBy(_.name).map { f =>
        if (f.dataType == org.apache.spark.sql.types.BinaryType) hex(col(f.name))
        else col(f.name)
      }.toIndexedSeq: _*)
      .collect().map(_.toString).toSeq.sorted

  private def state(s: Subject, dir: String): (Seq[Seq[String]], String) =
    (s.tables.map(t => rows(spark.read.option("mergeSchema", "true")
        .parquet(s"$dir/$t"))),
      StoreUtil.readMarker(spark, dir, s.manifestFile).get
        .replaceAll(",?\"compacted_at\":\\d+", ""))

  private lazy val docs = Tables.documents(spark, sf)
    .filter(col("doc_id") < 40)
  private lazy val corpus = Tables.embeddings(spark, sf)
    .filter(col("vec_id") < 80)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val cents = Tables.embeddings(spark, sf)
    .filter(col("vec_id") < 4)
    .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
  private lazy val codebook = VectorOps.pqCodebook(corpus, m = 4, codes = 8,
    dim = 64).localCheckpoint()
  private lazy val gavia = TreeIngest.ingest(spark,
    s"$fx/gavia.tre", s"$fx/gavia_annotations.json", s"$fx/gavia_taxonomy.tsv",
    treeId = "opentree4.1")

  private def lsh = Subject("lsh", LshStore.ManifestFile, LshStore.PendingFile,
    Seq("pairs", "bands"),
    d => LshStore.ingestBatch(spark, d, docs.filter(col("doc_id") < 20),
      "doc_id", "text", batchId = Some(0L)),
    d => LshStore.ingestBatch(spark, d, docs.filter(col("doc_id") >= 20),
      "doc_id", "text", batchId = Some(1L)),
    LshStore.recoverIngest(spark, _, _), LshStore.compact(spark, _, _),
    Seq(LshStore.load(spark, _), LshStore.needsCompact(spark, _)),
    Some(LshStore.exists(spark, _)), keepsCompleted = true, _ => "7:")

  private def dup = Subject("dup", DupStore.ManifestFile, DupStore.PendingFile,
    Seq("hashes"),
    d => DupStore.ingestBatch(spark, d, docs.filter(col("doc_id") < 20),
      "doc_id", "text", batchId = Some(0L)),
    d => DupStore.ingestBatch(spark, d, docs.filter(col("doc_id") >= 20),
      "doc_id", "text", batchId = Some(1L)),
    DupStore.recoverIngest(spark, _, _), DupStore.compact(spark, _, _),
    Seq(DupStore.load(spark, _), DupStore.needsCompact(spark, _)),
    Some(DupStore.exists(spark, _)), keepsCompleted = true, _ => "-2")

  private def lm = Subject("lm", LmStore.ManifestFile, LmStore.PendingFile,
    Seq("uni", "bi", "tri"),
    d => LmStore.ingestBatch(spark, d, docs.filter(col("doc_id") < 20),
      "text", Some(0L)),
    d => LmStore.ingestBatch(spark, d, docs.filter(col("doc_id") >= 20),
      "text", Some(1L)),
    LmStore.recoverIngest(spark, _, _), LmStore.compact(spark, _, _),
    Seq(LmStore.load(spark, _), LmStore.needsCompact(spark, _)),
    Some(LmStore.exists(spark, _)), keepsCompleted = true, _ => "1:x")

  private def graph = {
    import spark.implicits._
    val e1 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val e2 = Seq((2L, 4L), (4L, 1L)).toDF("src", "dst")
    Subject("graph", GraphStore.ManifestFile, GraphStore.PendingFile,
      Seq("edges", "degrees", "nodes"),
      d => GraphStore.save(spark, e1, d, buckets = 2, batchId = Some(0L)),
      d => GraphStore.append(spark, d, e2, Some(1L)),
      GraphStore.recoverAppend(spark, _, _), GraphStore.compact(spark, _, _),
      Seq(GraphStore.load(spark, _), GraphStore.needsCompact(spark, _)),
      Some(GraphStore.storeExists(spark, _)), keepsCompleted = true,
      d => StoreUtil.readMarker(spark, d, GraphStore.ManifestFile).get
        .take(20))
  }

  private def vectorPq = Subject("vector-pq", VectorStore.ManifestFile,
    VectorStore.PendingFile, Seq("cells", "centroids", "codebook"),
    d => VectorStore.savePq(corpus.filter(col("id") < 50), cents, codebook,
      d, m = 4, dim = 64, batchId = Some(0L)),
    d => VectorStore.appendPq(spark, d, corpus.filter(col("id") >= 50),
      Some(1L)),
    VectorStore.recoverAppendPq(spark, _, _), VectorStore.compact(spark, _, _),
    Seq(VectorStore.load(spark, _), VectorStore.loadPq(spark, _),
      VectorStore.needsCompact(spark, _)),
    Some(VectorStore.storeExists(spark, _)), keepsCompleted = true,
    d => "1:0\n" + StoreUtil.readMarker(spark, d, VectorStore.ManifestFile)
      .get.take(20))

  private def tree = Subject("tree", TreeStore.ManifestFile,
    TreeStore.PendingFile, Seq("nodes", "edges", "tree_meta", "source_map"),
    d => TreeStore.save(gavia, d, buckets = 2),
    d => TreeStore.appendTree(spark, d, TreeIngest.TreeSource(
      s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
      s"$fx/gavia_taxonomy.tsv", "opentree5.0")),
    TreeStore.recoverAppend(spark, _, _), TreeStore.compact(spark, _, _, 0),
    Seq(TreeStore.load(spark, _, false), TreeStore.needsCompact(spark, _)),
    None, keepsCompleted = true, _ => "opentree5.0\u001f")

  private def subjects = Seq(tree, graph, vectorPq, lsh, dup, lm)

  private def refuses(s: Subject, dir: String): Unit = {
    s.readers.foreach(r => intercept[IllegalStateException](r(dir)))
    s.exists.foreach(e => intercept[IllegalStateException](e(dir)))
  }

  Seq("tree", "graph", "vector-pq", "lsh", "dup", "lm").foreach { name =>
    test(s"crash matrix: $name append and compact, after every step") {
      val s = subjects.find(_.name == name).get
      val template = tmp(s"${s.name}_a")
      s.build(template)
      val stateA = state(s, template)
      val withB = tmp(s"${s.name}_b")
      copyTree(template, withB)
      val steps = withCrashAt(-1)(s.append(withB))
      val stateB = state(s, withB)
      assert(stateB != stateA, s"${s.name}: the batch changed nothing")
      assert(steps.head == "begin" && steps.takeRight(2) ==
        Seq("manifest", "commit"), steps)

      steps.indices.foreach { i =>
        val dir = tmp(s"${s.name}_c$i")
        copyTree(template, dir)
        intercept[Crash](withCrashAt(i)(s.append(dir)))
        val at = steps(i)
        if (at == "commit") assert(state(s, dir) == stateB, at)
        else {
          refuses(s, dir)
          val dest = tmp(s"${s.name}_r$i")
          s.recover(dir, dest)
          val want =
            if (at == "manifest" && s.keepsCompleted) stateB else stateA
          assert(state(s, dest) == want, s"${s.name} crashed after $at")
          s.readers.foreach(r => r(dest))
          // the recovered store takes the batch (again) normally
          if (want == stateA) {
            s.append(dest)
            assert(state(s, dest)._1 == stateB._1, s"${s.name} re-append")
          }
        }
      }

      val csteps = withCrashAt(-1)(s.compact(withB, tmp(s"${s.name}_k")))
      assert(csteps.head == "fence" && csteps.last == "manifest", csteps)
      csteps.indices.foreach { i =>
        val dest = tmp(s"${s.name}_k$i")
        intercept[Crash](withCrashAt(i)(s.compact(withB, dest)))
        // the source is read-only throughout
        assert(state(s, withB) == stateB)
        if (csteps(i) == "manifest") s.readers.foreach(r => r(dest))
        else {
          s.readers.foreach(r => intercept[IllegalStateException](r(dest)))
          s.exists.foreach { e =>
            val absent =
              try !e(dest) catch { case _: IllegalStateException => true }
            assert(absent, s"${s.name}: half-compacted dest reads healthy")
          }
        }
      }
    }
  }

  test("an empty or truncated pending marker is refused by every recover, " +
      "naming the file and quoting its content") {
    subjects.foreach { s =>
      val dir = tmp(s"${s.name}_m")
      s.build(dir)
      Seq("", s.truncated(dir)).foreach { content =>
        StoreUtil.writeMarker(spark, dir, s.pendingFile, content)
        val e = intercept[IllegalStateException](s.recover(dir, tmp("mdest")))
        assert(e.getMessage.contains(s.pendingFile) &&
          e.getMessage.contains(s"'$content'"), s"${s.name}: ${e.getMessage}")
      }
    }
  }

  test("a crash between a marker's swap write and its rename leaves the " +
      "store loadable, with no marker, and the next append commits") {
    subjects.foreach { s =>
      val dir = tmp(s"${s.name}_swap")
      s.build(dir)
      // what the crash leaves: a partly written swap sibling, no marker
      Files.writeString(Paths.get(dir, s".swap_${s.pendingFile}"),
        s.truncated(dir))
      assert(StoreUtil.readMarker(spark, dir, s.pendingFile).isEmpty)
      s.readers.foreach(r => r(dir))
      s.exists.foreach(e => assert(e(dir), s.name))
      s.append(dir)
      assert(StoreUtil.readMarker(spark, dir, s.pendingFile).isEmpty)
      assert(!Files.exists(Paths.get(dir, s".swap_${s.pendingFile}")) &&
        !Files.exists(Paths.get(dir, s".swap_${s.manifestFile}")), s.name)
      s.readers.foreach(r => r(dir))
    }
  }

  test("a legacy ids-only tree marker still parses, and its append is " +
      "rolled out even after the manifest landed") {
    val dir = tmp("tree_legacy")
    tree.build(dir)
    val stateA = state(tree, dir)
    tree.append(dir)
    StoreUtil.writeMarker(spark, dir, TreeStore.PendingFile, "opentree5.0")
    val dest = tmp("tree_legacy_r")
    TreeStore.recoverAppend(spark, dir, dest)
    assert(state(tree, dest)._1 == stateA._1)
  }

  /** A table holding one pre-seq file (rows tagged only by
    * `ingest_batch`) named to sort FIRST, so a reader that samples one
    * footer sees no `ingest_seq` column at all.
    */
  private def plantLegacy(df: DataFrame, tableDir: String): Unit = {
    val staging = Files.createTempDirectory("graft_commit_legacy").toString
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(tableDir, "part-0000-legacy.parquet"))
  }

  test("dup-hash recover on a mixed-schema table: seq-less rows fall back " +
      "to the tag, seq rows roll back by seq even when the tag aliases") {
    val dir = tmp("dup_mixed")
    // batch 5 completes (seq 1); a later generation's batch 5 crashes
    DupStore.ingestBatch(spark, dir, docs.filter(col("doc_id") < 20),
      "doc_id", "text", batchId = Some(5L))
    def hexRows(df: DataFrame) = df.select(hex(col("h")), col("n"),
      col("ingest_batch"), col("ingest_seq")).collect()
    val kept = hexRows(DupStore.load(spark, dir).hashes).toSet
    plantLegacy(spark.range(2).select(unhex(md5(col("id").cast("string")))
      .as("h"), lit(1L).as("n"), lit(3L).as("ingest_batch")),
      s"$dir/hashes")
    StoreUtil.writeMarker(spark, dir, DupStore.PendingFile, "5:1")
    spark.range(3, 6).select(unhex(md5(col("id").cast("string"))).as("h"),
        lit(2L).as("n"), lit(5L).as("ingest_batch"), lit(2L).as("ingest_seq"))
      .write.mode("append").parquet(s"$dir/hashes")
    val dest = tmp("dup_mixed_r")
    DupStore.recoverIngest(spark, dir, dest)
    val got = hexRows(spark.read.option("mergeSchema", "true")
      .parquet(s"$dest/hashes"))
    assert(got.count(_.isNullAt(3)) == 2, "legacy rows (tag 3) must stay")
    assert(got.filterNot(_.isNullAt(3)).toSet == kept)
  }

  test("LM recover on a mixed-schema table: seq-less rows fall back to " +
      "the tag, seq rows roll back by seq even when the tag aliases") {
    val dir = tmp("lm_mixed")
    LmStore.ingestBatch(spark, dir, docs.filter(col("doc_id") < 20), "text",
      Some(5L))
    val kept = spark.read.parquet(s"$dir/uni").collect().toSet
    plantLegacy(spark.range(1).select(lit("zz_legacy").as("w"),
      lit(4L).as("c"), lit(3L).as("ingest_batch")), s"$dir/uni")
    StoreUtil.writeMarker(spark, dir, LmStore.PendingFile, "5:1")
    spark.range(1).select(lit("zz_crashed").as("w"), lit(9L).as("c"),
        lit(5L).as("ingest_batch"), lit(2L).as("ingest_seq"))
      .write.mode("append").parquet(s"$dir/uni")
    val dest = tmp("lm_mixed_r")
    LmStore.recoverIngest(spark, dir, dest)
    val got = spark.read.option("mergeSchema", "true").parquet(s"$dest/uni")
      .select("w", "c", "ingest_batch", "ingest_seq").collect()
    assert(got.filter(_.isNullAt(3)).map(_.getString(0)).toSeq ==
      Seq("zz_legacy"))
    assert(got.filterNot(_.isNullAt(3)).toSet == kept)
    assert(LmStore.load(spark, dest).uni
      .filter(col("w") === "zz_crashed").isEmpty)
  }
}
