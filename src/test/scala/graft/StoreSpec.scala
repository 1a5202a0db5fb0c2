package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tree._

/** Serving-store round trip: ingest → save → load must preserve every
  * endpoint answer, and the loaded tables must join exchange-free (the
  * whole point of paying the bucketed write once at build time —
  * GraphBase.java:431-448 is the reference's build-once analog).
  */
class StoreSpec extends AnyFunSuite {
  import SparkTestSession._

  import GaviaFixture.{fx, GoldenGavia}

  lazy val ingested = TreeIngest.ingest(spark,
    s"$fx/gavia.tre", s"$fx/gavia_annotations.json", s"$fx/gavia_taxonomy.tsv",
    treeId = "opentree4.1")

  lazy val storeDir = {
    val dir = Files.createTempDirectory("graft_store").toString
    TreeStore.save(ingested, dir, buckets = 4)
    dir
  }
  lazy val loaded = TreeStore.load(spark, storeDir)

  def idOf(t: TreeIngest.Ingested, ot: String): Long = GaviaFixture.idOf(t, ot)

  test("round trip preserves table contents exactly") {
    assert(loaded.nodes.count() == ingested.nodes.count())
    assert(loaded.edges.count() == ingested.edges.count())
    val a = ingested.nodes.select("node_id", "ot_node_id", "pre", "post",
      "depth", "tip_descendants").collect().map(_.toSeq).toSet
    val b = loaded.nodes.select("node_id", "ot_node_id", "pre", "post",
      "depth", "tip_descendants").collect().map(_.toSeq).toSet
    assert(a == b)
    assert(loaded.treeIdStr == ingested.treeIdStr)
    assert(loaded.sourceBlobs == ingested.sourceBlobs)
  }

  test("endpoint goldens hold on the loaded store") {
    val got = TreeOps.newick(loaded.nodes, idOf(loaded, "ott803675"),
      labelFormat = "name_and_id", idsForUnnamed = true)
    assert(got == GoldenGavia)

    val mrca = TreeApi.mrca(loaded, ottIds = Seq(1057044L, 90560L))
    val mrcaOrig = TreeApi.mrca(ingested, ottIds = Seq(1057044L, 90560L))
    assert(mrca.mrcaOtId == mrcaOrig.mrcaOtId)

    val ni = TreeApi.nodeInfo(loaded, "ott803675").collect().map(_.toSeq)
    val niOrig = TreeApi.nodeInfo(ingested, "ott803675").collect().map(_.toSeq)
    assert(ni.toSeq == niOrig.toSeq)

    assert(TreeApi.about(loaded).count() == 1)
  }

  test("load of a non-store directory fails fast on the missing manifest") {
    val dir = Files.createTempDirectory("graft_not_a_store").toString
    // pin the SPECIFIC fail-fast (an NPE or match error reaching this
    // point would be a regression the bare intercept[Exception] hid)
    val e = intercept[IllegalStateException] { TreeStore.load(spark, dir) }
    assert(e.getMessage.contains("not a tree store"), e.getMessage)
  }

  test("a manifest stamped by a newer format version is refused, not " +
      "misread — across every store family") {
    // tree store
    val t = Files.createTempDirectory("graft_v2_tree").toString
    graft.StoreUtil.writeMarker(spark, t, TreeStore.ManifestFile,
      """{"version":2,"buckets":4}""")
    val e1 = intercept[IllegalStateException] { TreeStore.load(spark, t) }
    assert(e1.getMessage.contains("v2"), e1.getMessage)
    // vector store
    val v = Files.createTempDirectory("graft_v2_vec").toString
    graft.StoreUtil.writeMarker(spark, v, graft.ops.VectorStore.ManifestFile,
      """{"version":2,"layout":"ivf-cell"}""")
    val e2 = intercept[IllegalStateException] {
      graft.ops.VectorStore.load(spark, v)
    }
    assert(e2.getMessage.contains("v2"), e2.getMessage)
    // LSH band store
    val l = Files.createTempDirectory("graft_v2_lsh").toString
    graft.StoreUtil.writeMarker(spark, l, graft.ops.LshStore.ManifestFile,
      """{"version":2,"k":8,"bands":4,"ingests":1}""")
    val e3 = intercept[IllegalStateException] {
      graft.ops.LshStore.load(spark, l)
    }
    assert(e3.getMessage.contains("v2"), e3.getMessage)
    // dup-hash store
    val du = Files.createTempDirectory("graft_v2_dup").toString
    graft.StoreUtil.writeMarker(spark, du, graft.ops.DupStore.ManifestFile,
      """{"version":2,"win":4,"ingests":1}""")
    val e4 = intercept[IllegalStateException] {
      graft.ops.DupStore.load(spark, du)
    }
    assert(e4.getMessage.contains("v2"), e4.getMessage)
    // postings store — reads <= v2 (v2 added positions), refuses v3
    val po = Files.createTempDirectory("graft_v3_post").toString
    graft.StoreUtil.writeMarker(spark, po,
      graft.ops.PostingsStore.ManifestFile,
      """{"version":3,"buckets":8,"n_docs":1,"total_len":1}""")
    val e5 = intercept[IllegalStateException] {
      graft.ops.PostingsStore.load(spark, po)
    }
    assert(e5.getMessage.contains("v3"), e5.getMessage)
    // LM store
    val lm = Files.createTempDirectory("graft_v2_lm").toString
    graft.StoreUtil.writeMarker(spark, lm, graft.ops.LmStore.ManifestFile,
      """{"version":2,"ingests":1}""")
    val e6 = intercept[IllegalStateException] {
      graft.ops.LmStore.load(spark, lm)
    }
    assert(e6.getMessage.contains("v2"), e6.getMessage)
    // graph store
    val g = Files.createTempDirectory("graft_v2_graph").toString
    graft.StoreUtil.writeMarker(spark, g, graft.ops.GraphStore.ManifestFile,
      """{"version":2,"buckets":4,"n_edges":1}""")
    val e7 = intercept[IllegalStateException] {
      graft.ops.GraphStore.load(spark, g)
    }
    assert(e7.getMessage.contains("v2"), e7.getMessage)
    // an UNVERSIONED manifest (pre-stamp artifact) still reads as v1
    graft.StoreUtil.requireVersion("""{"buckets":4}""", 1, "test")
  }

  test("multi-tree store round-trips per-tree views") {
    val multi = TreeIngest.ingestAll(spark, Seq(
      TreeIngest.TreeSource(s"$fx/gavia.tre", s"$fx/gavia_annotations.json",
        s"$fx/gavia_taxonomy.tsv", "opentree4.1"),
      TreeIngest.TreeSource(s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
        s"$fx/gavia_taxonomy.tsv", "opentree5.0")))
    val dir = Files.createTempDirectory("graft_store_multi").toString
    TreeStore.saveMulti(multi, dir, buckets = 4)
    val loaded = TreeStore.loadMulti(spark, dir)
    assert(loaded.treeIds.toSet == Set("opentree4.1", "opentree5.0"))
    loaded.treeIds.foreach { id =>
      val orig = multi.tree(id)
      val got = loaded.tree(id)
      assert(got.nodes.count() == orig.nodes.count())
      assert(got.treeIdStr == id)
      // per-tree golden: the newick of the loaded view matches the original
      val rootL = got.nodes.filter(col("parent_id") === -1L)
        .select("node_id").head().getLong(0)
      val rootO = orig.nodes.filter(col("parent_id") === -1L)
        .select("node_id").head().getLong(0)
      assert(TreeOps.newick(got.nodes, rootL, idsForUnnamed = true) ==
        TreeOps.newick(orig.nodes, rootO, idsForUnnamed = true))
    }
  }

  test("appendTree adds a tree incrementally without touching the first") {
    val dir = Files.createTempDirectory("graft_store_append").toString
    TreeStore.save(ingested, dir, buckets = 4)
    val before = TreeStore.load(spark, dir).nodes
      .select("node_id", "pre", "post", "depth", "ancestors")
      .collect().map(_.toSeq).toSet

    TreeStore.appendTree(spark, dir, TreeIngest.TreeSource(
      s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
      s"$fx/gavia_taxonomy.tsv", "opentree5.0"))
    val m = TreeStore.loadMulti(spark, dir)
    assert(m.treeIds.toSet == Set("opentree4.1", "opentree5.0"))

    // the first tree's rows are bit-unchanged — append never relabels
    val after = m.tree("opentree4.1").nodes
      .select("node_id", "pre", "post", "depth", "ancestors")
      .collect().map(_.toSeq).toSet
    assert(after == before)

    // disjoint id spaces and interval blocks (the ingestAll invariant)
    val t1 = m.tree("opentree4.1").nodes
    val t2 = m.tree("opentree5.0").nodes
    assert(t1.agg(max("node_id")).head().getLong(0) <
      t2.agg(min("node_id")).head().getLong(0))
    assert(t1.agg(max("post")).head().getLong(0) <
      t2.agg(min("pre")).head().getLong(0))

    // the appended tree serves the same newick as a standalone ingest
    val standalone = TreeIngest.ingest(spark, s"$fx/gavia2.tre",
      s"$fx/gavia2_annotations.json", s"$fx/gavia_taxonomy.tsv", "opentree5.0")
    val rootA = t2.filter(col("parent_id") === -1L)
      .select("node_id").head().getLong(0)
    val rootS = standalone.nodes.filter(col("parent_id") === -1L)
      .select("node_id").head().getLong(0)
    assert(TreeOps.newick(t2, rootA, idsForUnnamed = true) ==
      TreeOps.newick(standalone.nodes, rootS, idsForUnnamed = true))

    // bucketed layout survives the append: serving join still exchange-free
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val self = m.nodes.alias("l")
        .join(m.nodes.alias("r"), col("l.node_id") === col("r.node_id"))
        .select(col("l.node_id"), col("r.depth"))
      self.collect()
      val plan = self.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("appendIngested refuses an overlapping node-id space") {
    val dir = Files.createTempDirectory("graft_store_collide").toString
    TreeStore.save(ingested, dir, buckets = 4)
    // same tree again, unshifted: ids collide with the store's own
    val ex = intercept[IllegalArgumentException] {
      TreeStore.appendIngested(spark, dir, ingested)
    }
    assert(ex.getMessage.contains("collides"))
    // the failed append must not have corrupted the store
    val after = TreeStore.load(spark, dir)
    assert(after.nodes.count() == ingested.nodes.count())

    // a duplicate tree_id is refused even when the id space is disjoint
    // (it would turn the per-tree view into a two-root forest)
    val src2 = TreeIngest.TreeSource(s"$fx/gavia2.tre",
      s"$fx/gavia2_annotations.json", s"$fx/gavia_taxonomy.tsv", "opentree5.0")
    TreeStore.appendTree(spark, dir, src2)
    val ex2 = intercept[IllegalArgumentException] {
      TreeStore.appendTree(spark, dir, src2)
    }
    assert(ex2.getMessage.contains("already exists"))
  }

  test("append preserves random synthetic trees exactly (up to interval shift)") {
    import spark.implicits._
    def synth(parents: Array[Int], base: Long, treeId: String) = {
      val edges = parents.zipWithIndex
        .map { case (p, i) => (base + i + 1L, base + p.toLong, i) }
        .toSeq.toDF("child_id", "parent_id", "child_ord")
        .withColumn("branch_length", lit(null).cast("double"))
        .withColumn("tree_id", lit(treeId))
      val labeled = TreeLabeler.label(spark, edges)
        .withColumn("tree_id", lit(treeId))
      TreeIngest.Ingested(labeled, edges, Seq(treeId).toDF("tree_id"),
        Seq.empty[(String, String, String, String, String, String)]
          .toDF("source_id", "git_sha", "source_tree_id", "study_id",
            "taxonomy", "tree_id"))
    }
    val rnd = new scala.util.Random(7L)
    def parents(n: Int): Array[Int] =
      Array.tabulate(n - 1)(i => if (i == 0) 0 else rnd.nextInt(i + 1))
    val a = synth(parents(30), 0L, "tA")
    val dir = Files.createTempDirectory("graft_store_rand").toString
    TreeStore.save(a, dir, buckets = 4)
    val maxId = a.nodes.agg(max("node_id")).head().getLong(0)
    val bParents = parents(25)
    val b = synth(bParents, maxId + 1L, "tB")
    TreeStore.appendIngested(spark, dir, b)

    // the appended view must equal the standalone labeling bit-for-bit on
    // every column except pre/post, which shift by one constant
    def sig(df: org.apache.spark.sql.DataFrame) = {
      val minPre = df.agg(min("pre")).head().getLong(0)
      df.select(col("node_id"), col("parent_id"), col("depth"),
          col("ancestors"), col("tip_descendants"), col("n_desc"),
          col("is_leaf"), col("child_ord"),
          (col("pre") - minPre).as("rpre"), (col("post") - minPre).as("rpost"))
        .collect().map(_.toSeq).toSet
    }
    val served = TreeStore.loadMulti(spark, dir).tree("tB")
    assert(sig(served.nodes) == sig(b.nodes))
    // and the first tree is still bit-identical to its own ingest
    val servedA = TreeStore.loadMulti(spark, dir).tree("tA")
    assert(sig(servedA.nodes) == sig(a.nodes))
  }

  test("compact rewrites an append-grown store to one file per bucket") {
    val dir = Files.createTempDirectory("graft_store_cpt").toString
    TreeStore.save(ingested, dir, buckets = 4)
    TreeStore.appendTree(spark, dir, TreeIngest.TreeSource(
      s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
      s"$fx/gavia_taxonomy.tsv", "opentree5.0"))
    def nodeFiles(d: String) = new java.io.File(s"$d/nodes")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val grown = nodeFiles(dir)
    val dest = Files.createTempDirectory("graft_store_cpt2").toString
    // no explicit bucket count: compact must inherit the source's (4),
    // not silently re-bucket to a default
    TreeStore.compact(spark, dir, dest)
    assert(nodeFiles(dest) < grown, s"${nodeFiles(dest)} !< $grown")
    // the headline invariant: at most one file per (4) buckets
    assert(nodeFiles(dest) <= 4, s"${nodeFiles(dest)} files for 4 buckets")
    // the inherited bucket spec is readable (manifest says 4)
    val reloaded = TreeStore.load(spark, dest)
    assert(reloaded.nodes.count() > 0)
    // contents and per-tree views survive the rewrite
    val a = TreeStore.loadMulti(spark, dir)
    val b = TreeStore.loadMulti(spark, dest)
    assert(b.treeIds.toSet == a.treeIds.toSet)
    assert(b.nodes.count() == a.nodes.count())
    val cols = Seq("node_id", "pre", "post", "depth").map(col)
    assert(b.nodes.select(cols: _*).collect().map(_.toSeq).toSet ==
      a.nodes.select(cols: _*).collect().map(_.toSeq).toSet)
    intercept[IllegalArgumentException] {
      TreeStore.compact(spark, dir, dir)
    }
  }

  test("compact keeps the tree store's ingests counter and moves the " +
      "watermark up to it") {
    val dir = Files.createTempDirectory("graft_store_cnt").toString
    TreeStore.save(ingested, dir, buckets = 4)
    // a second tree needs its own tree_id, and ingest refuses annotations
    // that declare another, so the second append reads a relabelled copy
    val ann6 = Files.createTempFile("graft_ann6", ".json")
    Files.writeString(ann6, Files.readString(
      java.nio.file.Paths.get(s"$fx/gavia2_annotations.json"))
      .replace("opentree5.0", "opentree6.0"))
    Seq(("opentree5.0", s"$fx/gavia2_annotations.json"),
        ("opentree6.0", ann6.toString)).foreach { case (id, ann) =>
      TreeStore.appendTree(spark, dir, TreeIngest.TreeSource(
        s"$fx/gavia2.tre", ann, s"$fx/gavia_taxonomy.tsv", id))
    }
    val dest = Files.createTempDirectory("graft_store_cnt2").toString
    TreeStore.compact(spark, dir, dest)
    val mf = StoreUtil.readMarker(spark, dest, TreeStore.ManifestFile).get
    assert(StoreUtil.ingestsOf(mf) == 3L, mf)
    assert(StoreUtil.compactedAtOf(mf) == 3L, mf)
    assert(!TreeStore.needsCompact(spark, dest, slack = 1))
    assert(TreeStore.loadMulti(spark, dest).treeIds.toSet ==
      Set("opentree4.1", "opentree5.0", "opentree6.0"))
    val ann7 = Files.createTempFile("graft_ann7", ".json")
    Files.writeString(ann7, Files.readString(ann6).replace("opentree6.0", "opentree7.0"))
    TreeStore.appendTree(spark, dest, TreeIngest.TreeSource(
      s"$fx/gavia2.tre", ann7.toString, s"$fx/gavia_taxonomy.tsv", "opentree7.0"))
    assert(TreeStore.needsCompact(spark, dest, slack = 1))
  }

  test("tree and postings stores surface the compaction nudge — trips " +
      "after slack appends, resets on rewrite") {
    import graft.ops.PostingsStore
    import spark.implicits._
    // tree store: one append at slack 1 — appendTree stacks a file set
    // per bucket, which is exactly what the counter tracks
    val dir = Files.createTempDirectory("graft_store_nc").toString
    TreeStore.save(ingested, dir, buckets = 4)
    assert(!TreeStore.needsCompact(spark, dir, slack = 1),
      "a fresh save is compact by construction")
    TreeStore.appendTree(spark, dir, TreeIngest.TreeSource(
      s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
      s"$fx/gavia_taxonomy.tsv", "opentree5.0"))
    assert(TreeStore.needsCompact(spark, dir, slack = 1))
    val dest = Files.createTempDirectory("graft_store_ncd").toString
    TreeStore.compact(spark, dir, dest)
    assert(!TreeStore.needsCompact(spark, dest, slack = 1),
      "a compact rewrite is a fresh single-file-per-bucket layout")
    // postings store: two appends at slack 2, compact resets AND the
    // data file set genuinely shrinks (the nudge's subject)
    val docs = (1L to 30L).map(i => (i, s"term$i common shared"))
      .toDF("doc_id", "text")
    val pdir = Files.createTempDirectory("graft_post_nc").toString + "/p"
    PostingsStore.save(docs.filter(col("doc_id") <= 10), "doc_id", "text",
      pdir, buckets = 4)
    assert(!PostingsStore.needsCompact(spark, pdir, slack = 2))
    PostingsStore.append(spark, pdir,
      docs.filter(col("doc_id") > 10 && col("doc_id") <= 20),
      "doc_id", "text")
    assert(!PostingsStore.needsCompact(spark, pdir, slack = 2))
    PostingsStore.append(spark, pdir, docs.filter(col("doc_id") > 20),
      "doc_id", "text")
    assert(PostingsStore.needsCompact(spark, pdir, slack = 2))
    val pdest = Files.createTempDirectory("graft_post_ncd").toString + "/p"
    PostingsStore.compact(spark, pdir, pdest)
    assert(!PostingsStore.needsCompact(spark, pdest, slack = 2))
    def files(p: String) =
      StoreUtil.dataFileNames(spark, s"$p/postings").size
    assert(files(pdest) < files(pdir), s"${files(pdest)} !< ${files(pdir)}")
    // and the compacted index still answers identically
    val a = PostingsStore.queryBm25(PostingsStore.load(spark, pdest),
      Seq("common", "term5"), topK = 5).collect().map(_.toSeq).toSet
    val b = PostingsStore.queryBm25(PostingsStore.load(spark, pdir),
      Seq("common", "term5"), topK = 5).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("point lookup on the loaded store scans exactly one bucket") {
    // the Lucene point-hit analog (GraphBase.java:431-448): node_id = x on
    // the bucketed nodes table must read 1 of N buckets' files, not scan
    // the store — asserted on the executed plan's bucket pruning
    val dir = Files.createTempDirectory("graft_store_prune").toString
    TreeStore.save(ingested, dir, buckets = 4)
    val st = TreeStore.load(spark, dir)
    val id = idOf(ingested, "ott1085739")
    // the auto-disable rule drops bucketed scans that feed no join/agg —
    // a point-lookup serving path pins it off so the bucket FILTER (the
    // reason the layout exists) stays in force
    val auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val old = spark.conf.get(auto)
    spark.conf.set(auto, "false")
    try {
      val q = st.nodes.filter(col("node_id") === id).select("node_id", "depth")
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(id))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 4"), plan)
    } finally spark.conf.set(auto, old)
  }

  test("interrupted append is detected at load and recoverable") {
    val dir = Files.createTempDirectory("graft_store_pend").toString
    TreeStore.save(ingested, dir, buckets = 4)
    val cleanRows = TreeStore.load(spark, dir)
      .nodes.count()
    // a completed append clears its pending marker...
    TreeStore.appendTree(spark, dir, TreeIngest.TreeSource(
      s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
      s"$fx/gavia_taxonomy.tsv", "opentree5.0"))
    assert(StoreUtil.readMarker(spark, dir, TreeStore.PendingFile).isEmpty)
    // ...and lands at most one file per bucket per table append
    // (2 bucketed writes x <= 4 buckets), not (write tasks x buckets)
    val nodeFiles = new java.io.File(s"$dir/nodes")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(nodeFiles <= 8, s"$nodeFiles files after save+append at 4 buckets")
    // simulate a crash that died between the four table writes: the
    // marker for the second tree is left behind
    StoreUtil.writeMarker(spark, dir, TreeStore.PendingFile, "opentree5.0")
    val ex = intercept[IllegalStateException] {
      TreeStore.load(spark, dir)
    }
    assert(ex.getMessage.contains("interrupted append"))
    // a further append must ALSO refuse: completing it would delete the
    // marker and bury the earlier corruption as a silently-served store
    val ex2 = intercept[IllegalStateException] {
      TreeStore.appendTree(spark, dir, TreeIngest.TreeSource(
        s"$fx/gavia2.tre", s"$fx/gavia2_annotations.json",
        s"$fx/gavia_taxonomy.tsv", "opentree6.0"))
    }
    assert(ex2.getMessage.contains("interrupted append"))
    // recovery rolls the possibly-partial tree's rows out of every table
    // into a clean store at dest (the damaged source is never mutated)
    val dest = Files.createTempDirectory("graft_store_pend2").toString
    TreeStore.recoverAppend(spark, dir, dest)
    val rec = TreeStore.loadMulti(spark, dest)
    assert(rec.treeIds == Seq("opentree4.1"))
    assert(rec.nodes.count() == cleanRows)
    assert(rec.nodes.filter(col("tree_id") === "opentree5.0").count() == 0L)
    intercept[IllegalStateException] {
      TreeStore.recoverAppend(spark, dest,
        Files.createTempDirectory("graft_store_pend3").toString)
    }
    // a full rebuild over the damaged path supersedes the crashed append:
    // save() clears the stale marker, so the fresh store loads
    TreeStore.save(ingested, dir, buckets = 4)
    assert(TreeStore.load(spark, dir).nodes.count()
      == cleanRows)
  }

  test("graph store: save/load round trip, additive degree fold on " +
      "append, zombie no-op, crash refusal, compact carries the guard") {
    import graft.ops.GraphStore
    import spark.implicits._
    val e1 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (1L, 2L))
      .toDF("src", "dst")
    val dir = Files.createTempDirectory("graft_gstore").toString + "/g"
    assert(!GraphStore.storeExists(spark, dir))
    GraphStore.save(spark, e1, dir, buckets = 4, batchId = Some(0L))
    val st1 = GraphStore.load(spark, dir)
    assert(st1.edges.count() == 5L, "parallel edges are weights — kept")
    assert(st1.degrees.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    assert(st1.nodes.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // append folds counts — stored degree rows change WITHOUT the
    // stored edges being rewritten (additivity is the append economics)
    val e2 = Seq((2L, 4L), (4L, 1L)).toDF("src", "dst")
    GraphStore.append(spark, dir, e2, Some(1L))
    val st2 = GraphStore.load(spark, dir)
    assert(st2.edges.count() == 7L)
    assert(st2.degrees.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap == Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
    assert(st2.nodes.collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
    // ranks from the grown store equal ranks over the union built fresh
    val direct = graft.ops.ClusterOps.pageRank(e1.unionByName(e2),
      (1L to 4L).toDF("id"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val served = graft.ops.ClusterOps.pageRankStored(st2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served == direct)
    // the SAME store serves clustering: CC from the stored layout
    // equals CC built fresh from the symmetric edge set (this fixture's
    // edges connect everything, plus a planted two-node island)
    val symDir = Files.createTempDirectory("graft_gstore_cc").toString + "/g"
    val all = e1.unionByName(e2)
      .unionByName(Seq((50L, 51L)).toDF("src", "dst"))
    val sym = all.unionByName(
      all.select(col("dst").as("src"), col("src").as("dst")))
    graft.ops.GraphStore.save(spark, sym, symDir, buckets = 4,
      symmetric = true)
    // a DIRECTED store (the rank store above) must refuse the CC
    // consumer — serving it would compute reachability, not components
    val asym = intercept[IllegalArgumentException] {
      graft.ops.ClusterOps.connectedComponentsStored(
        graft.ops.GraphStore.load(spark, dir))
    }
    assert(asym.getMessage.contains("symmetric"), asym.getMessage)
    val ccServed = graft.ops.ClusterOps.connectedComponentsStored(
        graft.ops.GraphStore.load(spark, symDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccDirect = graft.ops.ClusterOps.connectedComponents(
        sym.select(col("src").as("a"), col("dst").as("b")),
        sym.select(col("src").as("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccServed == ccDirect && ccServed.nonEmpty)
    assert(ccServed(50L) == 50L && ccServed(51L) == 50L,
      "the planted island must form its own component")
    assert(ccServed(1L) == 1L, "the main component's min id labels it")
    // zombie re-delivery of the last batch id is a FULL no-op
    GraphStore.append(spark, dir, e2, Some(1L))
    assert(GraphStore.load(spark, dir).edges.count() == 7L)
    // a crashed write (edges present, manifest gone) refuses loudly
    graft.StoreUtil.deleteMarker(spark, dir, GraphStore.ManifestFile)
    val crash = intercept[IllegalStateException] {
      GraphStore.storeExists(spark, dir)
    }
    assert(crash.getMessage.contains("crashed"), crash.getMessage)
    graft.StoreUtil.writeMarker(spark, dir, GraphStore.ManifestFile,
      s"""{"version":1,"buckets":4,"n_edges":7,"ingests":2,""" +
        s""""compacted_at":1,"symmetric":false,"last_batch":1}""")
    // compact rewrites the layout and carries the manifest verbatim —
    // including the zombie guard: the re-delivered batch still no-ops
    val dest = Files.createTempDirectory("graft_gstore_c").toString + "/g"
    GraphStore.compact(spark, dir, dest)
    assert(GraphStore.load(spark, dest).edges.count() == 7L)
    GraphStore.append(spark, dest, e2, Some(1L))
    assert(GraphStore.load(spark, dest).edges.count() == 7L)
  }

  test("graph store: a crashed append refuses every reader and recovers " +
      "to exactly the pre-batch store; a completed append is kept whole") {
    import graft.ops.GraphStore
    import spark.implicits._
    val e1 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val e2 = Seq((2L, 4L), (4L, 1L)).toDF("src", "dst")
    val dir = Files.createTempDirectory("graft_gstore_rec").toString + "/g"
    GraphStore.save(spark, e1, dir, buckets = 4, batchId = Some(0L))
    val never = Files.createTempDirectory("graft_gstore_nev").toString + "/g"
    GraphStore.save(spark, e1, never, buckets = 4, batchId = Some(0L))
    def ranks(p: String) = graft.ops.ClusterOps.pageRankStored(
        GraphStore.load(spark, p), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val goodRanks = ranks(never)
    // simulate a crash BETWEEN the edge append and the degree rewrite:
    // pending marker down (pre-batch manifest + pre-append file list),
    // manifest deleted, stray batch files landed in edges/, and the
    // degree table mid-overwrite (recovery must not read it at all)
    val preMf = StoreUtil.readMarker(spark, dir,
      GraphStore.ManifestFile).get
    val preFiles = StoreUtil.dataFileNames(spark, s"$dir/edges")
    StoreUtil.writeMarker(spark, dir, GraphStore.PendingFile,
      (preMf +: preFiles).mkString("\n"))
    StoreUtil.deleteMarker(spark, dir, GraphStore.ManifestFile)
    e2.write.mode("append").parquet(s"$dir/edges")
    Seq((1L, 999L)).toDF("src", "deg").write.mode("overwrite")
      .parquet(s"$dir/degrees")
    intercept[IllegalStateException](GraphStore.load(spark, dir))
    intercept[IllegalStateException](GraphStore.storeExists(spark, dir))
    intercept[IllegalStateException](GraphStore.append(spark, dir, e2))
    intercept[IllegalStateException](GraphStore.needsCompact(spark, dir))
    intercept[IllegalStateException] {
      GraphStore.compact(spark, dir,
        Files.createTempDirectory("graft_gstore_x").toString + "/g")
    }
    // in-place recovery must refuse (the source is read lazily)
    intercept[IllegalArgumentException](
      GraphStore.recoverAppend(spark, dir, dir))
    val dest = Files.createTempDirectory("graft_gstore_dst").toString + "/g"
    GraphStore.recoverAppend(spark, dir, dest)
    // the recovered store equals a never-crashed one: same edges, same
    // degrees (rebuilt from the surviving files), same ranks
    assert(GraphStore.load(spark, dest).edges.count() == 4L)
    assert(ranks(dest) == goodRanks)
    // and the batch can now be re-driven normally
    GraphStore.append(spark, dest, e2, Some(1L))
    assert(GraphStore.load(spark, dest).edges.count() == 6L)

    // completed-append crash (marker delete lost): the manifest's
    // ingest counter moved past the marker's snapshot, so recovery
    // keeps the batch whole — and the zombie guard carries to dest
    val d2 = Files.createTempDirectory("graft_gstore_done").toString + "/g"
    GraphStore.save(spark, e1, d2, buckets = 4, batchId = Some(0L))
    val preMf2 = StoreUtil.readMarker(spark, d2,
      GraphStore.ManifestFile).get
    val preFiles2 = StoreUtil.dataFileNames(spark, s"$d2/edges")
    GraphStore.append(spark, d2, e2, Some(1L))
    StoreUtil.writeMarker(spark, d2, GraphStore.PendingFile,
      (preMf2 +: preFiles2).mkString("\n"))
    val dest2 = Files.createTempDirectory("graft_gstore_d2").toString + "/g"
    GraphStore.recoverAppend(spark, d2, dest2)
    assert(GraphStore.load(spark, dest2).edges.count() == 6L)
    GraphStore.append(spark, dest2, e2, Some(1L)) // zombie: no-op
    assert(GraphStore.load(spark, dest2).edges.count() == 6L)
  }

  test("the symmetric flag survives symmetric appends and DOWNGRADES on " +
      "a directed batch — the CC consumer refuses the downgraded store") {
    import graft.ops.{ClusterOps, GraphStore}
    import spark.implicits._
    val sym1 = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val sym2 = Seq((3L, 4L), (4L, 3L)).toDF("src", "dst")
    val dir = Files.createTempDirectory("graft_gstore_sym").toString + "/g"
    GraphStore.save(spark, sym1, dir, buckets = 2, symmetric = true)
    GraphStore.append(spark, dir, sym2, symmetric = true)
    // still symmetric: CC serves, and finds the two planted components
    val cc = ClusterOps.connectedComponentsStored(
        GraphStore.load(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // one DIRECTED batch downgrades the assertion — the union is what
    // the CC kernel would traverse, so the whole store stops qualifying
    GraphStore.append(spark, dir, Seq((5L, 1L)).toDF("src", "dst"))
    assert(!GraphStore.load(spark, dir).symmetric)
    val e = intercept[IllegalArgumentException] {
      ClusterOps.connectedComponentsStored(GraphStore.load(spark, dir))
    }
    assert(e.getMessage.contains("symmetric"), e.getMessage)
  }

  test("a pre-counter (legacy) manifest still appends, probes, and " +
      "compacts — the lenient ingest read, probe and write agreeing") {
    import graft.ops.GraphStore
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gstore_old").toString + "/g"
    GraphStore.save(spark, Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), dir,
      buckets = 2)
    // rewrite the manifest to the pre-round-11 shape: no ingests, no
    // compacted_at, no symmetric — the store a deployment upgraded
    // from an older build would hold
    StoreUtil.writeMarker(spark, dir, GraphStore.ManifestFile,
      """{"version":1,"buckets":2,"n_edges":2}""")
    assert(GraphStore.load(spark, dir).symmetric == false)
    // the probe must not throw on the missing counter (it previously
    // would have), and append must not strand the store mid-write
    assert(!GraphStore.needsCompact(spark, dir, slack = 8))
    GraphStore.append(spark, dir, Seq((3L, 4L)).toDF("src", "dst"))
    val st = GraphStore.load(spark, dir)
    assert(st.edges.count() == 3L)
    // the counter started counting from the append (legacy reads as 1)
    assert(GraphStore.needsCompact(spark, dir, slack = 1))
    val dest = Files.createTempDirectory("graft_gstore_oldc").toString + "/g"
    GraphStore.compact(spark, dir, dest)
    assert(!GraphStore.needsCompact(spark, dest, slack = 1))
    assert(GraphStore.load(spark, dest).edges.count() == 3L)
  }

  test("graph store: the compaction nudge trips after slack appends and " +
      "resets on compact") {
    import graft.ops.GraphStore
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gstore_nc").toString + "/g"
    GraphStore.save(spark, Seq((1L, 2L)).toDF("src", "dst"), dir,
      buckets = 2)
    assert(!GraphStore.needsCompact(spark, dir, slack = 2),
      "a fresh save is compact by construction")
    GraphStore.append(spark, dir, Seq((2L, 3L)).toDF("src", "dst"))
    assert(!GraphStore.needsCompact(spark, dir, slack = 2))
    GraphStore.append(spark, dir, Seq((3L, 4L)).toDF("src", "dst"))
    assert(GraphStore.needsCompact(spark, dir, slack = 2))
    val dest = Files.createTempDirectory("graft_gstore_ncd").toString + "/g"
    GraphStore.compact(spark, dir, dest)
    assert(!GraphStore.needsCompact(spark, dest, slack = 2),
      "compact advances the watermark to the ingest count")
    // and the rewrite genuinely shrank the edge file set (the nudge's
    // whole subject): appends stacked files per bucket, compact is one
    assert(StoreUtil.dataFileNames(spark, s"$dest/edges").size <
      StoreUtil.dataFileNames(spark, s"$dir/edges").size)
  }

  test("bpe tokenizer store: trained-table round trip, refusal cases, " +
      "and the in-plan OOV guard") {
    import graft.ops.BpeStore
    import graft.functions.Bpe
    import spark.implicits._
    // train a real 4-merge table on a tiny frequency frame and derive
    // its total vocabulary — the artifact a pipeline would persist
    val wf = Seq(("lower", 10L), ("lowest", 7L), ("newer", 5L),
      ("wider", 3L)).toDF("w", "c")
    val table = Bpe.train(wf, "w", "c", nMerges = 4)
    val docs = Seq((1L, "lower newer"), (2L, "wider lowest lower"))
      .toDF("doc_id", "text")
    val vocab = docs.select(explode(Bpe.tokensCol(col("text"), table))
        .as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .withColumn("id", (row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("token"))) - 1).cast("long"))
    val dir = Files.createTempDirectory("graft_bpestore").toString + "/b"
    assert(!BpeStore.exists(spark, dir))
    BpeStore.save(spark, table, vocab, dir)
    assert(BpeStore.exists(spark, dir))
    val st = BpeStore.load(spark, dir)
    assert(st.merges == table, "rank order must survive the round trip")
    // encoding from the LOADED artifact equals encoding with the
    // in-memory table + vocab join, row for row
    val served = BpeStore.encodeIds(st, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = docs
      .select(col("doc_id"), posexplode(Bpe.tokensCol(col("text"), table)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .join(vocab.select(col("token"), col("id")), "token")
      .select(col("doc_id"), col("pos"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == direct && served.nonEmpty)
    // OOV input fails in-plan instead of silently dropping positions
    val oov = intercept[Exception] {
      BpeStore.encodeIds(st, Seq((9L, "unseenword")).toDF("doc_id", "text"),
        "doc_id", "text").collect()
    }
    assert(oov.getMessage != null &&
      oov.getMessage.contains("not in the stored BPE vocabulary"),
      oov.getMessage)
    // refusals: empty merges, pipe symbols, duplicate vocab tokens
    intercept[IllegalArgumentException](
      BpeStore.save(spark, Seq.empty, vocab, dir + "x"))
    intercept[IllegalArgumentException](
      BpeStore.save(spark, Seq("a" -> "b|"), vocab, dir + "x"))
    intercept[IllegalArgumentException](BpeStore.save(spark, table,
      vocab.unionByName(vocab.limit(1)), dir + "x"))
    // a NEWER format version must refuse, not misread
    val v2 = Files.createTempDirectory("graft_bpestore_v2").toString + "/b"
    BpeStore.save(spark, table, vocab, v2)
    StoreUtil.writeMarker(spark, v2, BpeStore.ManifestFile,
      s"""{"version":2,"n_merges":4,"vocab_size":9}""")
    val ver = intercept[IllegalStateException](BpeStore.load(spark, v2))
    assert(ver.getMessage.contains("v2"), ver.getMessage)
    // data without a manifest is a crashed save — refused, not absent
    StoreUtil.deleteMarker(spark, v2, BpeStore.ManifestFile)
    val crash = intercept[IllegalStateException](BpeStore.exists(spark, v2))
    assert(crash.getMessage.contains("crashed"), crash.getMessage)
    // a truncated merge table (damage the data, not the manifest) is
    // caught by the load-time count check
    val tr = Files.createTempDirectory("graft_bpestore_tr").toString + "/b"
    BpeStore.save(spark, table, vocab, tr)
    spark.read.parquet(s"$tr/merges").filter(col("rank") < 2)
      .localCheckpoint()
      .coalesce(1).write.mode("overwrite").parquet(s"$tr/merges")
    val trunc = intercept[IllegalArgumentException](BpeStore.load(spark, tr))
    assert(trunc.getMessage.contains("damaged"), trunc.getMessage)
  }

  test("model store: weight round trip with the feature binding, and " +
      "the family refusal cases") {
    import graft.ops.{LinearModel, ModelStore}
    import spark.implicits._
    val fw = Seq("x0" -> 100L, "x1" -> -3L, "x2" -> 42L)
    val dir = Files.createTempDirectory("graft_mstore").toString + "/m"
    assert(!ModelStore.exists(spark, dir))
    ModelStore.save(spark, fw, dir)
    assert(ModelStore.exists(spark, dir))
    val m = ModelStore.load(spark, dir)
    assert(m.featCols == fw.map(_._1) && m.weights == fw.map(_._2),
      "training order must survive the round trip")
    // the loaded binding scores identically to the in-memory weights
    val frame = Seq((1L, 2L, 3L, 4L), (2L, 0L, 0L, 0L))
      .toDF("id", "x0", "x1", "x2")
    val a = frame.select(col("id"), m.scoreFp.as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = frame.select(col("id"),
        LinearModel.scoreFp(fw.map(_._1), fw.map(_._2)).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b && a.nonEmpty)
    // refusals: empty model, duplicate feature names
    intercept[IllegalArgumentException](
      ModelStore.save(spark, Seq.empty, dir + "x"))
    intercept[IllegalArgumentException](ModelStore.save(spark,
      Seq("x0" -> 1L, "x0" -> 2L), dir + "x"))
    // newer version refused, not misread
    StoreUtil.writeMarker(spark, dir, ModelStore.ManifestFile,
      """{"version":2,"n_weights":3}""")
    val ver = intercept[IllegalStateException](ModelStore.load(spark, dir))
    assert(ver.getMessage.contains("v2"), ver.getMessage)
    // data without a manifest is a crashed save — refused, not absent
    StoreUtil.deleteMarker(spark, dir, ModelStore.ManifestFile)
    val crash = intercept[IllegalStateException](ModelStore.exists(spark, dir))
    assert(crash.getMessage.contains("crashed"), crash.getMessage)
    // a truncated weight table is caught by the load-time count check
    val tr = Files.createTempDirectory("graft_mstore_tr").toString + "/m"
    ModelStore.save(spark, fw, tr)
    spark.read.parquet(s"$tr/weights").filter(col("i") < 2)
      .localCheckpoint()
      .coalesce(1).write.mode("overwrite").parquet(s"$tr/weights")
    val trunc = intercept[IllegalArgumentException](
      ModelStore.load(spark, tr))
    assert(trunc.getMessage.contains("damaged"), trunc.getMessage)
  }

  test("loaded tables join with zero exchanges (bucketed serving path)") {
    // separate store dir + unpersisted load: the cached-nodes variant would
    // hide the FileSourceScan (and its "Bucketed: true") behind the cache
    val dir = Files.createTempDirectory("graft_store_plan").toString
    TreeStore.save(ingested, dir, buckets = 4)
    val st = TreeStore.load(spark, dir)
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // node self-join on node_id — the shape of lineage/subtree/MRCA serving
      val self = st.nodes.alias("l")
        .join(st.nodes.alias("r"), col("l.node_id") === col("r.node_id"))
        .select(col("l.node_id"), col("r.depth"))
      self.collect()
      val selfPlan = self.queryExecution.executedPlan.toString
      assert(!selfPlan.contains("Exchange"), selfPlan)
      assert(selfPlan.contains("Bucketed: true"), selfPlan)

      // node ⋈ edge on node_id = child_id — branch-length attach shape
      val ne = st.nodes.alias("n").join(st.edges.alias("e"),
        col("n.node_id") === col("e.child_id"))
        .select(col("n.node_id"), col("e.branch_length"))
      ne.collect()
      val nePlan = ne.queryExecution.executedPlan.toString
      assert(!nePlan.contains("Exchange"), nePlan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("rotation with reader grace: a store loaded two rotations ago " +
      "still materializes, and GC removes only generations past the " +
      "horizon") {
    // rotateIfDue's immediate-retire closure is single-reader-only: on
    // a cluster, a long query holding generation g's file list dies
    // mid-scan when the maintenance loop deletes g right after
    // compacting. rotateWithGrace keeps the last `grace` retired
    // generations alive as a read horizon — this pins both halves:
    // an old reader survives `grace` subsequent rotations, and the GC
    // deletes EXACTLY the generations past the horizon, nothing newer.
    import graft.ops.LmStore
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 160)
    val base = Files.createTempDirectory("graft_grace").toString + "/lm"
    var current = base
    def fold(m: Long): Unit = {
      LmStore.ingestBatch(spark, current,
        docs.filter(col("doc_id") % 4 === m), "text", Some(m))
      current = StoreUtil.rotateWithGrace(spark, current,
        p => LmStore.needsCompact(spark, p, slack = 1),
        (s, d) => LmStore.compact(spark, s, d), grace = 2)
    }
    // batch 0 creates the store; a reader loads THIS generation (its
    // frames lazily reference the gen-0 parquet files) before any
    // rotation lands. slack 1 → every later fold rotates.
    LmStore.ingestBatch(spark, current,
      docs.filter(col("doc_id") % 4 === 0), "text", Some(0L))
    val reader = LmStore.load(spark, current)
    val gen0Rows = reader.uni.count()
    assert(gen0Rows > 0)
    current = StoreUtil.rotateWithGrace(spark, current,
      p => LmStore.needsCompact(spark, p, slack = 1),
      (s, d) => LmStore.compact(spark, s, d), grace = 2)
    fold(1L)
    assert(StoreUtil.generationNumber(current) == 2L, current)
    // two rotations after the load: the gen-0 reader still materializes
    // (grace 2 keeps its files), and fresh loads serve the new head
    assert(reader.uni.count() == gen0Rows,
      "a reader inside the grace horizon lost its files")
    // the third rotation pushes generation 0 past the horizon: GC takes
    // exactly it, and the two newest retired generations survive
    fold(2L)
    assert(StoreUtil.generationNumber(current) == 3L, current)
    assert(!new java.io.File(base).exists,
      "generation 0 is past the grace horizon and must be GC'd")
    Seq(1L, 2L).foreach { g =>
      assert(new java.io.File(s"${base}_g$g").exists,
        s"generation $g is inside the grace horizon and must survive")
    }
    // restart discovery still lands on the serving head from any name
    // in the chain — grace-kept generations are older and passed over
    assert(StoreUtil.latestGeneration(spark, base) == current)
    // and the rotated head answers like a one-shot fold of all batches
    val oneDir = Files.createTempDirectory("graft_grace_one").toString + "/lm"
    (0L to 2L).foreach { m =>
      LmStore.ingestBatch(spark, oneDir,
        docs.filter(col("doc_id") % 4 === m), "text", Some(m))
    }
    def uniMap(p: String) = LmStore.load(spark, p).uni.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uniMap(current) == uniMap(oneDir))
  }

  test("reader pins outlive the grace horizon: a pinned generation " +
      "survives any number of rotations and GC reclaims it on unpin") {
    // the count-based horizon dies for a reader LONGER than `grace`
    // rotations; the pin-marker protocol is the escape hatch — a
    // reader pins the generation it resolved (while it is protected:
    // pin-while-protected is the contract), the GC skips pinned
    // generations however far they fall behind, and the first GC after
    // unpin reclaims them. Also pinned: a SECOND reader's pin on the
    // same generation keeps it alive after the first unpins.
    import graft.ops.LmStore
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 160)
    val base = Files.createTempDirectory("graft_pin").toString + "/lm"
    var current = base
    LmStore.ingestBatch(spark, current,
      docs.filter(col("doc_id") % 4 === 0), "text", Some(0L))
    // a long reader resolves generation 0 and pins it AT RESOLVE TIME —
    // before any rotation can age it past the horizon
    val reader = LmStore.load(spark, current)
    val gen0Rows = reader.uni.count()
    StoreUtil.pinGeneration(spark, current, "query42")
    StoreUtil.pinGeneration(spark, current, "query43")
    val gen0 = current
    def fold(m: Long): Unit = {
      LmStore.ingestBatch(spark, current,
        docs.filter(col("doc_id") % 4 === m), "text", Some(m))
      current = StoreUtil.rotateWithGrace(spark, current,
        p => LmStore.needsCompact(spark, p, slack = 1),
        (s, d) => LmStore.compact(spark, s, d), grace = 1)
    }
    current = StoreUtil.rotateWithGrace(spark, current,
      p => LmStore.needsCompact(spark, p, slack = 1),
      (s, d) => LmStore.compact(spark, s, d), grace = 1)
    fold(1L); fold(2L); fold(3L)
    assert(StoreUtil.generationNumber(current) == 4L, current)
    // three generations past a grace-1 horizon: only the pins hold it
    assert(new java.io.File(gen0).exists,
      "a pinned generation must survive GC past the horizon")
    assert(reader.uni.count() == gen0Rows,
      "the pinned reader lost its files")
    // unpinned-but-not-last: the second pin still protects it
    StoreUtil.unpinGeneration(spark, gen0, "query42")
    assert(StoreUtil.retireWithGrace(spark, current, 1).isEmpty)
    assert(new java.io.File(gen0).exists,
      "one unpin must not release a generation another reader pins")
    // last unpin: the next GC reclaims exactly the released generation
    StoreUtil.unpinGeneration(spark, gen0, "query43")
    val gone = StoreUtil.retireWithGrace(spark, current, 1)
    assert(gone.contains(gen0),
      s"GC after the last unpin must reclaim $gen0, got $gone")
    assert(!new java.io.File(gen0).exists)
    // unpin after GC is a safe no-op (the unpin-twice / late-unpin path)
    StoreUtil.unpinGeneration(spark, gen0, "query43")
    // the too-late half of pin-while-protected: pinning a generation
    // the GC already took must FAIL LOUDLY (a silent marker write would
    // resurrect a ghost directory and false-protect the reader)
    val late = intercept[IllegalStateException] {
      StoreUtil.pinGeneration(spark, gen0, "query44")
    }
    assert(late.getMessage.contains("no longer exists"), late.getMessage)
    assert(!new java.io.File(gen0).exists,
      "a refused pin must not recreate the directory")
    // and the serving head still answers like a one-shot fold
    val oneDir = Files.createTempDirectory("graft_pin_one").toString + "/lm"
    (0L to 3L).foreach { m =>
      LmStore.ingestBatch(spark, oneDir,
        docs.filter(col("doc_id") % 4 === m), "text", Some(m))
    }
    def uniMap(p: String) = LmStore.load(spark, p).uni.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uniMap(current) == uniMap(oneDir))
  }

  test("saveManifested swap protocol: an orphan swap dir leaves the " +
      "store healthy and the next save clears it; the fence window " +
      "refuses loudly — across three families") {
    import graft.ops.{SampleOps, SketchOps}
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
    // family 1: CM sketch (counters)
    val cm = Files.createTempDirectory("graft_swap_cm").toString + "/cm"
    val sk = SketchOps.cmSketch(
      docs.select(col("source").as("item")), "item", 3, 16)
    SketchOps.saveCm(sk, cm)
    // a successful save leaves NO swap dir behind (it was renamed into
    // place, not copied)
    assert(!new java.io.File(s"$cm/.swap_counters").exists)
    val served = SketchOps.loadCm(spark, cm).counters.collect()
      .map(_.toSeq).toSet
    // crash during the swap-dir write: the complete old store plus an
    // orphan swap dir — the store stays HEALTHY and answers unchanged
    new java.io.File(s"$cm/.swap_counters").mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$cm/.swap_counters/junk"),
      "half-written")
    assert(SketchOps.cmStoreExists(spark, cm))
    assert(SketchOps.loadCm(spark, cm).counters.collect()
      .map(_.toSeq).toSet == served)
    // the next save overwrites the orphan and renames it away
    SketchOps.saveCm(sk, cm)
    assert(!new java.io.File(s"$cm/.swap_counters").exists)
    assert(SketchOps.loadCm(spark, cm).counters.collect()
      .map(_.toSeq).toSet == served)
    // crash INSIDE the fence window (manifest deleted, rename pending):
    // data present without a manifest must REFUSE, never read as absent
    StoreUtil.deleteMarker(spark, cm, SketchOps.CmManifestFile)
    intercept[IllegalStateException] { SketchOps.cmStoreExists(spark, cm) }
    // family 2: mix-stats store (stats)
    val ms = Files.createTempDirectory("graft_swap_ms").toString + "/ms"
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_total"))
    SampleOps.saveMixStats(stats, ms)
    assert(!new java.io.File(s"$ms/.swap_stats").exists)
    new java.io.File(s"$ms/.swap_stats").mkdirs()
    assert(SampleOps.mixStatsStoreExists(spark, ms))
    val want = stats.collect().map(_.toSeq).toSet
    assert(SampleOps.loadMixStats(spark, ms).collect()
      .map(_.toSeq).toSet == want)
    SampleOps.saveMixStats(stats, ms)
    assert(!new java.io.File(s"$ms/.swap_stats").exists)
    StoreUtil.deleteMarker(spark, ms, SampleOps.MixManifestFile)
    intercept[IllegalStateException] {
      SampleOps.mixStatsStoreExists(spark, ms)
    }
    // the delete-live-then-rename window: manifest gone, live subdir
    // gone, the COMPLETE replacement stranded in the swap dir — this
    // must read as BROKEN (with the swap-recovery hint), never as
    // absent, or a restarted create-or-append loop would silently
    // reset history with one batch
    StoreUtil.deleteDir(spark, s"$ms/stats")
    new java.io.File(s"$ms/.swap_stats").mkdirs()
    val midSwap = intercept[IllegalStateException] {
      SampleOps.mixStatsStoreExists(spark, ms)
    }
    assert(midSwap.getMessage.contains("swap"), midSwap.getMessage)
    // family 3: bloom store (bits)
    val bl = Files.createTempDirectory("graft_swap_bloom").toString + "/bloom"
    val bsk = SketchOps.bloomSketch(
      docs.select(md5(col("text")).as("h")), "h", depth = 3, width = 256)
    SketchOps.saveBloom(bsk, bl)
    assert(!new java.io.File(s"$bl/.swap_bits").exists)
    new java.io.File(s"$bl/.swap_bits").mkdirs()
    assert(SketchOps.bloomStoreExists(spark, bl))
    StoreUtil.deleteMarker(spark, bl, SketchOps.BloomManifestFile)
    intercept[IllegalStateException] {
      SketchOps.bloomStoreExists(spark, bl)
    }
  }

  test("the provenance ledger appends O(1): a delivery writes only its " +
      "own immutable part, committed by the manifest swap") {
    import graft.ops.ProvenanceLog
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ledger_o1").toString + "/led"
    def rowsFor(id: Long) = Seq(("dup_index", id, 2L + id),
      ("tokenizer", id, 1L)).toDF("artifact", "delivery_id", "ingests")
    ProvenanceLog.append(spark, dir, rowsFor(0L), Some(0L))
    ProvenanceLog.append(spark, dir, rowsFor(1L), Some(1L))
    // per-delivery part dirs exist; capture the committed parts' exact
    // file state (names + mtimes) before a third append
    def fileState(p: String): Set[(String, Long)] = {
      val d = new java.io.File(p)
      assert(d.isDirectory, s"$p missing")
      d.listFiles().map(f => (f.getName, f.lastModified)).toSet
    }
    val d1 = fileState(s"$dir/rows/d1")
    val d2 = fileState(s"$dir/rows/d2")
    ProvenanceLog.append(spark, dir, rowsFor(2L), Some(2L))
    // the third delivery touched NOTHING but its own part — history is
    // never rewritten (the O(deliveries²) read-union-rewrite is gone,
    // and with it the crash mode that could lose the whole ledger)
    assert(fileState(s"$dir/rows/d1") == d1,
      "an append rewrote a committed part")
    assert(fileState(s"$dir/rows/d2") == d2,
      "an append rewrote a committed part")
    assert(new java.io.File(s"$dir/rows/d3").isDirectory)
    // answers: the loaded ledger is the union of every committed part
    val got = ProvenanceLog.load(spark, dir)
      .select("artifact", "delivery_id", "ingests").collect()
      .map(_.toSeq).toSet
    val want = (0L to 2L).flatMap(id => rowsFor(id).collect().map(_.toSeq))
      .toSet
    assert(got == want)
    // zombie re-append of the last delivery is a full no-op
    ProvenanceLog.append(spark, dir, rowsFor(2L), Some(2L))
    assert(ProvenanceLog.load(spark, dir).count() == 6L)
    // an uncommitted orphan part (a crashed in-flight append) is
    // INVISIBLE to load and exists stays healthy — the crash loses at
    // most the in-flight batch, never history
    rowsFor(3L).write.mode("overwrite").parquet(s"$dir/rows/d4")
    assert(ProvenanceLog.exists(spark, dir))
    assert(ProvenanceLog.load(spark, dir).count() == 6L,
      "an uncommitted part leaked into load()")
    // the retried delivery overwrites its own orphan and commits it
    ProvenanceLog.append(spark, dir, rowsFor(3L), Some(3L))
    assert(ProvenanceLog.load(spark, dir).count() == 8L)
    // rows without a manifest: the broken-vs-absent refusal holds —
    // and because a crashed manifest swap strands the complete new
    // manifest in its swap sibling, that state must refuse too (with
    // the recovery hint), via append's shared probe as well
    StoreUtil.deleteMarker(spark, dir, ProvenanceLog.ManifestFile)
    intercept[IllegalStateException] { ProvenanceLog.exists(spark, dir) }
    StoreUtil.writeMarker(spark, dir,
      s".swap_${ProvenanceLog.ManifestFile}", """{"version":2}""")
    val swapCrash = intercept[IllegalStateException] {
      ProvenanceLog.append(spark, dir, rowsFor(9L), Some(9L))
    }
    assert(swapCrash.getMessage.contains("swap"), swapCrash.getMessage)
  }

  test("a v1 flat-layout ledger migrates to the part layout on its " +
      "first v2 append, keeping every committed row") {
    import graft.ops.ProvenanceLog
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ledger_mig").toString + "/led"
    // hand-build the round-13 layout: one flat rows/ set + v1 manifest
    val legacy = Seq(("dup_index", 0L, 2L), ("dup_index", 1L, 3L))
      .toDF("artifact", "delivery_id", "ingests")
    legacy.coalesce(1).write.parquet(s"$dir/rows")
    StoreUtil.writeMarker(spark, dir, ProvenanceLog.ManifestFile,
      """{"version":1,"ingests":2,"last_batch":1}""")
    // v1 loads still answer (no forced migration on read)
    assert(ProvenanceLog.load(spark, dir).count() == 2L)
    ProvenanceLog.append(spark, dir,
      Seq(("dup_index", 2L, 4L)).toDF("artifact", "delivery_id", "ingests"),
      Some(2L))
    // the flat history became part d0 (metadata rename, no rewrite) and
    // the new delivery its own part
    assert(new java.io.File(s"$dir/rows/d0").isDirectory)
    assert(new java.io.File(s"$dir/rows/d3").isDirectory)
    val got = ProvenanceLog.load(spark, dir)
      .select("artifact", "delivery_id", "ingests").collect()
      .map(_.toSeq).toSet
    assert(got == Set(Seq("dup_index", 0L, 2L), Seq("dup_index", 1L, 3L),
      Seq("dup_index", 2L, 4L)))
    // the migrated manifest is v2 and the zombie guard carried over
    val mf = StoreUtil.readMarker(spark, dir, ProvenanceLog.ManifestFile).get
    assert(StoreUtil.manifestVersion(mf) == 2, mf)
    ProvenanceLog.append(spark, dir,
      Seq(("dup_index", 2L, 9L)).toDF("artifact", "delivery_id", "ingests"),
      Some(2L))
    assert(ProvenanceLog.load(spark, dir).count() == 3L,
      "zombie re-append after migration must stay a no-op")
  }

  test("a crashed v1 migration retries idempotently: the finished " +
      "layout is recognized, never re-nested") {
    import graft.ops.ProvenanceLog
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ledger_remig").toString + "/l"
    // simulate a crash AFTER migrateV1's renames but BEFORE the v2
    // commit: v1 manifest still in place over the already-migrated
    // nested layout (rows/d0) — the redelivered append must NOT rename
    // rows/ again (that would nest committed history as rows/d0/d0)
    val legacy = Seq(("dup_index", 0L, 2L))
      .toDF("artifact", "delivery_id", "ingests")
    legacy.coalesce(1).write.parquet(s"$dir/rows/d0")
    StoreUtil.writeMarker(spark, dir, ProvenanceLog.ManifestFile,
      """{"version":1,"ingests":1,"last_batch":0}""")
    ProvenanceLog.append(spark, dir,
      Seq(("dup_index", 1L, 3L)).toDF("artifact", "delivery_id", "ingests"),
      Some(1L))
    assert(!new java.io.File(s"$dir/rows/d0/d0").exists,
      "a retried migration re-nested the committed history")
    assert(ProvenanceLog.load(spark, dir)
      .select("artifact", "delivery_id", "ingests").collect()
      .map(_.toSeq).toSet ==
      Set(Seq("dup_index", 0L, 2L), Seq("dup_index", 1L, 3L)))
    // the half-migrated state (.mig_rows held, rows/ gone) completes too
    val dir2 = Files.createTempDirectory("graft_ledger_hold").toString + "/l"
    legacy.coalesce(1).write.parquet(s"$dir2/.mig_rows")
    StoreUtil.writeMarker(spark, dir2, ProvenanceLog.ManifestFile,
      """{"version":1,"ingests":1,"last_batch":0}""")
    ProvenanceLog.append(spark, dir2,
      Seq(("dup_index", 1L, 3L)).toDF("artifact", "delivery_id", "ingests"),
      Some(1L))
    assert(ProvenanceLog.load(spark, dir2)
      .select("artifact", "delivery_id", "ingests").collect()
      .map(_.toSeq).toSet ==
      Set(Seq("dup_index", 0L, 2L), Seq("dup_index", 1L, 3L)))
  }

  test("ledger retirement drops only the condemned parts: answers, " +
      "zombie guard, and later appends all carry on") {
    import graft.ops.ProvenanceLog
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ledger_ret").toString + "/l"
    def rows(id: Long) = Seq(("dup_index", id, 2L))
      .toDF("artifact", "delivery_id", "ingests")
    (0L to 2L).foreach(id => ProvenanceLog.append(spark, dir, rows(id),
      Some(id)))
    val gone = ProvenanceLog.retireBefore(spark, dir, minPart = 3L)
    assert(gone.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet ==
      Set("d1", "d2"), gone.toString)
    assert(!new java.io.File(s"$dir/rows/d1").exists)
    // the retained history answers; the retired deliveries are gone
    assert(ProvenanceLog.load(spark, dir).select("delivery_id")
      .collect().map(_.getLong(0)).toSet == Set(2L))
    // retirement preserved the zombie guard and the counter: a zombie
    // re-append of the last delivery no-ops, a new one lands at d4
    ProvenanceLog.append(spark, dir, rows(2L), Some(2L))
    assert(ProvenanceLog.load(spark, dir).count() == 1L)
    ProvenanceLog.append(spark, dir, rows(3L), Some(3L))
    assert(new java.io.File(s"$dir/rows/d4").isDirectory)
    assert(ProvenanceLog.load(spark, dir).select("delivery_id")
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // retiring EVERYTHING is refused — a ledger with no committed part
    // cannot be told apart from a crashed first append
    intercept[IllegalArgumentException] {
      ProvenanceLog.retireBefore(spark, dir, minPart = 99L)
    }
  }

  test("a manual no-batchId ledger append preserves the zombie guard") {
    import graft.ops.ProvenanceLog
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ledger_zg").toString + "/l"
    def rows(id: Long) = Seq(("dup_index", id, 2L))
      .toDF("artifact", "delivery_id", "ingests")
    ProvenanceLog.append(spark, dir, rows(5L), Some(5L))
    // a catch-up append without a batchId must not erase last_batch...
    ProvenanceLog.append(spark, dir, rows(6L), None)
    // ...so the zombie redelivery of batch 5 is still a full no-op
    ProvenanceLog.append(spark, dir, rows(5L), Some(5L))
    assert(ProvenanceLog.load(spark, dir).count() == 2L,
      "the no-batchId append disarmed the zombie guard")
  }

  test("drift store folds additively, refuses schema drift and the " +
      "broken state, and zombie re-folds are no-ops") {
    import graft.ops.DriftStore
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_driftstore").toString + "/ds"
    def stats(rows: (Long, Long, Long)*) =
      rows.toSeq.toDF("cell", "n", "err_sum")
    DriftStore.save(stats((0L, 10L, 100L), (1L, 5L, 50L)), dir, Some(0L))
    assert(DriftStore.exists(spark, dir))
    // fold: sums by key, new keys appear, untouched keys carry
    DriftStore.append(spark, dir, stats((0L, 2L, 8L), (2L, 1L, 9L)),
      Some(1L))
    def served: Set[(Long, Long, Long)] = DriftStore.load(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(served == Set((0L, 12L, 108L), (1L, 5L, 50L), (2L, 1L, 9L)))
    // zombie redelivery: folding batch 1 again must change NOTHING
    // (counts are not idempotent under merge — the guard is the store)
    DriftStore.append(spark, dir, stats((0L, 2L, 8L), (2L, 1L, 9L)),
      Some(1L))
    assert(served == Set((0L, 12L, 108L), (1L, 5L, 50L), (2L, 1L, 9L)))
    // a batch with a different key schema is refused loudly
    intercept[IllegalArgumentException] {
      DriftStore.append(spark, dir,
        Seq((0L, 0L, 1L, 1L)).toDF("j", "code", "n", "err_sum"), Some(2L))
    }
    // broken-vs-absent: stats without a manifest REFUSES, never resets
    StoreUtil.deleteMarker(spark, dir, DriftStore.ManifestFile)
    intercept[IllegalStateException] { DriftStore.exists(spark, dir) }
  }

  test("taint lookup finds every delivery that consumed a generation, " +
      "and age-based retirement trims it consistently") {
    import graft.ops.ProvenanceLog
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ledger_taint").toString + "/l"
    def deliver(id: Long, gen: Long, ing: Long): Unit =
      ProvenanceLog.append(spark, dir,
        Seq(("dup_index", gen, ing, s"strip_asof=$ing"))
          .toDF("artifact", "generation", "ingests", "params")
          .withColumn("delivery_id", lit(id)), Some(id))
    // the lifecycle: two deliveries read generation 0 (at different
    // ingest watermarks), the third reads the rotated generation 1
    deliver(0L, gen = 0L, ing = 2L)
    deliver(1L, gen = 0L, ing = 3L)
    deliver(2L, gen = 1L, ing = 5L)
    def taint(gen: Long): Set[(Long, Long)] =
      ProvenanceLog.taintedDeliveries(spark, dir, "dup_index", gen)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // blast radius of generation 0 = deliveries 0 and 1, each with the
    // ingest watermark it actually consumed (what pipeReplay needs)
    assert(taint(0L) == Set((0L, 2L), (1L, 3L)))
    assert(taint(1L) == Set((2L, 5L)))
    // unknown generation or artifact: empty, never an error
    assert(ProvenanceLog.taintedDeliveries(spark, dir, "dup_index", 9L)
      .isEmpty)
    assert(ProvenanceLog.taintedDeliveries(spark, dir, "quality_model", 0L)
      .isEmpty)
    // retirement bounds the scan to live history: after parting with
    // delivery 0 (part d1), the taint set for generation 0 shrinks to
    // what the ledger still holds
    ProvenanceLog.retireBefore(spark, dir, minPart = 2L)
    assert(taint(0L) == Set((1L, 3L)))
  }
}
