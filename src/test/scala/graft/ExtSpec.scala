package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MrcaIdCodec
import graft.ops.Multimodal
import graft.queries.ExtQueries

class ExtSpec extends AnyFunSuite {
  import SparkTestSession._

  test("mrca id codec: pack/unpack roundtrip inside whole-stage codegen") {
    import spark.implicits._
    val df = Seq((123L, 45678L), (0L, 0L), (9999999L, 9999999L)).toDF("a", "b")
      .withColumn("packed", MrcaIdCodec.mrca_pack(col("a"), col("b")))
      .withColumn("ba", MrcaIdCodec.mrca_unpack_a(col("packed")))
      .withColumn("bb", MrcaIdCodec.mrca_unpack_b(col("packed")))
    val rows = df.collect()
    assert(rows.forall(r => r.getAs[Long]("ba") == r.getAs[Long]("a") &&
      r.getAs[Long]("bb") == r.getAs[Long]("b")))
    // the custom expressions must not break codegen (check on a
    // parquet-backed plan; the local relation above constant-folds)
    val plan = ExtQueries.mrcaCodec(spark, sf)
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages in the simple plan
    assert(plan.contains("*(1) Project") && plan.contains("mrcapack"), plan)
  }

  test("real PNG bytes decode to genuine dimensions through extractMeta") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, Multimodal.encodePng(3, 2, seed = 1), "image"),
      Multimodal.MediaRow(2L, Multimodal.encodePng(7, 5, seed = 2), "image"),
      Multimodal.MediaRow(3L, "not an image".getBytes("UTF-8"), "image"),
      Multimodal.MediaRow(4L, Multimodal.encodePng(4, 4, seed = 3), "video"))
    val got = Multimodal.extractMeta(spark, rows.toDF()).collect()
      .map(m => m.doc_id -> m).toMap
    // REAL decode: the exact pixel grid the bytes encode, not arithmetic
    assert(got(1L).width == 3L && got(1L).height == 2L && got(1L).n_frames == 1L)
    assert(got(2L).width == 7L && got(2L).height == 5L)
    // undecodable image bytes fall back to the deterministic stub
    assert(got(3L) == Multimodal.decodeStub(rows(2)))
    // PNG bytes under a video kind are not a RIFF/AVI container → stub
    assert(got(4L) == Multimodal.decodeStub(rows(3)))
    // a TRUNCATED image stream (header recognized, body gone) must yield
    // None, not an escaped plugin exception — and the header-only read
    // never allocates the raster, so declared-huge dims can't OOM
    val truncated = Multimodal.encodePng(7, 5, seed = 9).take(12)
    assert(Multimodal.decodeImage(truncated).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
  }

  test("JPEG header walk reads the SOF frame size byte-for-byte, agrees " +
      "with ImageIO, and refuses everything that isn't a JPEG") {
    // the hand-rolled marker walk against the JDK's reader on the same
    // bytes — two independent implementations of the same public spec
    for ((w, h) <- Seq((1, 1), (3, 2), (16, 9), (640, 480), (257, 301))) {
      val bytes = Multimodal.encodeJpeg(w, h, seed = w + h)
      assert(Multimodal.decodeJpegHeader(bytes) == Some((w, h)))
      assert(Multimodal.decodeImage(bytes) == Some((w, h)))
    }
    // non-JPEG payloads: PNG (valid image, wrong magic), text, empty
    assert(Multimodal.decodeJpegHeader(
      Multimodal.encodePng(3, 2, seed = 1)).isEmpty)
    assert(Multimodal.decodeJpegHeader("no".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeJpegHeader(Array.empty[Byte]).isEmpty)
    // truncation BEFORE the SOF marker: walk runs out → None, no throw
    val jb = Multimodal.encodeJpeg(16, 9, seed = 4)
    assert(Multimodal.decodeJpegHeader(jb.take(4)).isEmpty)
    // and extractMeta serves JPEG dims through the walk (image branch)
    import spark.implicits._
    val got = Multimodal.extractMeta(spark,
        Seq(Multimodal.MediaRow(1L, jb, "image")).toDF())
      .collect().head
    assert(got.width == 16L && got.height == 9L && got.n_frames == 1L)
  }

  test("real WAV bytes decode to genuine header values through extractMeta") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, Multimodal.encodeWav(16000, 2, 120, seed = 1), "audio"),
      Multimodal.MediaRow(2L, Multimodal.encodeWav(8000, 1, 333, seed = 2), "audio"),
      Multimodal.MediaRow(3L, "not audio at all".getBytes("UTF-8"), "audio"),
      Multimodal.MediaRow(4L, Multimodal.encodeWav(8000, 1, 50, seed = 3), "video"))
    val got = Multimodal.extractMeta(spark, rows.toDF()).collect()
      .map(m => m.doc_id -> m).toMap
    // REAL header parse: sample rate in width, channels in height,
    // PCM frame count in n_frames (documented MediaMeta mapping)
    assert(got(1L).width == 16000L && got(1L).height == 2L &&
      got(1L).n_frames == 120L)
    assert(got(2L).width == 8000L && got(2L).height == 1L &&
      got(2L).n_frames == 333L)
    // undecodable audio bytes fall back to the deterministic stub
    assert(got(3L) == Multimodal.decodeStub(rows(2)))
    // WAV bytes under a video kind ARE RIFF but form 'WAVE', not
    // 'AVI ' — decodeAvi must refuse its sibling container → stub
    assert(got(4L) == Multimodal.decodeStub(rows(3)))
    // truncated stream: fail-closed to None, no escaped provider error
    val truncated = Multimodal.encodeWav(8000, 1, 100, seed = 9).take(10)
    assert(Multimodal.decodeWav(truncated).isEmpty)
    assert(Multimodal.decodeWav(Array.empty[Byte]).isEmpty)
    // the sampler rides the SAME dispatch: a real 120-frame stereo WAV
    // emits ceil(120/4)=30 rows, not the stub's byte-length formula
    val frames = Multimodal.sampleFrames(rows.take(1).toDF(), everyK = 4)
      .collect()
    assert(frames.length == 30 && frames.forall(_.getLong(2) % 4 == 0))
  }

  test("image resize produces exact nearest-neighbor pixels; non-images pass through") {
    import spark.implicits._
    val src = Multimodal.encodePng(8, 6, seed = 3)
    // direct kernel check: every output pixel is the floor-mapped source
    // pixel, bit for bit
    val out = Multimodal.resizeImage(src, 4, 3).get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(img.getWidth == 4 && img.getHeight == 3)
    for (x <- 0 until 4; y <- 0 until 3)
      assert((img.getRGB(x, y) & 0xffffff) ==
        ((x * 8 / 4 * 3163 + y * 6 / 3 * 757 + 3 * 31) & 0xffffff),
        s"pixel ($x,$y)")
    // upscale works too (nearest-neighbor replicates)
    val up = Multimodal.pixelSum(Multimodal.resizeImage(src, 16, 12).get).get
    assert(up._1 == 16 && up._2 == 12)
    // undecodable bytes refuse; a declared-huge header is refused UNREAD
    // (the cap consults the header before any raster allocation)
    assert(Multimodal.resizeImage("nope".getBytes("UTF-8"), 4, 3).isEmpty)
    assert(Multimodal.resizeImage(src, 4, 3, maxSrcPixels = 10).isEmpty)
    // the DataFrame op: images resize, other kinds pass through untouched
    val rows = Seq(
      Multimodal.MediaRow(1L, src, "image"),
      Multimodal.MediaRow(2L, Multimodal.encodeWav(8000, 1, 10, seed = 1), "audio"))
    val got = Multimodal.resizeImages(rows.toDF(), 4, 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Array[Byte]](1), r.getBoolean(3)))).toMap
    assert(got(1L)._2 && Multimodal.pixelSum(got(1L)._1).get._1 == 4)
    assert(!got(2L)._2 && java.util.Arrays.equals(got(2L)._1, rows(1).media))
  }

  test("real AVI bytes decode to genuine header values through extractMeta") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, Multimodal.encodeAvi(640, 360, 240), "video"),
      Multimodal.MediaRow(2L, Multimodal.encodeAvi(1920, 1080, 1), "video"),
      Multimodal.MediaRow(3L, "definitely not a video".getBytes("UTF-8"), "video"),
      Multimodal.MediaRow(4L, Multimodal.encodeAvi(320, 240, 9), "image"))
    val got = Multimodal.extractMeta(spark, rows.toDF()).collect()
      .map(m => m.doc_id -> m).toMap
    // REAL header parse: dwWidth/dwHeight/dwTotalFrames from the avih
    // chunk, not arithmetic over byte length
    assert(got(1L).width == 640L && got(1L).height == 360L &&
      got(1L).n_frames == 240L)
    assert(got(2L).width == 1920L && got(2L).height == 1080L &&
      got(2L).n_frames == 1L)
    // undecodable video bytes fall back to the deterministic stub
    assert(got(3L) == Multimodal.decodeStub(rows(2)))
    // AVI bytes under an image kind: ImageIO has no AVI reader → stub
    assert(got(4L) == Multimodal.decodeStub(rows(3)))
    // truncation anywhere inside the header tree fails closed to None —
    // walk every prefix so no cut LIST/avih offset escapes as an
    // exception or a bogus parse...
    val full = Multimodal.encodeAvi(640, 360, 240)
    val headerEnd = full.length - 12 // the trailing empty movi LIST
    for (n <- 0 until headerEnd)
      assert(Multimodal.decodeAvi(full.take(n)).isEmpty, s"prefix $n")
    // ...while a complete header WITHOUT the frame payload parses — the
    // header-only property stated positively
    assert(Multimodal.decodeAvi(full.take(headerEnd))
      .contains((640, 360, 240L)))
    // a WAV is RIFF too — the sibling container must be refused
    assert(Multimodal.decodeAvi(
      Multimodal.encodeWav(8000, 1, 10, seed = 1)).isEmpty)
    // declared-zero dimensions are malformed, not a 0×0 video
    assert(Multimodal.decodeAvi(Multimodal.encodeAvi(0, 0, 5)).isEmpty)
    // the sampler rides the SAME dispatch: 240 declared frames every 25
    // → 10 rows, even though the container carries no frame payload at
    // all (header-only discipline)
    val frames = Multimodal.sampleFrames(rows.take(1).toDF(), everyK = 25)
      .collect()
    assert(frames.length == 10 && frames.forall(_.getLong(2) % 25 == 0))
  }

  test("SQL registration: mrca codec callable from spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT mrca_pack(90560L, 651474L) AS p, " +
      "mrca_unpack_a(mrca_pack(90560L, 651474L)) AS a, " +
      "mrca_unpack_b(mrca_pack(90560L, 651474L)) AS b").head()
    assert(r.getLong(0) == 90560L + 10000000L * 651474L)
    assert(r.getLong(1) == 90560L && r.getLong(2) == 651474L)
    // wrong arity fails with the function's name and expected count, not
    // a raw IndexOutOfBounds; extra args are refused, never ignored
    val e1 = intercept[Exception] { spark.sql("SELECT mrca_pack(1L)").head() }
    assert(e1.getMessage.contains("mrca_pack expects 2"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT mrca_unpack_a(1L, 2L)").head()
    }
    assert(e2.getMessage.contains("mrca_unpack_a expects 1"), e2.getMessage)
  }

  test("SQL registration: text-pipeline composites expand to the same " +
      "expression trees as the Column API") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf).limit(50)
    docs.createOrReplaceTempView("sqldocs")
    import graft.ops.TextOps
    val viaSql = spark.sql(
      """SELECT doc_id, graft_tokens(text) AS toks,
        |  graft_fingerprint(text) AS fp, graft_minhash(text, 8) AS mh,
        |  graft_langid(text) AS lang, graft_scrub_pii(text) AS scrubbed,
        |  graft_normalize(text) AS norm,
        |  graft_token_estimate(text) AS est,
        |  graft_chunks(text, 32, 16) AS chunks,
        |  graft_bpe(text) AS bpe,
        |  graft_surprise(text) AS surp,
        |  graft_bigram_surprise(text) AS surp2
        |FROM sqldocs""".stripMargin).collect().map(_.toSeq).toSet
    val viaCols = docs.select(col("doc_id"),
        TextOps.tokensCol(col("text")).as("toks"),
        TextOps.fingerprintCol(col("text")).as("fp"),
        TextOps.minhashCol(col("text"), 8).as("mh"),
        TextOps.langIdCol(col("text")).as("lang"),
        TextOps.scrubPiiCol(col("text")).as("scrubbed"),
        TextOps.normalizeCol(col("text")).as("norm"),
        TextOps.bpeTokenEstimateCol(col("text")).as("est"),
        TextOps.chunksCol(col("text"), 32, 16).as("chunks"),
        graft.functions.Bpe.tokensCol(col("text")).as("bpe"),
        graft.functions.Unigram.surpriseOfTokens(
          graft.functions.Bpe.wordsCol(col("text"))).as("surp"),
        graft.functions.Unigram.bigramSurpriseOfTokens(
          graft.functions.Bpe.wordsCol(col("text"))).as("surp2"))
      .collect().map(_.toSeq).toSet
    assert(viaSql == viaCols)
    assert(viaSql.nonEmpty)
    // the shape parameter must be a literal — it shapes the expression
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash(text, doc_id) FROM sqldocs").head()
    }
    assert(e.getMessage.contains("literal integer"), e.getMessage)
    // arity errors carry the function name
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_tokens(text, text) FROM sqldocs").head()
    }
    assert(e2.getMessage.contains("graft_tokens expects 1"), e2.getMessage)
  }

  test("dot_product: codegen expression, SQL-callable, in the ANN plan") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(r.getDouble(0) == 11.0)
    // double_order_bits: SQL-callable, int coerces through the sqrt
    // contract, matches the driver-side transform
    val b = spark.sql(
      "SELECT double_order_bits(-2.5D) AS a, double_order_bits(4) AS b").head()
    assert(b.getLong(0) == graft.functions.OrderBits.toBits(-2.5))
    assert(b.getLong(1) == graft.functions.OrderBits.toBits(4.0))
    // the ANN scoring path keeps using the native expression (parquet-backed
    // plan so nothing constant-folds)
    val e = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding").as("vec"))
    val topk = graft.ops.VectorOps.topK(e.filter(
      org.apache.spark.sql.functions.col("id") < 2), e, 3)
    topk.collect()
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dotproduct"), plan)
    // bit-equal to the aggregate(zip_with) fold it replaced: the same
    // left-to-right summation order, so no rounding may differ
    def vec(salt: Long) = transform(sequence(lit(0), lit(63)),
      d => pmod(xxhash64(col("id") + salt, d), lit(1000L))
        .cast("double") / 1000.0)
    val vecs = spark.range(0L, 2000L).toDF("id")
      .withColumn("a", vec(0L)).withColumn("b", vec(7L))
    val fold = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val dot = graft.functions.VectorExprs.dot_product(col("a"), col("b"))
    assert(vecs.filter(fold =!= dot).count() == 0L)
  }

  test("degree-pruned subtree stops below high-degree nodes") {
    import org.apache.spark.sql.functions._
    val labeled = graft.queries.TreeQueries.labeled(spark, sf)
    // heap tree: every internal node has ≤2 children, so threshold 2 prunes
    // everything below depth-1 nodes; threshold 3 prunes nothing
    val pruned = graft.tree.TreeOps.subtreePruned(labeled, 1L, maxChildren = 2)
    assert(pruned.count() == 3) // root + its two children
    val full = graft.tree.TreeOps.subtree(labeled, 1L)
    assert(graft.tree.TreeOps.subtreePruned(labeled, 1L, maxChildren = 3)
      .count() == full.count())
  }

  test("representative children via interval min/max, no recursion") {
    val fx = GaviaFixture.fx
    val t = graft.tree.TreeIngest.ingest(spark, s"$fx/gavia.tre",
      s"$fx/gavia_annotations.json", s"$fx/gavia_taxonomy.tsv", "opentree4.1")
    val rootId = t.nodes.filter(org.apache.spark.sql.functions.col("ot_node_id") === "ott803675")
      .select("node_id").head().getLong(0)
    val reps = graft.tree.TreeOps.representativeChildren(t.nodes, rootId)
      .collect()
    assert(reps.length == 2)
    // first child branch is the stellata tip itself; second spans arctica..adamsii
    assert(reps(0).getAs[String]("first_named") == "Gavia stellata")
    assert(reps(1).getAs[String]("first_named") == "Gavia arctica")
    assert(reps(1).getAs[String]("last_named") == "Gavia adamsii")
  }

  test("multimodal: stub decode is deterministic and schema-stable") {
    val docs = Multimodal.withMedia(Tables.documents(spark, sf))
    val m1 = Multimodal.extractMeta(spark, docs).collect().map(_.toString).sorted
    val m2 = Multimodal.extractMeta(spark, docs).collect().map(_.toString).sorted
    assert(m1.nonEmpty && m1.sameElements(m2))
    val kinds = ExtQueries.mmMediaMeta(spark, sf)
      .select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("multimodal: frame sampling keeps every k-th frame, images one frame") {
    import org.apache.spark.sql.functions._
    val docs = Multimodal.withMedia(
      Tables.documents(spark, sf).filter(col("doc_id") < 60))
    val frames = Multimodal.sampleFrames(docs, everyK = 4).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getLong(2) % 4 == 0), "kept frames are k-aligned")
    val byDoc = frames.groupBy(_.getLong(0))
    val metas = Multimodal.extractMeta(spark, docs).collect()
      .map(m => m.doc_id -> m).toMap
    // COMPLETENESS first: every doc with frames must appear in the
    // output (checking only docs that DID emit rows would let a
    // whole-document drop pass unnoticed)
    assert(byDoc.keySet ==
      metas.filter(_._2.n_frames > 0).keySet, "docs lost by sampleFrames")
    byDoc.foreach { case (id, rs) =>
      val m = metas(id)
      assert(rs.length == (m.n_frames + 3) / 4, s"doc $id frame count")
      if (m.kind == "image") assert(rs.map(_.getLong(2)).toSeq == Seq(0L))
    }
  }

  test("multimodal: chunks are budget-sized and reassemble to the payload") {
    import org.apache.spark.sql.functions._
    val docs = Multimodal.withMedia(
      Tables.documents(spark, sf).filter(col("doc_id") < 30))
    val chunks = Multimodal.chunkMedia(docs, 256)
    val full = docs.select(col("doc_id"),
        decode(col("media"), "utf-8").as("payload")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // reassembly check via per-chunk digests of the true payload slices
    val got = chunks.collect().groupBy(_.getLong(0))
    assert(got.keySet == full.keySet.filter(full(_).nonEmpty))
    got.foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      val p = full(id)
      assert(sorted.map(_.getLong(2)).sum == p.length, s"doc $id lengths")
      assert(sorted.init.forall(_.getLong(2) == 256L), "all but last chunk full")
      sorted.foreach { r =>
        val off = r.getLong(1).toInt * 256
        val slice = p.substring(off, math.min(off + 256, p.length))
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(slice.getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(r.getString(3) == md, s"chunk digest doc $id idx ${r.getLong(1)}")
      }
    }
  }
}
