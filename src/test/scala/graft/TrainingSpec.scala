package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ClusterOps, PackOps, SampleOps, TextOps, VectorOps}
import graft.queries.TrainingQueries

class TrainingSpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val docs = Tables.documents(spark, sf)
  lazy val embs = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("minhash LSH recall: near-identical docs (jaccard >= 0.9) are candidates") {
    val window = docs.filter(col("doc_id") < 200)
    val truth = TextOps.jaccardVerify(TextOps.allPairs(window, "doc_id"),
        window, "doc_id", "text", 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = TextOps.minhashCandidates(window, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain near-duplicate docs")
    val recall = truth.count(cand.contains).toDouble / truth.size
    assert(recall >= 0.8, s"LSH recall $recall over ${truth.size} true pairs")
  }

  test("span dedup keeps each distinct passage exactly once") {
    val window = docs.filter(col("doc_id") < 200)
    val out = TextOps.dedupSpans(window, "doc_id", "text", span = 3)
    // INDEPENDENT tiling oracle: driver-side .grouped, not the
    // implementation's sequence+slice expressions — a shared off-by-one
    // in the SQL tiling would otherwise inflate both sides identically
    // (tokenization is shared deliberately; the tiling is what's under
    // test here, and PropertySpec covers random inputs the same way)
    val allSpans = window
      .select(col("doc_id"), graft.ops.TextOps.tokensCol(col("text")).as("toks"))
      .collect().flatMap(_.getSeq[String](1).grouped(3).map(_.mkString(" ")))
    val distinctSpans = allSpans.distinct.length.toLong
    val totalSpans = allSpans.length.toLong
    val r = out.agg(sum("n_kept"), sum("n_dropped")).head()
    // every distinct passage survives exactly once; every extra copy drops
    assert(r.getLong(0) == distinctSpans, s"${r.getLong(0)} != $distinctSpans")
    assert(r.getLong(0) + r.getLong(1) == totalSpans)
    assert(r.getLong(1) > 0, "fixture should contain cross-doc repeated spans")
    // an untouched document reassembles to its exact token sequence
    val untouched = out.filter(col("n_dropped") === 0)
      .join(window, "doc_id")
      .withColumn("orig", array_join(
        graft.ops.TextOps.tokensCol(col("text")), " "))
    assert(untouched.count() > 0)
    assert(untouched.filter(col("clean_text") =!= col("orig")).count() == 0)
  }

  test("duplicated spans: planted repeats found at exact extents, merged, " +
      "and clean text yields none") {
    import spark.implicits._
    // a 9-token boilerplate planted in two docs at different offsets, a
    // WITHIN-doc repeat, a repeat straddling what would be a passage
    // boundary, and a clean doc sharing vocabulary but no 4-gram
    val boiler = "all rights reserved redistribution is subject to license terms"
    val df = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"unrelated words here then $boiler and a tail of text"),
      (3L, "x1 x2 loop one two three four loop one two three four x3"),
      (4L, "reserved rights all license subject terms is redistribution to"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val spans = TextOps.duplicatedSpans(df, "doc_id", "text", win = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: boiler occupies tokens 2..10; doc 2: tokens 4..12
    // doc 3: "loop one two three four" at 2..6 and 7..11 — ADJACENT
    //        occurrences merge into one maximal span 2..11
    assert(spans == Set((1L, 2L, 10L), (2L, 4L, 12L), (3L, 2L, 11L)),
      s"got $spans")
    val stats = TextOps.duplicationStats(df, "doc_id", "text", win = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    assert(stats(1L) == (13L, 9L) && stats(2L) == (18L, 9L))
    assert(stats(3L) == (13L, 10L))
    assert(stats(4L) == (9L, 0L), "shuffled vocabulary is not duplication")
    assert(!stats.contains(5L), "null text emits no row")
    // a clean doc alone in the corpus: windows exist, none repeats
    assert(TextOps.duplicatedSpans(df.filter(col("doc_id") === 4L),
      "doc_id", "text", win = 4).count() == 0)
    // the removal stage: doc 1 holds the global-first occurrence and
    // keeps its copy; doc 2's copy is cut at exact extent; doc 3's
    // within-doc repeat keeps the first site and cuts the second —
    // note the second "loop" run loses only its unprotected windows'
    // union [7..11], so the doubled phrase collapses to one copy
    val strip = TextOps.stripDuplicatedSpans(df, "doc_id", "text", win = 4)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(3))))
      .toMap
    assert(strip(1L)._2 == 0L &&
      strip(1L)._1 == s"alpha beta $boiler gamma delta")
    assert(strip(2L) ==
      ("unrelated words here then and a tail of text", 9L))
    assert(strip(3L) == ("x1 x2 loop one two three four x3", 5L))
    assert(strip(4L)._2 == 0L)
    assert(!strip.contains(5L))
  }

  test("span dedup drops null-text docs, matching the SQL-side semantics") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextOps.dedupSpans(df, "doc_id", "text", span = 3).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L))
  }

  test("jaccard verifier output is bounded by and consistent with candidates") {
    val window = docs.filter(col("doc_id") < 200)
    val cand = TextOps.minhashCandidates(window, "doc_id", "text")
    val verified = TextOps.jaccardVerify(cand, window, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val candSet = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.nonEmpty)
    assert(verified.forall { case (a, b, j) =>
      candSet((a, b)) && j >= 0.5 && j <= 1.0 })
    // chained pipeline values agree with the all-pairs verifier
    val exact = TextOps.jaccardVerify(TextOps.allPairs(window, "doc_id"),
        window, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(verified.forall { case (a, b, j) => exact((a, b)) == j })
  }

  test("prefix-filtered similarity join is EXACT: equals brute force at " +
      "every threshold, candidates bounded") {
    import spark.implicits._
    // real corpus + planted mutations: an exact copy, a one-word edit, a
    // half-overlap splice, and a shuffled decoy that shares vocabulary
    // but no 3-shingles
    val base = docs.filter(col("doc_id") < 120)
    val seedRows = base.select("doc_id", "text").collect()
    val t0 = seedRows.head.getString(1)
    val w0 = t0.split("\\s+")
    val planted = Seq(
      (100001L, t0), // exact dup
      (100002L, (w0.take(3) ++ Array("zzz") ++ w0.drop(4)).mkString(" ")),
      (100003L, (w0.take(w0.length / 2) ++
        seedRows(1).getString(1).split("\\s+").take(w0.length / 2))
        .mkString(" ")),
      (100004L, w0.reverse.mkString(" ")),
      (100005L, null.asInstanceOf[String]), // null text: dropped
      (100006L, "one two")) // < shingle width: empty set
    val corpus = base.unionByName(
      planted.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("synthetic"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select(base.columns.map(col): _*))
    def sets(d: org.apache.spark.sql.DataFrame) =
      d.filter(col("text").isNotNull)
        .select(col("doc_id").as("id"), TextOps.tokensCol(col("text")).as("w"))
        .select(col("id"), TextOps.shinglesOfTokens(col("w"), 3).as("toks"))
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val got = TextOps.prefixSimilarityJoin(corpus, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val want = TextOps.jaccardVerifySets(
          TextOps.allPairs(corpus.filter(col("text").isNotNull), "doc_id"),
          sets(corpus), t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      assert(got == want, s"prefix join diverged from brute force at t=$t")
    }
    // the exact dup must surface at 0.8 and the one-word edit at 0.5
    // (each edited word invalidates up to `shingleN` shingles); the
    // vocabulary-preserving shuffle must NOT (shingle sets disjoint)
    val high = TextOps.prefixSimilarityJoin(corpus, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mid = TextOps.prefixSimilarityJoin(corpus, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val id0 = seedRows.head.getLong(0)
    assert(high((id0, 100001L)) && mid((id0, 100002L)))
    assert(!high.exists { case (a, b) => a == 100004L || b == 100004L })
    // effectiveness: the candidate set is a small fraction of all pairs
    val n = corpus.filter(col("text").isNotNull).count()
    val cand = TextOps.prefixCandidates(sets(corpus), 0.5).count()
    assert(cand < n * (n - 1) / 2 / 10,
      s"prefix filter left $cand of ${n * (n - 1) / 2} pairs — not pruning")
    intercept[IllegalArgumentException] {
      TextOps.prefixCandidates(sets(corpus), 0.0)
    }
  }

  test("connected components: a long chain, a triangle, and singletons") {
    import spark.implicits._
    // chain 0-1-2-...-19 (forces several doubling rounds), triangle 100-101-102,
    // nodes 200, 201 isolated
    val chain = (0L until 19L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((100L, 101L), (101L, 102L), (102L, 100L)))
      .toDF("a", "b")
    val nodes = ((0L to 19L) ++ Seq(100L, 101L, 102L, 200L, 201L)).toDF("id")
    val got = ClusterOps.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 19L).forall(got(_) == 0L))
    assert(Seq(100L, 101L, 102L).forall(got(_) == 100L))
    assert(got(200L) == 200L && got(201L) == 201L)
    assert(got.size == 25)
  }

  test("connected components of an empty universe is an empty result") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val none = Seq.empty[Long].toDF("id")
    assert(ClusterOps.connectedComponents(empty, none).count() == 0)
  }

  test("connected components match union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 40
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val nodes = (0L until n.toLong)
      // driver-side union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // merging roots min-ward makes every final root its component's min,
      // which is exactly the engine's label convention
      val want = nodes.map(i => i -> find(i.toInt).toLong).toMap
      val got = ClusterOps.connectedComponents(
          edges.toDF("a", "b"), nodes.toDF("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("dedup clustering over LSH pairs groups transitive near-dups") {
    val window = docs.filter(col("doc_id") < 100)
    val cand = TextOps.minhashCandidates(window, "doc_id", "text")
    val cc = ClusterOps.connectedComponents(cand, window.select(col("doc_id").as("id")))
    val lbl = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    // every candidate pair ends in one component; component = min member
    assert(pairs.forall { case (a, b) => lbl(a) == lbl(b) })
    val members = lbl.groupBy(_._2).view.mapValues(_.keys.min)
    assert(members.forall { case (comp, minId) => comp == minId })
    // canonical pick: one row per component, keep_id inside the component
    val canon = ClusterOps.canonicalPerCluster(cc,
        TextOps.quality(window, "doc_id", "text")
          .select(col("doc_id").as("id"), col("quality_score").as("score")))
      .collect()
    assert(canon.map(_.getLong(0)).distinct.length == canon.length)
    assert(canon.forall(r => lbl(r.getLong(2)) == r.getLong(0)))
    assert(canon.map(_.getLong(1)).sum == lbl.size)
  }

  test("dedup pipeline: exactly one kept doc per component, drops are verified dups") {
    val out = TrainingQueries.ddPipeline(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byComp = out.groupBy(_._2)
    assert(byComp.forall(_._2.count(_._3) == 1), "one keeper per component")
    // docs dropped must be in a multi-doc component (never drop a singleton)
    assert(out.filter(!_._3).forall(r => byComp(r._2).length > 1))
    // every window doc got a decision
    assert(out.length ==
      docs.filter(col("doc_id") < 100).count())
  }

  test("simhash: near-identical docs have close signatures") {
    val window = docs.filter(col("doc_id") < 200)
    val sig = TextOps.simhash(window, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val dups = TextOps.jaccardVerify(TextOps.allPairs(window, "doc_id"),
      window, "doc_id", "text", 1.0).collect()
    assert(dups.nonEmpty,
      "fixture should contain an exact-duplicate pair in doc_id<200")
    val (a, b) = (dups.head.getLong(0), dups.head.getLong(1))
    assert(sig(a) == sig(b), "identical token sets must have identical simhash")
    assert(sig.values.forall(s => s.length == 16 && s.forall("01".contains(_))))
  }

  test("brute-force topK is exact: rank 1 has max cosine, ranks ordered") {
    val res = VectorOps.topK(embs.filter(col("id") < 3), embs, 5).collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(2))
      val coss = sorted.map(_.getDouble(3))
      assert(coss.zip(coss.tail).forall { case (x, y) => x >= y })
      assert(sorted.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    }
    // INDEPENDENT exactness oracle (topK is the truth reference for the
    // IVF and LSH recall gates, so it cannot be its own witness): driver
    // Scala recomputes every cosine and the (cos desc, id asc) top-5
    val all = embs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for ((q, qv) <- all.filter(_._1 < 3)) {
      val want = all.filter(_._1 != q)
        .map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }.take(5)
      val got = byQ(q).sortBy(_.getLong(2))
        .map(r => (r.getLong(1), r.getDouble(3))).toSeq
      assert(got == want.toSeq, s"query $q: $got != ${want.toSeq}")
    }
  }

  test("RHP LSH: deterministic signatures; bucketed ANN returns ranked subsets") {
    val s1 = VectorOps.rhpSignature(embs, "id", "vec", dims = 64).select("id", "sig")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = VectorOps.rhpSignature(embs, "id", "vec", dims = 64).select("id", "sig")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2)
    assert(s1.values.forall(_.length == 16))
    val ann = VectorOps.annLsh(embs, "id", "vec", k = 3, dims = 64).collect()
    assert(ann.nonEmpty)
    assert(ann.forall(_.getLong(2) <= 3))
    // each (q_id, rank) appears once; scored pairs are genuine candidates
    val keys = ann.map(r => (r.getLong(0), r.getLong(2)))
    assert(keys.distinct.length == keys.length)
  }

  test("IVF ANN: cell-partitioned search returns ranked candidates from probed cells") {
    val window = embs.filter(col("id") < 150)
    val cents = embs.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val queries = window.filter(col("id") < 10)
    val res = VectorOps.annIvf(queries, window, cents, k = 3, nprobe = 2)
      .collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getLong(2) <= 3))
    val keys = res.map(r => (r.getLong(0), r.getLong(2)))
    assert(keys.distinct.length == keys.length)
    // more probes never lose recall on the true top-1
    val truth = VectorOps.topK(queries, window, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allProbe = VectorOps.annIvf(queries, window, cents, k = 3, nprobe = 8)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    assert(truth.forall { case (q, n) => allProbe.get(q).exists(_.contains(n)) })
  }

  test("kmeans step: full partition of the corpus, deterministic, chains into IVF") {
    val corpus = embs.filter(col("id") < 150)
    val seeds = embs.filter(col("id") < 8)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val step = VectorOps.kmeansStep(corpus, seeds).collect()
    val dims = corpus.select(size(col("vec"))).head().getInt(0)
    val byCell = step.groupBy(_.getLong(0))
    // every surviving cell carries all dims, with one consistent population
    assert(byCell.forall { case (_, rs) =>
      rs.map(_.getLong(1)).sorted.toSeq == (0L until dims) &&
        rs.map(_.getLong(3)).distinct.length == 1 })
    // populations partition the corpus (checked at pos 0)
    assert(step.filter(_.getLong(1) == 0L).map(_.getLong(3)).sum == 150L)
    // two iterated runs agree exactly (quantized integer sums)
    val c1 = VectorOps.kmeansCentroids(corpus, seeds, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val c2 = VectorOps.kmeansCentroids(corpus, seeds, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c1 == c2)
    // refined centroids feed the IVF search
    val refined = VectorOps.kmeansCentroids(corpus, seeds, 1)
    val res = VectorOps.annIvf(corpus.filter(col("id") < 5), corpus, refined,
      k = 3, nprobe = 2).collect()
    assert(res.nonEmpty && res.forall(_.getLong(2) <= 3))
  }

  test("OR-amplified ANN recall beats any single table on true top-1") {
    val window = embs.filter(col("id") < 150)
    val truth = VectorOps.topK(window, window, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ann = VectorOps.annLsh(window, "id", "vec", k = 5, dims = 64,
        bits = 8, tables = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hit = truth.count { case (q, n) => ann.get(q).exists(_.contains(n)) }
    val recall = hit.toDouble / truth.size
    assert(recall >= 0.5, s"OR-amplified recall $recall")
  }

  test("repetition: looped text scores high, unique text zero, bounds hold") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c a b c a b c a b c"),
      (3L, "x y")) // shorter than one 3-gram
      .toDF("doc_id", "text")
    val r = TextOps.repetition(df, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(1L) == 0.0)
    assert(r(2L) > 0.5 && r(2L) < 1.0)
    assert(r(3L) == 0.0)
  }

  test("JL random projection: bit-equal to a driver-side recompute, " +
      "neighbors preserved") {
    val sample = embs.filter(col("id") < 100)
    val got = VectorOps.randomProject(sample, "id", "vec", 64, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    // independent recompute: same md5 convention, scalar loops
    def sgn(j: Int, i: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft:$j:$i".getBytes("UTF-8"))
      if ((h(0) & 0x80) != 0) 1L else -1L
    }
    val raw = sample.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    assert(raw.keySet == got.keySet && raw.nonEmpty)
    for ((id, v) <- raw) {
      val q = v.map(x => math.floor(x.toDouble * 1048576.0 + 0.5).toLong)
      val want = (0 until 16).map(j =>
        (0 until 64).map(i => sgn(j, i) * q(i)).sum).toVector
      assert(got(id) == want, s"projection of $id diverged")
    }
    // JL sanity: an identical vector projects identically, and a lightly
    // perturbed copy stays nearer than ≥90% of unrelated vectors
    def d2(a: Vector[Long], b: Vector[Long]): Double =
      a.zip(b).map { case (x, y) => val d = (x - y).toDouble; d * d }.sum
    val anchor = raw.keys.min
    val noisy = raw(anchor).map(x => x + 0.01f)
    val nProj = {
      val q = noisy.map(x => math.floor(x.toDouble * 1048576.0 + 0.5).toLong)
      (0 until 16).map(j => (0 until 64).map(i => sgn(j, i) * q(i)).sum).toVector
    }
    val dn = d2(got(anchor), nProj)
    val others = (raw.keySet - anchor).toSeq.map(o => d2(got(anchor), got(o)))
    assert(others.count(_ > dn).toDouble / others.size >= 0.9,
      "perturbed copy should out-rank unrelated vectors in projected space")
    // a wrong-length vector fails LOUDLY (zip_with would null-pad it into
    // an all-null projection); a null vector passes through as null
    import spark.implicits._
    val bad = Seq((1L, Seq(0.5f, 0.5f)), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("id", "vec")
    val e = intercept[Exception] {
      VectorOps.randomProject(bad.filter(col("id") === 1), "id", "vec", 64, 16)
        .collect()
    }
    assert(e.getMessage.contains("randomProject") ||
      e.getCause != null && e.getCause.getMessage.contains("randomProject"))
    val nulls = VectorOps.randomProject(bad.filter(col("id") === 2),
      "id", "vec", 64, 16).collect()
    assert(nulls.length == 1 && nulls.head.isNullAt(1))
  }

  test("logistic trainer: bit-equal to a scalar recompute, partition-" +
      "independent, and the model actually classifies") {
    import graft.ops.LinearModel
    val f = TrainingQueries.lrFeaturesForTest(docs)
    val cols = Seq("x0", "x1", "x2", "x3", "x4")
    val w = LinearModel.train(f, cols, "y", iters = 8, lrShift = 4)
    // scalar recompute of the exact fixed-point loop, driver-side
    // (select by NAME — the feature frame also carries a doc_id
    // passthrough for scoring callers)
    val rows = f.select((cols :+ "y").map(col): _*).collect().map(r =>
      (cols.indices.map(i => r.getLong(i)).toVector, r.getLong(cols.size)))
    def sg(z: Long): Long = {
      val idx = math.max(-128L,
        math.min(127L, math.floor(z.toDouble / 4096.0).toLong))
      LinearModel.SigTable((idx + 128).toInt)
    }
    var ww = Vector.fill(cols.size)(0L)
    for (_ <- 0 until 8) {
      val g = rows.foldLeft(Vector.fill(cols.size)(0L)) { case (acc, (x, y)) =>
        val e = sg(x.zip(ww).map { case (a, b) => a * b }.sum) - 65536L * y
        acc.zip(x).map { case (gi, xi) => gi + e * xi }
      }
      val denom = rows.length.toDouble * 16
      ww = ww.zip(g).map { case (wi, gi) =>
        wi - math.floor(gi.toDouble / denom).toLong }
    }
    assert(w == ww, s"distributed $w != scalar $ww")
    // long-sum gradients are order-independent: any partitioning trains
    // the same bits
    assert(LinearModel.train(f.repartition(7), cols, "y", 8, 4) == w)
    // the model separates its classes
    val scored = f.withColumn("s", LinearModel.scoreFp(cols, w)).collect()
    val acc = scored.count(r => (r.getAs[Long]("s") >= 32768L) ==
      (r.getAs[Long]("y") == 1L)).toDouble / scored.length
    assert(acc >= 0.9, s"training accuracy $acc")
    assert(scored.forall(r =>
      r.getAs[Long]("s") >= 0L && r.getAs[Long]("s") <= 65536L))
    // arity mismatch between features and weights fails fast (zip would
    // silently drop terms); null-label rows leave the gradient AND the
    // denominator together (na.drop), so they cannot shrink the step
    intercept[IllegalArgumentException] {
      LinearModel.scoreFp(cols, w.dropRight(1))
    }
    val withNull = f.unionByName(
      f.limit(3).withColumn("y", lit(null).cast("long")))
    assert(LinearModel.train(withNull, cols, "y", 8, 4) == w,
      "null-label rows must not perturb training")
  }

  test("int8 quantization bounds and dequantization error") {
    val q = VectorOps.quantizeInt8(embs, "id", "vec")
      .select(col("id"), posexplode(col("qvec")).as(Seq("pos", "q")))
      .collect()
    assert(q.nonEmpty)
    assert(q.forall(r => r.getByte(2) >= -127 && r.getByte(2) <= 127))
    // dequantized value within one quantization step of the original
    val orig = embs.select(col("id"), posexplode(col("vec")).as(Seq("pos", "x")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getFloat(2)).toMap
    assert(q.forall { r =>
      math.abs(r.getByte(2) / 127.0 - orig((r.getLong(0), r.getInt(1)))) <= 1.0 / 127.0 + 1e-9
    })
  }

  test("quality scores bounded and langid in range") {
    val q = TrainingQueries.txtQuality(spark, sf).collect()
    assert(q.forall { r =>
      val s = r.getAs[Double]("quality_score"); s >= 0.0 && s <= 1.0 })
    val langs = TrainingQueries.txtLangid(spark, sf)
      .select("lang_pred").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "es", "de", "fr", "und")))
  }

  test("winnowing fingerprints: shared text shares fingerprints") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // identical
      (3L, "completely different content with no overlap at all zz")
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(df, "doc_id", "text")
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    assert(fps(1L) == fps(2L) && fps(1L).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    // short text below the gram size yields no fingerprints
    val short = TextOps.winnowFingerprints(
      Seq((9L, "tiny")).toDF("doc_id", "text"), "doc_id", "text")
    assert(short.count() == 0)
  }

  test("winnow pairs: near-identical docs pair via shared fingerprints") {
    val pairs = TrainingQueries.ddWinnowPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty, "fixture near-dups must share winnow fingerprints")
    assert(pairs.forall { case (a, b, n) => a < b && n >= 2 })
    // shared-count never exceeds either doc's own fingerprint count
    val fpCounts = TextOps.winnowFingerprints(
        docs.filter(col("doc_id") < 50), "doc_id", "text")
      .groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.forall { case (a, b, n) =>
      n <= fpCounts(a) && n <= fpCounts(b) })
  }

  test("BPE-ish token estimate grows with word length, floors at word count") {
    import spark.implicits._
    val df = Seq((1L, "a bb ccc dddd"), (2L, "internationalization"))
      .toDF("doc_id", "text")
    val r = df.select(col("doc_id"), TextOps.bpeTokenEstimateCol(col("text")))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) == 4L) // four short words, one piece each
    assert(r(2L) == 5L) // ceil(20/4)
  }

  test("hash sampling: deterministic, rate-accurate, salt-independent") {
    val n = docs.count().toDouble
    val s1 = SampleOps.hashSample(docs, "doc_id", 0.2, "split1")
    val s1b = SampleOps.hashSample(docs, "doc_id", 0.2, "split1")
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == s1b.select("doc_id").collect().map(_.getLong(0)).toSet,
      "same salt must reproduce the same rows")
    assert(math.abs(ids1.size / n - 0.2) < 0.1, s"rate off: ${ids1.size / n}")
    val ids2 = SampleOps.hashSample(docs, "doc_id", 0.2, "split2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2 != ids1, "different salts must give different samples")
    // edge rates
    assert(SampleOps.hashSample(docs, "doc_id", 0.0, "x").count() == 0)
    assert(SampleOps.hashSample(docs, "doc_id", 1.0, "x").count() == n)
    // subset property within one salt: a higher rate contains a lower one
    val lo = SampleOps.hashSample(docs, "doc_id", 0.1, "split1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(ids1))
  }

  test("stratified sampling follows per-stratum rates and default") {
    val rates = Map("src0" -> 1.0, "src1" -> 0.0)
    val got = SampleOps.stratifiedSample(docs, "doc_id", "source",
        rates, 0.5, "mix")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("src0") == tot("src0"), "rate 1.0 keeps everything")
    assert(!got.contains("src1"), "rate 0.0 keeps nothing")
    val others = tot.keySet -- rates.keySet
    val keptFrac = others.toSeq.map(s => got.getOrElse(s, 0L)).sum.toDouble /
      others.toSeq.map(tot).sum
    assert(math.abs(keptFrac - 0.5) < 0.15, s"default-rate fraction $keptFrac")
  }

  test("token chunking: window/stride algebra, short docs, tail window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def chunksOf(text: String, size: Int, stride: Int): Seq[(Int, String)] =
      Seq(Tuple1(text)).toDF("text")
        .select(explode(TextOps.chunksCol(col("text"), size, stride)).as("c"))
        .select(col("c.chunk_idx"), col("c.chunk_text"))
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    val toks = (1 to 40).map(i => s"w$i")
    val got = chunksOf(toks.mkString(" "), size = 8, stride = 4)
    assert(got.size == 9) // 1 + ceil((40-8)/4)
    assert(got.head._2 == toks.take(8).mkString(" "))
    assert(got.last._2 == toks.drop(32).mkString(" ")) // tail, full window
    // every token appears; consecutive chunks overlap by size - stride
    got.sliding(2).foreach { case Seq((_, a), (_, b)) =>
      assert(a.split(" ").drop(4).sameElements(b.split(" ").take(4)))
    case _ => }
    // shorter than one window → exactly one chunk, the document itself
    assert(chunksOf("a b c", 8, 4) == Seq((0, "a b c")))
    // exact multiple: no empty trailing chunk
    assert(chunksOf((1 to 8).map("t" + _).mkString(" "), 8, 4).size == 1)
    // null text → NO phantom chunk row (null array, explode drops)
    val nulls = Seq(Tuple1("x y")).toDF("text")
      .select(lit(null).cast("string").as("text"))
      .select(explode(TextOps.chunksCol(col("text"), 8, 4)))
    assert(nulls.count() == 0)
  }

  test("deterministic shuffle refuses inputs that already carry its " +
      "output columns") {
    import org.apache.spark.sql.functions._
    val poisoned = docs.withColumn("pos", lit(1L))
    val err = intercept[IllegalArgumentException] {
      SampleOps.deterministicShuffle(poisoned, "doc_id", "s", 4)
    }
    assert(err.getMessage.contains("pos"))
  }

  test("deterministic shuffle: reruns identical, epochs differ, every " +
      "shard position contiguous, partitioning-independent") {
    import org.apache.spark.sql.functions._
    val n = docs.count()
    def orderOf(d: org.apache.spark.sql.DataFrame, seed: String) =
      SampleOps.deterministicShuffle(d, "doc_id", seed, nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
    val ep1 = orderOf(docs, "ep1").toMap
    assert(ep1.size == n)
    // rerun AND different input partitioning: identical deal
    assert(orderOf(docs, "ep1").toMap == ep1)
    assert(orderOf(docs.repartition(3), "ep1").toMap == ep1)
    // a new seed is a genuinely different permutation
    val ep2 = orderOf(docs, "ep2").toMap
    assert(ep1 != ep2 && ep1.keySet == ep2.keySet)
    // per shard: positions are exactly 1..|shard|
    ep1.values.groupBy(_._1).foreach { case (shard, rows) =>
      val ps = rows.map(_._2).toSeq.sorted
      assert(ps == (1L to ps.length.toLong), s"shard $shard")
    }
  }

  test("temperature mixing flattens toward small sources, integer-exact") {
    import spark.implicits._
    // skewed corpus: one giant source, one small
    val df = ((1L to 900L).map(i => (i, "big")) ++
        (901L to 1000L).map(i => (i, "small")))
      .toDF("doc_id", "source")
    val th = SampleOps.temperatureThresholds(df, "source", 1L, 2L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact replica of the integer contract
    val (nb, ns) = (900L, 100L)
    val (wb, ws) = (math.floor(math.sqrt(nb.toDouble)).toLong,
      math.floor(math.sqrt(ns.toDouble)).toLong)
    val (nTot, wTot) = (nb + ns, wb + ws)
    def k(w: Long, n: Long) =
      math.min(65536L, (65536L * 1L * nTot * w) / (2L * wTot * n))
    assert(th("big") == ((nb, k(wb, nb))), th)
    assert(th("small") == ((ns, k(ws, ns))), th)
    // flattening: the small source is kept at a HIGHER rate than the big
    assert(k(ws, ns).toDouble / 65536 > k(wb, nb).toDouble / 65536)
    // α=1/2 allocation: expected kept counts are ∝ sqrt(n) — the small
    // source's kept/expected ratio lands near the big one's
    val kept = SampleOps.temperatureSample(df, "doc_id", "source", 1L, 2L, "t")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("big") > 0 && kept("small") > 0)
    // deterministic: rerun is identical
    val again = SampleOps.temperatureSample(df, "doc_id", "source", 1L, 2L, "t")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == again)
    // target fraction: overall kept ≈ 1/2 of N (binomial noise at n=1000)
    val frac = kept.values.sum.toDouble / 1000.0
    assert(math.abs(frac - 0.5) < 0.1, s"overall kept fraction $frac")
  }

  test("PII scrub replaces emails/urls/digit-runs; normalize collapses whitespace") {
    import spark.implicits._
    val df = Seq(
      ("reach me at Bob.Smith+x@corp.example.org today", 1L),
      ("see https://a.b/c?d=e#f and http://plain.io next", 2L),
      ("ticket 123456789 and short 12345 stay", 3L),
      ("  Mixed   CASE \t text  ", 4L)).toDF("text", "id")
    val out = df.select(col("id"),
        TextOps.scrubPiiCol(col("text")).as("scrubbed"),
        TextOps.normalizeCol(col("text")).as("norm"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(1L)._1 == "reach me at <EMAIL> today")
    assert(out(2L)._1 == "see <URL> and <URL> next")
    assert(out(3L)._1 == "ticket <NUM> and short 12345 stay",
      "only runs of 6+ digits are scrubbed")
    assert(out(4L)._2 == "mixed case text")
  }

  test("sequence packing: contiguous offsets per shard, reproducible, epoch-varying") {
    val nTok = size(TextOps.tokensCol(col("text")))
    val packed = PackOps.packSequences(docs, "doc_id", nTok, 512, "ep0").collect()
    val withTok = docs.select(col("doc_id"),
        nTok.cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // within a shard, sorted start offsets tile the stream without gaps
    packed.groupBy(_.getString(1)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(2))
      var expect = 0L
      sorted.foreach { r =>
        assert(r.getLong(2) == expect, "offsets must be contiguous")
        expect += withTok(r.getLong(0))
      }
    }
    // seq_idx consistent with ctxLen
    assert(packed.forall(r => r.getLong(3) == r.getLong(2) / 512))
    // reproducible; different epoch salt reorders
    val again = PackOps.packSequences(docs, "doc_id", nTok, 512, "ep0").collect()
    // shard included: offsets alone could agree while shard assignment
    // drifted nondeterministically between runs
    assert(packed.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      again.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet)
    val ep1 = PackOps.packSequences(docs, "doc_id", nTok, 512, "ep1").collect()
    assert(ep1.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet !=
      packed.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet)
  }

  test("FFD packing: every doc placed once, no bin overfills, first-fit " +
      "order respected, and waste strictly below concat-and-chunk's") {
    val ctx = 512
    val base = docs.filter(col("text").isNotNull)
    val nTokC = size(TextOps.tokensCol(col("text")))
    val nTok = base.select(col("doc_id"), nTokC.cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val packed = PackOps.packFfd(base, "doc_id", nTokC, ctx, "ep0").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(packed.map(_._1).distinct.length == nTok.size,
      "every document placed exactly once")
    val byBin = packed.groupBy(p => (p._2, p._3))
    byBin.foreach { case ((sh, bin), rows) =>
      val fill = rows.map(p => nTok(p._1)).sum
      assert(fill <= ctx, s"bin $sh/$bin overfilled: $fill")
      // offsets tile the bin: sorted offsets are the prefix sums of
      // the docs' token counts in placement order
      val sorted = rows.sortBy(_._4)
      var off = 0L
      sorted.foreach { p =>
        assert(p._4 == off, s"bin $sh/$bin offsets must tile")
        off += nTok(p._1)
      }
    }
    // first-fit-decreasing invariant: replay the fold and require the
    // exact same assignment (the oracle does this in SQL; this is the
    // in-suite twin at Scala speed)
    packed.groupBy(_._2).foreach { case (_, rows) =>
      val order = rows.map(p => (nTok(p._1), p._1)).sortBy {
        case (n, id) => (-n, id) }
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      val got = rows.map(p => p._1 -> (p._3, p._4)).toMap
      order.foreach { case (n, id) =>
        var i = 0
        while (i < bins.length && bins(i) < n) i += 1
        val off = if (i < bins.length) { val o = ctx - bins(i); bins(i) -= n; o }
          else { bins += (ctx - n); 0L }
        assert(got(id) == (i.toLong, off), s"doc $id deviates from FFD")
      }
    }
    // economics: FFD waste = terminal slack only (no doc is ever cut);
    // concat-and-chunk waste = its shard-tail padding PLUS every token
    // of a boundary-straddling document (a cut doc is a broken training
    // example). FFD must be strictly cheaper on this corpus.
    val ffdWaste = byBin.values.map(rows =>
      ctx - rows.map(p => nTok(p._1)).sum).sum
    val chunked = PackOps.packSequences(base, "doc_id", nTokC, ctx, "ep0")
      .collect()
    val straddleTok = chunked.filter { r =>
      val n = nTok(r.getLong(0)); val s0 = r.getLong(2)
      n > 0 && s0 / ctx != (s0 + n - 1) / ctx
    }.map(r => nTok(r.getLong(0))).sum
    val tailPad = chunked.groupBy(_.getString(1)).values.map { rows =>
      val tot = rows.map(r => nTok(r.getLong(0))).sum
      (ctx - tot % ctx) % ctx
    }.sum
    assert(ffdWaste < straddleTok + tailPad,
      s"FFD waste $ffdWaste must undercut chunked waste " +
        s"${straddleTok + tailPad} (straddle $straddleTok + tail $tailPad)")
  }

  test("FFD's first-fit tree equals the linear first-fit scan on the " +
      "adversarial 257/256 mix, at the provable bin count") {
    // every 257-token doc opens its own bin (two cannot share 512 and
    // the 255 left fits nothing); every 256-token doc then scans all of
    // them before pairing up — the linear scan's quadratic case
    val ctx = 512L
    val m = 3000
    val sizes = Array.tabulate(m)(i => if (i < m / 2) 257L else 256L)
    val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
    val linear = sizes.map { n =>
      var i = 0
      while (i < bins.length && bins(i) < n) i += 1
      if (i < bins.length) { val o = ctx - bins(i); bins(i) -= n; (i.toLong, o) }
      else { bins += (ctx - n); (bins.length - 1L, 0L) }
    }
    val tree = new PackOps.FirstFitTree(ctx)
    assert(sizes.map(tree.place).toSeq == linear.toSeq)
    assert(tree.openBins == m / 2 + m / 4)
  }

  test("tf-idf: common terms rank below distinctive ones, topK bounded") {
    val window = docs.filter(col("doc_id") < 100)
    val scored = TextOps.termScores(window, "doc_id", "text", topK = 5).collect()
    val byDoc = scored.groupBy(_.getLong(0))
    assert(byDoc.forall(_._2.length <= 5))
    // ranks are dense 1..k per EACH doc's own row count (a doc with
    // fewer than topK distinct terms has fewer ranks)
    assert(byDoc.values.forall(rs =>
      rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length)))
    // within a doc, scores are non-increasing with rank
    byDoc.values.foreach { rs =>
      val ordered = rs.sortBy(_.getLong(1)).map(_.getDouble(5))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b })
    }
    val n = window.count()
    assert(scored.forall(r => r.getLong(4) <= n))
    // the actual IDF property, on a corpus built to exhibit it: a term in
    // every doc must score strictly below a same-tf term unique to the doc
    import spark.implicits._
    val tiny = Seq((1L, "common rare1"), (2L, "common rare2"),
      (3L, "common rare3")).toDF("doc_id", "text")
    val ts = TextOps.termScores(tiny, "doc_id", "text", topK = 2).collect()
      .groupBy(_.getLong(0))
    ts.values.foreach { rs =>
      val score = rs.map(r => r.getString(2) -> r.getDouble(5)).toMap
      val (commonScore, rareScore) =
        (score("common"), (score - "common").values.head)
      assert(commonScore < rareScore,
        s"idf must downweight the everywhere-term: $score")
    }
  }

  test("contamination scan flags n-gram overlap with the eval set only") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"),  // shares 3 trigrams with eval 0
      (11L, "unrelated words entirely here now"),
      (12L, "one shared alpha beta gamma nothing else")) // shares 1 trigram... plus overlap
      .toDF("doc_id", "text")
    val eval_ = Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val got = TextOps.contamination(corpus, eval_, "doc_id", "text",
        n = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((10L, 0L, 3L)),
      s"doc 10 shares exactly its 3 trigrams; 11 none; 12 only one: $got")
    // the real-gate form returns rows on the fixture corpus (near-dups exist)
    assert(TrainingQueries.ddContaminate(spark, sf).count() > 0)
  }

  test("shingles: n-gram construction") {
    import spark.implicits._
    val df = Seq(Tuple1("a b c d")).toDF("text")
    val sh = df.select(TextOps.shinglesCol(col("text"), 3).as("s"))
      .head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
  }

  test("PQ: codes are partition-order independent, ADC ranking is " +
      "deterministic, and recall against exact top-k is real") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 500)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cb = VectorOps.pqCodebook(e, m = 4, codes = 16, dim = 64)
    def encSet(parts: Int) =
      VectorOps.pqEncode(e.repartition(parts), cb, m = 4, dim = 64)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val enc4 = encSet(4)
    assert(encSet(1) == enc4 && encSet(13) == enc4)
    assert(enc4.values.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 16)))

    // a null vector has no codes: the row is dropped, never emitted
    // with codes = NULL (the join formulation's implicit behavior)
    val withNull = e.unionByName(e.limit(1)
      .select(lit(-1L).as("id"), lit(null).cast(e.schema("vec").dataType).as("vec")))
    val encN = VectorOps.pqEncode(withNull, cb, m = 4, dim = 64)
    assert(encN.count() == e.count())
    assert(encN.filter(col("id") === -1L).count() == 0)

    val q = e.filter(col("id") < 10)
    val enc = VectorOps.pqEncode(e, cb, m = 4, dim = 64)
    def res(parts: Int) = VectorOps.pqSearch(q, enc.repartition(parts), cb,
        m = 4, dim = 64, k = 5)
      .collect().map(_.toSeq).toSet
    val r4 = res(4)
    assert(r4 == res(1) && r4.size == 50)

    // approximate, but not garbage: on average the PQ top-5 must
    // recover a nontrivial share of the exact cosine top-5 (sampled
    // codebook + L2-vs-cosine mismatch caps this well below 1.0; a
    // broken encoder scores ~5/50 by chance against 500 candidates)
    val exact = VectorOps.topK(q, e, 5).select(col("q_id"), col("n_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = VectorOps.pqSearch(q, enc, cb, m = 4, dim = 64, k = 5)
      .select(col("q_id"), col("n_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq intersect exact).size.toDouble / exact.size
    assert(recall >= 0.2, f"PQ recall $recall%.2f vs exact top-5")

    // IVF+PQ consistency: the composite's ADC for every returned pair
    // must equal plain PQ's ADC for that pair (cells prune candidates,
    // they must never change a surviving pair's distance), and every
    // returned pair must actually share a probed cell
    val cents = Tables.embeddings(spark, sf).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val ivfpq = VectorOps.annIvfPq(q, e, cents, cb, m = 4, dim = 64,
        k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val allPq = VectorOps.pqSearch(q, enc, cb, m = 4, dim = 64, k = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(ivfpq.nonEmpty)
    ivfpq.foreach { case (pair, adc) =>
      assert(allPq(pair) == adc, s"$pair adc $adc != plain ${allPq(pair)}")
    }
    val nCell = VectorOps.assignCells(e, cents, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val qCells = VectorOps.assignCells(q, cents, 2)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    ivfpq.keys.foreach { case (qid, nid) =>
      assert(qCells(qid).contains(nCell(nid)),
        s"pair ($qid,$nid) does not share a probed cell")
    }
  }

  test("dd_method_agree's window guard actually fires: 1001 rows fail " +
      "the job, a legal window passes unchanged") {
    import spark.implicits._
    // the guard must survive the optimizer (a dropped raise_error
    // projection is pruned away and never evaluates — the bug this
    // test exists to keep dead)
    val big = spark.range(0L, 1001L).toDF("doc_id")
      .withColumn("text", concat(lit("doc "), col("doc_id")))
    val e = intercept[Exception] {
      TrainingQueries.boundedAgreeWindow(big).collect()
    }
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage).getOrElse("")) +
        Option(t.getCause).map(rootMsg).getOrElse("")
    assert(rootMsg(e).contains("bounded at 1000"), rootMsg(e).take(300))
    val small = spark.range(0L, 50L).toDF("doc_id")
      .withColumn("text", concat(lit("doc "), col("doc_id")))
    val out = TrainingQueries.boundedAgreeWindow(small)
    assert(out.columns.toSeq == Seq("doc_id", "text"),
      "the guard must leave the schema untouched")
    assert(out.count() == 50L)
  }

  test("trained PQ codebook: zero rounds is the sampled identity, the " +
      "loop is deterministic and shape-preserving, and training " +
      "reduces the fixture's quantization error") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 500)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def cbMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) ->
        r.getSeq[Long](2).toSeq).toMap
    val sampled = cbMap(VectorOps.pqCodebook(e, m = 4, codes = 16,
      dim = 64))
    // iters = 0 IS the sampled baseline — the training loop adds, never
    // replaces, the training-free contract
    assert(cbMap(VectorOps.pqCodebookTrained(e, m = 4, codes = 16,
      dim = 64, iters = 0)) == sampled)
    val trained = cbMap(VectorOps.pqCodebookTrained(e, m = 4, codes = 16,
      dim = 64, iters = 2))
    // deterministic (a second run is bit-identical), shape-preserving
    // (same (j, code) keys, sub-width entries), and it actually moved
    assert(cbMap(VectorOps.pqCodebookTrained(e, m = 4, codes = 16,
      dim = 64, iters = 2)) == trained)
    assert(trained.keySet == sampled.keySet)
    assert(trained.values.forall(_.length == 16))
    assert(trained != sampled, "two Lloyd rounds changed nothing")
    // Lloyd's point: total min squared distance of every corpus
    // subvector to its nearest entry must DROP vs the sampled entries
    // (floor-division means shift each coordinate < 1 unit, noise
    // against the fixture's improvement)
    val subs = e.collect().map { r =>
      val q = r.getSeq[Float](1).map(x => math.floor(x * 1000.0).toLong)
      (0 until 4).map(j => (j, q.slice(j * 16, (j + 1) * 16)))
    }
    def err(cb: Map[(Int, Long), Seq[Long]]): BigInt =
      subs.map(_.map { case (j, sq) =>
        (0L until 16L).map { c =>
          val cq = cb((j, c))
          BigInt(sq.zip(cq).map { case (a, b) =>
            (a - b) * (a - b) }.sum)
        }.min
      }.sum).sum
    val (es, et) = (err(sampled), err(trained))
    assert(et < es, s"trained error $et !< sampled $es")
  }

  test("bucketed near-dup pairs are a subset of brute pairs, probing " +
      "widens recall monotonically, and the keep policy is consistent") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Tables.embeddings(spark, sf).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a"), col("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(VectorOps.nearDupPairs(e, 0.3))
    val p1 = pairSet(VectorOps.nearDupPairsBucketed(e, cents, 0.3, nprobe = 1))
    val p2 = pairSet(VectorOps.nearDupPairsBucketed(e, cents, 0.3, nprobe = 2))
    // soundness: bucketing can only MISS pairs, never invent them —
    // every bucketed pair is a true cosine>τ pair
    assert(p1.subsetOf(brute) && p2.subsetOf(brute))
    // probing monotonicity: nprobe=2 sees every nprobe=1 pair (the
    // primary cell is always among the probed cells) plus boundary pairs
    assert(p1.subsetOf(p2))
    assert(p1.nonEmpty, "fixture must produce within-cell near-dups")
    // keep policy: a row is dropped iff it is the LARGER side of some
    // within-cell pair — exactly the pair set at nprobe=1
    val keep = VectorOps.semanticDedup(e, cents, 0.3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val dominated = p1.map(_._2)
    assert(keep.size == 300)
    keep.foreach { case (id, k) =>
      assert(k == !dominated.contains(id), s"id $id keep=$k")
    }
    // determinism across partitionings (the cell key is the only
    // shuffle; re-dealing input partitions must not change pairs)
    assert(pairSet(VectorOps.nearDupPairsBucketed(e.repartition(13), cents,
      0.3, nprobe = 2)) == p2)
  }

  test("bloom-prefiltered frontier dedup is transparent at every shape") {
    // the composite's correctness must not depend on the filter's FP
    // rate: any shape — the gate's deliberately tight 3×256, something
    // generous, and a degenerate 1×2 where EVERYTHING is "maybe seen" —
    // must yield exactly the plain anti-join's new-doc set
    import graft.ops.SketchOps
    val docs = Tables.documents(spark, sf)
    val seen = docs.filter(col("doc_id") < 200)
      .select(md5(col("text")).as("h"))
    val probes = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val want = probes.join(seen, probes("h") === seen("h"), "left_anti")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    def composite(depth: Int, width: Int): Set[Long] = {
      val sk = SketchOps.bloomSketch(seen, "h", depth, width)
      val verdicts = SketchOps.bloomMightContain(sk, probes, "h")
      val defNew = probes.join(verdicts.filter(!col("might_contain")),
        probes("h") === col("item"), "left_semi")
      val maybe = probes.join(verdicts.filter(col("might_contain")),
        probes("h") === col("item"), "left_semi")
      defNew.unionByName(maybe.join(seen, maybe("h") === seen("h"), "left_anti"))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    assert(composite(3, 256) == want)
    assert(composite(3, 1 << 16) == want)
    assert(composite(1, 2) == want)
    assert(want.nonEmpty)
    // and the gate itself is the 3×256 instance
    val viaGate = TrainingQueries.ddFrontier(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(viaGate == want)
  }

  test("unigram surprisal: table words score their millinats, OOV the " +
      "ceiling, keep thresholds on the integer mean") {
    import spark.implicits._
    import graft.functions.{Bpe, Unigram}
    def score(t: String): (Long, Long) = {
      val r = Seq(t).toDF("text")
        .select(Unigram.surpriseOfTokens(Bpe.wordsCol(col("text"))).as("s"))
        .head().getStruct(0)
      (r.getLong(0), r.getLong(1))
    }
    val m = Unigram.table.toMap
    assert(score("join hash") == (2L, m("join") + m("hash")))
    assert(score("JOIN") == (1L, m("join")))            // lowercased
    assert(score("zzqx") == (1L, Unigram.oovMillinats)) // OOV ceiling
    assert(score("") == (0L, 0L))                       // empty doc
    assert(score("   ") == (0L, 0L))                    // whitespace only
    // the gate's keep decision: typical words pass, OOV-dominated fails
    val got = Seq((1L, "join hash row batch"), (2L, "zzq qqq xxx"))
      .toDF("doc_id", "text")
      .transform(df => {
        // score through the same expressions the gate uses
        df.select(col("doc_id"),
          Unigram.surpriseOfTokens(Bpe.wordsCol(col("text"))).as("sc"))
          .select(col("doc_id"),
            (expr("sc.surprise_millinats div sc.n_tokens") < 4000L)
              .as("keep"))
      })
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(1L) && !got(2L))
  }

  test("bigram surprisal: word order matters, backoff = unigram + ln2, " +
      "first word scores unigram") {
    import spark.implicits._
    import graft.functions.{Bpe, Unigram}
    def score(t: String): Long = Seq(t).toDF("text")
      .select(Unigram.bigramSurpriseOfTokens(Bpe.wordsCol(col("text")))
        .as("s"))
      .head().getStruct(0).getLong(1)
    val u = Unigram.table.toMap
    val b = Unigram.bigramTable.toMap
    assert(score("table") == u("table"))
    // in-table bigram: conditional cost, cheaper than independence
    assert(score("table hash") == u("table") + b("table hash"))
    assert(b("table hash") < u("hash"))
    // REVERSED pair is not in the table → stupid-backoff
    assert(score("hash table") ==
      u("hash") + u("table") + Unigram.backoffMillinats)
    // so the fluent order scores strictly better than the shuffled one
    assert(score("table hash") < score("hash table"))
    assert(score("") == 0L)
  }

  test("bm25: tf raises, idf favors rare terms, scores match the hand-" +
      "computed integer arithmetic, partitioning-independent") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "data data data pad pad"),
      (2L, "data pad pad pad pad"),
      (3L, "pad pad pad pad pad"),
      (4L, "rare pad pad pad pad")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextOps.bm25(df, "doc_id", "text", Seq("data", "rare"), topK = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
    val got = run(fixture)
    // N=4, tot=20, len=5: hand arithmetic of the rational-idf formula —
    //   doc1 data tf=3 df=2: ⌊5000·22·3·20 / (5·(600+60+180))⌋ = 1571
    //   doc2 data tf=1 df=2: ⌊5000·22·20  / (5·440·… )⌋        = 1000
    //   doc4 rare tf=1 df=1: ⌊7000·22·20  / (3·440)⌋           = 2333
    // rare beats frequent at equal tf (idf), tf=3 beats tf=1, and the
    // no-hit doc 3 is absent
    assert(got.toSeq == Seq(4L -> 2333L, 1L -> 1571L, 2L -> 1000L))
    assert(run(fixture.repartition(7)).toSeq == got.toSeq)
  }

  test("bm25 lowercases query terms as Spark's lower() does, whatever " +
      "the default locale (tr-TR lowercases 'I' to a dotless 'ı')") {
    import spark.implicits._
    val docs = Seq((1L, "info about trees"), (2L, "nothing here"))
      .toDF("doc_id", "text")
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      val hits = TextOps.bm25(docs, "doc_id", "text", Seq("INFO"), topK = 10)
        .collect().map(_.getLong(0))
      assert(hits.toSeq == Seq(1L))
    } finally java.util.Locale.setDefault(saved)
  }

  test("hybrid RRF fusion equals the per-tower recomputation; dual-" +
      "listed docs outrank single-tower docs at equal positions") {
    val fused = TrainingQueries.retHybrid(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recompute both towers independently and fold the RRF by hand
    val lex = TrainingQueries.txtBm25(spark, sf).collect()
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val dense = graft.ops.VectorOps.topK(e.filter(col("id") === 0), e, 20)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    def rrf(id: Long): Long =
      lex.get(id).map(r => 1000000L / (60L + r)).getOrElse(0L) +
        dense.get(id).map(r => 1000000L / (60L + r)).getOrElse(0L)
    assert(fused.nonEmpty && fused.forall { case (id, s) => s == rrf(id) })
    // a doc on BOTH lists must beat any doc on one list at the same or
    // worse positions — the property fusion exists for
    val dual = fused.keys.filter(id => lex.contains(id) && dense.contains(id))
    if (dual.nonEmpty) {
      val best = fused.maxBy(_._2)
      assert(lex.contains(best._1) && dense.contains(best._1),
        s"top fused doc ${best._1} should be dual-listed")
    }
    // served from the postings and IVF stores, the fusion is identical
    def rows(q: TrainingQueries.Q) = q(spark, sf).collect().map(_.toSeq).toSet
    assert(rows(TrainingQueries.retHybridStore) ==
      rows(TrainingQueries.retHybrid))
  }

  test("positional postings: phrase counts equal a driver-side reference " +
      "on the corpus; repeated-term phrases; v1 stores refused for phrase") {
    import graft.ops.PostingsStore
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_phr").toString
    PostingsStore.save(docs, "doc_id", "text", dir, buckets = 8)
    val st = PostingsStore.load(spark, dir)
    // driver-side reference: the engine's own tokenizer (collected), all
    // consecutive-triple counts; pick the corpus's most frequent trigram
    // so the probe always has matches at any SF
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(TextOps.tokensCol(col("text")), t => t =!= lit("")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val triCounts = toks.flatMap { case (_, t) => t.sliding(3).filter(_.size == 3) }
      .groupBy(identity).map { case (k, v) => (k, v.size) }
    val phrase = triCounts.maxBy { case (k, n) => (n, k.mkString(" ")) }._1.toSeq
    val ref = toks.map { case (id, t) =>
      id -> t.sliding(3).count(_ == phrase)
    }.filter(_._2 > 0).toMap
    val got = PostingsStore.queryPhrase(st, phrase, topK = 10000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref.map { case (k, v) => k -> v.toLong } && got.nonEmpty)
    // repeated-term phrase: consecutive self-pairs, left-to-right
    val mini = Seq((1L, "data data data x data data"),
      (2L, "data x data")).toDF("doc_id", "text")
    val mdir = java.nio.file.Files.createTempDirectory("graft_phr2").toString
    PostingsStore.save(mini, "doc_id", "text", mdir, buckets = 2)
    val mst = PostingsStore.load(spark, mdir)
    val mm = PostingsStore.queryPhrase(mst, Seq("data", "data"), topK = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 positions of data: 0,1,2,4,5 → (0,1),(1,2),(4,5); doc 2 none
    assert(mm == Map(1L -> 3L))
    // a phrase whose term is absent anywhere → empty, not an error
    assert(PostingsStore.queryPhrase(mst, Seq("data", "zzz"), 10).isEmpty)
    // a pre-positions (v1) handle is refused for phrase serving with a
    // rebuild message — BM25 keeps working on it
    val v1 = st.copy(version = 1)
    val e = intercept[IllegalArgumentException] {
      PostingsStore.queryPhrase(v1, phrase, 5)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("proximity queries: backward reachability beats greedy (the " +
      "counterexample), slop 0 equals the exact phrase, corpus reference") {
    import graft.ops.PostingsStore
    import spark.implicits._
    // the greedy-earliest trap spelled out in queryProximity's doc:
    // "a b b x c" at slop 1 — greedy from a picks b@1, whose window
    // (1, 3] misses c@4; the chain a → b@2 → c@4 exists. Reachability
    // must count it.
    val trap = Seq((1L, "a b b x c")).toDF("doc_id", "text")
    val tdir = java.nio.file.Files.createTempDirectory("graft_prox").toString
    PostingsStore.save(trap, "doc_id", "text", tdir, buckets = 2)
    val tst = PostingsStore.load(spark, tdir)
    val hit = PostingsStore.queryProximity(tst, Seq("a", "b", "c"),
      slop = 1, topK = 5).collect()
    assert(hit.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 1L)),
      hit.mkString(","))
    // slop 0 == exact phrase, on the real corpus and the store built by
    // the sibling test's fixture shape
    val dir = java.nio.file.Files.createTempDirectory("graft_prox2").toString
    PostingsStore.save(docs, "doc_id", "text", dir, buckets = 8)
    val st = PostingsStore.load(spark, dir)
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(TextOps.tokensCol(col("text")), t => t =!= lit("")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val tri = toks.flatMap { case (_, t) => t.sliding(3).filter(_.size == 3) }
      .groupBy(identity).map { case (k, v) => (k, v.size) }
    val phrase = tri.maxBy { case (k, n) => (n, k.mkString(" ")) }._1.toSeq
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asMap(PostingsStore.queryProximity(st, phrase, 0, 10000)) ==
      asMap(PostingsStore.queryPhrase(st, phrase, 10000)))
    // slop 2 against a driver-side existence reference (any chain with
    // gaps <= 3), on a 2-term query so the reference stays simple
    val two = phrase.take(2)
    val ref = toks.map { case (id, t) =>
      val pos1 = t.zipWithIndex.filter(_._1 == two(0)).map(_._2)
      val pos2 = t.zipWithIndex.filter(_._1 == two(1)).map(_._2).toSet
      id -> pos1.count(p => (p + 1 to p + 3).exists(pos2))
    }.filter(_._2 > 0).toMap.map { case (k, v) => k -> v.toLong }
    assert(asMap(PostingsStore.queryProximity(st, two, 2, 10000)) == ref
      && ref.nonEmpty)
  }

  test("unordered window queries: min span hand-replayed, order-free, " +
      "driver-side reference on the corpus, v1 refused") {
    import graft.ops.PostingsStore
    import spark.implicits._
    // hand-built spans: doc 1 tightest cover is the full 5-token doc
    // (data only at 0); doc 2 covers in 3 — and in REVERSE term order,
    // which must not matter; doc 3's tightest cover is 9 > window 8
    val mini = Seq(
      (1L, "data x x table hash"),
      (2L, "table data hash"),
      (3L, "data table x x x x x x hash"),
      (4L, "data table")).toDF("doc_id", "text")
    val mdir = java.nio.file.Files.createTempDirectory("graft_win").toString
    PostingsStore.save(mini, "doc_id", "text", mdir, buckets = 2)
    val mst = PostingsStore.load(spark, mdir)
    val got = PostingsStore.queryWindow(mst,
        Seq("data", "table", "hash"), window = 8, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // ranked span asc: doc 2 (3) before doc 1 (5); doc 3 filtered,
    // doc 4 lacks a term
    assert(got == Seq((2L, 3L), (1L, 5L)), got.mkString(","))
    // corpus reference: driver-side min-span via the engine's own
    // tokenizer, most frequent co-occurring pair + one fixed term so
    // matches exist at any SF
    val dir = java.nio.file.Files.createTempDirectory("graft_win2").toString
    PostingsStore.save(docs, "doc_id", "text", dir, buckets = 8)
    val st = PostingsStore.load(spark, dir)
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(TextOps.tokensCol(col("text")), t => t =!= lit("")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val terms = Seq("data", "table")
    def minSpan(t: Seq[String]): Option[Long] = {
      val pos = terms.map(w => t.zipWithIndex.filter(_._1 == w).map(_._2))
      if (pos.exists(_.isEmpty)) None
      else Some(pos.flatten.distinct.sorted.flatMap { p =>
        val firsts = pos.map(_.find(_ >= p))
        if (firsts.exists(_.isEmpty)) None
        else Some((firsts.flatten.max - p + 1).toLong)
      }.min)
    }
    val ref = toks.flatMap { case (id, t) =>
      minSpan(t).filter(_ <= 6L).map(id -> _) }
      .sortBy { case (id, s) => (s, id) }.take(10000).toSeq
    val served = PostingsStore.queryWindow(st, terms, window = 6,
        topK = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == ref && ref.nonEmpty)
    // layout guard: a v1 handle is refused with the rebuild message
    val e = intercept[IllegalArgumentException] {
      PostingsStore.queryWindow(st.copy(version = 1), terms, 6, 5)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("postings store: served BM25 equals in-memory bit for bit, the " +
      "term filter bucket-prunes, append folds new docs, crash refused") {
    import graft.ops.PostingsStore
    val dir = java.nio.file.Files.createTempDirectory("graft_post").toString
    val terms = Seq("data", "query", "table")
    PostingsStore.save(docs, "doc_id", "text", dir, buckets = 8)
    val st = PostingsStore.load(spark, dir)
    val served = PostingsStore.queryBm25(st, terms, topK = 20)
      .collect().map(_.toSeq)
    val mem = TextOps.bm25(docs, "doc_id", "text", terms, topK = 20)
      .collect().map(_.toSeq)
    assert(served.toSeq == mem.toSeq && served.nonEmpty)
    // the term predicate is a BUCKET filter: one term reads 1 of 8
    // buckets' files (the Lucene-postings analog of TreeStore's
    // point-lookup pruning). Pin auto-bucketed-scan off so the
    // no-join point read keeps its bucket filter (the StoreSpec rule)
    val auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val old = spark.conf.get(auto)
    spark.conf.set(auto, "false")
    try {
      val one = st.postings.filter(col("term") === "data")
      one.collect()
      assert(one.queryExecution.executedPlan.toString
        .contains("SelectedBucketsCount: 1 out of 8"),
        one.queryExecution.executedPlan.toString)
    } finally spark.conf.set(auto, old)
    // append new docs: stats fold, answers equal a one-shot index
    val grow = java.nio.file.Files.createTempDirectory("graft_postg").toString
    PostingsStore.save(docs.filter(col("doc_id") < 250), "doc_id", "text",
      grow, buckets = 8, batchId = Some(0L))
    PostingsStore.append(spark, grow, docs.filter(col("doc_id") >= 250),
      "doc_id", "text", batchId = Some(1L))
    val g = PostingsStore.load(spark, grow)
    assert((g.nDocs, g.totalLen) == (st.nDocs, st.totalLen))
    assert(PostingsStore.queryBm25(g, terms, topK = 20)
      .collect().map(_.toSeq).toSeq == mem.toSeq)
    // zombie re-delivery no-ops (re-ingesting doubles postings)
    PostingsStore.append(spark, grow, docs.filter(col("doc_id") >= 250),
      "doc_id", "text", batchId = Some(1L))
    assert(PostingsStore.load(spark, grow).nDocs == st.nDocs)
    // a RE-INGESTED doc id is refused, never silently double-counted
    val eDup = intercept[IllegalArgumentException] {
      PostingsStore.append(spark, grow,
        docs.filter(col("doc_id") === 10), "doc_id", "text",
        batchId = Some(9L))
    }
    assert(eDup.getMessage.contains("re-ingests"))
    assert(PostingsStore.load(spark, grow).nDocs == st.nDocs,
      "a refused append must leave the store loadable and unchanged")
    // an empty corpus is refused at save (no files would be written and
    // load would misreport schema inference); a bad column name fails
    // BEFORE the manifest is touched
    intercept[IllegalArgumentException] {
      PostingsStore.save(docs.filter(lit(false)), "doc_id", "text",
        java.nio.file.Files.createTempDirectory("graft_poste").toString)
    }
    intercept[Exception] {
      PostingsStore.append(spark, grow, docs.filter(col("doc_id") >= 500),
        "no_such_col", "text")
    }
    assert(PostingsStore.load(spark, grow).nDocs == st.nDocs,
      "a failed-validation append must not brick the store")
    // compact the append-grown store: answers and manifest unchanged,
    // one file per bucket again, zombie guard still armed
    def parquetFiles(p: String): Int =
      new java.io.File(s"$p/postings").listFiles()
        .count(_.getName.endsWith(".parquet"))
    val tight = java.nio.file.Files
      .createTempDirectory("graft_postc").toString + "/c"
    PostingsStore.compact(spark, grow, tight)
    val c = PostingsStore.load(spark, tight)
    assert((c.nDocs, c.totalLen) == (st.nDocs, st.totalLen))
    assert(PostingsStore.queryBm25(c, terms, topK = 20)
      .collect().map(_.toSeq).toSeq == mem.toSeq)
    assert(parquetFiles(tight) <= 8 && parquetFiles(tight) < parquetFiles(grow),
      s"compact should shrink ${parquetFiles(grow)} files to <= 8 buckets")
    PostingsStore.append(spark, tight, docs.filter(col("doc_id") >= 250),
      "doc_id", "text", batchId = Some(1L)) // redelivery: still a no-op
    assert(PostingsStore.load(spark, tight).nDocs == st.nDocs)
    intercept[IllegalArgumentException] {
      PostingsStore.compact(spark, grow, grow)
    }
    // postings without a manifest = crashed write, refused loudly
    val broken = java.nio.file.Files.createTempDirectory("graft_postb")
      .toString
    spark.range(3).select(lit("x").as("term"), col("id").as("doc_id"),
        lit(1L).as("tf"), lit(5L).as("len"))
      .write.parquet(s"$broken/postings")
    intercept[IllegalStateException](PostingsStore.storeExists(spark, broken))
    intercept[IllegalStateException](PostingsStore.load(spark, broken))
    assert(!PostingsStore.storeExists(spark,
      java.nio.file.Files.createTempDirectory("graft_postn").toString + "/p"))
  }

  test("LM scorers stay linear on a long document (the tokenizer chain " +
      "is fence-bound, not re-inlined per element)") {
    import spark.implicits._
    import graft.functions.{Bpe, Unigram}
    // 8k words of an in-table bigram: without the single-element-array
    // binding, element_at(clean, i) inside the aggregate lambda re-runs
    // the whole lower/replace/regexp/split chain per element — O(n²),
    // minutes for this row. With the fence it's one pass (the test
    // finishing at all is the guard; the value pins correctness).
    val n = 8000
    val doc = Seq.fill(n / 2)("table hash").mkString(" ")
    val r = Seq(doc).toDF("text")
      .select(Unigram.bigramSurpriseOfTokens(Bpe.wordsCol(col("text")))
        .as("b"),
        Unigram.surpriseOfTokens(Bpe.wordsCol(col("text"))).as("u"))
      .head()
    val u = Unigram.table.toMap
    val b = Unigram.bigramTable.toMap
    val bs = r.getStruct(0)
    assert(bs.getLong(0) == n)
    // first word unigram; then alternating in-table "table hash" and
    // backed-off "hash table" transitions
    val wantB = u("table") + (n / 2) * b("table hash") +
      (n / 2 - 1) * (u("table") + Unigram.backoffMillinats)
    assert(bs.getLong(1) == wantB)
    val us = r.getStruct(1)
    assert(us.getLong(0) == n)
    assert(us.getLong(1) == (n / 2) * (u("table") + u("hash")))
  }

  test("BPE: rank-order merges, adjacent-pair boundary, pipe hygiene") {
    import spark.implicits._
    def toks(t: String): Seq[String] =
      Seq(t).toDF("text")
        .select(graft.functions.Bpe.tokensCol(col("text")).as("t"))
        .head().getSeq[String](0)
    // cascaded merges reach the trained whole-word symbols
    assert(toks("customer filter") == Seq("customer", "filter"))
    assert(toks("Value KEY") == Seq("value", "key")) // lowercased first
    // rule (a,t) must merge BOTH adjacent pairs of "atat" in one pass —
    // a single-separator encoding would consume the shared boundary
    // and leave the second pair unmerged
    assert(toks("atat") == Seq("at", "at"))
    // untrained word falls back toward characters, never drops text
    assert(toks("zzq").mkString == "zzq")
    // the reserved delimiter is stripped, not tokenized
    assert(toks("k|ey") == Seq("key"))
    // the four Java/RE2-divergent code points act as token boundaries
    // on BOTH engines (they are line/field separators semantically);
    // without the normalization U+2028 would survive Spark's \s+ split
    // but not DuckDB's '.', hash-mismatching the gates
    assert(toks("key value") == Seq("key", "value"))
    assert(toks("keyvalue") == Seq("key", "value"))
    assert(toks("keyvalue key") == Seq("key", "value", "key"))
    // the greedy result equals the single-sourced reference
    // priority-queue BPE encode (Bpe.referenceEncode, shared with
    // PropertySpec)
    def refBpe(word: String): Seq[String] =
      graft.functions.Bpe.referenceEncode(word)
    for (w <- Seq("customer", "database", "slowly", "keyvalue", "joins",
        "batched", "xyz", "aggregate", "orderline"))
      assert(toks(w) == refBpe(w), s"word $w")
  }

  test("inParallel waits for every chain and rethrows the first failure, " +
      "the others suppressed") {
    val sibling = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = new IllegalStateException("gate failed")
    val e = intercept[IllegalStateException] {
      TrainingQueries.inParallel(
        () => throw boom,
        () => { Thread.sleep(300); sibling.set(true) },
        () => throw new IllegalArgumentException("second failure"))
    }
    assert(e eq boom)
    assert(sibling.get, "returned while a sibling chain was still running")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second failure"))
    assert(TrainingQueries.inParallel(() => 1, () => 2) == Seq(1, 2))
  }
}
