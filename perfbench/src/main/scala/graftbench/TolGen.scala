package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded synthetic synthesis tree in the shape of the Open Tree of Life:
  * mostly binary splits, polytomies of 3 to 60 children, caterpillar runs,
  * about 30% of internal nodes named after a taxon (`ott<uid>`) and the
  * rest named by their MRCA pair (`mrcaott<a>ott<b>`), as synthesis trees
  * label them.
  *
  * Node ids are preorder indices, the same ids `Newick.parse` assigns, so
  * the arrays below are the ground truth every answer is checked against.
  * The same (seed, tips) always gives byte-identical files.
  */
final class TolTree(
    val treeId: String,
    val parent: Array[Int],   // -1 at the root
    val label: Array[String], // ot_node_id
    val uid: Array[Long],     // ott id, -1 for unnamed internal nodes
    val isTip: Array[Boolean],
    val depth: Array[Int],
    val tipCount: Array[Int]) {

  def size: Int = parent.length
  def tips: Int = tipCount(0)
  def maxDepth: Int = depth.max

  /** Children of every node, in sibling (= preorder) order. */
  lazy val children: Array[Array[Int]] = {
    val counts = new Array[Int](size)
    var i = 1
    while (i < size) { counts(parent(i)) += 1; i += 1 }
    val out = Array.tabulate(size)(j => new Array[Int](counts(j)))
    java.util.Arrays.fill(counts, 0)
    i = 1
    while (i < size) {
      val p = parent(i); out(p)(counts(p)) = i; counts(p) += 1; i += 1
    }
    out
  }

  /** Last preorder index inside node `i`'s subtree. */
  lazy val last: Array[Int] = {
    val out = Array.tabulate(size)(identity)
    var i = size - 1
    while (i > 0) {
      if (out(i) > out(parent(i))) out(parent(i)) = out(i)
      i -= 1
    }
    out
  }

  /** MRCA of a node set by walking the parent array. */
  def mrca(nodes: Seq[Int]): Int = nodes.reduce { (a0, b0) =>
    var a = a0; var b = b0
    while (depth(a) > depth(b)) a = parent(a)
    while (depth(b) > depth(a)) b = parent(b)
    while (a != b) { a = parent(a); b = parent(b) }
    a
  }

  /** Proper ancestors of `i`, nearest first. */
  def lineage(i: Int): Seq[Int] =
    Iterator.iterate(parent(i))(parent).takeWhile(_ >= 0).toSeq

  /** Tip labels under node `i`. */
  def tipLabels(i: Int): Set[String] =
    (i to last(i)).iterator.filter(isTip).map(label).toSet

  /** Nodes within `height` levels below `i` (an arguson of that height). */
  def cutNodes(i: Int, height: Int): Int =
    (i to last(i)).count(j => depth(j) <= depth(i) + height)

  def newick: String = {
    val sb = new java.lang.StringBuilder(size * 12)
    // iterative DFS: (node, next child index)
    val stack = new Array[Int](maxDepth + 2)
    val next = new Array[Int](maxDepth + 2)
    var top = 0
    stack(0) = 0; next(0) = 0
    while (top >= 0) {
      val v = stack(top)
      val kids = children(v)
      if (kids.isEmpty) {
        sb.append(label(v)); top -= 1
      } else if (next(top) < kids.length) {
        sb.append(if (next(top) == 0) '(' else ',')
        val c = kids(next(top)); next(top) += 1
        top += 1; stack(top) = c; next(top) = 0
      } else {
        sb.append(')').append(label(v)); top -= 1
      }
    }
    sb.append(";\n").toString
  }

  def taxonomyTsv: String = {
    val sb = new java.lang.StringBuilder(size * 40)
    sb.append("uid\t|\tparent_uid\t|\tname\t|\trank\t|\tsourceinfo\t|\tuniqname\t|\tflags\t|\t\n")
    val ranks = Array("genus", "family", "order", "class", "phylum")
    var i = 0
    while (i < size) {
      if (uid(i) >= 0) {
        val pu = lineage(i).find(uid(_) >= 0).map(uid(_).toString).getOrElse("")
        sb.append(uid(i)).append("\t|\t").append(pu).append("\t|\t")
          .append(TolTree.nameOf(this, i)).append("\t|\t")
          .append(if (isTip(i)) "species" else ranks(depth(i) % ranks.length))
          .append("\t|\tncbi:").append(uid(i)).append(",gbif:").append(uid(i) + 7)
          .append("\t|\t\t|\t\t|\t\n")
      }
      i += 1
    }
    sb.toString
  }

  /** Annotations JSON: tree metadata, the source map, and one
    * `supported_by`/`conflicts_with` entry per internal node. Source
    * choices hash the node id with the tree id, so the file is a pure
    * function of the tree.
    */
  def annotationsJson: String = {
    val nSources = 48
    def src(k: Int) = s"pg_${k + 1}@tree${k % 3 + 1}"
    val sb = new java.lang.StringBuilder(size * 60)
    sb.append(s"""{"date_completed":"2024-01-01","taxonomy_version":"3.6",""")
    sb.append(s""""tree_id":"$treeId","num_tips":$tips,""")
    sb.append(s""""num_source_studies":$nSources,"num_source_trees":$nSources,""")
    sb.append(""""filtered_flags":["extinct","barren"],"sources":[""")
    sb.append((0 until nSources).map(k => s""""pg_${k + 1}_tree${k % 3 + 1}"""").mkString(","))
    sb.append("""],"source_id_map":{""")
    sb.append((0 until nSources).map { k =>
      s""""pg_${k + 1}_tree${k % 3 + 1}":{"git_sha":"${"%040x".format(BigInt(k + 1))}",""" +
        s""""study_id":"pg_${k + 1}","tree_id":"tree${k % 3 + 1}"}"""
    }.mkString(","))
    sb.append("""},"nodes":{""")
    var first = true
    var i = 0
    while (i < size) {
      if (!isTip(i)) {
        val h = TolTree.mix(i.toLong * 0x9E3779B97F4A7C15L ^ treeId.hashCode)
        val a = ((h & 0xffff) % nSources).toInt
        val b = (((h >>> 16) & 0xffff) % nSources).toInt
        val c = (((h >>> 32) & 0xffff) % nSources).toInt
        if (!first) sb.append(',')
        first = false
        sb.append('"').append(label(i)).append("\":{\"supported_by\":{\"")
          .append(src(a)).append("\":\"node").append(i).append('"')
        if (b != a) sb.append(",\"").append(src(b)).append("\":\"node").append(i + 1).append('"')
        sb.append("},\"conflicts_with\":{\"").append(src(c)).append("\":[\"node")
          .append(i + 2).append("\",\"node").append(i + 3).append("\"]}}")
      }
      i += 1
    }
    sb.append("}}\n").toString
  }

  /** Write the three ingest inputs; returns (newick, annotations, taxonomy). */
  def write(dir: Path): (Path, Path, Path) = {
    Files.createDirectories(dir)
    def put(name: String, s: String): Path =
      Files.write(dir.resolve(name), s.getBytes(StandardCharsets.UTF_8))
    (put(s"$treeId.tre", newick), put(s"${treeId}_annotations.json", annotationsJson),
      put(s"${treeId}_taxonomy.tsv", taxonomyTsv))
  }
}

object TolTree {
  val NamedFrac = 0.30
  val MaxPolytomy = 60
  /** Depth cap: keeps the deepest path in (32, 64], so the pointer-doubling
    * labeler always takes the same number of rounds whatever the seed.
    */
  val MaxDepth = 60

  def nameOf(t: TolTree, i: Int): String =
    if (t.isTip(i)) s"Taxon ${t.uid(i)}" else s"Clade ${t.uid(i)}"

  private[graftbench] def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Generate a tree with exactly `tips` tips. `uidBase` offsets the ott
    * ids, so several versions can share one store without label clashes.
    * Trees of 1000 tips or more are drawn until the deepest path is in
    * (32, MaxDepth]; each draw is a pure function of (seed, draw number).
    */
  def generate(seed: Long, tips: Int, treeId: String, uidBase: Long = 1000L): TolTree =
    Iterator.from(0).map(k => draw(seed, k, tips, treeId, uidBase))
      .find(t => tips < 1000 || t.maxDepth > 32).get

  private def draw(seed: Long, attempt: Int, tips: Int, treeId: String,
      uidBase: Long): TolTree = {
    require(tips >= 2)
    val rnd = new java.util.SplittableRandom(seed + attempt * 0x632BE59BD9B4E019L)
    val parent = new scala.collection.mutable.ArrayBuilder.ofInt
    val depth = new scala.collection.mutable.ArrayBuilder.ofInt
    val tipCount = new scala.collection.mutable.ArrayBuilder.ofInt
    // task stack: (tips, parent id, depth, caterpillar steps left)
    var stM = new Array[Int](1024); var stP = new Array[Int](1024)
    var stD = new Array[Int](1024); var stC = new Array[Int](1024)
    var sp = 0
    def push(m: Int, p: Int, d: Int, c: Int): Unit = {
      if (sp == stM.length) {
        stM = java.util.Arrays.copyOf(stM, sp * 2); stP = java.util.Arrays.copyOf(stP, sp * 2)
        stD = java.util.Arrays.copyOf(stD, sp * 2); stC = java.util.Arrays.copyOf(stC, sp * 2)
      }
      stM(sp) = m; stP(sp) = p; stD(sp) = d; stC(sp) = c; sp += 1
    }
    def log2ceil(m: Int): Int = 32 - Integer.numberOfLeadingZeros(math.max(1, m - 1))
    push(tips, -1, 0, 0)
    var next = 0
    while (sp > 0) {
      sp -= 1
      val m = stM(sp); val p = stP(sp); val d = stD(sp); val cat = stC(sp)
      val id = next; next += 1
      parent += p; depth += d; tipCount += m
      if (m > 1) {
        // parts in sibling order; pushed reversed so the first pops next
        val parts: Array[Int] =
          if (d + log2ceil(m) + 1 >= MaxDepth) Array(m / 2, m - m / 2)
          else if (cat > 0) Array(1, m - 1)
          else {
            val r = rnd.nextDouble()
            if (r < 0.06 && m >= 3) {
              val k = 3 + rnd.nextInt(math.min(MaxPolytomy, m) - 2)
              val cuts = new java.util.TreeSet[Integer]()
              while (cuts.size < k - 1) cuts.add(1 + rnd.nextInt(m - 1))
              val cs = 0 +: cuts.toArray(Array.empty[Integer]).map(_.intValue) :+ m
              Array.tabulate(k)(j => cs(j + 1) - cs(j))
            } else {
              val a = 1 + rnd.nextInt(m - 1)
              Array(a, m - a)
            }
          }
        val runLeft =
          if (cat > 0) cat - 1
          else if (parts.length == 2 && m > 40 && rnd.nextDouble() < 0.02) 5 + rnd.nextInt(20)
          else 0
        var j = parts.length - 1
        while (j >= 0) {
          // the caterpillar continues down the big (last) side only
          push(parts(j), id, d + 1, if (j == parts.length - 1) runLeft else 0)
          j -= 1
        }
      }
    }
    val par = parent.result(); val dep = depth.result(); val tc = tipCount.result()
    val n = par.length
    val isTip = tc.map(_ == 1)
    // which internal nodes are named: a hash of (seed, id) so it does not
    // disturb the shape stream
    val named = Array.tabulate(n)(i => isTip(i) ||
      (i > 0 && java.lang.Long.remainderUnsigned(mix(seed * 31 + i), 1000) < NamedFrac * 1000))
    val nNamed = named.count(identity)
    val perm = Array.range(0, nNamed)
    var i = nNamed - 1
    while (i > 0) { // seeded Fisher-Yates: ott ids are not in tree order
      val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1
    }
    val uid = new Array[Long](n)
    var k = 0
    i = 0
    while (i < n) {
      if (named(i)) { uid(i) = uidBase + perm(k); k += 1 } else uid(i) = -1L
      i += 1
    }
    // leftmost tip of i = first tip at or after i in preorder
    val firstTip = new Array[Int](n)
    i = n - 1
    var nextTip = -1
    while (i >= 0) { if (isTip(i)) nextTip = i; firstTip(i) = nextTip; i -= 1 }
    val secondChild = Array.fill(n)(-1)
    val seen = new Array[Int](n)
    i = 1
    while (i < n) {
      val p = par(i); seen(p) += 1
      if (seen(p) == 2) secondChild(p) = i
      i += 1
    }
    val label = Array.tabulate(n) { i =>
      if (named(i)) s"ott${uid(i)}"
      else s"mrcaott${uid(firstTip(i))}ott${uid(firstTip(secondChild(i)))}"
    }
    new TolTree(treeId, par, label, uid, isTip, dep, tc)
  }
}
