package graft.tree

import scala.collection.mutable.ArrayBuffer

/** One parsed tree node in DFS-preorder. `nodeId` is the preorder index,
  * which doubles as the `pre` interval label downstream.
  */
final case class ParsedNode(
    nodeId: Long,
    parentId: Long, // -1 for the root
    label: String,  // raw newick label ("" if absent)
    branchLength: Double, // NaN if absent
    childOrd: Int)

/** Newick parse + serialize, driver-side and iterative (a 2.4M-tip chain
  * must not blow the JVM stack).
  *
  * Capability reference (behavior only, re-implemented from scratch):
  * char-by-char recursive-descent parse of `(),;:[]` with labels, branch
  * lengths and bracket comments — /root/reference/src/main/java/jade/tree/
  * deprecated/TreeReader.java:20-143; serialization with insertion-order
  * children and 0-length → 1e-22 epsilon — JadeNode.java:167-195.
  */
object Newick {

  val MinBranchLength = 1e-22 // JadeNode.java:10

  /** Characters replaced with '_' in newick-safe labels
    * (JadeNode.java:23 offendingChars + the whitespace regex `\s` matches;
    * the set `TreeOps.scrubCol` replaces on the Spark path).
    */
  private val Offending = {
    val is = new Array[Boolean](128)
    "\"_~`:;/[]{}|<>,.!@#$%^&*()?+=\\ \t\n\u000B\f\r".foreach(is(_) = true)
    is
  }
  private def offending(c: Char): Boolean = c < 128 && Offending(c)

  /** Replace each run of offending characters with one '_'. A label in
    * which that changes nothing (every ot id) comes back as it is.
    */
  def scrub(name: String): String = {
    var sb: java.lang.StringBuilder = null
    var i = 0
    while (i < name.length) {
      val c = name.charAt(i)
      if (offending(c)) {
        var j = i + 1
        while (j < name.length && offending(name.charAt(j))) j += 1
        if (sb == null && (j - i > 1 || c != '_'))
          sb = new java.lang.StringBuilder(name.length).append(name, 0, i)
        if (sb != null) sb.append('_')
        i = j
      } else {
        if (sb != null) sb.append(c)
        i += 1
      }
    }
    if (sb == null) name else sb.toString
  }

  /** Parse a single newick string into preorder nodes. Quoted labels
    * ('...', with '' escaping) and [comments] are handled; whitespace
    * outside labels is ignored.
    *
    * Malformed input FAILS FAST with a positioned diagnostic
    * (IllegalArgumentException) instead of returning a silently-partial
    * tree or escaping a raw NumberFormat/NoSuchElement error: unbalanced
    * parentheses either way, a separator outside any parenthesis (a
    * stray semicolon truncating the tree shows up as unclosed '('s), a
    * truncated stream (no terminating ';'), an unparseable branch
    * length, and non-whitespace trailing content after the terminator.
    */
  def parse(newick: String): IndexedSeq[ParsedNode] = {
    val s = newick
    val n = s.length
    val out = ArrayBuffer.empty[ParsedNode]
    // stack of (nodeId, nextChildOrd)
    var stackIds = List.empty[Long]
    var childCounts = scala.collection.mutable.Map.empty[Long, Int]
    var i = 0
    var nextId = 0L

    def nextOrd(parent: Long): Int = {
      val c = childCounts.getOrElse(parent, 0)
      childCounts(parent) = c + 1
      c
    }

    // allocate a node under the current stack top
    def openNode(): Long = {
      val parent = stackIds.headOption.getOrElse(-1L)
      val id = nextId
      nextId += 1
      val ord = if (parent >= 0) nextOrd(parent) else 0
      out += ParsedNode(id, parent, "", Double.NaN, ord)
      id
    }

    def setLabel(id: Long, label: String): Unit = {
      val idx = id.toInt
      out(idx) = out(idx).copy(label = label)
    }
    def setBL(id: Long, bl: Double): Unit = {
      val idx = id.toInt
      out(idx) = out(idx).copy(branchLength = bl)
    }

    def readLabel(): String = {
      val sb = new StringBuilder
      if (i < n && s(i) == '\'') { // quoted
        i += 1
        var done = false
        while (!done && i < n) {
          if (s(i) == '\'') {
            if (i + 1 < n && s(i + 1) == '\'') { sb += '\''; i += 2 }
            else { i += 1; done = true }
          } else { sb += s(i); i += 1 }
        }
      } else {
        while (i < n && !"(),;:[".contains(s(i)) && !s(i).isWhitespace) {
          sb += s(i); i += 1
        }
      }
      sb.result()
    }

    def skipComment(): Unit = { // '[' ... ']', no nesting in newick
      while (i < n && s(i) != ']') i += 1
      if (i < n) i += 1
    }

    var current = -1L
    var done = false
    while (i < n && !done) {
      s(i) match {
        case c if c.isWhitespace => i += 1
        case '[' => skipComment()
        case '(' =>
          val id = openNode() // internal node, label arrives at ')'
          stackIds = id :: stackIds
          i += 1
          current = -1L
        case ',' =>
          require(stackIds.nonEmpty,
            s"malformed newick: ',' outside any '(' at position $i")
          if (current < 0) openNode() // empty child slot, e.g. "(,b);"
          i += 1
          current = -1L
        case ')' =>
          require(stackIds.nonEmpty,
            s"malformed newick: unbalanced ')' at position $i")
          if (current < 0) openNode() // trailing empty child slot, "(a,);"
          current = stackIds.head
          stackIds = stackIds.tail
          i += 1
        case ':' =>
          // legal newick allows an unnamed leaf carrying only a branch
          // length, e.g. "(:0.5,a);" — open it with an empty label
          if (current < 0) current = openNode()
          i += 1
          // whitespace is ignorable everywhere else in the grammar, so
          // "a: 0.5" must parse like "a:0.5" (not throw on "".toDouble)
          while (i < n && s(i).isWhitespace) i += 1
          val start = i
          while (i < n && !"(),;:[".contains(s(i)) && !s(i).isWhitespace) i += 1
          val tok = s.substring(start, i)
          setBL(current,
            try tok.toDouble
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"malformed newick: invalid branch length '$tok' at position $start")
            })
        case ';' => done = true; i += 1
        case _ =>
          if (current < 0) current = openNode() // leaf
          setLabel(current, readLabel())
      }
    }
    require(done,
      s"malformed newick: truncated stream — no terminating ';' in $n chars")
    require(stackIds.isEmpty,
      s"malformed newick: ${stackIds.length} unclosed '(' at the terminator")
    require(s.substring(i).forall(_.isWhitespace),
      s"malformed newick: trailing content after ';' at position $i")
    out.toIndexedSeq
  }

  /** Serialize a subtree to newick, iteratively. `children` must list each
    * node's children in emission order; `label` is the final (already
    * formatted/scrubbed) node label.
    */
  def serialize(
      rootId: Long,
      children: Long => Seq[Long],
      label: Long => String,
      branchLength: Long => Option[Double] = _ => None): String = {
    val sb = new StringBuilder
    // frames: (nodeId, childIdx)
    var stack = List((rootId, 0))
    while (stack.nonEmpty) {
      val (id, ci) = stack.head
      val kids = children(id)
      if (ci < kids.length) {
        if (ci == 0) sb += '('
        stack = (kids(ci), 0) :: (id, ci + 1) :: stack.tail
      } else {
        if (kids.nonEmpty) sb += ')'
        sb ++= label(id)
        branchLength(id).foreach { bl =>
          val v = if (bl == 0.0) MinBranchLength else bl
          sb += ':'
          sb ++= v.toString
        }
        stack = stack.tail
        // emit separator if this node has a following sibling
        stack.headOption.foreach { case (pid, nci) =>
          if (nci < children(pid).length) sb += ','
        }
      }
    }
    sb += ';'
    sb.result()
  }
}
