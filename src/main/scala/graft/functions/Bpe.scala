package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Real byte-pair-encoding tokenization as a row-local, codegen'd
  * column expression — no UDF, no driver loop, the same
  * literal-codebook pattern as PQ encoding ([[graft.ops.VectorOps]]):
  * the merge table is a compile-time literal, so the whole tokenizer
  * is a deterministic pure function any engine can replay (the DuckDB
  * oracle replays it verbatim via [[tokensSql]]).
  *
  * Encoding uses the classic rank-order equivalence: applying merges
  * sequentially in TRAINING order, each exhaustively left-to-right,
  * yields exactly the priority-queue greedy result — a merge can only
  * create pairs involving its OWN output symbol, and any rule over
  * that symbol has a later rank, so no earlier rule ever becomes
  * applicable again. Each rule application is ONE literal (non-regex)
  * `replace` over a delimited symbol string: a word renders as
  * `|c1||c2||…||cn|` (every symbol fenced by pipes on both sides —
  * single separators would let two adjacent matches share a boundary
  * pipe and miss the second merge of `aaaa`), rule (l, r) is the
  * literal rewrite `|l||r|` → `|lr|`. '|' is reserved and stripped
  * from input; merges are in-word only (whitespace splits first), so
  * state never crosses a token boundary and the expression stays
  * embarrassingly row-local — exactly what a 100 TB corpus scan
  * needs.
  *
  * The table: 64 merges trained on the `documents` corpus word
  * frequencies (lowercased, whitespace-split), most-frequent-pair
  * first with lexicographic tie-break — fully reproducible from the
  * data. Retraining at another scale only changes this literal.
  */
object Bpe {

  /** The trained merge table, rank order. */
  val merges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "m" -> "er", "a" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar",
    "j" -> "o", "jo" -> "in", "a" -> "s", "as" -> "h", "h" -> "ash",
    "r" -> "ow", "at" -> "c", "atc" -> "h", "b" -> "atch", "a" -> "n",
    "c" -> "an", "s" -> "can", "c" -> "o", "c" -> "u", "co" -> "lu",
    "colu" -> "m", "colum" -> "n", "cu" -> "st", "cust" -> "o",
    "custo" -> "mer", "f" -> "i", "fi" -> "l", "fil" -> "t",
    "filt" -> "er", "a" -> "l", "al" -> "l", "m" -> "all",
    "s" -> "mall", "g" -> "e", "l" -> "ow", "mer" -> "ge",
    "s" -> "low", "c" -> "t", "ct" -> "or", "d" -> "er",
    "e" -> "ctor", "or" -> "der", "v" -> "ector", "in" -> "e",
    "l" -> "ine", "a" -> "b", "ab" -> "l", "abl" -> "e", "at" -> "a",
    "d" -> "ata", "t" -> "able", "u" -> "p", "a" -> "g", "ag" -> "g",
    "a" -> "lu", "alu" -> "e", "v" -> "alue", "e" -> "y", "k" -> "ey")

  /** BPE tokens of one already-lowercased, pipe-free word under an
    * arbitrary merge table.
    */
  private def wordTokens(w: Column, table: Seq[(String, String)]): Column = {
    // |c1||c2||…||cn| — regexp char-split works on code POINTS (Java
    // '.' consumes a full surrogate pair), matching DuckDB's RE2 for
    // every char that reaches here (tokensCol pre-maps the four code
    // points where the engines' '.'/'\s' diverge); the rtrim-then-
    // append trim is safe because symbols never contain '|'
    val wrapped = concat(
      rtrim(concat(lit("|"), regexp_replace(w, "(.)", "$1||")), "|"),
      lit("|"))
    val merged = table.foldLeft(wrapped) { case (s, (l, r)) =>
      call_function("replace", s, lit(s"|$l||$r|"), lit(s"|$l$r|"))
    }
    array_remove(split(merged, "\\|+"), "")
  }

  /** BPE tokens of a document: normalize, whitespace-split, encode
    * each word, flatten. Null text → null. Normalization strips the
    * reserved '|' and maps the four code points where Java and RE2
    * regex semantics DIVERGE to plain spaces — U+000B is Java-`\s`
    * but not RE2-`\s`, and U+0085/U+2028/U+2029 are line terminators
    * Java's `.` skips but RE2's matches; they are line separators
    * semantically, so both engines treating them as token boundaries
    * is also the right tokenization. Without this a document
    * containing U+2028 would tokenize differently cross-engine.
    */
  def tokensCol(text: Column): Column = tokensCol(text, merges)

  /** The same encoder under a caller-supplied merge table — what
    * closes [[train]] into a usable artifact: the table a TRAINING run
    * emits feeds the encoder directly, instead of transiting through
    * the compiled-in literal. Table entries must respect the fence
    * alphabet (no '|' inside a symbol — [[train]] output always does).
    */
  def tokensCol(text: Column, table: Seq[(String, String)]): Column = {
    require(table.forall { case (l, r) => !l.contains("|") && !r.contains("|") },
      "merge symbols must be pipe-free (the fence alphabet)")
    flatten(transform(wordsCol(text), wordTokens(_, table)))
  }

  /** The shared word-level normalization (lowercase, '|' stripped,
    * divergent code points → space, whitespace split) — ONE
    * definition, so the BPE and unigram-LM token streams can never
    * disagree about word boundaries. May contain "" entries (leading
    * whitespace); consumers filter.
    */
  def wordsCol(text: Column): Column =
    split(regexp_replace(
      call_function("replace", lower(text), lit("|"), lit("")),
      "[\\u000B\\u0085\\u2028\\u2029]", " "),
      "\\s+")

  /** [[wordsCol]] as DuckDB SQL — the oracle's twin. */
  def wordsSql(textExpr: String): String =
    s"string_split_regex(regexp_replace(" +
      s"lower(replace($textExpr, '|', '')), " +
      s"'[\\x{000B}\\x{0085}\\x{2028}\\x{2029}]', ' ', 'g'), '\\s+')"

  /** TRAIN a merge table from a word-frequency frame — the distributed
    * shape that closes the tokenizer loop (the literal [[merges]] is
    * one output of this procedure): ONE corpus scan produces the
    * compact (word, count) table, and the k training iterations run on
    * that bounded frame, never the corpus — at 100 TB the frequency
    * table is millions of rows where the corpus is trillions, so the
    * iteration cost is decoupled from data size exactly as k-means
    * iterates on assignments, not raw bytes. Each iteration is one
    * weighted adjacent-pair aggregation (map-side partial, tiny
    * exchange), one driver argmax (a single collected row), and one
    * literal `replace` projection — the SAME fence-string rewrite the
    * encoder applies, so training and encoding can never disagree
    * about merge semantics. Deterministic end to end: pair counts are
    * exact integers, ties break (count DESC, l ASC, r ASC).
    *
    * Standard BPE counting: ALL adjacent symbol pairs count (an "aaaa"
    * contributes (a,a) three times), while application merges
    * left-to-right non-overlapping — the Sennrich (2016) convention,
    * which the double-fence `replace` reproduces.
    *
    * @param wordFreqs (word, count) — already normalized ([[wordsCol]]
    *                  hygiene: lowercased, '|'-free, non-empty)
    * @return the merge table in rank order, length `nMerges` (fails if
    *         the corpus exhausts its pairs first — train fewer merges)
    */
  def train(wordFreqs: org.apache.spark.sql.DataFrame, wordCol: String,
      countCol: String, nMerges: Int): Seq[(String, String)] = {
    require(nMerges > 0, s"nMerges=$nMerges must be positive")
    var cur = wordFreqs
      .select(fencedCol(col(wordCol)).as("f"),
        col(countCol).cast("long").as("c"))
      .localCheckpoint()
    val out = Seq.newBuilder[(String, String)]
    for (i <- 0 until nMerges) {
      // adjacent pairs of the CURRENT symbolization, weighted by word
      // count; the symbol array is bound once through the
      // single-element-array fence (the winnowSelectCol lesson) before
      // the per-index lambda references it
      val best = cur.select(explode(element_at(transform(
            array(array_remove(split(col("f"), "\\|+"), "")), sy =>
              when(size(sy) >= 2, transform(sequence(lit(1), size(sy) - 1),
                j => struct(element_at(sy, j).as("l"),
                  element_at(sy, j + 1).as("r"))))
                .otherwise(array().cast("array<struct<l:string,r:string>>"))),
            1)).as("p"), col("c"))
        .groupBy(col("p.l"), col("p.r"))
        .agg(sum(col("c")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      require(best.nonEmpty,
        s"corpus exhausted its symbol pairs after $i merges — " +
          s"requested $nMerges")
      val (l, r) = (best(0).getString(0), best(0).getString(1))
      out += ((l, r))
      cur = cur.select(
        call_function("replace", col("f"), lit(s"|$l||$r|"), lit(s"|$l$r|"))
          .as("f"), col("c"))
      // re-checkpoint every 16 merges: the replace chain otherwise grows
      // one projection per iteration ON TOP of the last checkpoint, so
      // iteration i replays i rewrites over the vocab frame and a 32k-merge
      // production vocabulary goes O(k²) in plan work. The checkpoint
      // bounds both the replay and the per-iteration analysis cost to one
      // 16-deep chain — output is bit-identical (same rewrites, same
      // order), only the evaluation boundary moves. Not on the last
      // iteration: nothing reads `cur` after the final argmax.
      if ((i + 1) % RecheckpointEvery == 0 && i + 1 < nMerges)
        cur = cur.localCheckpoint()
    }
    out.result()
  }

  /** Training's plan-depth bound: merges per localCheckpoint of the
    * frequency frame (see [[train]]).
    */
  val RecheckpointEvery = 16

  /** One word as its pipe-fenced character symbolization — the
    * encoder's wire format ([[wordTokens]]), shared so training
    * rewrites exactly what encoding rewrites.
    */
  private def fencedCol(w: Column): Column =
    concat(rtrim(concat(lit("|"), regexp_replace(w, "(.)", "$1||")), "|"),
      lit("|"))

  /** Driver-side reference trainer over an in-memory frequency table —
    * the independent oracle for [[train]] (same counting convention,
    * same tie-break), used by the suites; never a hot path.
    */
  def referenceTrain(wordFreqs: Seq[(String, Long)],
      nMerges: Int): Seq[(String, String)] = {
    var words = wordFreqs.map { case (w, c) => (codePointSymbols(w), c) }
    (0 until nMerges).map { _ =>
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((sym, c) <- words; j <- 0 until sym.length - 1)
        counts((sym(j), sym(j + 1))) += c
      require(counts.nonEmpty, "corpus exhausted its symbol pairs")
      val (l, r) = counts.toSeq.sortWith { case (((al, ar), ac), ((bl, br), bc)) =>
        if (ac != bc) ac > bc
        else {
          val c0 = utf8Compare(al, bl)
          if (c0 != 0) c0 < 0 else utf8Compare(ar, br) < 0
        }
      }.head._1
      words = words.map { case (sym, c) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var j = 0
        while (j < sym.length) {
          if (j < sym.length - 1 && sym(j) == l && sym(j + 1) == r) {
            out += l + r; j += 2
          } else { out += sym(j); j += 1 }
        }
        (out.toVector, c)
      }
      (l, r)
    }
  }

  /** Word → CODE-POINT symbols — what the engines' regex `(.)` splits
    * on: a supplementary character (emoji, astral CJK) is ONE symbol,
    * never two surrogate halves. Both driver-side references must use
    * this, or they diverge from train/tokensCol on non-BMP input.
    */
  private def codePointSymbols(w: String): Vector[String] =
    w.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toVector

  /** Code-point (= UTF-8 binary) string order — the collation Spark's
    * UTF8String and DuckDB's default binary comparison share; Java's
    * `compareTo` is UTF-16 code-unit order, which disagrees for
    * strings mixing U+E000..U+FFFF with supplementary characters.
    */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Driver-side PRIORITY-QUEUE greedy BPE over one normalized word —
    * the independent reference implementation of the rank-order
    * equivalence the expression relies on (lowest-rank applicable
    * rule first, each application merging every occurrence
    * left-to-right non-overlapping). The single source of truth for
    * every suite and probe that cross-checks [[tokensCol]]
    * (PropertySpec, TrainingSpec): a duplicated oracle can
    * drift, and a reference that disagrees with itself can hide a
    * real encoder bug. Never on a hot path — test/bench samples only.
    */
  def referenceEncode(word: String,
      table: Seq[(String, String)] = merges): Seq[String] = {
    val rank = table.zipWithIndex.toMap
    var sym = codePointSymbols(word)
    var done = false
    while (!done && sym.length > 1) {
      val present = sym.zip(sym.tail).flatMap(rank.get)
      if (present.isEmpty) done = true
      else {
        val (l, r) = table(present.min)
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < sym.length) {
          if (i < sym.length - 1 && sym(i) == l && sym(i + 1) == r) {
            out += l + r; i += 2
          } else { out += sym(i); i += 1 }
        }
        sym = out.toVector
      }
    }
    sym
  }

  private def q(s: String) = s.replace("'", "''")

  /** The SAME tokenizer as DuckDB SQL over a text expression — the
    * oracle replays the literal merge table, rule for rule.
    */
  def tokensSql(textExpr: String): String = tokensSql(textExpr, merges)

  /** [[tokensSql]] under a caller-supplied merge table ([[tokensCol]]'s
    * oracle twin). Each rule may also be a SQL EXPRESSION pair instead
    * of a literal (see [[tokensSqlExprRules]]) — this literal form
    * quotes its symbols.
    */
  def tokensSql(textExpr: String, table: Seq[(String, String)]): String =
    tokensSqlExprRules(textExpr,
      table.map { case (l, r) => (s"'${q(l)}'", s"'${q(r)}'") })

  /** The tokenizer as DuckDB SQL where each merge rule's (l, r) are SQL
    * expressions in scope at the call site — the form a trained-table
    * oracle needs: the rules come out of the training CTEs (`b0.l`,
    * `b0.r`, …), so the oracle tokenizes with the very table it just
    * re-derived, never with anything exported from the engine.
    */
  def tokensSqlExprRules(textExpr: String,
      rules: Seq[(String, String)]): String = {
    val wrapped =
      "rtrim('|' || regexp_replace(w, '(.)', '\\1||', 'g'), '|') || '|'"
    val merged = rules.foldLeft(wrapped) { case (s, (l, r)) =>
      s"replace($s, '|' || $l || '||' || $r || '|', '|' || $l || $r || '|')"
    }
    s"flatten(list_transform(${wordsSql(textExpr)}, " +
      s"w -> list_filter(string_split_regex($merged, '\\|+'), " +
      "x -> x <> '')))"
  }
}
