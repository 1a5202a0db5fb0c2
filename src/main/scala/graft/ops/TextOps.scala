package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis / deduplication operators for large-scale training-data
  * pipelines: tokenization, fingerprinting, exact + MinHash-LSH + SimHash
  * dedup, n-gram Jaccard, language-ID heuristics, quality scoring.
  *
  * Design constraints:
  *  - everything is built-in Catalyst expressions (codegen'd; no UDFs), so
  *    plans stay inside whole-stage codegen and push down through scans;
  *  - all hashing is md5-of-string, which DuckDB computes identically —
  *    every operator here is oracle-checkable cross-engine;
  *  - pairwise operators take a pre-bounded candidate set (LSH buckets or
  *    an id window): at 100 TB nothing may do an unbounded self-join.
  */
object TextOps {

  /** Lowercased whitespace tokens. */
  def tokensCol(text: Column): Column = split(lower(text), "\\s+")

  /** Token-window chunking for training prep: fixed `size`-token
    * windows advancing by `stride` tokens (overlap = size − stride),
    * as an array of (chunk_idx, chunk_text) structs — explode at the
    * call site. Entirely row-local (no shuffle, no UDF): window count
    * is 1 + ⌈max(0, n−size)/stride⌉ so a short document is exactly one
    * chunk and the final window keeps the tail without spawning an
    * all-overlap chunk past it. The ⌈⌉ is float-free in effect — token
    * counts are far inside double exactness, and floor(x/s) of a
    * non-negative int ratio is the integer division both engines
    * agree on.
    */
  def chunksCol(text: Column, size: Int, stride: Int): Column =
    chunksOfTokens(tokensCol(text), size, stride)

  /** The kernel over an arbitrary token-array expression. The tokens
    * are bound ONCE through a single-element-array transform before
    * the per-chunk lambda references them — higher-order functions
    * re-inline their argument expression per element (the measured
    * O(len²) winnowSelectCol trap), so without the binding every chunk
    * of an n-token document would re-run the tokenizer: ~n/stride full
    * re-tokenizations per row. A null token array (null text) yields a
    * null chunk array — `explode` drops it, the same no-phantom-rows
    * discipline as the other null-text guards in this file.
    */
  def chunksOfTokens(toks: Column, size: Int, stride: Int): Column = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    element_at(transform(array(toks), t => {
      val extra = greatest(lit(0), org.apache.spark.sql.functions.size(t)
        - lit(size))
      val nChunks = (lit(1) +
        floor((extra + lit(stride - 1)) / lit(stride))).cast("int")
      when(t.isNotNull,
        transform(sequence(lit(0), nChunks - lit(1)), i =>
          struct(i.as("chunk_idx"),
            array_join(slice(t, i * lit(stride) + lit(1), lit(size)), " ")
              .as("chunk_text"))))
    }), 1)
  }

  /** Distinct-token-set fingerprint: md5 of the sorted distinct tokens.
    * Collapses reordered/duplicated-word documents to one key — the
    * hash-groupBy exact-dedup key that survives token shuffling.
    */
  def fingerprintCol(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokensCol(text))), " "))

  /** Word n-gram shingles over an ALREADY-MATERIALIZED token array.
    * `toks` must be a bound column, not the tokenizer expression itself:
    * the lambda body re-evaluates every inlined subtree per element, so
    * passing `tokensCol(text)` here re-runs the regex tokenizer once per
    * shingle — O(len²) (the winnowSelectCol lesson; measured 2.8× on the
    * sf0.1 contamination scan). `toks` is referenced three times (two
    * sizes + the lambda), so CollapseProject keeps the binding projection.
    */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n), // inclusive: size-n+1 shingles
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingles (n consecutive tokens joined by spaces).
    * Single-expression convenience form — fine for oracles and bounded
    * inputs; hot paths bind the token array first and use
    * [[shinglesOfTokens]] (see the O(len²) note there).
    */
  def shinglesCol(text: Column, n: Int): Column =
    shinglesOfTokens(tokensCol(text), n)

  /** MinHash signature over an ALREADY-MATERIALIZED distinct-token array
    * (see [[shinglesOfTokens]] for the lambda-inlining rule): the outer
    * lambda body references `toks` once per seed, so an inlined tokenizer
    * subtree would re-run k times per row. The never-false size guard
    * keeps `toks` multiply-referenced so CollapseProject cannot fold the
    * binding projection back into the lambda.
    */
  def minhashOfTokens(toks: Column, k: Int = 8): Column =
    when(size(toks) >= 0,
      transform(sequence(lit(0), lit(k - 1)),
        s => array_min(transform(toks,
          w => md5(concat(s.cast("string"), lit(":"), w))))))

  /** MinHash signature of the distinct token set: `k` permutations
    * simulated as lexicographic minima of seeded md5s (min-wise independent
    * enough for LSH banding, and bit-identical in any engine with md5).
    * Convenience single-expression form; hot paths bind the token array
    * first ([[minhashCandidates]] does).
    */
  def minhashCol(text: Column, k: Int = 8): Column =
    minhashOfTokens(array_distinct(tokensCol(text)), k)

  /** LSH band keys from a minhash signature: hash of each band's
    * concatenated minima. Docs sharing any band key are candidates.
    */
  def bandKeys(df: DataFrame, sigCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    df.select(col("*"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_key", md5(concat_ws("",
        (1 to rowsPerBand).map(r =>
          element_at(col(sigCol), col("band") * rowsPerBand + r)): _*)))
  }

  /** Candidate near-duplicate pairs (a < b) sharing at least one LSH band —
    * the scale path for MinHash dedup: cost is Σ bucket², never n².
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, bands: Int = 4): DataFrame = {
    require(k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands " +
        "(a remainder would silently drop trailing signature rows)")
    // null-text docs carry no signal: size(null) = -1 voids the signature
    // and concat_ws would funnel EVERY null-text doc into one md5('')
    // band bucket — m²/2 candidate pairs of unrelated rows, the exact
    // quadratic blowup the banding exists to avoid. They simply don't
    // participate.
    // Then tokenize+distinct once per row and sign the bound array — the
    // inline form would re-tokenize once per signature seed.
    val sig = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        array_distinct(tokensCol(col(textCol))).as("toks"))
      .select(col("id"), minhashOfTokens(col("toks"), k).as("sig"))
    val banded = bandKeys(sig, "sig", bands, k / bands)
      .select(col("id"), col("band"), col("band_key"))
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }

  /** SimHash signature: `bits` independent seeded hashes per token; each
    * bit is the sign of Σ(±1) over the token set (top hex nibble of the
    * seeded md5 ≥ 8 → +1). Returned as a '0'/'1' string, bit 0 first.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(array_distinct(tokensCol(col(textCol)))).as("tok"))
    toks.select(col("id"), col("tok"),
        explode(sequence(lit(0), lit(bits - 1))).as("bit"))
      .withColumn("contrib",
        when(substring(md5(concat(col("bit").cast("string"), lit(":"), col("tok"))), 1, 1)
          .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1))
      .groupBy(col("id"), col("bit"))
      .agg(sum(col("contrib")).as("s"))
      .withColumn("ch", when(col("s") > 0, lit("1")).otherwise(lit("0")))
      .groupBy(col("id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("bit"), col("ch")))),
        x => x("ch")), "").as("simhash"))
  }

  /** All (a < b) pairs over a BOUNDED document set — the explicit
    * "candidates" input for [[jaccardVerify]] when no LSH pass ran. The
    * caller owns the bound: this is quadratic by construction and exists
    * for small windows and tests, never for a full corpus.
    */
  def allPairs(docs: DataFrame, idCol: String): DataFrame = {
    val ids = docs.select(col(idCol))
    ids.select(col(idCol).as("a"))
      .join(ids.select(col(idCol).as("b")), col("a") < col("b"))
  }

  /** Exact token-set Jaccard over an explicit candidate-pair set (the LSH
    * output in a real pipeline): two key joins to attach token arrays,
    * then a row-local array intersection — cost O(|candidates|·|tokens|).
    * The previous formulation self-joined exploded tokens on equality,
    * which costs Σ token-frequency² (one common stopword ⇒ |docs|² rows);
    * a verifier must never cost more than the candidate set it verifies.
    */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, minJaccard: Double): DataFrame = {
    // a null-text doc has no token set to verify: size(null) = -1 would
    // make a null-null pair score -1/-1 = 1.0 and certify two unrelated
    // rows as exact duplicates. Dropping it from the attach join means
    // such pairs are never emitted.
    val t = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        array_distinct(tokensCol(col(textCol))).as("toks"))
    jaccardVerifySets(candidates, t, minJaccard)
  }

  /** [[jaccardVerify]]'s kernel over an explicit `(id, toks)` set frame —
    * the entry point when the set elements are not unigram tokens
    * (shingles for [[prefixSimilarityJoin]], char-grams, …). `toks` must
    * already be distinct; a null set is dropped (same no-phantom-pairs
    * rule as the null-text guard above).
    */
  def jaccardVerifySets(candidates: DataFrame, sets: DataFrame,
      minJaccard: Double): DataFrame = {
    val t = sets.filter(col("toks").isNotNull)
    candidates.select(col("a"), col("b"))
      .join(t.select(col("id").as("a"), col("toks").as("ta")), "a")
      .join(t.select(col("id").as("b"), col("toks").as("tb")), "b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard",
        q4(col("inter") / (size(col("ta")) + size(col("tb")) - col("inter"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Threshold-relaxation epsilon for the prefix-filter bounds: every
    * ceil() in the candidate math subtracts it first, so a floating-point
    * wobble at an exact rational boundary (t·n landing on an integer) can
    * only ADMIT a candidate, never drop a true pair — false positives are
    * erased by the exact verifier, false negatives would be wrong answers.
    */
  private val PrefixEps = 1e-9

  /** EXACT set-similarity self-join candidates via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.). Input
    * `sets` is `(id, toks)` with distinct elements; output is every
    * `(a, b)`, `a < b`, whose Jaccard MAY reach `minJaccard` — a provable
    * superset of the true pairs, unlike MinHash banding which misses with
    * tunable probability. Chain into [[jaccardVerifySets]].
    *
    * Why it is exact: J(x,y) ≥ t forces |x∩y| ≥ ⌈t·|x|⌉, so x's last
    * ⌈t·|x|⌉−1 tokens (under ANY total order) cannot contain all of x∩y —
    * some common token sits in the first |x|−⌈t·|x|⌉+1 ("the prefix").
    * Sharper: the globally SMALLEST common token w has ≥ |x∩y|−1 common
    * tokens ordered after it in both sets, so pos(w) lands inside both
    * prefixes AND min(|x|−pos(w), |y|−pos(w)) ≥ |x∩y| — which is what the
    * position filter checks against the overlap equivalence
    * |x∩y| ≥ ⌈t/(1+t)·(|x|+|y|)⌉ ⟺ J ≥ t.
    *
    * At 100 TB: the ONLY pairwise work is the equi-join on prefix tokens,
    * and the global order is ascending document frequency — prefixes hold
    * each set's RAREST tokens, so Σ prefix-df² is driven by the long tail,
    * not the stopword head (the reason AllPairs beats the naive token
    * join's Σ df² by orders of magnitude). The df pass is one groupBy over
    * exploded sets; the length filter (⌈t·max⌉ ≤ min) and position filter
    * then cut survivors to near the true pair count at high thresholds.
    * No signatures, no bands, no recall knob to mis-tune.
    */
  def prefixCandidates(sets: DataFrame, minJaccard: Double): DataFrame =
    prefixCandidatesFromTokens(explodeSets(sets), minJaccard)

  /** One (id, tok) row per set element, MATERIALIZED (the
    * PostingsStore.indexOf flatten): the candidate pipeline — document
    * frequencies, the rank sort, and both self-join sides — references
    * this frame repeatedly, and every un-materialized reference would
    * re-run the interpreted set-construction chain upstream of the
    * explode. explode_OUTER + null-drop, NOT a plain
    * explode: inner explode makes InferFiltersFromGenerate add
    * `size(toks) > 0 AND isnotnull(toks)`, and predicate pushdown clones
    * the whole non-codegen expression into that Filter AND the scan's
    * DataFilters — three evaluations per row instead of one (measured
    * 13× on the sf0.1 corpus: 7.0 s → 0.54 s).
    */
  private def explodeSets(sets: DataFrame): DataFrame =
    ClusterOps.flatten(sets
      .select(col("id"), explode_outer(col("toks")).as("tok"))
      .filter(col("tok").isNotNull))

  /** [[prefixCandidates]] over pre-exploded distinct (id, tok) rows.
    * Post-flatten stats are defaults, so the optimizer plans sort-merge
    * joins — the correct choice at corpus scale (a 100 TB shingle
    * vocabulary is not broadcastable), while AQE demotes them to
    * broadcast at runtime when a side turns out small.
    */
  private def prefixCandidatesFromTokens(ex: DataFrame,
      minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard — at t = 0 every " +
        "pair qualifies and no filter can bound the join")
    val t = minJaccard
    val dfreq = ex.groupBy(col("tok")).agg(count(lit(1)).as("d"))
    // rarest-first total order, (df, token) lexicographic — the token
    // tie-break makes the order deterministic across runs and engines
    val sorted = ex.join(dfreq, "tok")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("d"), col("tok"))))
        .as("sorted"), count(lit(1)).as("n"))
    val prefLen = (col("n")
      - ceil(lit(t) * col("n") - lit(PrefixEps)) + lit(1)).cast("int")
    val pref = sorted
      .select(col("id"), col("n"),
        posexplode(slice(col("sorted"), lit(1), prefLen)))
      .select(col("id"), col("n"), col("pos"), col("col.tok").as("tok"))
    // self-join the SAME plan (aliases above, not projections below), so
    // the two sides canonicalize identically and the exchange is reused
    pref.as("x").join(pref.as("y"), col("x.tok") === col("y.tok"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.n").as("na"), col("y.n").as("nb"),
        col("x.pos").as("pa"), col("y.pos").as("pb"))
      .filter(col("a") < col("b"))
      // length filter: J >= t needs t·max(|x|,|y|) <= min(|x|,|y|)
      .filter(least(col("na"), col("nb")) >=
        ceil(lit(t) * greatest(col("na"), col("nb")) - lit(PrefixEps)))
      // position filter: best-case overlap from the BEST shared prefix
      // token (pos is 0-based, so n - pos counts the token itself)
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(max(least(col("na") - col("pa"), col("nb") - col("pb")))
        .as("ub"))
      .filter(col("ub") >= ceil(
        lit(t / (1.0 + t)) * (col("na") + col("nb")) - lit(PrefixEps)))
      .select(col("a"), col("b"))
  }

  /** Exact near-duplicate pairs over word `shingleN`-gram sets:
    * [[prefixCandidates]] bounds the pairwise work, then an exact
    * verifier certifies — no false negatives end to end, the guarantee
    * the MinHash-LSH path trades away for fixed cost. Shingles (not
    * unigrams) are the set elements: a natural-language corpus shares
    * its unigram vocabulary almost completely (every prefix token is
    * common), while shingle frequency falls off fast enough for
    * prefixes to discriminate.
    *
    * The shingle chain (tokenize → slide → distinct) is interpreted, not
    * codegen'd, and the pipeline references its output three times
    * (exploded tokens for the candidate join, array sides a and b for the
    * verify) — so it is evaluated ONCE into a materialized frame that
    * both phases read. A/B at sf0.1 on this host: un-materialized HEAD
    * shape 20–44 s; materialized-exploded candidates with array verify
    * re-running the chain 6.5–9 s; this shape (single chain run feeding
    * both) 4.6–6.5 s. A relational count-based verifier
    * (candidate ⋈ tokens ⋈ tokens + groupBy) was measured too and LOST
    * to the array intersect (8.4–9.2 s): at realistic candidate/corpus
    * ratios the token-level join's |cand|·|toks| intermediate costs more
    * than attaching two arrays per surviving pair.
    */
  def prefixSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, shingleN: Int = 3): DataFrame = {
    val sets = ClusterOps.flatten(docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokensCol(col(textCol)).as("w"))
      .select(col("id"), shinglesOfTokens(col("w"), shingleN).as("toks")))
    jaccardVerifySets(prefixCandidates(sets, minJaccard), sets, minJaccard)
  }

  /** BPE-ish token-count estimate: each whitespace token contributes
    * ceil(len/4) pieces (subword tokenizers split long words roughly every
    * 3-5 chars) — a deterministic, codegen'd estimator for budget/packing
    * decisions where running a real tokenizer per row would be a UDF on
    * the hot path.
    */
  def bpeTokenEstimateCol(text: Column): Column =
    aggregate(
      transform(tokensCol(text),
        t => greatest(lit(1L), ceil(length(t) / lit(4.0)).cast("long"))),
      lit(0L), (acc, x) => acc + x)

  /** md5 char k-gram array over an ALREADY-LOWERCASED bound text column
    * (winnowing stage 1); `tx` is referenced three times (two lengths +
    * the lambda), so the binding projection survives CollapseProject.
    * Passing `lower(text)` inline would re-lowercase the document once
    * per gram — O(len²) character copies per row.
    */
  def charGramsOfLower(tx: Column, k: Int): Column =
    when(length(tx) >= k,
      transform(sequence(lit(0), length(tx) - k),
        i => md5(tx.substr(i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** md5 char k-gram array of the lowercased text — convenience form;
    * hot paths bind the lowered text first ([[winnowFingerprints]] does).
    */
  def charGramsCol(text: Column, k: Int): Column =
    charGramsOfLower(lower(text), k)

  /** Sliding-window minima over an ALREADY-MATERIALIZED gram column
    * (winnowing stage 2). `grams` must be a bound column, not the gram
    * expression itself: a lambda body re-evaluates every inlined
    * expression subtree per element, so passing the md5-gram subtree here
    * turns O(len·w) into O(len²) md5 calls per document (measured: 17 s
    * of a 40 s bench run before the split).
    */
  def winnowSelectCol(grams: Column, w: Int): Column =
    when(size(grams) >= w,
      array_distinct(transform(sequence(lit(0), size(grams) - w),
        j => array_min(slice(grams, j + 1, lit(w))))))
      .otherwise(array().cast("array<string>"))

  /** Winnowing document fingerprints (the MOSS scheme, deterministic
    * variant): md5 over char k-grams of the lowercased text, minimum hash
    * per sliding window of w grams, distinct selected hashes per doc. Two
    * docs sharing any fingerprint are near-dup candidates via a plain
    * hash groupBy — O(len) work per doc, fingerprint density ~1/w.
    * Two projections on purpose: the gram array materializes once per row
    * (CollapseProject keeps them apart — `grams` is non-cheap and
    * multiply-referenced), then the window minima read it by reference.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    docs.select(col(idCol).as("id"), lower(col(textCol)).as("tx"))
      .select(col("id"), charGramsOfLower(col("tx"), k).as("grams"))
      .select(col("id"), explode(winnowSelectCol(col("grams"), w)).as("fp"))

  /** PII-scrub regexes. Deliberately simple: the character-class subset
    * of regex that Java (Spark) and RE2 (DuckDB, and most scan-side
    * engines) interpret identically — no backrefs, no lookaround.
    */
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val urlRe = "https?://[^\\s]+"
  val longNumRe = "[0-9]{6,}"

  /** Replace emails, then URLs, then long digit runs with typed tags.
    * Order matters: emails contain dots/hostnames a URL pattern could
    * clip, and both can contain digit runs. Row-local, codegen'd.
    */
  def scrubPiiCol(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        urlRe, "<URL>"),
      longNumRe, "<NUM>")

  /** Canonical text form: lowercase, collapsed whitespace, trimmed —
    * the normalization pass before fingerprinting/dedup.
    */
  def normalizeCol(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Stopword-marker language-ID heuristic. Fixed CASE precedence
    * (en, es, de, fr, else und when no markers hit) keeps the argmax
    * deterministic in any engine.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "une"))

  def langScores(text: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, words) =>
      lang -> size(filter(tokensCol(text),
        t => t.isin(words.map(lit(_)): _*)))
    }

  def langIdCol(text: Column): Column = {
    val s = langScores(text).toMap
    when(s("en") === 0 && s("es") === 0 && s("de") === 0 && s("fr") === 0, "und")
      .when(s("en") >= s("es") && s("en") >= s("de") && s("en") >= s("fr"), "en")
      .when(s("es") >= s("de") && s("es") >= s("fr"), "es")
      .when(s("de") >= s("fr"), "de")
      .otherwise("fr")
  }

  /** Benchmark-contamination scan: corpus documents sharing at least
    * `minShared` distinct word n-grams with any eval-set document. The
    * eval side is small by nature (a benchmark), so its exploded shingle
    * set broadcasts and the scan is one map-side join over the corpus —
    * no shuffle of the 100 TB side. Run before training; anything this
    * flags either leaks the benchmark or inflates its score.
    */
  def contamination(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minShared: Int = 2): DataFrame = {
    // two projections: tokenize once per row, THEN shingle the bound
    // array — shinglesCol inline would re-tokenize per shingle (O(len²))
    def sh(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as), tokensCol(col(textCol)).as("toks"))
        .select(col(as), explode(shinglesOfTokens(col("toks"), n)).as("sh"))
    sh(corpus, "doc_id")
      .join(broadcast(sh(evalSet, "eval_id")), "sh")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(countDistinct(col("sh")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Top-k characteristic terms per document by a df-penalized weight.
    * The weight is the rational tf·(N+1)/(df+1) rather than the classic
    * tf·ln(N/df): products and one division over exact integers are
    * bit-identical in every IEEE engine, while ln() differs across libm
    * implementations in the last ulp. NOTE this is a tf-idf-FAMILY
    * weighting, not rank-equivalent to the ln form: the rational idf
    * penalizes common terms much harder (linear vs logarithmic in N/df),
    * so rare singleton terms rank above moderately-rare frequent ones
    * that ln-idf would favor. Same intent — surface distinctive terms —
    * different tail behavior; pick the ln form if you need literature
    * tf-idf and can tolerate engine-dependent last-ulp ties.
    * df counts each document once per term.
    *
    * Scale shape: two hash aggregates (tf per (doc, term), df per term)
    * + a term-keyed join; the corpus size rides along as a broadcast
    * single-row aggregate, never a driver-side count.
    */
  def termScores(docs: DataFrame, idCol: String, textCol: String,
      topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokensCol(col(textCol))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_corpus"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * (col("n_corpus") + 1) / (col("df") + 1))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"),
        col("df"), col("score"))
  }

  /** Floor-quantize to 4 decimals. Ratios of small integers (k/80 …)
    * regularly land exactly on round()'s half boundary, where Spark
    * (HALF_UP on the binary value) and DuckDB disagree; floor of the
    * bit-identical double is deterministic in any engine.
    */
  private def q4(c: Column): Column = floor(c * 10000.0) / 10000.0

  /** Intra-document repetition score: fraction of word n-grams that
    * repeat an earlier occurrence (1 − distinct/total) — the cheap screen
    * for boilerplate- and loop-heavy documents a training pipeline drops
    * or downweights. Entirely row-local and codegen'd. The token array is
    * bound as a real column BEFORE the n-gram lambda (a lambda body
    * re-evaluates inlined subtrees per element — the winnowing O(len²)
    * lesson); the ratio is one division of exact integer counts,
    * floor-quantized, so the score is bit-identical in any engine.
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokensCol(col(textCol)).as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => array_join(slice(col("toks"), i + 1, lit(n)), " ")))
          .otherwise(array().cast("array<string>")).as("g"))
      .select(col("doc_id"),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"))
      .withColumn("rep_score",
        when(col("n_grams") > 0,
          floor((lit(1.0) - col("n_distinct").cast("double") /
            col("n_grams").cast("double")) * 10000.0) / 10000.0)
          .otherwise(lit(0.0)))

  /** Passage-granular exact dedup: each text is cut into consecutive
    * `span`-token passages, and a passage whose token sequence already
    * occurred at a smaller (doc, position) ANYWHERE in the corpus —
    * boilerplate, licenses, chrome — is dropped; documents are then
    * reassembled from their surviving passages. This is the granularity
    * between document-level near-dup and suffix-array substring dedup
    * that training pipelines run on web text; for natural text the
    * passage boundary would be the paragraph split, with identical
    * keep/drop mechanics.
    *
    * Scale shape: two hash aggregates over the passage table (min-doc per
    * hash, then min-position within that doc) + one join back — nothing
    * pairwise, no windows over unbounded groups, and the passage table is
    * ~n_tokens/span rows. First GLOBAL occurrence survives, so the output
    * is deterministic under any partitioning.
    *
    * @return (idCol, clean_text, n_kept, n_dropped) — one row per input
    *         doc with non-null text; null-text docs are excluded, the
    *         same rows a SQL engine's unnest-over-null would drop
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
      span: Int): DataFrame = {
    require(span >= 1, s"span=$span must be positive")
    // null-text docs are dropped, matching the SQL-side semantics (a
    // null token list produces zero span rows and the doc falls out of
    // the inner join) — without this, size(null)=-1 still sequences one
    // synthetic null span here and the two engines disagree
    val nonNull = docs.filter(col(textCol).isNotNull)
    // materialize the span table ONCE: four plan branches below (first
    // doc, first position, kept spans, per-doc counts) reference it, and
    // without the checkpoint each branch re-runs the full
    // tokenize+explode+md5 pass over the corpus — 4× the dominant cost
    val spans = ClusterOps.flatten(nonNull
      .select(col(idCol).as("id"), tokensCol(col(textCol)).as("toks"))
      .select(col("id"),
        explode(sequence(lit(0),
          ((size(col("toks")) - 1) / lit(span)).cast("int"))).as("k"),
        col("toks"))
      .select(col("id"), col("k").cast("long").as("k"),
        array_join(slice(col("toks"), col("k") * span + 1, lit(span)), " ")
          .as("s"))
      .withColumn("h", md5(col("s"))))
    val firstDoc = spans.groupBy(col("h")).agg(min(col("id")).as("md"))
    val firstPos = spans.join(firstDoc, "h")
      .filter(col("id") === col("md"))
      .groupBy(col("h"), col("md")).agg(min(col("k")).as("mk"))
    val kept = spans.join(firstPos, Seq("h"))
      .filter(col("id") === col("md") && col("k") === col("mk"))
    val perDoc = spans.groupBy(col("id")).agg(count(lit(1)).as("n_spans"))
    nonNull.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"))
      .join(kept.groupBy(col("id")).agg(
        array_join(transform(
          array_sort(collect_list(struct(col("k"), col("s")))),
          x => x("s")), " ").as("clean_text"),
        count(lit(1)).as("n_kept")), Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Maximal duplicated token spans across the corpus — the signal a
    * suffix-array substring-dedup pipeline computes (ExactSubstr in the
    * dedup literature), re-expressed relationally so it distributes: every
    * length-`win` sliding token window whose exact sequence occurs at ≥ 2
    * (doc, position) sites ANYWHERE in the corpus (cross-doc boilerplate
    * or within-doc loops alike) marks its token range duplicated, and per
    * document the overlapping/touching duplicated ranges are unioned into
    * maximal spans. A duplicated region of length M ≥ win yields windows
    * at every one of its M−win+1 starts, so the union reconstructs the
    * whole region; `win` is exactly the minimum duplication length
    * detected — the suffix array's `min_length` knob.
    *
    * Complements [[dedupSpans]]: that op cuts at FIXED span boundaries
    * (passage granularity, cheap, misses dups straddling a boundary);
    * this one slides, so any ≥win-token repeat is found at its exact
    * extent.
    *
    * Scale shape: the window table is ~n_tokens rows (one per token,
    * materialized once — four branches read it); finding duplicated
    * hashes is ONE hash aggregate with map-side partial combine (never
    * pairwise — Σ df² never appears, unlike a token self-join); the
    * island merge is a window over each document's duplicated positions
    * only, bounded by document length, partitioned by doc id across
    * executors. At 100 TB: two shuffles (hash agg + merge-back join),
    * both on corpus-sized-not-squared data.
    *
    * @return (idCol, span_start, span_end, span_len) — 0-based inclusive
    *         token indices, one row per maximal span; docs with no
    *         duplication emit no rows (see [[duplicationStats]] for the
    *         all-docs view)
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      win: Int): DataFrame =
    duplicatedSpansFromWindows(idCol,
      ClusterOps.flatten(windowTable(docs, idCol, textCol, win)), win)

  /** [[duplicatedSpans]] over a precomputed [[windowTable]]. */
  private[graft] def duplicatedSpansFromWindows(idCol: String, w: DataFrame,
      win: Int): DataFrame = {
    val dup = w.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("h"))
    spansFromPositions(idCol, w.join(dup, "h").select(col("id"), col("i")),
      win)
  }

  /** Island merge: duplicated window positions `(id, i)` → maximal
    * merged spans. The kernel shared by the in-memory path and the
    * incremental [[DupStore]] probe.
    */
  private[graft] def spansFromPositions(idCol: String, pos: DataFrame,
      win: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("id")).orderBy(col("i"))
    // interval union: a window's range [i, i+win-1] extends the current
    // island iff it overlaps or touches the running max end; `pe` looks
    // only at PRECEDING rows so the first row of each doc starts fresh
    val pe = max(col("i") + lit(win - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    pos
      .withColumn("new_isl",
        when(pe.isNull || col("i") > pe + lit(1), lit(1L)).otherwise(lit(0L)))
      .withColumn("isl", sum(col("new_isl"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("i")).as("span_start"),
        (max(col("i")) + lit(win - 1).cast("long")).as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"))
  }

  /** Per-document duplication coverage from the same sliding-window
    * evidence as [[duplicatedSpans]]: how many of a document's tokens sit
    * inside some ≥win-token sequence that repeats somewhere in the corpus,
    * and the covered fraction — the filter/downweight signal pipelines
    * derive from substring dedup (a doc that is 80% duplicated boilerplate
    * is dropped whole; one with a 5% header is span-stripped). Every
    * non-null-text doc emits a row (dup_tokens = 0 when clean), so the
    * output joins 1:1 against quality/langid features.
    *
    * Token coverage is computed from the duplicated POSITIONS (count of
    * distinct covered token indices = Σ island extents), not by
    * re-materializing spans — same two shuffles as [[duplicatedSpans]].
    */
  def duplicationStats(docs: DataFrame, idCol: String, textCol: String,
      win: Int): DataFrame =
    duplicationStatsFromSpans(docs, idCol, textCol,
      duplicatedSpans(docs, idCol, textCol, win))

  /** [[duplicationStats]] over a precomputed [[duplicatedSpans]] frame —
    * the entry point when both the spans and the coverage view are served
    * from one evidence pass (the spans frame is tiny relative to the
    * window table; cache it, not the windows).
    */
  def duplicationStatsFromSpans(docs: DataFrame, idCol: String,
      textCol: String, spansFrame: DataFrame): DataFrame = {
    val spans = spansFrame
      .groupBy(col(idCol).as("id"))
      .agg(sum(col("span_len")).as("dup_tokens"))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        size(tokensCol(col(textCol))).cast("long").as("n_tokens"))
      .join(spans, Seq("id"), "left_outer")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") > 0,
          q4(coalesce(col("dup_tokens"), lit(0L)).cast("double")
            / col("n_tokens").cast("double")))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  /** The removal stage of substring dedup (what the suffix-array
    * pipelines actually DO with the spans): every duplicated window
    * occurrence except the global first — min (doc, position), the same
    * keep-first rule as [[dedupSpans]] — marks its tokens for removal,
    * and each document is reassembled from its surviving tokens. One
    * copy of every ≥win-token repeat survives, in the earliest document
    * that carries it; later copies (and later within-doc repeats) are
    * cut at exact extents. A token covered by both a protected (first)
    * and an unprotected occurrence is removed — overlap resolves toward
    * removal, which keeps the rule deterministic and order-free.
    *
    * Scale shape: the first-occurrence rule is one min-struct aggregate
    * over the window table (map-side combinable, no window function, no
    * sort); coverage is explode + distinct on removal windows only.
    * Reassembly is row-local: each doc's removed-index array attaches
    * once and an indexed filter rebuilds the text.
    *
    * @return (idCol, clean_text, n_tokens, n_removed) per non-null-text
    *         doc
    */
  def stripDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      win: Int): DataFrame =
    stripDuplicatedSpansFromWindows(docs, idCol, textCol,
      ClusterOps.flatten(windowTable(docs, idCol, textCol, win)), win)

  /** [[stripDuplicatedSpans]] over a precomputed [[windowTable]] — the
    * entry point when several dedup views are served from one evidence
    * pass.
    */
  private[graft] def stripDuplicatedSpansFromWindows(docs: DataFrame,
      idCol: String, textCol: String, w: DataFrame, win: Int): DataFrame = {
    val firstOcc = w.groupBy(col("h"))
      .agg(min(struct(col("id"), col("i"))).as("first"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    stripFromRemovalWindows(docs, idCol, textCol,
      w.join(firstOcc, "h")
        .filter(struct(col("id"), col("i")) =!= col("first"))
        .select(col("id"), col("i")),
      win)
  }

  /** Reassembly kernel: removal window positions `(id, i)` → per-doc
    * clean text. Shared by the in-memory keep-first strip and the
    * incremental [[DupStore]] probe (which derives its removal set
    * against stored history).
    *
    * Removal positions are first merged into maximal islands (the
    * [[spansFromPositions]] kernel), so the per-doc payload is one
    * (start, end) struct per REGION, not one index per token — a
    * heavily duplicated long document (the op's exact target) attaches
    * a handful of ranges instead of a 40k-element index array, and the
    * per-token membership test is O(regions), not O(removed tokens).
    */
  /** `broadcastCut = true` is the BATCH-bounded caller's opt-in (the
    * [[DupStore]] probe, whose whole input is one delivery): the cut
    * table is ≤ one row per input doc, so it broadcasts at the same
    * bound the probe's hash set already does, and the tokenized doc
    * side never exchanges on id. The one-shot corpus strip must NOT
    * set it — there the cut table is O(corpus docs with dup spans) and
    * the planner's sort-merge degrades gracefully where a forced
    * broadcast would pin a corpus-sized hash relation.
    */
  private[graft] def stripFromRemovalWindows(docs: DataFrame, idCol: String,
      textCol: String, rem: DataFrame, win: Int,
      broadcastCut: Boolean = false): DataFrame = {
    val islands = spansFromPositions("id", rem, win)
    val remArr0 = islands.groupBy(col("id"))
      .agg(sort_array(collect_list(
          struct(col("span_start").as("s"), col("span_end").as("e"))))
        .as("cut"),
        sum(col("span_len")).as("n_removed"))
    val remArr = if (broadcastCut) broadcast(remArr0) else remArr0
    val noCut = array().cast("array<struct<s:bigint,e:bigint>>")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokensCol(col(textCol)).as("toks"))
      .join(remArr, Seq("id"), "left_outer")
      .withColumn("cut", coalesce(col("cut"), noCut))
      .select(col("id").as(idCol),
        array_join(
          filter(col("toks"), (_, idx) =>
            !exists(col("cut"), c =>
              idx.cast("long").between(c("s"), c("e")))),
          " ").as("clean_text"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** (id, i, h) sliding window-hash rows — LAZY: callers with several
    * plan branches over it materialize once ([[ClusterOps.flatten]], see
    * the one-shot entry points and the [[DupStore]] probe); a
    * single-consumer caller (the store's ingest aggregate) composes it
    * inline and pays no checkpoint. Exposed package-wide so a serving
    * layer can compute the evidence ONCE and derive spans, coverage, and
    * the strip transform from the same frame.
    *
    * `h` is the 16-byte BINARY md5, not its 32-char hex string: the hash
    * never leaves any operator (only grouped and joined on), and binary
    * keys halve every aggregate's state, every exchange, and the
    * persisted [[DupStore]] index. The DuckDB oracles group on the hex
    * md5 — any injective proxy for the window string yields the same
    * partition, so the two engines agree without sharing the encoding.
    */
  private[graft] def windowTable(docs: DataFrame, idCol: String,
      textCol: String, win: Int): DataFrame = {
    require(win >= 1, s"win=$win must be positive")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokensCol(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= win)
      .select(col("id"),
        explode(sequence(lit(0L), (size(col("toks")) - win).cast("long")))
          .as("i"),
        col("toks"))
      .select(col("id"), col("i"),
        unhex(md5(array_join(slice(col("toks"), (col("i") + 1).cast("int"),
          lit(win)), " "))).as("h"))
  }

  /** Quality features + a composite score (length, punctuation, stopword
    * density) — ratios floor-quantized for cross-engine stability.
    */
  def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = tokensCol(text)
    val nTok = size(toks)
    val punct = length(regexp_replace(text, "[a-zA-Z0-9\\s]", ""))
    val stops = size(filter(toks, t => t.isin(langMarkers.flatMap(_._2).map(lit(_)): _*)))
    docs.select(
      col(idCol),
      nTok.cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_uniq_tokens"),
      q4(length(text).cast("double") / nTok).as("avg_chars_per_token"),
      q4(punct.cast("double") / length(text)).as("punct_ratio"),
      q4(stops.cast("double") / nTok).as("stopword_ratio"),
      q4(least(nTok.cast("double") / 100.0, lit(1.0)) * 0.5
        + (lit(1.0) - punct.cast("double") / length(text)) * 0.3
        + (stops.cast("double") / nTok) * 0.2).as("quality_score"))
  }

  /** BM25-shaped retrieval scoring against a literal query — INTEGER-
    * EXACT end to end, the cross-engine determinism discipline of the
    * surprisal/ADC/temperature family applied to ranking. Two
    * departures from textbook BM25, both deliberate:
    * - idf is the RATIONAL Robertson core, 1000·(N−df+0.5)/(df+0.5)
    *   integer-divided, not its logarithm: ln() is not correctly
    *   rounded and a 1-ulp engine difference at a rounding boundary
    *   fails a hash oracle nondeterministically (the float-sum
    *   lesson). Monotonicity in df — what the ranking needs — is
    *   identical; swap in a log where bit-reproducibility is not a
    *   contract.
    * - k1 = 1.2 and b = 0.75 (the standard constants) enter as exact
    *   ratios: multiplying numerator and denominator of the
    *   tf-saturation term by 10·totalLen makes every operand an
    *   integer — score_t = idf · 22·tf·totalLen / (10·totalLen·tf +
    *   3·totalLen + 9·len·N), evaluated in decimal(38,0) (hugeint in
    *   the oracle) so a web-scale N·totalLen product cannot overflow.
    * Per-term quotients floor to integer millis and SUM per doc —
    * integer addition is order-free, so the score is partition- and
    * engine-independent. Scale shape: two tokenize scans (corpus
    * stats + matching-term extraction — stats needs every doc's
    * length, matched or not), NO corpus-sized shuffle (len rides the
    * tf aggregation key instead of joining a lengths table); the
    * per-term frames (df, stats) broadcast. [[PostingsStore]] removes
    * the per-query scans entirely.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topK: Int): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    require(topK > 0, s"topK=$topK must be positive")
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val base = bm25Base(docs, idCol, textCol)
    val stats = base.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("tot"))
    val tf = base
      .select(col("doc_id"), size(col("toks")).cast("long").as("len"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("len"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Rank(tf.join(broadcast(dft), Seq("term"))
      .crossJoin(broadcast(stats)), topK)
  }

  /** The shared scoring tail over a frame carrying (doc_id, tf, df,
    * len, n, tot) — ONE definition of the integer arithmetic, so the
    * in-memory form and [[PostingsStore.queryBm25]] can never drift
    * while claiming one oracle.
    */
  private[graft] def bm25Rank(perTerm: DataFrame, topK: Int): DataFrame =
    perTerm
      .select(col("doc_id"),
        expr("""(CAST(2 * (n - df) + 1 AS DECIMAL(38,0)) * 1000 * 22
               |   * tf * tot)
               | div
               | (CAST(2 * df + 1 AS DECIMAL(38,0))
               |   * (CAST(10 AS DECIMAL(38,0)) * tot * tf
               |      + CAST(3 AS DECIMAL(38,0)) * tot
               |      + CAST(9 AS DECIMAL(38,0)) * len * n))"""
          .stripMargin.replace("\n", " ")).as("m"))
      .groupBy(col("doc_id")).agg(sum(col("m")).as("score_milli"))
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(topK)

  /** (doc_id, toks) with the bm25 token hygiene — shared by the
    * in-memory scorer and the postings-store builder (ONE tokenizer,
    * or index and query would disagree about terms).
    */
  private[graft] def bm25Base(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        filter(tokensCol(col(textCol)), t => t =!= lit("")).as("toks"))
}
