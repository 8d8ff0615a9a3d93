package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristics, document
  * fingerprinting. All pure `Column` expressions (whole-stage codegen,
  * no UDFs) so they run at scan speed and distribute trivially.
  */
object TextAnalysis {

  /** English stopword core used by the ratio heuristics. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for", "on", "with")

  /** Whitespace tokens. */
  /** Cross-doc sequence packing — the variant sequence writers actually
    * ship: chunks from DIFFERENT docs share training sequences, so tail
    * chunks don't strand a near-empty sequence per document (per-doc
    * packing's padding cost). Deterministic by construction, unlike
    * first-fit over arbitrary partition order: docs land in
    * `idCol % numGroups` bin groups, and within a group the chunks are
    * linear-packed in (doc, start) order by the same
    * cumulative-offset-div-budget rule [[packSequences]] uses. Any engine
    * can replay the exact layout (modulo grouping + total order), which
    * is what makes the composition oracle-checkable instead of
    * rows-only; production can swap the modulo for a salted hash without
    * touching the packing rule.
    *
    * Scale shape: ONE exchange — the window partitions by bin group and
    * the (group, seq_idx) aggregation reuses that partitioning. Pick
    * `numGroups` ≈ cluster parallelism: each group sorts
    * ~totalChunks/numGroups rows, and groups are modulo-balanced (doc
    * ids are dense); a salted variant handles adversarial id skew.
    *
    * Returns one row per (bin_group, seq_idx): n_chunks, n_tokens, plus
    * the ordered `chunks` membership (doc, start, n_tokens) and — when
    * the input carries `chunk_text` — the packed `seq_text` payload.
    */
  /** `hashOrder = true` packs each bin group in md5(id:start) order
    * instead of (doc, start) order — a DETERMINISTIC shuffle that spreads
    * a document's chunks across sequences (batch decorrelation, the order
    * sequence writers actually want) while staying fully replayable: the
    * per-chunk sort key is the same engine-portable md5-prefix integer the
    * sampling operators use, ties broken by (doc, start). Same single
    * exchange either way.
    */
  def packSequencesAcross(chunks: org.apache.spark.sql.DataFrame, idCol: String,
                          seqTokens: Int, numGroups: Int,
                          hashOrder: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(seqTokens > 0, s"seqTokens=$seqTokens must be positive")
    require(numGroups > 0, s"numGroups=$numGroups must be positive")
    val hasText = chunks.columns.contains("chunk_text")
    val ordCols: Seq[Column] =
      if (hashOrder) Seq(col("__ord"), col(idCol), col("start"))
      else Seq(col(idCol), col("start"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bin_group").orderBy(ordCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // the member struct leads with the sort key so sort_array reproduces
    // the window order exactly
    val memberBase: Seq[Column] =
      if (hashOrder) Seq(col("__ord"), col(idCol), col("start"), col("n_tokens"))
      else Seq(col(idCol), col("start"), col("n_tokens"))
    val member = struct(
      (if (hasText) memberBase :+ col("chunk_text") else memberBase): _*)
    val staged =
      if (hashOrder) chunks.withColumn("__ord",
        conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
          col("start").cast("string"))), 1, 8), 16, 10).cast("long"))
      else chunks
    val packed = staged
      .withColumn("bin_group", pmod(col(idCol), lit(numGroups)).cast("int"))
      .withColumn("__cum", sum("n_tokens").over(w))
      .withColumn("seq_idx",
        expr(s"CAST((__cum - n_tokens) div $seqTokens AS INT)"))
      .groupBy(col("bin_group"), col("seq_idx"))
      .agg(count(lit(1)).as("n_chunks"),
        sum("n_tokens").cast("long").as("n_tokens"),
        sort_array(collect_list(member)).as("__m"))
    if (hasText)
      packed
        .withColumn("seq_text",
          array_join(transform(col("__m"), m => m("chunk_text")), " "))
        .withColumn("chunks", transform(col("__m"),
          m => struct(m(idCol).as(idCol), m("start").as("start"),
            m("n_tokens").as("n_tokens"))))
        .drop("__m")
    else packed
      .withColumn("chunks", transform(col("__m"),
        m => struct(m(idCol).as(idCol), m("start").as("start"),
          m("n_tokens").as("n_tokens"))))
      .drop("__m")
  }

  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: runs of letters, runs of digits, and single
    * punctuation marks each count as one token (a cheap proxy for byte-pair
    * vocabularies when estimating training cost). RE2-compatible pattern so
    * external oracles can recompute it. For a merges-table-faithful count,
    * see [[bpeTokenCount]].
    */
  def subwordCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))

  /** A small well-formed BPE merges table (rank order; every multi-char
    * side is the product of an earlier merge, the property a trained
    * merges list has by construction and [[bpeTokenCount]]'s one-pass fold
    * relies on). Stands in for a production tokenizer's merges file —
    * swap in the real list, the algorithm does not change.
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "a" -> "n",
    "r" -> "e", "o" -> "n", "s" -> "t", "a" -> "t", "e" -> "n",
    "o" -> "r", "a" -> "r", "a" -> "l", "in" -> "g", "an" -> "d",
    "o" -> "w", "l" -> "e", "s" -> "e", "c" -> "k", "t" -> "a")

  /** Tokenizer-faithful BPE token count — replays an explicit merges table
    * instead of [[subwordCount]]'s regex proxy, so packing budgets
    * ([[chunk]]/[[packSequences]]) and corpus audits can price sequences
    * in REAL tokenizer tokens.
    *
    * Mechanism (no UDF, no HOF lambda — one codegen'd string-function
    * chain): every non-space char of the lowercased text is wrapped in
    * … sentinels ("th e" ⇒ ␁t␂␁h␂ ␁e␂), then each merge
    * (a,b)⇒ab in rank order is ONE global `replace` of ␁a␂␁b␂ with
    * ␁ab␂ — left-to-right non-overlapping, exactly BPE's merge-all pass
    * for that rank, and the sentinels make token boundaries unambiguous
    * (␁th␂␁e␂ matches, ␁xth␂␁e␂ cannot). Spaces carry no sentinels, so
    * merges never span words. One ordered pass is equivalent to the
    * rescan-loop BPE implementations run because the table is well-formed:
    * merges only create LONGER tokens, so a pair of rank r can never
    * reappear after rank r's pass. Token count = sentinels remaining.
    *
    * Sentinel chars are stripped from the input defensively (they are
    * control bytes no text corpus carries). Null text ⇒ null.
    */
  def bpeTokenCount(text: Column,
                    merges: Seq[(String, String)] = BpeMerges): Column = {
    val merged = bpeMerged(text, merges)
    (length(merged) - length(replace(merged, lit("\u0001"), lit("")))).cast("long")
  }

  /** The shared sentinel-wrap + rank-ordered merge fold behind
    * [[bpeTokenCount]]/[[bpeTokens]]/[[bpeTokenIds]]: every non-space char
    * wrapped in sentinel chars, then one global `replace` per merge rank.
    */
  private def bpeMerged(text: Column, merges: Seq[(String, String)]): Column = {
    val S = "\u0001"
    val E = "\u0002"
    val seeded = regexp_replace(
      regexp_replace(lower(text), s"[$S$E]", ""),
      "([^ ])", S + "$1" + E)
    merges.foldLeft(seeded) { case (c, (a, b)) =>
      replace(c, lit(S + a + E + S + b + E), lit(S + a + b + E))
    }
  }

  /** The actual BPE token strings, in document order — [[bpeTokenCount]]'s
    * fold with the sentinel-delimited tokens extracted instead of counted.
    * Spaces carry no sentinels, so word boundaries fall out of the
    * extraction for free (a space contributes no token). Null text => null.
    */
  def bpeTokens(text: Column,
                merges: Seq[(String, String)] = BpeMerges): Column =
    regexp_extract_all(bpeMerged(text, merges),
      lit("\u0001([^\u0002]+)\u0002"), lit(1))

  /** Adjacent-token-pair census — THE statistic BPE training consumes:
    * counts of each adjacent (left, right) token pair across the corpus
    * after applying `merges` (an empty list censuses raw characters, the
    * k-th trainer round passes the k merges learned so far). Words never
    * pair across the space boundary, matching the merge fold.
    *
    * Scale shape: the per-doc pair list is codegen'd HOF work on the
    * sentinel string (split -> per-word extraction -> zip_with of the two
    * shifted slices, guard-free via length-0 slices), then ONE partial-agg
    * exchange keyed by the pair — counts combine map-side, so the shuffle
    * carries at most |vocab|^2 rows per partition, not corpus volume.
    */
  def bpePairCensus(df: org.apache.spark.sql.DataFrame, textCol: String,
                    merges: Seq[(String, String)] = Nil): org.apache.spark.sql.DataFrame = {
    val toksPerWord = transform(split(bpeMerged(col(textCol), merges), " "),
      w => regexp_extract_all(w, lit("\u0001([^\u0002]+)\u0002"), lit(1)))
    val pairs = flatten(transform(toksPerWord, t => {
      val n = greatest(size(t) - 1, lit(0))
      zip_with(slice(t, lit(1), n), slice(t, lit(2), n),
        (x, y) => struct(x.as("l"), y.as("r")))
    }))
    df.select(explode(pairs).as("p"))
      .groupBy(col("p.l").as("left_tok"), col("p.r").as("right_tok"))
      .agg(count(lit(1)).as("n"))
  }

  /** Distributed BPE trainer: `nMerges` rounds of [[bpePairCensus]] +
    * pick-the-winner, exactly the Sennrich et al. 2016 loop with the pair
    * counting distributed. Ties break deterministically (count desc, then
    * (left, right) lexicographic asc), so any engine replays the same
    * table. Per round the driver receives ONE (left, right, n) row — the
    * [[VectorIVF.train]] O(1)-scalars discipline, not a data collect; cost
    * is nMerges census jobs (each one partial-agg exchange). Training on a
    * [[Sampling.hashSample]] of a 100 TB corpus is the intended use, as
    * with any tokenizer trainer. Returns `base ++ learned`, ready for
    * [[bpeTokenCount]]/[[bpeTokens]]/[[bpeTokenIds]].
    */
  def trainBpeMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
                     nMerges: Int,
                     base: Seq[(String, String)] = Nil): Seq[(String, String)] = {
    var merges = base.toVector
    var rounds = 0
    while (rounds < nMerges) {
      val top = bpePairCensus(df, textCol, merges)
        .orderBy(col("n").desc, col("left_tok"), col("right_tok"))
        .limit(1).collect()
      if (top.isEmpty) return merges  // corpus exhausted (all single tokens)
      merges = merges :+ ((top(0).getString(0), top(0).getString(1)))
      rounds += 1
    }
    merges
  }

  /** Token-id assignment for [[bpeTokens]]: a single-char token id is its
    * code point (the base-vocabulary tier), and a multi-char token — by
    * construction the output of some merge — gets 0x110000 + the rank of
    * the FIRST merge producing that string (first-wins, one id per surface
    * form, the way a trained vocab file assigns ids; the base sits above
    * every Unicode code point, so the two tiers cannot collide — byte-level
    * BPE gets the same injectivity by working on bytes < 256). Ships as a
    * plan-literal map + `transform`: no UDF, no shuffle — the full
    * tokenization is a map-only projection, so a sequence writer can emit
    * real token ids at scan speed.
    */
  def bpeTokenIds(text: Column,
                  merges: Seq[(String, String)] = BpeMerges): Column = {
    val idByOut = scala.collection.mutable.LinkedHashMap[String, Int]()
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      if (!idByOut.contains(a + b)) idByOut(a + b) = 0x110000 + r
    }
    val idMap = map(idByOut.toSeq.flatMap {
      case (k, v) => Seq(lit(k), lit(v)) }: _*)
    transform(bpeTokens(text, merges),
      t => when(length(t) === 1, ascii(t)).otherwise(element_at(idMap, t)))
  }

  /** Fraction of whitespace tokens that are core English stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = EnStopwords): Column = {
    val toks = tokens(lower(text))
    val stops = filter(toks, t => t.isin(stopwords: _*))
    size(stops).cast("double") / size(toks).cast("double")
  }

  /** Fraction of characters that are ASCII punctuation. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[!-/:-@\\[-`{-~]", "")))
      .cast("double") / length(text).cast("double")

  /** Mean whitespace-token length. */
  def avgTokenLen(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      size(toks).cast("double")
  }

  /** Composite document-quality score in [0,1]: rewards stopword presence
    * (real prose has them) and reasonable length; penalizes punctuation
    * noise. Deterministic closed form so an external oracle can recompute it.
    */
  def qualityScore(text: Column): Column =
    round(
      lit(0.4) * least(stopwordRatio(text) * lit(4.0), lit(1.0)) +
      lit(0.4) * least(tokenCount(text).cast("double") / lit(100.0), lit(1.0)) +
      lit(0.2) * (lit(1.0) - least(punctRatio(text) * lit(10.0), lit(1.0))),
      4)

  /** Stopword profiles for the multi-language ID argmax. Overlapping words
    * ("de", "la", "en", …) are fine — the per-profile ratio argmax decides;
    * richer n-gram profiles slot into the same (lang, words) shape.
    */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> EnStopwords,
    "fr" -> Seq("le", "la", "les", "de", "des", "du", "et", "un", "une",
      "est", "dans", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu",
      "den", "von", "mit", "nicht"),
    "es" -> Seq("el", "los", "las", "de", "y", "un", "una", "es", "en",
      "que", "no", "por"))

  /** Unicode-script character profile — the SCRIPT-mix complement to the
    * stopword [[langIdHeuristic]]: per-document fractions of characters in
    * the Latin-letter, CJK-ideograph, Cyrillic, Arabic and ASCII-digit
    * ranges. Stopword profiles can only separate languages that share a
    * script; the script profile catches what they cannot — mixed-script
    * spam, wrong-script boilerplate inside a declared-language corpus,
    * digit-heavy table dumps. Map-only codegen'd expressions (five
    * regexp_replace length-diffs over the scan — no shuffle,
    * embarrassingly parallel at 100 TB); ranges are written as \\x{...}
    * hex classes, the syntax Java regex AND RE2 share, so an external SQL
    * oracle runs the byte-identical pattern. Fractions on the 1e-6 grid;
    * an empty string reports zeros.
    */
  def scriptProfile(text: Column): Column = {
    val n = length(text).cast("double")
    def frac(pat: String): Column = {
      val cnt = (length(text) - length(regexp_replace(text, pat, "")))
        .cast("double")
      when(length(text) === 0, lit(0.0)).otherwise(round(cnt / n, 6))
    }
    struct(
      length(text).cast("long").as("n_chars"),
      frac("[A-Za-z]").as("frac_latin"),
      frac("[\\x{4E00}-\\x{9FFF}]").as("frac_cjk"),
      frac("[\\x{0400}-\\x{04FF}]").as("frac_cyrillic"),
      frac("[\\x{0600}-\\x{06FF}]").as("frac_arabic"),
      frac("[0-9]").as("frac_digit"))
  }

  /** Language-ID heuristic: stopword-ratio per language profile, argmax with
    * 'und' (undetermined) when no profile clears the floor. Kept as the
    * single-profile fast path; [[langId]] is the multi-profile argmax.
    */
  def langIdHeuristic(text: Column, floor: Double = 0.08): Column = {
    val en = stopwordRatio(text, EnStopwords)
    when(en >= floor, lit("en")).otherwise(lit("und"))
  }

  /** Table-driven multi-language ID: ratio per profile, argmax, first
    * profile in table order wins ties, 'und' when no profile clears the
    * floor. One projection, no shuffle, no UDF — and a closed form any SQL
    * oracle can replay as a CASE argmax.
    *
    * Shape matters: each per-profile ratio is a higher-order `filter`
    * (interpreted, outside codegen CSE), so a naive greatest+CASE argmax
    * re-evaluates every ratio in every branch (~3N evaluations — measured
    * 5× slower end-to-end in the d19 pipeline). Here each ratio appears
    * exactly once, inside an `array_max` over (ratio, priority, lang)
    * structs; the lexicographic struct order makes ties fall to the
    * earlier profile via the descending priority field.
    */
  def langId(text: Column, profiles: Seq[(String, Seq[String])] = Profiles,
             floor: Double = 0.08): Column = {
    val n = profiles.size
    val best = array_max(array(profiles.zipWithIndex.map { case ((lang, words), i) =>
      struct(stopwordRatio(text, words).as("r"),
        lit(n - i).as("pri"), lit(lang).as("lang"))
    }: _*))
    when(best.getField("r") >= floor, best.getField("lang")).otherwise(lit("und"))
  }

  /** PII classes for scan/redaction — the standard cleaning stage before a
    * corpus ships to training. (kind, pattern, replacement) triples; the
    * patterns are deliberately RE2-compatible (no lookaround, no backrefs)
    * so external oracles and sibling engines recompute them byte-for-byte.
    * The sequence order IS the redaction order and is load-bearing: emails
    * go first (their digit-bearing local parts must not be half-claimed by
    * the numeric classes), dotted quads before phones (both match digit
    * runs with separators).
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"))

  /** Match count for one PII class over the RAW text (counts are per-class
    * independent; only redaction is sequential). Codegen'd `regexp_count`.
    */
  def piiCount(text: Column, kind: String): Column = {
    val pat = PiiPatterns.collectFirst { case (`kind`, p, _) => p }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown PII class '$kind' (have ${PiiPatterns.map(_._1).mkString(",")})"))
    regexp_count(text, lit(pat)).cast("long")
  }

  /** Redact every PII class, applying [[PiiPatterns]] in declared order.
    * Map-only, no UDF — runs at scan speed over a 100 TB corpus.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (t, (_, pat, repl)) =>
      regexp_replace(t, pat, repl)
    }

  /** 60-bit stable document fingerprint from the normalized text (md5-based
    * so any engine can recompute it; 15 hex chars keeps it in a signed long).
    */
  def fingerprint(text: Column): Column =
    conv(substring(md5(lower(text)), 1, 15), 16, 10).cast("long")

  /** Full-width hex fingerprint (for exact-dup grouping keys). */
  def fingerprintHex(text: Column): Column = md5(lower(text))

  /** Within-document n-gram repetition ratio — the corpus-cleaning
    * "repetition" signal (templated/spammy text repeats its own n-grams):
    * 1 − |distinct n-grams|/|n-grams|, 0.0 for docs shorter than n words.
    * Map-only, and deliberately LAMBDA-FREE: grams are `arrays_zip` of n
    * shifted slices (struct equality — words cannot contain the space
    * delimiter, so this counts exactly like joined strings). A
    * transform-lambda formulation re-evaluates its captured word array per
    * element once predicate pushdown inlines the staged split — O(len²)
    * per doc, measured 5× slower end-to-end (see [[langId]] for the same
    * trap on the argmax side). Returns df + `rep_ratio`.
    */
  def repetitionRatio(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame = {
    val words = col("__words")
    val total = size(words) - (n - 1)
    val grams = arrays_zip((0 until n).map(o => slice(words, lit(o + 1), total)): _*)
    df.withColumn("__words", split(lower(col(textCol)), " "))
      .withColumn("rep_ratio",
        when(size(words) >= n,
          round(lit(1.0) -
            size(array_distinct(grams)).cast("double") / total.cast("double"), 6))
          .otherwise(lit(0.0)))
      .drop("__words")
  }

  /** TF-IDF top-`k` terms per document — the keyword-extraction /
    * domain-tagging signal of a corpus pipeline. Smoothed idf
    * `ln((N+1)/(df+1)) + 1` (the standard add-one form, a deterministic
    * closed form external oracles can replay); score = tf · idf, top-k by
    * (score desc, token asc).
    *
    * Shuffle inventory, all partial-agg friendly: groupBy (doc, token) for
    * tf, groupBy token for df (both map-side combinable), a token equijoin
    * to attach idf (one row per distinct token — heavy-hitter tokens are
    * ONE row here, so no skew), and the per-doc top-k window. The corpus
    * size N stays inside the DAG as a broadcast 1-row aggregate — no
    * driver collect.
    *
    * Caching note: the (doc, token) tf frame is persisted for the lifetime
    * of the returned plan (df derives from it — both branches would
    * otherwise recompute the explode + shuffle) and registered with
    * [[graft.CacheRegistry]]; a long-running driver should call
    * `CacheRegistry.releaseAll()` once results are consumed (targeted — it
    * does not evict the caller's own caches).
    * Returns (idCol, token, tf, rank, score).
    */
  def tfidfTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, k: Int = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
      explode(split(lower(col(textCol)), " ")).as("token"))
    // Reused ≥2× (the S4 rule): df derives FROM tf, so without the persist
    // the token explode + tf shuffle run once per branch — the plan showed
    // two full scans.
    val tf = graft.CacheRegistry.track(
      toks.groupBy(col(idCol), col("token"))
        .agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dfreq = tf.groupBy("token")
      .agg(count(lit(1)).as("doc_freq"))
    val n = df.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * (log((col("__n") + 1) / (col("doc_freq") + 1)) + 1), 6))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("token"))))
      .where(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf"), col("rank").cast("int").as("rank"),
        col("score"))
  }

  /** BM25 relevance scores with distributed top-k retrieval for a literal
    * query-term set — the eval-set mining / targeted-curation primitive
    * ("find the corpus documents most relevant to THIS query") a
    * training-data pipeline runs next to [[tfidfTopK]]'s per-doc keyword
    * extraction. Okapi BM25 with the Lucene non-negative idf,
    * `ln(1 + (N − df + 0.5)/(df + 0.5))`, k1/b defaults 1.2/0.75.
    *
    * Plan shape, scan-bounded: doc length comes from `size(split(...))`
    * in the SAME projection that explodes the term-filtered word array
    * (`filter(words, isin(terms))` — non-query tokens never leave the
    * row), so there is no corpus-wide dl join; the only corpus-sized agg
    * is the 1-row (N, Σdl) broadcast. tf/df are partial-agg shuffles over
    * QUERY-MATCHING rows only, and the global top-k is `orderBy.limit`
    * — Spark's TakeOrderedAndProject (per-partition heap + driver merge
    * of topK rows), never a single-partition rank window.
    *
    * Determinism across engines (the [[unigramLogProb]] discipline): each
    * (doc, term) contribution is rounded onto the 1e-6 grid and summed as
    * a LONG, ranking orders by (micro-score desc, id asc) — exact,
    * order-free, replayable in SQL. `explode_outer` + null-filter rather
    * than `explode`, for [[graft.functions.MinHashLSH.shingles]]'s
    * inferred-filter reason. Returns (idCol, bm25, rk), rk 1..topK.
    */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, terms: Seq[String], k1: Double = 1.2,
               b: Double = 0.75, topK: Int = 10): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    require(topK > 0, s"topK=$topK must be positive")
    val lowered = terms.map(_.toLowerCase)
    val words = split(lower(col(textCol)), " ")
    val totals = df
      .select(size(words).cast("long").as("__dl"))
      .agg(count(lit(1)).cast("long").as("__nd"),
        sum("__dl").cast("long").as("__total"))
    val rows = df
      .select(col(idCol), size(words).cast("long").as("__dl"),
        explode_outer(filter(words, t => t.isInCollection(lowered))).as("__tok"))
      .where(col("__tok").isNotNull)
    // Reused 2× (df derives FROM tf — the S4 rule): without the persist
    // the corpus scan + term-filter explode run once per branch.
    val tf = graft.CacheRegistry.track(
      rows.groupBy(col(idCol), col("__tok"))
        .agg(max("__dl").as("__dl"), count(lit(1)).as("__tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dfreq = tf.groupBy("__tok").agg(count(lit(1)).cast("long").as("__df"))
    // idf · tf·(k1+1) / (tf + k1·(1−b + b·dl·N/Σdl)), on the 1e-6 grid —
    // the oracle mirrors this expression tree verbatim (float ops are
    // order-sensitive; association must match).
    val term = round(
      log(lit(1.0) + (col("__nd") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))) *
        (col("__tf") * lit(k1 + 1)) /
        (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("__dl") * col("__nd")) / col("__total"))) *
        lit(1e6), 0).cast("long")
    val top = tf.join(broadcast(dfreq), "__tok")
      .crossJoin(broadcast(totals))
      .select(col(idCol), term.as("__m"))
      .groupBy(col(idCol)).agg(sum("__m").cast("long").as("__micro"))
      .orderBy(col("__micro").desc, col(idCol).asc)
      .limit(topK)
    top // rank the topK survivors only — a window over ≤ topK rows
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("__micro").desc, col(idCol).asc)))
      .select(col(idCol), round(col("__micro") / lit(1e6), 6).as("bm25"), col("rk"))
  }

  /** Corpus-conditional unigram log-likelihood — the CCNet-style fluency
    * signal (Wenzek et al., LREC 2020 filter corpora by LM perplexity;
    * this is its zero-external-model unigram floor): `logprob(doc)` = mean
    * over the doc's tokens of `ln P(token | corpus)` with add-one
    * smoothing, so template/boilerplate text full of corpus-frequent
    * tokens scores high and lexical noise scores low. Complements
    * [[qualityScore]] (structure) and [[repetitionRatio]] (self-similarity)
    * with a corpus-relative signal.
    *
    * Shape = [[tfidfTopK]]'s: (doc, token) tf partial-agg, token-keyed
    * frequency join, broadcast scalar totals — two shuffles, no all-pairs
    * anything; stopword-key skew on the token join is the documented
    * [[graft.ops.SkewSalt]] opt-in, same as TF-IDF. Determinism across
    * engines: each (doc, token) term is rounded onto the 1e-6 grid and
    * summed as a LONG (exact, order-free), so the DuckDB oracle replays
    * the sum bit-for-bit — a raw double sum would hash-differ with
    * partitioning. Returns (idCol, n_tokens, logprob).
    */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(lower(col(textCol)), " ")).as("token"))
    // ONE corpus explode total: tf is the persisted root, and BOTH the
    // corpus frequency table and the scalar totals derive from it
    // (cnt = sum of tf over docs, total = sum of cnt, vocab = freq rows) —
    // deriving them from `toks` instead would re-explode the full corpus
    // once per branch, three scans at 100 TB.
    val tf = graft.CacheRegistry.track(
      toks.groupBy(col(idCol), col("token"))
        .agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val freq = tf.groupBy("token").agg(sum("tf").cast("long").as("cnt"))
    val totals = freq.agg(sum("cnt").cast("long").as("total"),
      count(lit(1)).as("vocab"))
    val term = round(col("tf") *
      log((col("cnt") + 1) / (col("total") + col("vocab"))) * 1e6, 0)
      .cast("long")
    tf.join(freq, Seq("token"))
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(sum("tf").cast("long").as("n_tokens"),
        round(sum(term).cast("double") / 1e6 / sum("tf"), 6).as("logprob"))
  }

  /** Gopher-style n-gram repetition fractions — the two standard
    * within-doc repetition gates beyond [[repetitionRatio]]'s distinct
    * ratio: `top_gram_frac` (share of gram occurrences claimed by the
    * single most frequent n-gram — catches "spam spam spam") and
    * `dup_gram_frac` (share of gram occurrences whose gram appears more
    * than once — catches diffuse boilerplate a single top gram misses).
    *
    * Gram occurrences from the native [[graft.plans.ShingleHashes]]
    * kernel; both aggregations are doc-keyed partial-agg shuffles (no
    * corpus-wide state — each doc's stats depend only on its own rows).
    * Docs with fewer than n words emit no row, matching the extraction.
    * Returns (idCol, n_grams, top_gram_frac, dup_gram_frac).
    */
  def ngramRepetition(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"n=$n must be positive")
    val w = col("__words")
    val grams = df
      .select(col(idCol), split(lower(col(textCol)), " ").as("__words"))
      .where(size(w) >= n)
      .select(col(idCol), explode_outer( // outer: see MinHashLSH.shingles
        graft.plans.TextExpressions.shinglesColumn(df.sparkSession, w, n)).as("gram"))
    grams.groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum("c").cast("long").as("n_grams"),
        round(max("c").cast("double") / sum("c"), 6).as("top_gram_frac"),
        round(sum(when(col("c") > 1, col("c")).otherwise(0)).cast("double") / sum("c"), 6)
          .as("dup_gram_frac"))
  }

  /** N-gram (default bigram) log-likelihood fluency — the collocation
    * signal [[unigramLogProb]] cannot see: "of the" scores far above
    * "the of" even though their unigram mass is identical. Scores the
    * JOINT smoothed corpus probability of each n-gram occurrence,
    * `log((c(g)+1) / (total+distinct))`, averaged per doc — the exact d30
    * formula lifted from tokens to n-grams; a CONDITIONAL bigram model
    * would add a context-count join without changing the plan family.
    *
    * Gram extraction is the native [[graft.plans.ShingleHashes]] kernel
    * (map-only, ordered, NOT deduped — occurrences count), so the corpus
    * stats key on the 60-bit gram hash every oracle replays. Shape and
    * determinism discipline are d30's: persisted (doc, gram) tf root,
    * frequency + totals derived from it, 1e-6 integer-grid term sums.
    * Docs with fewer than n words emit no row.
    * Returns (idCol, n_grams, logprob).
    */
  def ngramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"n=$n must be positive")
    val w = col("__words")
    val grams = df
      .select(col(idCol), split(lower(col(textCol)), " ").as("__words"))
      .where(size(w) >= n)
      .select(col(idCol), explode_outer( // outer: no inferred-filter dup, see MinHashLSH.shingles
        graft.plans.TextExpressions.shinglesColumn(df.sparkSession, w, n)).as("gram"))
    val tf = graft.CacheRegistry.track(
      grams.groupBy(col(idCol), col("gram"))
        .agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val freq = tf.groupBy("gram").agg(sum("tf").cast("long").as("cnt"))
    val totals = freq.agg(sum("cnt").cast("long").as("total"),
      count(lit(1)).as("distinct_grams"))
    val term = round(col("tf") *
      log((col("cnt") + 1) / (col("total") + col("distinct_grams"))) * 1e6, 0)
      .cast("long")
    tf.join(freq, Seq("gram"))
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(sum("tf").cast("long").as("n_grams"),
        round(sum(term).cast("double") / 1e6 / sum("tf"), 6).as("logprob"))
  }

  /** Stupid-backoff trigram fluency — the CONDITIONAL language-model
    * signal [[unigramLogProb]] (marginal) and [[ngramLogProb]] (joint)
    * cannot express: each trigram occurrence scores
    * `S(w3|w1 w2) = c(w1 w2 w3)/c(w1 w2)` when the trigram is attested in
    * the training split, backing off to `α·c(w2 w3)/c(w2)`, then to
    * `α²·(c(w3)+1)/(N+V)` (add-one floor so unattested words stay
    * log-finite; Brants et al., EMNLP 2007 "Large Language Models in
    * Machine Translation" — the distributed-census LM built exactly this
    * way on MapReduce). Scoring a HELD-OUT `score` frame against a
    * disjoint `train` frame is what makes the backoff path organic.
    *
    * Scale shape: train side is ONE corpus pass — the three gram orders
    * ride one `explode` of a tagged concat of the native
    * [[graft.plans.ShingleHashes]] arrays into one (order, hash) census
    * (persisted: C1/C2/C3 and the totals are four readers of it). Score
    * side is map-only per-position keys (the order-2/order-1 context
    * hashes are `element_at` probes into the SAME kernel arrays — nothing
    * is re-hashed), reduced to a per-doc trigram census, then the
    * corpus-DISTINCT trigram table — not the corpus — takes the five
    * vocabulary joins, and one join-back prices each doc. Determinism is
    * d30's discipline: per-occurrence terms on the 1e-6 integer grid,
    * summed as longs. Returns (idCol, n_grams, logprob) for score-side
    * docs with ≥3 words.
    */
  def backoffLogProb(train: org.apache.spark.sql.DataFrame,
                     score: org.apache.spark.sql.DataFrame,
                     idCol: String, textCol: String,
                     alpha: Double = 0.4): org.apache.spark.sql.DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha out of (0,1]")
    val spark = train.sparkSession
    def sh(n: Int) = graft.plans.TextExpressions.shinglesColumn(
      spark, col("__w"), n)
    val tagged = train
      .select(split(lower(col(textCol)), " ").as("__w"))
      .select(explode_outer(concat(Seq(1, 2, 3).map(o =>
        transform(sh(o), h => struct(lit(o).as("o"), h.as("h")))): _*)).as("g"))
      .select(col("g.o").as("o"), col("g.h").as("h"))
    val census = graft.CacheRegistry.track(
      tagged.groupBy("o", "h").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    def order(o: Int, hName: String, cName: String) = census.where(col("o") === o)
      .select(col("h").as(hName), col("c").as(cName))
    val totals = census.where(col("o") === 1)
      .agg(sum("c").cast("long").as("n"), count(lit(1)).as("v"))
    // per-position keys: position p's trigram context bigram is h2[p]
    // (1-based element_at p+1), backoff bigram h2[p+1]; unigrams w2 =
    // h1[p+1], w3 = h1[p+2]. The 5-key structs are assembled INSIDE one
    // array projection and a single small-payload explode follows —
    // exploding h3 with the h1/h2 arrays as carry-along columns instead
    // would copy both full arrays into every generated row (O(len²)
    // generate traffic per doc; measured 17.1 s → this shape at sf0.1).
    val pos = score
      .select(col(idCol), split(lower(col(textCol)), " ").as("__w"))
      .where(size(col("__w")) >= 3)
      .select(col(idCol), sh(1).as("__h1"), sh(2).as("__h2"), sh(3).as("__h3"))
      .select(col(idCol), explode_outer( // outer: no inferred-filter dup
        transform(sequence(lit(0), size(col("__h3")) - 1, lit(1)),
          i => struct(
            element_at(col("__h3"), i + 1).as("h3"),
            element_at(col("__h2"), i + 1).as("h2a"),
            element_at(col("__h2"), i + 2).as("h2b"),
            element_at(col("__h1"), i + 2).as("h1a"),
            element_at(col("__h1"), i + 3).as("h1b")))).as("g"))
      .select(col(idCol), col("g.h3").as("h3"), col("g.h2a").as("h2a"),
        col("g.h2b").as("h2b"), col("g.h1a").as("h1a"), col("g.h1b").as("h1b"))
    val keys = Seq("h3", "h2a", "h2b", "h1a", "h1b")
    // S4 persist rule: the distinct-trigram table and the final pricing
    // join BOTH read the doc census — unpersisted, the whole position
    // explode + 6-key aggregation would run twice.
    val tf = graft.CacheRegistry.track(
      pos.groupBy(col(idCol) +: keys.map(col): _*)
        .agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val distinctTri = tf.select(keys.map(col): _*).distinct()
    val s = when(col("c3").isNotNull, col("c3") / col("c2a"))
      .otherwise(lit(alpha) *
        when(col("c2b").isNotNull, col("c2b") / col("c1a"))
          .otherwise(lit(alpha) *
            (coalesce(col("c1b"), lit(0L)) + 1) / (col("n") + col("v"))))
    val scored = distinctTri
      .join(order(3, "h3", "c3"), Seq("h3"), "left")
      .join(order(2, "h2a", "c2a"), Seq("h2a"), "left")
      .join(order(2, "h2b", "c2b"), Seq("h2b"), "left")
      .join(order(1, "h1a", "c1a"), Seq("h1a"), "left")
      .join(order(1, "h1b", "c1b"), Seq("h1b"), "left")
      .crossJoin(broadcast(totals))
      .select(keys.map(col) :+ log(s).as("__ln"): _*)
    val term = round(col("tf") * col("__ln") * 1e6, 0).cast("long")
    tf.join(scored, keys)
      .groupBy(col(idCol))
      .agg(sum("tf").cast("long").as("n_grams"),
        round(sum(term).cast("double") / 1e6 / sum("tf"), 6).as("logprob"))
  }

  /** DSIR importance weights (Xie et al., NeurIPS 2023 "Data Selection
    * for Language Models via Importance Resampling"): each raw-corpus doc
    * gets `log w = Σ_b f_b · (ln p̂_target[b] − ln p̂_raw[b])` over hashed
    * unigram+bigram feature buckets, where the two bucket distributions
    * are add-one-smoothed censuses of the target sample and the raw
    * corpus. High `logw` = looks like the target domain; feed the result
    * to [[dsirTopK]] (Gumbel top-k, the paper's sampler) or threshold it.
    *
    * Scale shape: ONE raw-corpus pass — the uni+bi gram hashes ride one
    * `explode` of a concat of the native [[graft.plans.ShingleHashes]]
    * arrays (no same-bucket collision across orders: unigrams never
    * contain the space a bigram always does, and distinct surface forms
    * hashing together is exactly what hashed features mean) — reduced to
    * the persisted (doc, bucket) census; the raw bucket distribution
    * derives from that census (no second pass), the target sample is its
    * own (small) pass, and both distributions are ≤`buckets` rows —
    * broadcast onto the doc census. Determinism: per-bucket terms on the
    * 1e-6 integer grid, summed as longs (d30's discipline). Returns
    * (idCol, n_feats, logw). A null-text doc emits NO row (its null
    * bucket never matches the ratio join); the streaming twin
    * [[graft.streaming.DocStream.dsirTag]] instead keeps the row with a
    * NULL tag — see its docstring for the convention.
    */
  def dsirLogRatio(raw: org.apache.spark.sql.DataFrame,
                   target: org.apache.spark.sql.DataFrame,
                   idCol: String, textCol: String,
                   buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    val spark = raw.sparkSession
    def sh(n: Int) = graft.plans.TextExpressions.shinglesColumn(
      spark, col("__w"), n)
    def bucketed(d: org.apache.spark.sql.DataFrame, keep: Seq[String]) = d
      .select(keep.map(col) :+ split(lower(col(textCol)), " ").as("__w"): _*)
      .select(keep.map(col) :+
        explode_outer(concat(sh(1), sh(2))).as("__h"): _*)
      .select(keep.map(col) :+
        pmod(col("__h"), lit(buckets.toLong)).as("bucket"): _*)
    val docCensus = graft.CacheRegistry.track(
      bucketed(raw, Seq(idCol))
        .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("f"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val rawCensus = docCensus.groupBy("bucket")
      .agg(sum("f").cast("long").as("cr"))
    val tgtCensus = bucketed(target, Seq.empty)
      .groupBy("bucket").agg(count(lit(1)).cast("long").as("ct"))
    val rawTot = rawCensus.agg(sum("cr").cast("long").as("tr"))
    val tgtTot = tgtCensus.agg(sum("ct").cast("long").as("tt"))
    val ratio = rawCensus
      .join(tgtCensus, Seq("bucket"), "left")
      .crossJoin(broadcast(rawTot)).crossJoin(broadcast(tgtTot))
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + 1) / (col("tt") + buckets)) -
          log((col("cr") + 1) / (col("tr") + buckets))).as("lnr"))
    val term = round(col("f") * col("lnr") * 1e6, 0).cast("long")
    docCensus.join(broadcast(ratio), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum("f").cast("long").as("n_feats"),
        round(sum(term).cast("double") / 1e6, 6).as("logw"))
  }

  /** Driver-side DSIR ratio table for the STREAMING tag
    * ([[graft.streaming.DocStream.dsirTag]]): the per-bucket grid terms
    * `round(lnr·1e6)` as a map (≤`buckets` entries — a bounded plan
    * constant, same driver-size class as IVF centroids or LSH planes),
    * plus the unseen-bucket default (both censuses zero, smoothing only).
    * Collecting O(buckets) rows is the point: the stream side then scores
    * with ZERO joins and zero state.
    */
  def dsirRatioTable(raw: org.apache.spark.sql.DataFrame,
                     target: org.apache.spark.sql.DataFrame,
                     textCol: String,
                     buckets: Int = 1024): Array[Long] = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    val spark = raw.sparkSession
    def sh(n: Int) = graft.plans.TextExpressions.shinglesColumn(
      spark, col("__w"), n)
    def census(d: org.apache.spark.sql.DataFrame): Map[Long, Long] = d
      .select(split(lower(col(textCol)), " ").as("__w"))
      .select(explode_outer(concat(sh(1), sh(2))).as("__h"))
      .groupBy(pmod(col("__h"), lit(buckets.toLong)).as("bucket"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (cr, ct) = (census(raw), census(target))
    val (tr, tt) = (cr.values.sum, ct.values.sum)
    // DENSE bucket->term array (empty buckets get the pure-smoothing
    // term) so the stream side indexes in O(1) — a Map literal would
    // linear-scan its 1024 entries once per gram occurrence
    Array.tabulate(buckets) { b =>
      math.round((math.log((ct.getOrElse(b.toLong, 0L) + 1).toDouble / (tt + buckets)) -
        math.log((cr.getOrElse(b.toLong, 0L) + 1).toDouble / (tr + buckets))) * 1e6)
    }
  }

  /** DSIR selection — the paper's Gumbel top-k sampler (sampling k docs
    * without replacement with probability ∝ exp(logw)) made fully
    * DETERMINISTIC: the Gumbel noise `g = −ln(−ln(u))` draws its uniform
    * from the doc id's md5 ([[Sampling.hashValue]]), so reruns, engines
    * and partitionings pick the same k docs. Global top-k by
    * (logw + g) plans as TakeOrderedAndProject — per-partition heaps, no
    * full sort, k rows to the driver — the correct 100 TB shape for the
    * "select 10M docs from 10B" pass. Returns the k selected
    * (idCol, n_feats, logw, key) rows; `key` is grid-rounded for
    * cross-engine hashing.
    */
  def dsirTopK(raw: org.apache.spark.sql.DataFrame,
               target: org.apache.spark.sql.DataFrame,
               idCol: String, textCol: String, k: Int,
               buckets: Int = 1024): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val u = (Sampling.hashValue(col(idCol)) + 0.5) / 4294967296.0
    dsirLogRatio(raw, target, idCol, textCol, buckets)
      .withColumn("key", round(col("logw") - log(-log(u)), 6))
      .orderBy(col("key").desc, col(idCol))
      .limit(k)
  }

  /** Sliding-window document chunking — context-window packing for model
    * training: each doc splits into windows of `maxTokens` whitespace
    * tokens advancing by `maxTokens − overlap`, so consecutive chunks share
    * `overlap` tokens. A tail start that adds no new content beyond the
    * previous chunk's coverage (start + overlap > len) is suppressed, so
    * chunks never degenerate into suffixes of their predecessor.
    *
    * Map-only: the word array is staged as an attribute (HOF pitfall — a
    * lambda-captured `split` would re-run per element), starts are a
    * closed-form `sequence`, one `explode`. No shuffle at any scale.
    * Returns (idCol, start, chunk_text, n_tokens); `start` is the 1-based
    * token position, the stable chunk key.
    */
  def chunk(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
            maxTokens: Int, overlap: Int = 0,
            tokenCounter: Option[Column => Column] = None): org.apache.spark.sql.DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got maxTokens=$maxTokens overlap=$overlap")
    val stride = maxTokens - overlap
    val w = col("__words")
    // closed-form start bound (lambda-free, see the HOF pitfall on
    // repetitionRatio): valid starts are 1, 1+stride, … ≤ max(len−overlap, 1)
    // — st > len−overlap adds no content beyond the previous chunk. The
    // isNotNull gate keeps null-text docs emitting ZERO rows (greatest()
    // skips null arguments, so a bare greatest would turn a null length
    // into bound 1 and fabricate a phantom chunk).
    val bound = when(size(w).isNotNull, greatest(size(w) - overlap, lit(1)))
    val starts = sequence(lit(1), bound, lit(stride))
    val chunkText = array_join(slice(w, col("start"), lit(maxTokens)), " ")
    // chunk BOUNDARIES are whitespace-word positions either way; the
    // optional counter re-prices each chunk (e.g. [[bpeTokenCount]] for a
    // tokenizer-true budget — BPE merges never span words, so with
    // overlap=0 the per-chunk counts sum exactly to the doc's count and
    // downstream [[packSequences]] budgets become tokenizer-true).
    val nTokens = tokenCounter
      .map(f => f(chunkText))
      .getOrElse(least(size(w) - col("start") + 1, lit(maxTokens)))
    df.select(col(idCol), split(col(textCol), " ").as("__words"))
      .select(col(idCol), w, explode(starts).as("start"))
      .select(col(idCol), col("start").cast("int").as("start"),
        chunkText.as("chunk_text"),
        nTokens.cast("int").as("n_tokens"))
  }

  /** Sequence packing — the step after [[chunk]] in a pretraining
    * pipeline: chunks are packed into fixed-token-budget training
    * sequences. PER-DOC packing by design: chunks are laid end-to-end in
    * document order and the sequence index is the exact integer division
    * of each chunk's cumulative start offset by the budget ("linear
    * packing" — deterministic, replayable by any engine, and the standard
    * choice when cross-doc mixing is handled by a later shuffle stage).
    * Cross-doc bin packing would need a global order — a single-partition
    * window — which is exactly the shape that does NOT survive 100 TB; the
    * per-doc window here is partitioned by document and bounded by one
    * doc's chunk count.
    *
    * Returns one row per (idCol, seq_idx): n_chunks, n_tokens, plus the
    * sequence COMPOSITION a training-data writer actually emits — `chunks`,
    * the ordered (start, n_tokens) membership, and (when the input carries
    * `chunk_text`) `seq_text`, the packed payload itself. The ordered list
    * comes from `sort_array(collect_list(struct(start, …)))` — structs
    * order by their first field, so the array is in chunk order without a
    * second window — and one sequence's list is bounded by the token
    * budget (every chunk has ≥ 1 token), so the per-group state is
    * O(seqTokens), never O(doc).
    */
  def packSequences(chunks: org.apache.spark.sql.DataFrame, idCol: String,
                    seqTokens: Int): org.apache.spark.sql.DataFrame = {
    require(seqTokens > 0, s"seqTokens=$seqTokens must be positive")
    val hasText = chunks.columns.contains("chunk_text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("start")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val member =
      if (hasText) struct(col("start"), col("n_tokens"), col("chunk_text"))
      else struct(col("start"), col("n_tokens"))
    val packed = chunks
      .withColumn("__cum", sum("n_tokens").over(w))
      .withColumn("seq_idx",
        expr(s"CAST((__cum - n_tokens) div $seqTokens AS INT)"))
      .groupBy(col(idCol), col("seq_idx"))
      .agg(count(lit(1)).as("n_chunks"),
        sum("n_tokens").cast("long").as("n_tokens"),
        sort_array(collect_list(member)).as("__m"))
    if (hasText)
      packed
        .withColumn("seq_text",
          array_join(transform(col("__m"), m => m("chunk_text")), " "))
        .withColumn("chunks", transform(col("__m"),
          m => struct(m("start").as("start"), m("n_tokens").as("n_tokens"))))
        .drop("__m")
    else packed.withColumnRenamed("__m", "chunks")
  }

  /** Verbatim-span decontamination audit — the GPT-3/PaLM n-gram rule: a
    * held-out doc is contaminated when it shares ANY exact n-gram
    * (default 13 words) with the training corpus. Complements the
    * whole-document Jaccard audit ([[JaccardJoin.similarPairsAcross]],
    * d26): that catches near-duplicate DOCUMENTS, this catches verbatim
    * SPANS pasted into otherwise-new text.
    *
    * Plan: distinct hashed n-grams per side (map-only; the shared
    * [[MinHashLSH.baseHash]] 60-bit derivation every oracle replays), the
    * train side reduced to its distinct gram set (partial-agg shuffle),
    * then ONE left-semi equijoin on the hash and a per-doc rollup. The
    * left-semi bounds the join output by the BENCH gram count — a gram
    * shared by millions of training docs still emits one row, so
    * train-side frequency skew cannot blow up the shuffle — and no
    * train×train volume ever forms. The bench gram frame is persisted
    * (S4: the hit count and the total count both read it).
    *
    * Returns (idCol, n_grams, n_hits, hit_ratio), one row per bench doc
    * with ≥ n words; `hit_ratio` on the 1e-6 grid.
    */
  def ngramContamination(bench: org.apache.spark.sql.DataFrame,
                         train: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 13): org.apache.spark.sql.DataFrame = {
    val bg = graft.CacheRegistry.track(
      MinHashLSH.shingles(bench, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val trainGrams = MinHashLSH.shingles(train, idCol, textCol, n)
      .select("sh").distinct()
    val hits = bg.join(trainGrams, Seq("sh"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
    bg.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_grams"), 6)
          .as("hit_ratio"))
  }

  /** Deterministic Bloom bitmap of a corpus's DISTINCT n-gram set — the
    * scale complement to [[ngramContamination]]'s exact left-semi: one
    * partial-agg pass over the corpus compresses its gram set (billions
    * of rows at 100 TB) into a `bits`-wide bitmap (128 KiB at the 2^20
    * default) that BROADCASTS, so later benchmark releases are screened
    * map-only without touching the corpus again. Fully deterministic and
    * engine-replayable: gram hashes are the shared 60-bit md5
    * ([[MinHashLSH.baseHash]]), the k probe positions are the
    * [[MinHashLSH.seededFromBase]] universal family mod `bits`, and each
    * bitmap word carries a 32-bit payload (bit 63 shifts overflow DuckDB's
    * checked BIGINT `<<`, so words hold 32 bits by construction).
    * Driver-size O(bits/32) — the dsirRatioTable / LSH-plane class of
    * bounded plan constant.
    */
  def bloomGramBitmap(corpus: org.apache.spark.sql.DataFrame, textCol: String,
                      n: Int = 13, bits: Int = 1 << 20,
                      k: Int = 4): Array[Long] = {
    require(bits > 0 && (bits & (bits - 1)) == 0 && bits % 32 == 0,
      s"bits=$bits must be a power of two >= 32")
    require(k > 0 && k <= MinHashLSH.SeedA.length,
      s"k=$k must be in 1..${MinHashLSH.SeedA.length}")
    val grams = MinHashLSH
      .shingles(corpus.select(lit(1L).as("__bid"), col(textCol)),
        "__bid", textCol, n)
      .select("sh").distinct()
    val positions = (0 until k).map(j =>
      pmod(MinHashLSH.seededFromBase(col("sh"), j), lit(bits.toLong)))
    val words = grams
      .select(explode(array(positions: _*)).as("p")).distinct()
      .groupBy((col("p") / 32).cast("int").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").as("m"))
      .collect()
    val bmp = new Array[Long](bits / 32)
    words.foreach(r => bmp(r.getInt(0)) = r.getLong(1))
    bmp
  }

  /** Map-only Bloom contamination scan: per doc, how many of its distinct
    * n-grams hit `bitmap` (all k probe bits set). Guarantees NO false
    * negatives versus [[ngramContamination]] against the same corpus —
    * `n_bloom_hits >= n_hits` per doc, spec-pinned — with a deterministic
    * false-positive set fixed by the hash family (~1% at the 2^20/k=4
    * defaults against ~100k corpus grams). The deployment shape: screen
    * every new benchmark release against a 100 TB corpus's standing
    * bitmap without a corpus pass; docs the screen flags go to the exact
    * join for confirmation. Returns (idCol, n_grams, n_bloom_hits); docs
    * shorter than n words emit no row (gram semantics, as d35).
    *
    * CONTRACT: `n` and `k` (and the bitmap's bit width) MUST match the
    * [[bloomGramBitmap]] call that built `bitmap` — the array carries no
    * metadata, and a mismatched k or n probes positions never set at
    * build time, silently voiding the no-false-negative guarantee (every
    * doc reports 0 hits, no error). Persist the build parameters next to
    * a standing bitmap artifact.
    */
  def bloomContaminationScan(bench: org.apache.spark.sql.DataFrame,
                             bitmap: Array[Long], idCol: String,
                             textCol: String, n: Int = 13,
                             k: Int = 4): org.apache.spark.sql.DataFrame = {
    require(bitmap.nonEmpty && (bitmap.length * 32 & (bitmap.length * 32 - 1)) == 0,
      s"bitmap length ${bitmap.length} must make bits a power of two")
    require(k > 0 && k <= MinHashLSH.SeedA.length,
      s"k=$k must be in 1..${MinHashLSH.SeedA.length}")
    val bits = bitmap.length.toLong * 32
    val bmp = typedLit(bitmap.toSeq)
    val hit: Column => Column = h => (0 until k).map { j =>
      val p = pmod(MinHashLSH.seededFromBase(h, j), lit(bits))
      expr("1L").bitwiseAND(
        call_function("shiftright",
          element_at(bmp, (p / 32).cast("int") + 1),
          (p % 32).cast("int"))) === 1
    }.reduce(_ && _)
    MinHashLSH.shingleArrays(bench, idCol, textCol, n)
      .select(col(idCol), size(col("sh_arr")).cast("long").as("n_grams"),
        size(filter(col("sh_arr"), hit)).cast("long").as("n_bloom_hits"))
  }

  /** Span-level exact dedup — the Lee et al. 2021 ("Deduplicating Training
    * Data") ExactSubstr capability, gram-bucketed for Spark: find every
    * verbatim n-word span that also occurs elsewhere in the corpus, keep
    * its FIRST occurrence, and emit the merged extents of every OTHER
    * occurrence — the spans a training pipeline excises before packing.
    * Complements [[ngramContamination]] (cross-split audit) and d05/d12
    * (whole-document dedup): this is the within-train, sub-document form.
    *
    * Plan, all bucketed equijoins/windows — no all-pairs path:
    * 1. (doc, pos, hash) for every gram start, via the native
    *    [[graft.plans.ShingleHashes]] kernel + `posexplode` (map-only).
    * 2. groupBy(hash): occurrences `cnt` and the canonical first
    *    occurrence `min(struct(doc, pos))` in one partial-agg shuffle;
    *    only grams with cnt > 1 survive (the duplicated-gram table is
    *    tiny relative to the corpus — Lee et al. report ~1-3% of tokens).
    * 3. join back on the hash (bucketed; output bounded by duplicated
    *    occurrences, not by corpus size) and drop each gram's first.
    * 4. per-doc gaps-and-islands window: gram starts within n of the
    *    previous merge into one extent [min pos, max pos + n - 1].
    *
    * The reference scheme uses suffix arrays on a single node; the
    * gram-hash bucket join is the shuffle-native equivalent (identical
    * output for spans ≥ n; sub-n duplicates are below the rule's floor by
    * definition). 60-bit hash collisions can theoretically glue two
    * distinct grams; the DuckDB oracle replays the same hashes, and at
    * 2^-60 per pair the corpus-level risk is negligible.
    *
    * Returns (idCol, span_start, span_end, n_grams): token extents to
    * excise, 0-based inclusive; docs shorter than n words emit nothing.
    * Kept-first occurrences are the complement and are not emitted.
    */
  def duplicateSpans(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, n: Int = 13): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"n=$n must be positive")
    val grams = df
      .select(col(idCol), split(lower(col(textCol)), " ").as("__words"))
      .where(size(col("__words")) >= n)
      .select(col(idCol), posexplode(graft.plans.TextExpressions
        .shinglesColumn(df.sparkSession, col("__words"), n)))
      .select(col(idCol), col("pos"), col("col").as("sh"))
    val firsts = grams
      .groupBy("sh")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .where(col("__cnt") > 1)
      .select("sh", "__first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    grams
      .join(firsts, Seq("sh"))
      .where(struct(col(idCol), col("pos")) =!= col("__first"))
      .select(col(idCol), col("pos"))
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(w) <= n, 0).otherwise(1))
      .withColumn("__run", sum("__brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col(idCol), col("__run"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Benchmark-contamination EXTENTS in the training corpus — where
    * [[ngramContamination]] reports which BENCH items leaked, this
    * reports the train-side token spans carrying them, shaped for
    * [[exciseSpans]]: decontamination-in-place (remove the bench text,
    * keep the document) instead of dropping whole train docs — the
    * surgical variant real pipelines prefer when a popular quote or
    * license block would otherwise delete millions of documents.
    *
    * Shape: bench reduces to its DISTINCT gram-hash set (one partial agg
    * — bounded by bench volume, broadcastable in practice); train
    * per-position hashes (native kernel, map-only) take ONE left-semi
    * against it; only the HIT positions — contamination mass, not corpus
    * mass — reach the per-doc island-merge window. Every train
    * occurrence excises (no first-keep: contaminated text has no
    * canonical copy worth keeping). Returns (idCol, span_start,
    * span_end, n_grams), [[duplicateSpans]]'s contract.
    */
  def contaminationSpans(train: org.apache.spark.sql.DataFrame,
                         bench: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 13): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"n=$n must be positive")
    def grams(d: org.apache.spark.sql.DataFrame) = d
      .select(col(idCol), split(lower(col(textCol)), " ").as("__words"))
      .where(size(col("__words")) >= n)
      .select(col(idCol), posexplode(graft.plans.TextExpressions
        .shinglesColumn(d.sparkSession, col("__words"), n)))
      .select(col(idCol), col("pos"), col("col").as("sh"))
    val benchSet = grams(bench).select("sh").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    grams(train)
      .join(benchSet, Seq("sh"), "left_semi")
      .select(col(idCol), col("pos"))
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(w) <= n, 0).otherwise(1))
      .withColumn("__run", sum("__brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col(idCol), col("__run"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Apply [[duplicateSpans]] extents: rebuild each affected document with
    * the duplicated token spans EXCISED — the step that turns the Lee et
    * al. span report into training-ready text. Returns (idCol, clean_text,
    * n_removed); documents with no spans pass through byte-identical.
    *
    * Scale shape: the corpus splits on a semi/anti join against the
    * DISTINCT span-doc ids (bounded by affected docs, ~1-3% of the corpus
    * per Lee et al. — broadcastable in practice, AQE-shuffled otherwise).
    * ONLY affected docs tokenize: posexplode → anti join against the span
    * extents (equi on doc + range residual on pos, never a cross product)
    * → one per-doc rebuild aggregation. The untouched 97% never leave the
    * scan — no explode, no shuffle, original text preserved verbatim
    * (split/join round-trips would not survive repeated whitespace).
    */
  def exciseSpans(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String,
                  spans: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spanDocs = spans.select(col(idCol)).distinct()
    val untouched = df.join(spanDocs, Seq(idCol), "left_anti")
      .select(col(idCol), col(textCol).as("clean_text"), lit(0L).as("n_removed"))
    val affected = df.join(spanDocs, Seq(idCol), "left_semi")
    val toks = affected
      .select(col(idCol), posexplode(split(col(textCol), " ")))
      .select(col(idCol), col("pos"), col("col").as("__word"))
    val sp = spans.select(col(idCol).as("__sid"),
      col("span_start"), col("span_end"))
    val kept = toks.join(sp,
      toks(idCol) === col("__sid") &&
        col("pos") >= col("span_start") && col("pos") <= col("span_end"),
      "left_anti")
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__kept"),
        array_join(transform(sort_array(collect_list(struct(col("pos"),
          col("__word")))), t => t("__word")), " ").as("clean_text"))
    affected
      .select(col(idCol), size(split(col(textCol), " ")).cast("long").as("__orig"))
      .join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("__orig") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
      .unionByName(untouched)
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every n-gram in
    * document order, then keep the minimum hash of each sliding window of
    * `w` consecutive n-gram hashes, deduplicated. Guarantees any shared
    * substring of length ≥ w+n-1 words contributes a shared fingerprint —
    * the local-similarity property plain min-hashing lacks.
    *
    * Map-only: the ordered hash sequence is staged as an attribute (HOF
    * lambdas are interpreted — never recompute the split inside), windows
    * are `slice`+`array_min`. Docs shorter than n words emit none.
    * Returns (idCol, fps: array&lt;long&gt;).
    *
    * Pushdown hazard (see [[repetitionRatio]]): a downstream FILTER on a
    * column derived from `fps` would re-inline the staged `__hseq` into the
    * window lambda, re-evaluating the whole hash sequence per window
    * position. Gate on materialized output (or a separate cheap column)
    * instead of filtering through this projection.
    */
  def winnowFingerprints(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, n: Int = 3, w: Int = 4): org.apache.spark.sql.DataFrame = {
    val words = col("__words")
    val hseq = col("__hseq")
    // same 60-bit derivation as the LSH shingles — the native ShingleHashes
    // expression (one codegen'd loop, ordered, one hash per start; empty
    // for docs shorter than n), so every DuckDB oracle replays one formula
    val hashes = graft.plans.TextExpressions
      .shinglesColumn(df.sparkSession, words, n)
    val wins = array_distinct(transform(
      sequence(lit(0), greatest(size(hseq) - w, lit(0))),
      i => array_min(slice(hseq, i + 1, least(lit(w), size(hseq))))))
    df.select(col(idCol), split(lower(col(textCol)), " ").as("__words"))
      .where(size(words) >= n)
      .select(col(idCol), hashes.as("__hseq"))
      .select(col(idCol), wins.as("fps"))
  }

  /** The eight Gopher filter stopwords (Rae et al. 2021 §A1.1): a document
    * must contain at least two of these to look like running English prose.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality metrics (Rae et al. 2021 §A1.1, public paper) as
    * ONE codegen'd struct projection — no shuffle, embarrassingly parallel
    * at 100 TB. Fields:
    *  - `n_words`        whitespace-token count
    *  - `mean_word_len`  mean token length (rounded 6dp)
    *  - `symbol_ratio`   ('#' chars + '...' runs) per word (rounded 6dp)
    *  - `frac_alpha`     fraction of words containing a letter (rounded 6dp)
    *  - `n_stop_hits`    how many of the eight [[GopherStopwords]] appear
    *
    * The thresholds live in [[gopherKeep]] so callers can tune per corpus;
    * the metrics themselves are fixed closed forms an external oracle can
    * replay (all rounding on the 1e-6 grid, same as the other d-queries).
    */
  def gopherReport(text: Column,
                   stopwords: Seq[String] = GopherStopwords): Column = {
    val toks = tokens(lower(text))
    val nWords = size(toks).cast("double")
    val hashes = length(text) - length(replace(text, lit("#"), lit("")))
    val dots = (length(text) -
      length(replace(text, lit("..."), lit("")))) / lit(3)
    val alpha = size(filter(toks, t => t.rlike("[a-z]"))).cast("double")
    val hits = stopwords
      .map(w => array_contains(toks, w).cast("int"))
      .reduce(_ + _)
    struct(
      size(toks).cast("long").as("n_words"),
      round(avgTokenLen(text), 6).as("mean_word_len"),
      round((hashes + dots).cast("double") / nWords, 6).as("symbol_ratio"),
      round(alpha / nWords, 6).as("frac_alpha"),
      hits.cast("long").as("n_stop_hits"))
  }

  /** Gopher keep decision over a [[gopherReport]] struct. Defaults are the
    * paper's published gates scaled to this corpus's short synthetic docs
    * (the paper uses 50..100k words; thresholds are parameters, the rule
    * shape is the capability).
    */
  def gopherKeep(report: Column,
                 minWords: Long = 50, maxWords: Long = 100000,
                 minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                 maxSymbolRatio: Double = 0.1,
                 minAlphaFrac: Double = 0.8,
                 minStopHits: Long = 2): Column =
    report("n_words").between(minWords, maxWords) &&
      report("mean_word_len").between(minMeanLen, maxMeanLen) &&
      (report("symbol_ratio") <= maxSymbolRatio) &&
      (report("frac_alpha") >= minAlphaFrac) &&
      (report("n_stop_hits") >= minStopHits)

  /** Deterministic re-flow of a one-line document into lines of
    * `tokensPerLine` whitespace tokens (the last line ragged). Gives
    * line-level rules ([[cleanLines]]) a line structure on corpora stored
    * one-doc-per-row; corpora with real newlines skip this and pass
    * `split(text, "\n")` directly.
    */
  def reflowLines(text: Column, tokensPerLine: Int): Column = {
    val toks = tokens(text)
    val nLines = ceil(size(toks).cast("double") / tokensPerLine).cast("int")
    transform(sequence(lit(0), nLines - 1),
      i => array_join(slice(toks, i * tokensPerLine + 1, lit(tokensPerLine)), " "))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, public paper):
    * keep a line only if it has at least `minWords` words, contains at
    * least one of `requiredAny` (C4's "terminal punctuation" stands in as
    * "looks like prose" — parameterized because this synthetic corpus has
    * no punctuation), and contains none of the lowercase `banned`
    * substrings (C4 drops lines with "javascript", "lorem ipsum", "{").
    * Pure higher-order-function filter over the line array — map-only,
    * no shuffle; the caller re-joins survivors with `array_join`.
    */
  def cleanLines(lines: Column, minWords: Int,
                 requiredAny: Seq[String],
                 banned: Seq[String]): Column = {
    // Stage (line, lowered, tokens) once per line: HOF lambdas get no
    // common-subexpression elimination, so an inline `split` would
    // re-tokenize the line once per rule term (measured 12.3x on the 10x
    // probe before this staging).
    val tagged = transform(lines, line => struct(
      line.as("line"), lower(line).as("lw"),
      split(lower(line), " ").as("toks")))
    val kept = filter(tagged, t => {
      val enough = size(t("toks")) >= minWords
      val required =
        if (requiredAny.isEmpty) lit(true)
        else requiredAny.map(w => array_contains(t("toks"), w)).reduce(_ || _)
      val clean =
        if (banned.isEmpty) lit(true)
        else !banned.map(b => t("lw").contains(b)).reduce(_ || _)
      enough && required && clean
    })
    transform(kept, t => t("line"))
  }

  /** Linear quality-classifier scoring (the fastText/DCLM-style filter
    * shape): sigmoid(bias + w·x) over an engineered feature vector, with
    * the weights shipped as a plan literal — the inference half of a
    * trained quality classifier, deterministic and oracle-replayable
    * (ordered left-to-right summation, so any SQL engine reproduces the
    * same IEEE result). Swap in trained weights; the plan is identical.
    * Map-only, codegen'd HOF fold — no UDF, no shuffle.
    */
  def linearScore(features: Column, weights: Seq[Double],
                  bias: Double): Column = {
    val dot = aggregate(
      zip_with(features, typedlit(weights), (x, w) => x * w),
      lit(bias), (acc, v) => acc + v)
    round(lit(1.0) / (lit(1.0) + exp(-dot)), 6)
  }

  /** Dedup-normalization (the C4/RefinedWeb preprocessing step before
    * hashing): lowercase, ASCII punctuation → space, whitespace runs
    * collapsed, trimmed. Robust to the casing/punctuation/spacing edits
    * that defeat byte-exact fingerprints; RE2-safe classes so external
    * oracles replay it. One codegen'd chain — map-only.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[!-/:-@\\[-`{-~]", " "), " +", " "))

  /** Cross-doc boilerplate line removal (RefinedWeb-style line-level
    * dedup): a line occurring verbatim in more than `maxDocFreq` DISTINCT
    * docs is boilerplate (nav bars, footers, license headers) and is
    * dropped from every doc; docs are rebuilt in line order. `lines` must
    * be an array column (from real newlines or [[reflowLines]]).
    *
    * Scale shape: explode is map-only; the line-frequency census is ONE
    * partial-agg shuffle keyed by the line hash (md5 — uniform by
    * construction, no skew salt needed); membership returns via a
    * hash-equijoin on the same key (co-partitioned with the census — AQE
    * broadcasts when the over-threshold set is small, the common case);
    * the rebuild is one groupBy(doc) re-agg, the exciseSpans pattern. No
    * all-pairs path: docs sharing a line never join each other, only the
    * census row.
    */
  def stripBoilerplate(df: org.apache.spark.sql.DataFrame, idCol: String,
                       linesCol: String,
                       maxDocFreq: Int = 1): org.apache.spark.sql.DataFrame = {
    // S4 persist rule, MEASURED (SCALE.md, boilerplate stripping): the
    // census branch and the anti-join branch both descend from this
    // explode, and their exchanges differ (partial-agg vs join build) so
    // AQE reuse cannot dedup the double tokenize — persist is 0.45→0.30 s
    // at a 10x corpus, a wash at 1x.
    val exploded = graft.CacheRegistry.track(df
      .select(col(idCol), posexplode_outer(col(linesCol)).as(Seq("pos", "line")))
      .where(col("line").isNotNull)
      .withColumn("__h", md5(col("line")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val census = exploded.groupBy("__h")
      .agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") > maxDocFreq)
    val kept = exploded
      .join(census, Seq("__h"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        sort_array(collect_list(struct(col("pos"), col("line")))).as("__k"))
      .select(col(idCol),
        size(col("__k")).cast("long").as("n_kept"),
        array_join(transform(col("__k"), k => k("line")), "\n").as("clean_text"))
    // fully-boilerplate docs still come back (empty), like exciseSpans
    df.select(col(idCol), size(col(linesCol)).cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Corpus-wide top-k most frequent n-grams — the census behind stopword
    * lists, boilerplate discovery ("which 5-gram appears 40M times?") and
    * tokenizer design. Text grams (not hashes): the consumer reads these.
    *
    * Shape: map-only gram extraction (word array staged once — HOF
    * pitfall), ONE partial-agg census shuffle (map-side combine bounds it
    * by distinct grams per partition), then global top-k as
    * `TakeOrderedAndProject` — per-partition heaps of k, never a full
    * sort. Returns (gram, cnt) ordered (cnt desc, gram).
    */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
                n: Int, k: Int): org.apache.spark.sql.DataFrame = {
    require(n > 0 && k > 0, s"need positive n/k, got n=$n k=$k")
    val w = col("__w")
    // Native gram emission (r20, guide §4 / the ShingleHashes lesson):
    // the interpreted `transform(sequence(...), i => array_join(slice(w,
    // i, n), " "))` walked a lambda tree and allocated a slice array per
    // gram POSITION — graft_grams builds each gram string in one
    // codegen'd byte-concat loop, identical output (TopNgramsSpec pins
    // it against the column formulation). explode_outer for the same
    // reason as MinHashLSH.shingles: plain explode lets
    // InferFiltersFromGenerate duplicate the gram expression into a
    // pre-Generate filter; the kernel never yields null and the size
    // filter leaves no empty arrays, so the outer padding cannot fire.
    val grams = graft.plans.TextExpressions
      .gramsColumn(df.sparkSession, w, n)
    df.select(split(lower(col(textCol)), " ").as("__w"))
      .where(size(w) >= n)
      .select(explode_outer(grams).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** Character-level Shannon entropy — the quality signal the token-level
    * gates cannot see: repeated-character spam ("aaaa…") collapses to
    * ~0 bits, random base64/hex blobs saturate near log|alphabet|, and
    * real prose sits in a stable mid band; filtering both tails is a
    * standard corpus signal (RedPajama-v2 ships entropy-family signals).
    * Uses the identity `H = ln n − (Σ c·ln c)/n` so ONE doc-keyed
    * aggregation computes it from per-char counts, with the c·ln c terms
    * on the 1e-6 integer grid (d30's determinism discipline).
    *
    * Shape: char explode → (doc, char) partial agg (map-side combine
    * bounds the shuffle by doc × alphabet, not doc length) → doc agg.
    * Docs with no characters emit no row. Returns (idCol, n_chars,
    * n_distinct, entropy) — entropy in nats.
    */
  def charEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    // Map-only since r20 (guide §2.3 taken to its limit): the result is
    // per-doc and depends only on that doc's characters, so the explode →
    // (doc, char) partial agg → doc agg chain shuffled a census sized by
    // total corpus CHARACTERS for values that never needed to leave the
    // row. The native single-pass census kernel (graft_char_census)
    // computes the identical (n_chars, n_distinct, entropy) — same
    // code-point iteration as the exploded split(text, ''), same 1e-6
    // integer-grid entropy, 6dp HALF_UP — with ZERO shuffles; NULL (a doc
    // with no characters) reproduces the aggregation's no-row case via
    // the filter. Property-pinned equal to the aggregation formulation in
    // NativeEntropySpec.
    val census = graft.plans.TextExpressions
      .charCensusColumn(df.sparkSession, col(textCol))
    df.select(col(idCol), census.as("__census"))
      .where(col("__census").isNotNull)
      .select(col(idCol),
        col("__census")("n_chars").as("n_chars"),
        col("__census")("n_distinct").as("n_distinct"),
        col("__census")("entropy").as("entropy"))
  }

  /** CCNet-style paragraph-level dedup (Wenzek et al., LREC 2020 — their
    * first pipeline stage dedups raw Common Crawl BY PARAGRAPH HASH
    * before any LM scoring): every distinct paragraph keeps exactly its
    * FIRST occurrence in stable (doc, position) order and every later
    * repeat is dropped, then docs are rebuilt in order. The keep rule is
    * the complement of [[stripBoilerplate]]'s: boilerplate drops
    * high-doc-frequency lines EVERYWHERE (nav bars have no "first" worth
    * keeping); here one canonical copy survives — the right rule for
    * syndicated content where the first occurrence is real prose.
    *
    * Same scale shape as stripBoilerplate: persisted exploded root (the
    * winner census and the keep join both read it), ONE md5-keyed
    * `min(struct)` partial-agg for the winners (a paragraph repeated a
    * million times combines map-side to one row), a 3-key semi join that
    * only the duplicate occurrences lose, one doc-keyed re-agg. No
    * all-pairs path. Returns (idCol, n_lines, n_kept, clean_text);
    * fully-duplicate docs come back with empty text, like exciseSpans.
    */
  def dedupParagraphs(df: org.apache.spark.sql.DataFrame, idCol: String,
                      linesCol: String): org.apache.spark.sql.DataFrame = {
    val exploded = graft.CacheRegistry.track(df
      .select(col(idCol), posexplode_outer(col(linesCol)).as(Seq("pos", "line")))
      .where(col("line").isNotNull)
      .withColumn("__h", md5(col("line")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val winners = exploded.groupBy("__h")
      .agg(min(struct(col(idCol), col("pos"))).as("__w"))
      .select(col("__h"), col("__w")(idCol).as(idCol), col("__w")("pos").as("pos"))
    val kept = exploded
      .join(winners, Seq("__h", idCol, "pos"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("line")))).as("__k"))
      .select(col(idCol),
        size(col("__k")).cast("long").as("n_kept"),
        array_join(transform(col("__k"), k => k("line")), "\n").as("clean_text"))
    df.select(col(idCol), size(col(linesCol)).cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
