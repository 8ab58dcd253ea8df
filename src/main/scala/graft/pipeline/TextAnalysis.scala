package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines, built
  * entirely from codegen'd `functions._` expressions (no UDFs): every
  * operator is a narrow projection over the documents table, so it scales
  * linearly with input splits and pushes column pruning into the scan.
  *
  * All primitives are deliberately expressible in portable SQL (the driver's
  * DuckDB oracle runs the same formulas).
  */
object TextAnalysis {

  /** Lowercased text with non-alphanumerics collapsed to single spaces. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Whitespace word tokens of the normalized text — the codegen'd
    * byte-walk kernel ([[graft.functions.TextKernels.words]]), value-
    * identical to split(normalized(text), " ") including the [""] edge
    * on empty/all-separator input (pinned by TextExpressionsSpec). */
  def words(text: Column): Column =
    graft.functions.TextFunctions.wordsNative(text)

  /** Whitespace token count. Counting the maximal alnum runs directly is
    * value-identical to `size(words(text))` with the empty-string guard
    * ([[normalized]] collapses every non-alnum run to one space, so words
    * ARE the [a-z0-9]+ runs of the lowered text) but costs ONE regex scan —
    * no replace pass, no split array, no second `normalized` evaluation for
    * the emptiness check. Every word-count consumer (quality, length gates,
    * mix report) inherits the saving. */
  def wordCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z0-9]+"))

  /** Flesch reading-ease report — the classic readability quality-filter
    * signal: 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * in integer micro-units. Sentences are terminator runs ([.!?]+, at
    * least 1 so fragments score); the syllable proxy is vowel-group runs
    * ([aeiouy]+ of the lowered text) — the standard regex surrogate, and
    * exactly replayable cross-engine where a dictionary syllabifier is
    * not. Zero-word documents score 0.
    *
    * Scale: three row-local regex counts and one arithmetic projection —
    * a pure narrow scan, nothing shuffles. Engine parity: the score is
    * one fixed left-associated double expression over exact integer
    * counts, floored half-up to micro-units.
    * Returns (idCol, n_words, n_sentences, n_syllables, flesch_micro). */
  def readabilityReport(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        wordCount(col(textCol)).cast("long").as("n_words"),
        greatest(regexp_count(col(textCol), lit("[.!?]+")).cast("long"), lit(1L))
          .as("n_sentences"),
        regexp_count(lower(col(textCol)), lit("[aeiouy]+")).cast("long")
          .as("n_syllables"))
      .select(col(idCol), col("n_words"), col("n_sentences"), col("n_syllables"),
        when(col("n_words") === 0, lit(0L)).otherwise(
          floor((lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
            * 1000000.0 + 0.5).cast("long")).as("flesch_micro"))

  /** BPE-ish token count: alphabetic runs, digit runs, and single
    * non-alphanumeric marks each count as one token (a portable
    * approximation of byte-pair pre-tokenization). */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Occurrences of a word in the normalized text (word-boundary exact,
    * via the padded-spaces trick — portable to any SQL dialect). */
  def wordOccurrences(text: Column, word: String): Column = {
    val padded = concat(lit(" "), normalized(text), lit(" "))
    val needle = s" $word "
    // overlapping needles can't occur because the needle is space-delimited
    ((length(padded) - length(regexp_replace(padded, needle, ""))) / needle.length).cast("long")
  }

  /** Tiny per-language marker-word lists for the n-gram/stopword language-ID
    * heuristic. Chosen to be high-frequency and language-exclusive. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "los", "las", "una", "es", "que"))

  /** Language-ID: argmax of marker-word hit counts (struct-max over
    * (score, lang), so ties resolve to the lexicographically-last language
    * code); 'und' (undetermined) when no marker matches. */
  def langId(text: Column): Column = {
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      struct(ws.map(w => wordOccurrences(text, w)).reduce(_ + _).as("score"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") === 0, "und").otherwise(best.getField("lang"))
  }

  /** Quality-scoring feature columns (length / punctuation / stopword /
    * digit ratios), each rounded for cross-engine comparability. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val len = length(text).cast("double")
    val nWords = wordCount(text).cast("double")
    val punct = (length(text) - length(regexp_replace(text, "[.,;:!?'\"]", ""))).cast("double")
    val digits = (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double")
    val stop = Seq("the", "and", "of", "to", "a", "in", "is", "that")
      .map(w => wordOccurrences(text, w)).reduce(_ + _).cast("double")
    Seq(
      "n_chars" -> length(text).cast("long"),
      "n_words" -> nWords.cast("long"),
      "avg_word_len" -> round(when(nWords === 0, 0.0).otherwise((length(normalized(text)) - (nWords - 1)) / nWords), 4),
      "punct_ratio" -> round(when(len === 0, 0.0).otherwise(punct / len), 4),
      "digit_ratio" -> round(when(len === 0, 0.0).otherwise(digits / len), 4),
      "stopword_ratio" -> round(when(nWords === 0, 0.0).otherwise(stop / nWords), 4))
  }

  /** The 8 stopwords of the quality heuristic. */
  val qualityStopwords: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is", "that")

  /** Non-overlapping count of ` word ` in an already-padded normalized text:
    * one regex pass, same match semantics as the replace-diff trick in
    * [[wordOccurrences]] (repeated adjacent words undercount identically —
    * that exact behavior is what the SQL oracle reproduces). */
  private def paddedOccurrences(padded: Column, word: String): Column =
    regexp_count(padded, lit(s" $word ")).cast("long")

  /** Quality features + composite score as a three-stage projection that
    * materializes the normalized text ONCE per row (the single-Column
    * [[qualityFeatures]] re-runs the normalize regex inside every feature —
    * regex-bound at scale). Stage boundaries survive CollapseProject because
    * the lower aliases are non-cheap and referenced more than once.
    * Returns (id, n_chars, n_words, avg_word_len, punct_ratio, digit_ratio,
    * stopword_ratio, quality) — values identical to [[qualityFeatures]] /
    * [[qualityScore]]. */
  def qualityTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val base = df.select(
      col(idCol),
      length(text).cast("long").as("n_chars"),
      (length(text) - length(regexp_replace(text, "[.,;:!?'\"]", ""))).cast("double").as("__punct"),
      (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double").as("__digits"),
      normalized(text).as("__norm"))
    val counted = base.select(
      col(idCol), col("n_chars"), col("__punct"), col("__digits"),
      length(col("__norm")).as("__nlen"),
      when(length(col("__norm")) === 0, 0).otherwise(size(split(col("__norm"), " ")))
        .cast("double").as("__nw"),
      qualityStopwords.map(w =>
        paddedOccurrences(concat(lit(" "), col("__norm"), lit(" ")), w))
        .reduce(_ + _).cast("double").as("__stop"))
    val len = col("n_chars").cast("double")
    counted.select(
      col(idCol),
      col("n_chars"),
      col("__nw").cast("long").as("n_words"),
      round(when(col("__nw") === 0, 0.0)
        .otherwise((col("__nlen") - (col("__nw") - 1)) / col("__nw")), 4).as("avg_word_len"),
      round(when(len === 0, 0.0).otherwise(col("__punct") / len), 4).as("punct_ratio"),
      round(when(len === 0, 0.0).otherwise(col("__digits") / len), 4).as("digit_ratio"),
      round(when(col("__nw") === 0, 0.0).otherwise(col("__stop") / col("__nw")), 4).as("stopword_ratio"))
      .withColumn("quality", round(greatest(lit(0.0),
        least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.4 +
          least(col("stopword_ratio") * 4.0, lit(1.0)) * 0.4 +
          (lit(1.0) - least(col("digit_ratio") * 5.0, lit(1.0))) * 0.2), 4))
  }

  /** Composite quality score in [0,1]: rewards stopword density and
    * mid-length documents, penalizes digit/punctuation noise. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val lengthScore = least(f("n_words").cast("double") / 100.0, lit(1.0))
    val stopScore = least(f("stopword_ratio") * 4.0, lit(1.0))
    round(greatest(lit(0.0),
      lengthScore * 0.4 + stopScore * 0.4 +
        (lit(1.0) - least(f("digit_ratio") * 5.0, lit(1.0))) * 0.2), 4)
  }

  /** Word n-gram shingles of the normalized text (empty array when the text
    * has fewer than n words). Backed by the fused codegen'd kernel
    * [[graft.functions.TextKernels.shingles]] — normalize + split + n-gram
    * join in one byte pass per row, no regex, no interpreted higher-order
    * walk. Safe in any projection, batch or per-row streaming. */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.TextFunctions.shinglesNative(text, n)

  /** Long-form tokens (id, pos, word): split once, posexplode — fully
    * codegen'd, one pass over the text. The scale-path basis for shingling,
    * MinHash, SimHash, and fingerprints. */
  def tokenRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), posexplode(words(col(textCol))).as(Seq("pos", "word")))

  /** Distinct-n DIVERSITY per corpus slice — the mode-collapse screen for
    * synthetic / model-generated training data (the distinct-1/distinct-2
    * family): what fraction of a slice's n-gram OCCURRENCES are distinct
    * n-grams. A generator that loops on boilerplate drives the ratio
    * toward zero long before perplexity notices; a slice of genuinely
    * diverse prose sits near one for n ≥ 2.
    *
    * Scale: two-level aggregation — (slice, gram) partial counts first
    * (map-side combinable; the gram key fans the shuffle out, so no hub
    * slice concentrates on one task the way a slice-keyed countDistinct
    * would), then a slice-keyed rollup of the already-collapsed gram
    * rows. Ratios are integer micro-units of exact long sums — the
    * oracle replays the identical arithmetic. Returns
    * (groupCol, n_distinct, n_total, distinct_ratio_micro). */
  def distinctNgramReport(df: DataFrame, groupCol: String, textCol: String,
                          n: Int): DataFrame =
    df.select(col(groupCol), explode(wordShingles(col(textCol), n)).as("__g"))
      .groupBy(col(groupCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_distinct"), sum("__c").as("n_total"))
      .select(col(groupCol), col("n_distinct"), col("n_total"),
        microRatio("n_distinct", "n_total", "distinctNgramReport")
          .as("distinct_ratio_micro"))

  /** Gopher-style LINE-level repetition rules (Rae et al. 2021, §A1.1)
    * — the structural complement of [[repetitionSignals]] (which covers
    * the word/n-gram-level rules): per document, the fraction of
    * duplicate LINES (occurrences beyond each line's first, by exact
    * content) and the fraction of line characters sitting inside those
    * duplicate occurrences. High values flag boilerplate navigation,
    * templated spam, and copy-pasted blocks that n-gram rules dilute on
    * long documents. Ratios are [[microRatio]] integer micro-units of
    * exact counts — overflow fails loudly, the oracle replays the
    * identical arithmetic. Documents with no non-empty line are
    * excluded (no line statistics exist for them); "empty" means
    * zero-length after space-trimming — the SQL trim both engines
    * share is space-only, so a tabs-only line counts as content.
    *
    * Scale: one (doc, line) aggregation then a doc rollup — both
    * map-side combinable, the first fanned out by line content so no
    * hub document concentrates a task. Returns (idCol, n_lines,
    * dup_line_frac_micro, dup_line_char_frac_micro). */
  def dupLineReport(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), "\n")).as("__l"))
      .where(trim(col("__l")) =!= "")
      .groupBy(col(idCol), col("__l"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(
        sum("__c").as("n_lines"),
        sum(col("__c") - 1).as("__dups"),
        sum(length(col("__l")) * col("__c")).as("__lchars"),
        sum(length(col("__l")) * (col("__c") - 1)).as("__dchars"))
      .select(col(idCol), col("n_lines"),
        microRatio("__dups", "n_lines", "dupLineReport")
          .as("dup_line_frac_micro"),
        microRatio("__dchars", "__lchars", "dupLineReport")
          .as("dup_line_char_frac_micro"))

  /** Gopher document-quality rules (Rae et al. 2021, arXiv:2112.11446
    * Table A1 — the MassiveText filter set) per document: raw
    * whitespace-token stats (count, mean length, symbol-to-word ratio
    * over '#' and '...', alphabetic-word ratio), normalized-token
    * stopword count (the shared 8-stopword heuristic), line-level
    * bullet-start and ellipsis-end ratios, and the conjunctive
    * `gopher_pass` verdict (word count in [50, 100k], mean word length
    * in [3, 10] chars, symbol ratio < 0.1, alpha-word ratio ≥ 0.8,
    * ≥ 2 stopwords; the line ratios are informational on this corpus).
    * Ratios are exact-count integer-DIV micro-units, engine-portable.
    *
    * Scale: ONE narrow row-local projection — array higher-order
    * functions (filter/transform/aggregate) fold the token and line
    * lists in place, no explode, no shuffle; the rollup a caller adds
    * (count passes per source, say) is the only exchange. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = filter(split(t, "\\s+"), x => x =!= "")
    val lines = filter(transform(split(t, "\n"), x => trim(x)), x => x =!= "")
    val counted = df.select(
      col(idCol),
      size(words).cast("long").as("__nw"),
      aggregate(words, lit(0L), (acc, x) => acc + length(x)).as("__wlen"),
      size(filter(words, x => x.rlike("[A-Za-z]"))).cast("long").as("__alpha"),
      size(lines).cast("long").as("__nl"),
      size(filter(lines, x => substring(x, 1, 1).isin("-", "*", "•")))
        .cast("long").as("__bul"),
      size(filter(lines, x => x.rlike("(\\.\\.\\.|…)$"))).cast("long").as("__eol"),
      (length(t) - length(regexp_replace(t, "#", ""))).cast("long").as("__hash"),
      // '…' (U+2026) counts like '...' — the Gopher symbol rule is about
      // ellipses, not their encoding (the ellipsis-END line ratio below
      // already recognized both; ADVICE r14 closed the symbol-count gap)
      (((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("long") +
        (length(t) - length(regexp_replace(t, "…", ""))).cast("long")).as("__ell"),
      qualityStopwords.map(w =>
        paddedOccurrences(concat(lit(" "), normalized(t), lit(" ")), w))
        .reduce(_ + _).cast("long").as("__stop"))
    counted.select(
      col(idCol),
      col("__nw").as("n_words"),
      when(col("__nw") === 0, 0L)
        .otherwise(expr("__wlen * 1000000 DIV __nw")).as("mean_word_len_micro"),
      when(col("__nw") === 0, 0L)
        .otherwise(expr("(__hash + __ell) * 1000000 DIV __nw")).as("symbol_ratio_micro"),
      when(col("__nw") === 0, 0L)
        .otherwise(expr("__alpha * 1000000 DIV __nw")).as("alpha_ratio_micro"),
      col("__stop").as("stopword_count"),
      col("__nl").as("n_lines"),
      when(col("__nl") === 0, 0L)
        .otherwise(expr("__bul * 1000000 DIV __nl")).as("bullet_ratio_micro"),
      when(col("__nl") === 0, 0L)
        .otherwise(expr("__eol * 1000000 DIV __nl")).as("ellipsis_ratio_micro"))
      .withColumn("gopher_pass",
        (col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len_micro") >= 3000000L &&
          col("mean_word_len_micro") <= 10000000L &&
          col("symbol_ratio_micro") < 100000L &&
          col("alpha_ratio_micro") >= 800000L &&
          col("stopword_count") >= 2).cast("long"))
  }

  /** 1e6-scaled integer ratio of two exact long sums with a LOUD overflow
    * guard (ADVICE r12): `1000000 * num` runs through try_multiply, and a
    * NULL result — Long overflow, reachable once a slice passes ~9.2e12
    * units at the 100 TB design point — raises an error naming the report
    * instead of silently wrapping (the hitsDF try_sum discipline). DIV
    * keeps the arithmetic integer-exact and engine-portable; the DuckDB
    * oracles need no twin guard because DuckDB errors on int64 overflow
    * by default. */
  private[pipeline] def microRatio(num: String, den: String, what: String)
      : org.apache.spark.sql.Column =
    expr(s"coalesce(try_multiply(CAST(1000000 AS BIGINT), $num), " +
      s"raise_error('$what: 1000000*$num overflowed BIGINT — slice too large " +
      s"for micro-unit Long arithmetic')) DIV $den")

  /** Long-form word n-gram shingles (id, shingle) — a NARROW plan: one
    * Generate explodes the fused codegen'd shingle kernel
    * ([[wordShingles]]). No exchange, no sort, no regex — the round-10
    * rewrite of the window-lead form, which paid a corpus-wide shuffle by
    * document id in EVERY shingle consumer (identical output multiset,
    * pinned by TextExpressionsSpec). */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(wordShingles(col(textCol), n)).as("shingle"))

  /** [[shingleRows]] with per-document dedup fused into the kernel: the
    * (id, shingle) rows arrive DISTINCT per document without any exchange
    * — a document's shingles are co-located by construction, so consumers
    * that would otherwise pay a corpus-wide dropDuplicates(id, shingle)
    * shuffle skip it entirely. Cross-document work (df counts, bucket
    * joins) still shuffles by shingle, which is unavoidable and far
    * smaller. */
  def shingleRowsDistinct(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.TextFunctions.shinglesDistinctNative(col(textCol), n))
        .as("shingle"))

  /** Zipf-law fit over the top `topV` vocabulary terms — the corpus
    * naturalness screen: least-squares slope/intercept of ln(term_freq)
    * against ln(rank). Natural text reads slope ≈ −1; templated or
    * machine-generated corpora flatten or step. Returns ONE row
    * (n_terms, slope, intercept), rounded to 6 digits.
    *
    * Scale: vocabulary aggregation is map-side combined; the fit itself
    * touches only `topV` rows (TakeOrdered + a window over topV rows),
    * with ln() values rounded to 8 digits and summed in DECIMAL(30,10) so
    * the regression moments are partition-order independent and
    * engine-portable. */
  def zipfFit(df: DataFrame, idCol: String, textCol: String,
              topV: Int = 200): DataFrame = {
    require(topV >= 2, s"need topV >= 2; got $topV")
    val vocab = Curation.vocabulary(df, idCol, textCol)
      .orderBy(desc("term_freq"), asc("word")).limit(topV)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("term_freq"), asc("word"))
    val xy = vocab
      .select(round(log(row_number().over(w).cast("double")), 8).as("__x"),
        round(log(col("term_freq").cast("double")), 8).as("__y"))
    val m = xy.agg(count(lit(1)).as("__n"),
      sum(col("__x").cast("decimal(30,10)")).as("__sx"),
      sum(col("__y").cast("decimal(30,10)")).as("__sy"),
      sum((col("__x") * col("__y")).cast("decimal(30,10)")).as("__sxy"),
      sum((col("__x") * col("__x")).cast("decimal(30,10)")).as("__sxx"))
    val n = col("__n").cast("double")
    val (sx, sy, sxy, sxx) = (col("__sx").cast("double"),
      col("__sy").cast("double"), col("__sxy").cast("double"),
      col("__sxx").cast("double"))
    // a single-term vocabulary has zero x-variance: report NULL, not 0/0
    // NaN (mirrored in the SQL oracle via NULLIF)
    val denom = when(sxx - sx * sx / n === 0.0, lit(null).cast("double"))
      .otherwise(sxx - sx * sx / n)
    val slope = (sxy - sx * sy / n) / denom
    m.select(col("__n").as("n_terms"),
      round(slope, 6).as("slope"),
      round(sy / n - slope * (sx / n), 6).as("intercept"))
  }

  /** Top-k characteristic terms per document, scored tf × idf with BM25's
    * rational idf argument `(N − df + 0.5) / (df + 0.5)` — deliberately
    * WITHOUT the ln() around it: every input is an exact small integer
    * ± 0.5 (exactly representable), so the score is two IEEE operations and
    * bit-equal in every engine, where a transcendental's last ulp varies by
    * libm and can silently flip a ranking or a rounding. ln is monotone, so
    * per-term idf ordering is identical to true BM25 idf ordering. The
    * reported `tfidf` is quantized as floor(score·10⁴ + 0.5)/10⁴ — floor is
    * deterministic for any double, unlike engines' round-half conventions.
    *
    * Scale: one token explode feeding two hash aggregations (per-doc term
    * frequency; corpus document frequency) + a 1-row corpus count joined by
    * broadcast; the ranking window shuffles by document id only. df is
    * bounded by N, so no term — however boilerplate — can skew a join. */
  def tfidfTop(df: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"need topK > 0; got $topK")
    val toks = tokenRows(df, idCol, textCol).where(col("word") =!= "")
    val tf = toks.groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__tf"))
    val dfreq = toks.select(col(idCol), col("word")).distinct()
      .groupBy("word").agg(count(lit(1)).as("__df"))
    val n = df.select(countDistinct(col(idCol)).as("__n"))
    val scored = tf.join(dfreq, Seq("word")).crossJoin(broadcast(n))
      .select(col(idCol), col("word"),
        (col("__tf") * ((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)))
          .as("__score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("__score").desc, col("word").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col(idCol), col("word"),
        (floor(col("__score") * 10000.0 + 0.5).cast("double") / 10000.0).as("tfidf"),
        col("rank").cast("long").as("rank"))
  }

  /** Unigram language-model scoring (the CCNet-style perplexity filter):
    * fit p(w) = count(w)/total over the corpus itself, then score every
    * document by its mean token log-probability. Low scores = documents
    * dominated by rare tokens (OCR noise, codes, off-language text);
    * training pipelines threshold on this to keep fluent text.
    *
    * Determinism across engines: the per-token score ln(cnt/total) is a
    * transcendental, which the BM25/tf-idf operators avoid by monotone
    * rational rewrites — but a MEAN of logs has no rational equivalent
    * (the mean is not order-preserved by exp), so here ln stays and the
    * risk is contained instead: each score is quantized to integer
    * micro-units (floor(x·10⁶ + 0.5)) per DISTINCT model count — one ln
    * evaluation per vocabulary entry, never per occurrence — and the
    * per-document aggregation sums exact integers, immune to partition
    * order. A libm last-ulp divergence only matters if some vocab entry's
    * ln lands within ~1e-9 relative of a quantization boundary.
    *
    * Scale: one token explode feeds the model aggregation (map-side
    * combined, keyed by word); scoring re-joins tokens to the model on the
    * same key, and AQE broadcasts the model when the vocabulary allows.
    * The 1-row total rides a broadcast cross join. Documents with zero
    * tokens carry no rows. Returns (idCol, n_tokens, logprob). */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokenRows(df, idCol, textCol).where(col("word") =!= "")
    val model = toks.groupBy("word").agg(count(lit(1)).as("__cnt"))
    val total = toks.agg(count(lit(1)).as("__total"))
    val scored = toks.join(model, Seq("word")).crossJoin(broadcast(total))
      .select(col(idCol),
        floor(log(col("__cnt").cast("double") / col("__total")) * 1000000.0 + 0.5)
          .cast("long").as("__lp"))
    scored.groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        round(sum("__lp").cast("double") / (count(lit(1)) * 1000000.0), 4).as("logprob"))
  }

  /** Bigram-LM mean log-probability per document — the CCNet-style
    * perplexity-filter signal one order up from [[unigramLogProb]]:
    * P(w₂|w₁) = c(w₁w₂) / c(w₁·) over the corpus itself (resubstitution
    * scoring — every bigram is in-vocabulary, so no smoothing term, same
    * contract as the unigram scorer). The ln is taken once per model
    * CELL and quantized to integer micro-units before the per-document
    * sum, so scores are partition-order exact.
    *
    * Scale: bigrams come from the narrow codegen'd shingle kernel at
    * n=2 (no window, no exchange); the model aggregation keys on the
    * bigram (map-side combined), the context totals reduce the MODEL
    * (distinct bigrams), never the corpus stream, and scoring re-joins
    * the corpus to the model on the bigram key — AQE broadcasts the
    * model when the vocabulary allows and skew-splits hot bigrams.
    * Documents with fewer than 2 tokens carry no rows. Returns
    * (idCol, n_bigrams, logprob). */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = shingleRows(df, idCol, textCol, 2)
    val model = bg.groupBy("shingle").agg(count(lit(1)).as("__cnt"))
    val ctx = model
      .groupBy(split(col("shingle"), " ").getItem(0).as("__w1"))
      .agg(sum("__cnt").as("__ctx"))
    val mlp = model
      .join(ctx, split(col("shingle"), " ").getItem(0) === col("__w1"))
      .select(col("shingle"),
        floor(log(col("__cnt").cast("double") / col("__ctx")) * 1000000.0 + 0.5)
          .cast("long").as("__lp"))
    bg.join(mlp, Seq("shingle"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum("__lp").cast("double") / (count(lit(1)) * 1000000.0), 4).as("logprob"))
  }

  /** Collocation mining: the `topK` adjacent word pairs by PMI among
    * bigrams occurring at least `minCount` times — the multi-word-
    * expression detector (corpus vocabulary QA, tokenizer-merge
    * candidates). PMI uses the bigram table's own marginals (n(w ·),
    * n(· w) — the SGNS-style formulation [[graft.analytics.GraphAnalytics.pairPmi]]
    * computes), with marginals over the FULL bigram table so the
    * minCount gate prunes output, not probabilities.
    *
    * Scale: bigrams ride the narrow n=2 shingle kernel; the only
    * corpus-keyed shuffle is the bigram count (map-side combined into the
    * distinct-bigram model); PMI then runs on the model-sized tally and
    * selection is TakeOrdered. Returns (center, context, n_pairs,
    * pmi_micro), PMI descending, (center, context) tiebreak. */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   minCount: Long = 5, topK: Int = 20): DataFrame = {
    require(topK > 0 && minCount >= 1,
      s"need topK > 0, minCount >= 1; got $topK, $minCount")
    val counts = shingleRows(df, idCol, textCol, 2)
      .groupBy("shingle").agg(count(lit(1)).as("n_pairs"))
      .select(split(col("shingle"), " ").getItem(0).as("center"),
        split(col("shingle"), " ").getItem(1).as("context"), col("n_pairs"))
    graft.analytics.GraphAnalytics.pairPmi(counts)
      .where(col("n_pairs") >= minCount)
      .orderBy(desc("pmi_micro"), col("center").asc, col("context").asc)
      .limit(topK)
  }

  /** Per-source unigram entropy report — the corpus-diversity diagnostic
    * (a source whose token distribution collapses reads near-zero
    * entropy; a healthy natural-language source sits near the corpus
    * norm). Returns (source, n_tokens, n_types, ent_sum_micro) where
    * ent_sum_micro = Σ_w c_w · floor(ln(c_w/T)·10⁶ + 0.5) — one ln per
    * (source, word) MODEL cell quantized before the exact long sum, so
    * the report is partition-order free; entropy in nats is
    * −ent_sum_micro / (n_tokens·10⁶), a division callers apply last.
    *
    * Scale: one (source, word)-keyed count (map-side combined); totals
    * reduce the model, never the token stream; the final sum groups by
    * source alone over model-sized rows. */
  def sourceEntropy(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val cnt = df
      .select(col(srcCol).as("source"), explode(words(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy("source", "word").agg(count(lit(1)).as("__c"))
    val tot = cnt.groupBy("source")
      .agg(sum("__c").as("__T"), count(lit(1)).as("n_types"))
    cnt.join(tot, Seq("source"))
      .select(col("source"), col("__T"), col("n_types"),
        (col("__c") * floor(log(col("__c").cast("double") / col("__T")) *
          1000000.0 + 0.5).cast("long")).as("__e"))
      .groupBy(col("source"), col("__T").as("n_tokens"), col("n_types"))
      .agg(sum("__e").as("ent_sum_micro"))
  }

  /** BM25 retrieval: for every query, the `topK` documents ranked by the
    * Okapi BM25 score over the query's distinct terms, with the RATIONAL
    * idf argument `(N − df + 0.5) / (df + 0.5)` (no ln(), same reasoning as
    * [[tfidfTop]]: a transcendental's last ulp varies by libm; the rational
    * form is a handful of IEEE ops and bit-equal in every engine — per-term
    * ordering is unchanged since ln is monotone, though multi-term sums
    * weight rare terms more than true BM25 would).
    *
    * Determinism of the multi-term SUM: each per-term score is quantized to
    * integer micro-units (floor(s·10⁶ + 0.5)) BEFORE summation, so the
    * aggregate is exact integer arithmetic — a double sum would depend on
    * partition order. Ranking ties break by document id.
    *
    * Scale: one token explode feeds the tf / dl / df aggregations (all
    * map-side combined); the tiny distinct query-term set and the 1-row
    * corpus stats ride broadcasts, so the corpus shuffles only by
    * (doc, word) and doc id — no shuffle is keyed by raw term across
    * documents beyond the df aggregation, whose groups are bounded by N.
    * Returns (query_id, idCol, score, rank). */
  def bm25TopK(docs: DataFrame, queries: DataFrame, idCol: String, textCol: String,
               qidCol: String, qtextCol: String, topK: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(topK > 0, s"need topK > 0; got $topK")
    val toks = tokenRows(docs, idCol, textCol).where(col("word") =!= "")
    val tf = toks.groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__tf"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__dl"))
    val dfreq = toks.select(col(idCol), col("word")).distinct()
      .groupBy("word").agg(count(lit(1)).as("__df"))
    val stats = docs.select(countDistinct(col(idCol)).as("__n"))
      .crossJoin(toks.select(count(lit(1)).as("__tt")))
    val qterms = queries
      .select(col(qidCol).as("query_id"), explode(words(col(qtextCol))).as("word"))
      .where(col("word") =!= "").distinct()
    val avgdl = col("__tt").cast("double") / col("__n").cast("double")
    val idf = (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)
    val tfw = (col("__tf") * (k1 + 1.0)) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) + (lit(b) * col("__dl")) / avgdl))
    val scored = tf.join(broadcast(qterms), Seq("word"))
      .join(dfreq, Seq("word"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col(idCol),
        floor(idf * tfw * 1000000.0 + 0.5).cast("long").as("__micro"))
    val summed = scored.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__micro")).as("__micros"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__micros").desc, col(idCol).asc)
    summed.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col(idCol),
        (floor(col("__micros").cast("double") / 100.0 + 0.5).cast("double") / 10000.0)
          .as("score"),
        col("rank").cast("long").as("rank"))
  }

  /** Document fingerprint (column form; see [[fingerprints]] for scale). */
  def fingerprint(text: Column): Column = {
    val sh = wordShingles(text, 4)
    when(size(sh) === 0, md5(normalized(text)))
      .otherwise(array_min(transform(sh, s => md5(s))))
  }

  /** Within-document repetition signals (the Gopher/RefinedWeb-style
    * quality rules, adapted to word space since the corpus is single-line):
    *
    *  - `dup_word_frac`: fraction of word occurrences that repeat an
    *    earlier word, `(n - distinct) / n`;
    *  - `top_2gram_frac`: fraction of 2-gram occurrences claimed by the
    *    most frequent 2-gram;
    *  - `dup_3gram_frac`: fraction of 3-gram occurrences that repeat an
    *    earlier 3-gram.
    *
    * Each signal is a long-form explode + per-document aggregation
    * (map-side combined, shuffled by id); documents too short for a gram
    * (or empty) score 0.0 on that signal. Returns
    * (id, dup_word_frac, top_2gram_frac, dup_3gram_frac). */
  def repetitionTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wstats = tokenRows(df, idCol, textCol)
      .where(col("word") =!= "")
      .groupBy(idCol)
      .agg(count(lit(1)).as("__nw"), countDistinct(col("word")).as("__dw"))
    val g2 = shingleRows(df, idCol, textCol, 2)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("__c"))
      .groupBy(idCol).agg(sum("__c").as("__n2"), max("__c").as("__m2"))
    val g3 = shingleRows(df, idCol, textCol, 3)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("__c"))
      .groupBy(idCol).agg(sum("__c").as("__n3"), count(lit(1)).as("__d3"))
    df.select(col(idCol))
      .join(wstats, Seq(idCol), "left")
      .join(g2, Seq(idCol), "left")
      .join(g3, Seq(idCol), "left")
      .select(col(idCol),
        round(coalesce((col("__nw") - col("__dw")).cast("double") / col("__nw"), lit(0.0)), 4)
          .as("dup_word_frac"),
        round(coalesce(col("__m2").cast("double") / col("__n2"), lit(0.0)), 4)
          .as("top_2gram_frac"),
        round(coalesce((col("__n3") - col("__d3")).cast("double") / col("__n3"), lit(0.0)), 4)
          .as("dup_3gram_frac"))
  }

  /** Document fingerprints at scale: min md5 over word 4-gram shingles via
    * the long-form plan (map-side partial min, one shuffle); documents with
    * fewer than 4 words fall back to md5 of the normalized text. Returns
    * (id, fingerprint) — values identical to [[fingerprint]]. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val agg = shingleRows(df, idCol, textCol, 4)
      .groupBy(idCol).agg(min(md5(col("shingle"))).as("__fp"))
    df.select(col(idCol), md5(normalized(col(textCol))).as("__fallback"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__fp"), col("__fallback")).as("fingerprint"))
  }

  /** Winnowing fingerprints (the MOSS local document-fingerprinting
    * algorithm, Schleimer–Wilkerson–Aiken SIGMOD'03): hash every word
    * n-gram, slide a window of `window` consecutive gram hashes, keep the
    * minimum hash of each window, and return the DISTINCT selected hashes
    * per document. The winnowing guarantee: every shared run of at least
    * n + window − 1 words between two documents contributes at least one
    * IDENTICAL selected fingerprint to both — position-robust overlap
    * detection that a single global min ([[fingerprints]]) cannot give.
    * Hash = md5 hex (engine-portable); the per-window min is
    * lexicographic on the hex string; documents with fewer than
    * n + window − 1 words have no complete window and yield no rows
    * (callers wanting whole-tiny-doc coverage union [[fingerprints]]).
    *
    * Scale: the ENTIRE selection folds ROW-LOCALLY over the kernel's
    * in-order gram array — hash, slide, min, and per-doc dedup are array
    * transforms inside one narrow projection (the DuckDB oracle's exact
    * shape), so the round-10 form's two per-document window sorts AND
    * its corpus-wide distinct exchange are all gone: (idCol, fp) rows
    * are already unique because the dedup happened inside the row.
    * The plan is scan → project → explode. Returns (idCol, fp).
    *
    * BUCKET-SIZE MATH: this function is LINEAR by construction — one
    * output row per (doc, selected fingerprint), no join. The hazard
    * lives in CONSUMERS: a boilerplate fingerprint shared by D documents
    * forms a D-row group, so any pair-proposing join on `fp` is
    * Σ D(D−1)/2 — quadratic on boilerplate exactly like minhash band
    * buckets. Pair-proposing consumers must df-bound the fingerprint
    * (drop fps with document frequency above a cap, the
    * maxShingleDf/maxBucket contract) before self-joining. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 4, window: Int = 4): DataFrame = {
    require(n >= 1 && window >= 1, s"need n, window >= 1; got n=$n window=$window")
    val hs = transform(wordShingles(col(textCol), n), g => md5(g))
    df.select(col(idCol), hs.as("__hs"))
      .where(size(col("__hs")) >= window)
      .select(col(idCol),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("__hs")) - window),
          i => array_min(slice(col("__hs"), i + 1, lit(window)))))).as("fp"))
  }

  /** Multinomial Naive Bayes model with add-one smoothing — the
    * fastText/CCNet-style document classifier that large-scale curation
    * pipelines train on a labeled slice (quality tiers, language, source
    * provenance) and then score the whole corpus with. Training is pure
    * counting, so the distributed fit is exact, one pass, and embarrassingly
    * partial-aggregable — no SGD, no iteration, no driver-side state.
    *
    * Returns (wordModel, labelTable):
    *  - wordModel: (word, __lbl, __lp) — the COMPLETE vocab × label matrix
    *    of quantized log P(w|l) = ln((cnt(w,l)+1)/(tot_l+V)) in integer
    *    micro-units (same determinism contract as [[unigramLogProb]]: one
    *    ln per model CELL, never per occurrence; per-document scoring sums
    *    exact longs, immune to partition order).
    *  - labelTable: (__lbl, __prior, __oov) — quantized ln P(l) and the
    *    smoothed unseen-word cell ln(1/(tot_l+V)) per label.
    *
    * Scale: one narrow token explode feeds a (label, word)-keyed count
    * (map-side combined); label totals reduce the count frame (≤ L rows);
    * V rides a 1-row broadcast; the vocab × label completion is a
    * vocab-keyed distinct cross-joined with the broadcast L-row totals.
    * Zero-token documents still count toward priors. */
  def naiveBayesModel(train: DataFrame, textCol: String, labelCol: String)
      : (DataFrame, DataFrame) = {
    val toks = train.select(col(labelCol).cast("string").as("__lbl"),
        explode(words(col(textCol))).as("word"))
      .where(col("word") =!= "")
    val cnt = toks.groupBy("__lbl", "word").agg(count(lit(1)).as("__cnt"))
    val totals = cnt.groupBy("__lbl").agg(sum("__cnt").as("__tot"))
    val vs = cnt.agg(countDistinct("word").as("__v"))
    val microLn = (x: Column) => floor(log(x) * 1000000.0 + 0.5).cast("long")
    val wordModel = cnt.select("word").distinct()
      .crossJoin(broadcast(totals))
      .join(cnt, Seq("word", "__lbl"), "left")
      .crossJoin(broadcast(vs))
      .select(col("word"), col("__lbl"),
        microLn((coalesce(col("__cnt"), lit(0L)) + lit(1L)).cast("double") /
          (col("__tot") + col("__v"))).as("__lp"))
    val nDocs = train.agg(count(lit(1)).as("__n"))
    // totals joins LEFT with __tot defaulting to 0: a label whose training
    // documents are all token-less has no cnt rows, and an inner join
    // would silently drop it from the model — losing its prior and any
    // chance of prediction. With __tot = 0 its OOV cell is ln(1/V), the
    // maximally smoothed estimate.
    val labelTable = train.groupBy(col(labelCol).cast("string").as("__lbl"))
      .agg(count(lit(1)).as("__nl"))
      .crossJoin(broadcast(nDocs))
      .join(totals, Seq("__lbl"), "left")
      .crossJoin(broadcast(vs))
      .select(col("__lbl"),
        microLn(col("__nl").cast("double") / col("__n")).as("__prior"),
        microLn(lit(1.0) / (coalesce(col("__tot"), lit(0L)) + col("__v"))).as("__oov"))
    (wordModel, labelTable)
  }

  /** Persist a fitted [[naiveBayesModel]] as two parquet frames — the
    * train-offline artifact the serving side ([[naiveBayesClassify]],
    * [[graft.streaming.EventStreams.streamingNbClassify]]) loads without
    * re-touching the training corpus; same lifecycle as the persisted ANN
    * index ([[AnnIndex.save]]). */
  def saveNbModel(wordModel: DataFrame, labelTable: DataFrame, path: String): Unit = {
    wordModel.write.mode("overwrite").parquet(s"$path/word_model.parquet")
    labelTable.write.mode("overwrite").parquet(s"$path/label_table.parquet")
  }

  /** Load a saved NB model. Fails with Spark's usual path error when
    * `path` holds no model. */
  def loadNbModel(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/word_model.parquet"),
      spark.read.parquet(s"$path/label_table.parquet"))

  /** Score and classify documents with a fitted [[naiveBayesModel]]:
    * argmax over labels of prior + Σ_w tf(w)·lp(w,l), unseen words falling
    * back to the label's smoothed OOV cell. Ties break label-ascending.
    * Documents with zero tokens carry no evidence and are not classified
    * (callers wanting prior-only rows can union them back).
    *
    * Scale: per-document term frequencies are a (doc, word)-keyed count
    * (map-side combined, the heaviest shuffle shrinks to distinct terms);
    * the L-row label table rides a broadcast so the tf × label expansion
    * is narrow; the model join keys on (word, label) and AQE broadcasts it
    * when the vocabulary allows; the argmax is a fixed-width min(struct)
    * aggregation. Returns (idCol, label, score_micro) with the joint
    * log-probability in EXACT integer micro-ln units (a 4-dp double
    * rendering was measured to flip one-in-500 rows across engines on
    * round-half boundaries; the integer never can). */
  def naiveBayesClassify(df: DataFrame, idCol: String, textCol: String,
                         wordModel: DataFrame, labelTable: DataFrame): DataFrame = {
    val tf = tokenRows(df, idCol, textCol).where(col("word") =!= "")
      .groupBy(idCol, "word").agg(count(lit(1)).as("__tf"))
    val perLabel = tf.crossJoin(broadcast(labelTable))
      .join(wordModel, Seq("word", "__lbl"), "left")
      .select(col(idCol), col("__lbl"), col("__prior"),
        (col("__tf") * coalesce(col("__lp"), col("__oov"))).as("__c"))
      .groupBy(idCol, "__lbl", "__prior")
      .agg(sum("__c").as("__s"))
      .select(col(idCol), col("__lbl"), (col("__prior") + col("__s")).as("__score"))
    perLabel.groupBy(idCol)
      .agg(min(struct((-col("__score")).as("__neg"), col("__lbl"))).as("__best"))
      .select(col(idCol), col("__best.__lbl").as("label"),
        (-col("__best.__neg")).as("score_micro"))
  }
}
