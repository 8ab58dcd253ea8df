package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize.{checkpoint, persist, unpersist}

/** Tokenizer learning for training pipelines: BPE-style merge-rule
  * induction over the corpus. Each round counts adjacent token pairs,
  * promotes the most frequent pair to a single merged token (joiner
  * `@@`), rewrites the corpus, and repeats — later rounds merge against
  * already-merged tokens, giving the hierarchical rules a subword BPE
  * trainer produces (here at word granularity, the natural unit for a
  * space-tokenized corpus; the plumbing is granularity-independent).
  *
  * Determinism and engine parity:
  *   - pair counts are exact integer aggregations; the winner breaks
  *     ties by pair string ascending;
  *   - the rewrite is a LITERAL two-pass `replace` of ` a b ` with
  *     ` a@@b ` on space-padded text — plain left-to-right non-overlap
  *     string replacement in every engine (no regex dialect in play).
  *     One pass skips an occurrence whose leading space was consumed by
  *     the previous match (` a b a b `); the second pass catches it, so
  *     chains collapse exactly like greedy BPE.
  *
  * Scale: each round is ONE map-side-combinable pair-count aggregation
  * (token explode keyed by doc for the lead window, then a global count
  * keyed by pair) plus a narrow per-row rewrite; the driver sees one
  * 1-row result per round (the winning pair — the same driver/cluster
  * split as k-means centroids). Rounds are inherently sequential — that
  * is BPE. Production trainers count on a corpus sample; pass a sampled
  * df for the same effect.
  */
object Tokenizer {

  /** The learning loop: `body` over the merge list and the persisted
    * final rewritten texts, which are released when `body` returns or
    * throws. */
  private def learn[A](df: DataFrame, idCol: String, textCol: String, rounds: Int)
                      (body: (Seq[(Int, String, String, Long)], DataFrame) => A): A = {
    require(rounds >= 1, s"need rounds >= 1; got $rounds")
    var texts = persist(paddedTexts(df, idCol, textCol))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    try {
      for (r <- 0 until rounds) {
        val top = topPair(texts).collect()
        if (top.nonEmpty) {
          val pair = top.head.getString(0)
          val cnt = top.head.getLong(1)
          val Array(l, rt) = pair.split(" ", 2)
          merges += ((r, l, rt, cnt))
          // token content rides as LITERALS through the Column API — never
          // spliced into SQL source text (normalization restricts tokens to
          // [a-z0-9] today, but the rewrite must not become a parse error /
          // injection point the day that changes)
          val from = lit(s" $pair ")
          val to = lit(s" $l@@$rt ")
          def rep(c: org.apache.spark.sql.Column) =
            call_function("replace", c, from, to)
          // filled before dropping the parent generation
          val next = persist(texts.select(col(idCol), rep(rep(col("__t"))).as("__t")), fill = true)
          unpersist(texts)
          texts = next
        }
      }
      body(merges.result(), texts)
    } finally unpersist(texts)
  }

  /** (idCol, __t): the space-padded normalized text [[learn]] starts
    * from. `@@` survives later rounds because the rewrite operates on the
    * padded string, never re-normalizing. */
  private def paddedTexts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      concat(lit(" "), TextAnalysis.normalized(col(textCol)), lit(" ")).as("__t"))

  /** One merge round's pair count over `texts` (…, __t): the most frequent
    * adjacent token pair (pair, cnt), ties broken by pair ascending, or
    * no row. Pairs form ROW-LOCALLY, each doc's token array zipped with
    * its own tail, so a round pays only the map-side-combinable pair
    * count; a posexplode + per-doc window would add a doc-keyed exchange
    * and sort of the full token table. */
  private def topPair(texts: DataFrame): DataFrame = {
    val toksArr = filter(split(trim(col("__t")), " "), t => t =!= lit(""))
    val pairsArr = when(size(toksArr) >= 2,
        transform(sequence(lit(0), size(toksArr) - lit(2)),
          i => concat_ws(" ", element_at(toksArr, i + lit(1)),
            element_at(toksArr, i + lit(2)))))
      .otherwise(array().cast("array<string>"))
    texts.select(explode(pairsArr).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("pair")).limit(1)
  }

  /** Optimization-round tooling (graft.PlanDump): ONE learn round's
    * pair-count plan over a caller corpus — the plan [[learn]] executes
    * per merge round, dumpable without running the eager loop. */
  private[graft] def pairCountPlanForDump(df: DataFrame, idCol: String,
                                          textCol: String): DataFrame =
    topPair(paddedTexts(df, idCol, textCol))

  /** The learned merge table: (merge_round, merge_left, merge_right,
    * pair_count), one row per round in learning order. */
  def bpeMerges(df: DataFrame, idCol: String, textCol: String,
                rounds: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    learn(df, idCol, textCol, rounds)((merges, _) => merges)
      .toDF("merge_round", "merge_left", "merge_right", "pair_count")
      .select(col("merge_round").cast("long"), col("merge_left"),
        col("merge_right"), col("pair_count"))
  }

  /** Per-document token counts before and after applying the learned
    * merges — the compression the merge table buys (a real BPE vocab
    * evaluation signal). Returns (idCol, n_tokens_raw, n_tokens_merged). */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
                     rounds: Int): DataFrame = {
    learn(df, idCol, textCol, rounds) { (_, texts) =>
      def nTokens(c: org.apache.spark.sql.Column) =
        size(filter(split(trim(c), " "), t => t =!= lit("")))
      checkpoint(df.select(col(idCol),
          nTokens(TextAnalysis.normalized(col(textCol))).cast("long").as("n_tokens_raw"))
        .join(texts.select(col(idCol),
          nTokens(col("__t")).cast("long").as("n_tokens_merged")), Seq(idCol)))
    }
  }

  /** Tokenizer FERTILITY report per corpus slice — the tokenizer-QA
    * metric a training pipeline watches per (lang, source): how many
    * learned-BPE tokens a whitespace word costs on that slice
    * (fertility) and how many characters each token carries. A
    * high-fertility slice (script the merges never saw, noisy source)
    * silently burns training budget — the sequence holds fewer words at
    * the same token cost — so the report is the standard screen before
    * fixing per-source mixing weights.
    *
    * Exactness: per-doc counts are exact longs; slice ratios are
    * integer micro-units from the slice SUMS (1e6·Σtokens DIV Σwords),
    * so the result is partition-order free and the DuckDB oracle
    * replays the identical integer division. Docs whose normalized text
    * is empty (zero words) are excluded — they have no fertility.
    *
    * Scale: one BPE learn (shared machinery — production trainers pass
    * a corpus sample), then ONE map-side-combinable aggregation keyed by
    * the slice columns; no per-token shuffle (token counts collapse
    * per-doc in the narrow projection). */
  def fertilityReport(df: DataFrame, idCol: String, textCol: String,
                      groupCols: Seq[String], rounds: Int): DataFrame = {
    learn(df, idCol, textCol, rounds) { (_, texts) =>
      def nTokens(c: org.apache.spark.sql.Column) =
        size(filter(split(trim(c), " "), t => t =!= lit("")))
      val norm = TextAnalysis.normalized(col(textCol))
      val perDoc = df
        .select(col(idCol) +: (groupCols.map(col) :+
          nTokens(norm).cast("long").as("__nw") :+
          length(norm).cast("long").as("__nc")): _*)
        .where(col("__nw") > 0)
        .join(texts.select(col(idCol),
          nTokens(col("__t")).cast("long").as("__nt")), Seq(idCol))
      checkpoint(perDoc.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n_docs"),
          sum("__nw").as("n_words"), sum("__nt").as("n_tokens"),
          sum("__nc").as("n_chars"))
        .select((groupCols.map(col) :+ col("n_docs") :+ col("n_words") :+
          col("n_tokens") :+ col("n_chars") :+
          TextAnalysis.microRatio("n_tokens", "n_words", "fertilityReport")
            .as("fertility_micro") :+
          TextAnalysis.microRatio("n_chars", "n_tokens", "fertilityReport")
            .as("chars_per_token_micro")): _*))
    }
  }
}
