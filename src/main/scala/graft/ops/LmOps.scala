package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model scoring for corpus curation — the CCNet-style
  * quality signal: train token-count models on a REFERENCE corpus (the
  * "clean" set — at production scale a bounded curated corpus, orders of
  * magnitude smaller than the raw crawl), then score every raw document by
  * its per-token surprisal under that model. Low bits-per-token ≈ fluent,
  * in-domain text; high ≈ gibberish, boilerplate, wrong language. The
  * companion [[dsirLogRatio]] is the importance-sampling selection weight
  * (log target-likelihood minus log raw-likelihood per token), the
  * hashed-n-gram DSIR recipe with raw tokens as the features so the
  * operator oracles exactly in ANSI SQL (a production run at 10^12 docs
  * would hash tokens to a bounded feature space first; the plan shape is
  * identical — only the key width changes).
  *
  * Determinism discipline: every per-token log term is rounded to 6
  * decimals and cast to decimal(18,6) BEFORE the per-document sum, so the
  * sum is exact integer arithmetic — independent of Spark's partial-agg
  * order and bit-equal to the DuckDB oracle's (double `log2` differs from
  * libm by ≤1 ulp, far inside the rounding slack; float sums differ by
  * ORDERS more and would hash-mismatch).
  *
  * Scale shape: model training is one explode → hash-agg pass over the
  * reference (map-side partial aggregation; counts only, text never
  * shuffles). Scoring explodes the scored corpus to (id, gram) rows and
  * equi-joins the count tables — AQE broadcasts them when the reference
  * is bounded (the curated-reference case, i.e. always in practice) and
  * falls back to a shuffle join that still completes when it is not. No
  * driver-side collect anywhere.
  */
object LmOps {

  /** Add-one-smoothed bigram model of `ref(textCol)`, returned as
    * (bigram counts (w1, w2, c12), unigram counts (w1, c1), vocab size V).
    * Tokens are lowercased whitespace tokens ([[TextOps.tokens]]).
    * P(w2 | w1) = (c12 + 1) / (c1 + V); an unseen bigram contributes
    * 1 / (c1 + V), an unseen context 1 / V — every probability is a ratio
    * of integers, so scoring is reproducible across engines.
    */
  def bigramLm(ref: DataFrame, textCol: String): (DataFrame, DataFrame, Long) = {
    // the order-2 instance of [[ngramLm]], renamed to the (w1, w2, c12) /
    // (w1, c1) schema [[perplexityBits]] and existing callers expect —
    // ONE implementation of the counting/smoothing pipeline, so a fix to
    // either path cannot silently diverge the other (the n=2 equivalence
    // is additionally spec-pinned)
    val (ng, ctx, v) = ngramLm(ref, textCol, n = 2)
    (ng.select(col("ctx").as("w1"), col("w").as("w2"), col("cn").as("c12")),
      ctx.select(col("ctx").as("w1"), col("cc").as("c1")), v)
  }

  /** Per-document bits-per-token under the reference bigram model:
    * `(id, n_bigrams, bits)` where bits = mean over the document's bigrams
    * of round(-log2 P(w2|w1), 6), rounded to 4 decimals; documents with
    * fewer than two tokens score NULL (no bigram evidence — callers
    * decide their fate, same contract as a NULL URL host).
    */
  def perplexityBits(df: DataFrame, idCol: String, textCol: String,
                     bigrams: DataFrame, unigrams: DataFrame,
                     vocabSize: Long): DataFrame =
    // the order-2 instance of [[perplexityBitsN]] over the renamed model
    // tables; output keeps the historical n_bigrams column name
    perplexityBitsN(df, idCol, textCol,
      bigrams.select(col("w1").as("ctx"), col("w2").as("w"), col("c12").as("cn")),
      unigrams.select(col("w1").as("ctx"), col("c1").as("cc")),
      vocabSize, n = 2)
      .withColumnRenamed("n_ngrams", "n_bigrams")

  /** Order-n generalization of [[bigramLm]] (CCNet's production models
    * are 5-gram): counts of (context, word) n-grams and of (n-1)-gram
    * contexts, P(w | ctx) = (c_ngram + 1) / (c_ctx + V). Contexts are
    * space-joined token strings, so the scoring joins stay single-key
    * equi-joins at any order (token text cannot contain whitespace by
    * construction of the tokenizer, so the join key is collision-free).
    * `ngramLm(ref, col, 2)` builds exactly [[bigramLm]]'s model in the
    * general shape. Returns (ngram counts (ctx, w, cn), context counts
    * (ctx, cc), vocab size V) — both count tables eagerly checkpointed,
    * same rationale as [[bigramLm]].
    */
  def ngramLm(ref: DataFrame, textCol: String, n: Int)
      : (DataFrame, DataFrame, Long) = {
    require(n >= 2, s"ngramLm needs order >= 2, got $n")
    val toks = ref.select(TextOps.tokens(lower(col(textCol))).as("ts"))
    // ONE corpus pass builds the whole model: each document explodes into
    // tagged elements — kind 0 = (n-1)-gram context occurrences, kind 1 =
    // n-gram occurrences, kind 2 = token occurrences (emitted only when
    // n > 2; at n = 2 the contexts ARE the unigrams) — and a single
    // hash-aggregate over (kind, ctx, w) counts them all. The previous
    // shape ran two (n = 2) or three (n > 2) separate tokenize+explode
    // passes over the reference with a checkpoint each; this is one pass,
    // one exchange (map-side partial agg collapses counts before it), one
    // checkpointed model table. ng/ctx/V are filters/counts over that
    // table, so the returned frames and vocab size are value-identical.
    val model = toks.select(explode(taggedModelElems(col("ts"), n)).as("e"))
      .groupBy(col("e.kind").as("kind"), col("e.ctx").as("ctx"), col("e.w").as("w"))
      .agg(count(lit(1)).as("cn"))
      .localCheckpoint(true)
    val ng = model.filter(col("kind") === 1).select(col("ctx"), col("w"), col("cn"))
    val ctx = model.filter(col("kind") === 0).select(col("ctx"), col("cn").as("cc"))
    val v = model.filter(col("kind") === (if (n == 2) 0 else 2)).count()
    (ng, ctx, v)
  }

  /** Tagged model elements for [[ngramLm]]'s single-pass build (see the
    * kind encoding there). Contexts are ALL (n-1)-gram occurrences —
    * including the text-final one with no following word — matching
    * [[bigramLm]]'s denominator convention (c1 is the TOTAL unigram
    * count), so `ngramLm(ref, c, 2)` reproduces the bigram model's
    * probabilities exactly (spec-pinned). Per-context probability mass can
    * then sum below 1 at text boundaries; the add-one floor absorbs it,
    * and the convention is shared with the oracle. N-gram positions
    * follow [[ngramsOf]]'s.
    */
  private def taggedModelElems(toksExpr: Column, n: Int): Column =
    TextOps.bindOnce(toksExpr) { toks =>
      val empty = array().cast("array<struct<kind:int,ctx:string,w:string>>")
      val nullW = lit(null).cast("string")
      val ctxPart = when(size(toks) < n - 1, empty)
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 2)),
          i => struct(lit(0).as("kind"),
            concat_ws(" ", slice(toks, i, lit(n - 1))).as("ctx"),
            nullW.as("w"))))
      val ngPart = when(size(toks) < n, empty)
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => struct(lit(1).as("kind"),
            concat_ws(" ", slice(toks, i, lit(n - 1))).as("ctx"),
            element_at(toks, i + (n - 1)).as("w"))))
      if (n == 2) concat(ctxPart, ngPart)
      else concat(ctxPart, ngPart,
        transform(toks, t => struct(lit(2).as("kind"), t.as("ctx"), nullW.as("w"))))
    }

  /** (ctx, w) structs for order-n scoring: ctx = tokens i..i+n-2 joined
    * with a space, w = token i+n-1; < n tokens → empty. The token array
    * is [[TextOps.bindOnce bound]] first: the lambda body runs per
    * element, so an unbound tokenizer expression would re-split the
    * document O(tokens²) times (measured 36 s → 1.5 s at sf0.1 for the
    * self-scoring query).
    */
  private def ngramsOf(toksExpr: Column, n: Int): Column =
    TextOps.bindOnce(toksExpr) { toks =>
      when(size(toks) < n, array().cast("array<struct<ctx:string,w:string>>"))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
          i => struct(
            concat_ws(" ", slice(toks, i, lit(n - 1))).as("ctx"),
            element_at(toks, i + (n - 1)).as("w"))))
    }

  /** Order-n [[perplexityBits]]: `(id, n_ngrams, bits)`, same decimal
    * determinism discipline, documents with < n tokens score NULL.
    */
  def perplexityBitsN(df: DataFrame, idCol: String, textCol: String,
                      ngrams: DataFrame, contexts: DataFrame,
                      vocabSize: Long, n: Int): DataFrame = {
    require(n >= 2, s"perplexityBitsN needs order >= 2, got $n")
    val grams = df
      .select(col(idCol), explode_outer(
        ngramsOf(TextOps.tokens(lower(col(textCol))), n)).as("g"))
      .select(col(idCol), col("g.ctx").as("ctx"), col("g.w").as("w"))
    val p = (coalesce(col("cn"), lit(0L)) + lit(1.0)) /
      (coalesce(col("cc"), lit(0L)) + lit(vocabSize.toDouble))
    val term = round(-log2(p), 6).cast("decimal(18,6)")
    grams
      .join(ngrams, Seq("ctx", "w"), "left")
      .join(contexts, Seq("ctx"), "left")
      .groupBy(idCol)
      .agg(count(col("w")).as("n_ngrams"),
        sum(when(col("w").isNotNull, term)).as("bits_sum"))
      .select(col(idCol), col("n_ngrams"),
        when(col("n_ngrams") > 0,
          round(col("bits_sum").cast("double") / col("n_ngrams"), 4))
          .as("bits"))
  }

  /** Add-one-smoothed unigram counts + total + vocab of a corpus — one
    * explode → hash-agg pass; the two scalar actions scan only the count
    * table, never the text.
    */
  private def unigramModel(corpus: DataFrame, textCol: String)
      : (DataFrame, Long, Long) = {
    // checkpointed for the same reason as [[bigramLm]]: the N/V scalar
    // action below plus the scoring join would otherwise each re-run the
    // corpus pass — and here the raw-model corpus is the full crawl
    val uni = corpus
      .select(explode(TextOps.tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val agg = uni.agg(coalesce(sum("c"), lit(0L)), count(lit(1))).head
    (uni, agg.getLong(0), agg.getLong(1))
  }

  /** DSIR importance weight of every document in `df`: mean per-token
    * log2-likelihood RATIO between a target (clean) corpus's unigram model
    * and the raw corpus's, i.e. `(id, n_tokens, log_ratio)` with
    * log_ratio = mean of round(log2 p_target(w) - log2 p_raw(w), 6)
    * rounded to 4 decimals (positive → token mix resembles the target;
    * feed it to [[graft.ops.CurateOps]]-style top-k/temperature selection).
    * Zero-token documents score NULL. Both models are add-one smoothed:
    * p(w) = (c + 1) / (N + V) with each corpus's own token total N and
    * vocab size V, so unseen tokens get a proper floor probability.
    */
  def dsirLogRatio(df: DataFrame, idCol: String, textCol: String,
                   target: DataFrame, targetTextCol: String,
                   raw: DataFrame, rawTextCol: String): DataFrame = {
    val (tUni, tN, tV) = unigramModel(target, targetTextCol)
    val (rUni, rN, rV) = unigramModel(raw, rawTextCol)
    val toks = df.select(col(idCol),
      explode_outer(TextOps.tokens(lower(col(textCol)))).as("w"))
    val pT = (coalesce(col("ct"), lit(0L)) + lit(1.0)) / lit((tN + tV).toDouble)
    val pR = (coalesce(col("cr"), lit(0L)) + lit(1.0)) / lit((rN + rV).toDouble)
    val term = round(log2(pT) - log2(pR), 6).cast("decimal(18,6)")
    toks
      .join(tUni.withColumnRenamed("c", "ct"), Seq("w"), "left")
      .join(rUni.withColumnRenamed("c", "cr"), Seq("w"), "left")
      .groupBy(idCol)
      .agg(count(col("w")).as("n_tokens"),
        sum(when(col("w").isNotNull, term)).as("lr_sum"))
      .select(col(idCol), col("n_tokens"),
        when(col("n_tokens") > 0,
          round(col("lr_sum").cast("double") / col("n_tokens"), 4))
          .as("log_ratio"))
  }
}
